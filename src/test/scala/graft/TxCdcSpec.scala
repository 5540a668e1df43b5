package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, Row}

import graft.model.FilterConfig
import graft.store.TxLogTable
import graft.sync.{LatestTickBox, Syncer, SyncProgress}

/** The streaming change-data-feed source over the transactional table's
  * commit log ([[graft.stream.TxCdcSource]]): offsets are table versions,
  * micro-batches are exact per-commit deltas, restarts resume from the
  * checkpointed version, and a reorg arrives as retract-then-replace.
  */
class TxCdcSpec extends SparkSpec {
  import spark.implicits._

  private def mkLogs(blockFrom: Long, blockTo: Long, perBlock: Int = 2) =
    (blockFrom to blockTo).flatMap { b =>
      (0 until perBlock).map(i =>
        (i.toLong, s"tx-$b-$i", b, s"h$b", s"a${b % 3}",
          Seq("sig"), "0x"))
    }.toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data")

  private type Change = (Long, String, Long, String)

  /** Drain all available commits into `sink`, checkpointed at `cp`. */
  private def drain(root: String, hash: String, cp: String,
      sink: ConcurrentLinkedQueue[Change],
      startingVersion: Option[Long] = None,
      maxCommitsPerBatch: Option[Long] = None): Unit = {
    var r = spark.readStream
      .format("graft.stream.TxCdcSourceProvider")
      .option("root", root).option("filterHash", hash)
    startingVersion.foreach(v => r = r.option("startingVersion", v))
    maxCommitsPerBatch.foreach(n => r = r.option("maxCommitsPerBatch", n))
    val q = r.load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("_commit_version", "_change_type", "indx", "tx_hash")
          .collect()
          .foreach(row => sink.add((row.getLong(0), row.getString(1),
            row.getLong(2), row.getString(3))): Unit)
      }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
  }

  test("the commit log streams as per-commit deltas; restart resumes exactly once") {
    val root = tmpDir("txcdc")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(mkLogs(0, 4))   // v1: insert 0..9
    t.storeLogs(mkLogs(5, 9))   // v2: insert 10..19
    t.removeLogsFrom(15L)       // v3: delete 15..19
    val cp = tmpDir("txcdc-cp")
    val got = new ConcurrentLinkedQueue[Change]()
    drain(root, "f1", cp, got, startingVersion = Some(0L))
    val want = t.changesBetween(0L, 3L)
      .select("_commit_version", "_change_type", "indx", "tx_hash")
      .as[Change].collect().toSeq
    assert(got.asScala.toSeq.sorted == want.sorted)
    assert(got.asScala.map(c => (c._1, c._2)).toSet ==
      Set((1L, "insert"), (2L, "insert"), (3L, "delete")))

    // more commits, including an invisible physical one; the restarted
    // stream delivers ONLY the new deltas, exactly once
    t.storeLogs(mkLogs(8, 9))   // v4: insert 15..18 (the replacement)
    t.compact()                 // v5: no logical change
    t.storeLogs(mkLogs(20, 20)) // v6: insert 19..20
    got.clear()
    drain(root, "f1", cp, got)
    assert(got.asScala.toSeq.sorted ==
      t.changesBetween(3L, 6L)
        .select("_commit_version", "_change_type", "indx", "tx_hash")
        .as[Change].collect().toSeq.sorted)
    assert(!got.asScala.exists(_._1 == 5L), "compaction leaked into the feed")

    // replaying everything delivered reconstructs the live table — the
    // reorg arrived as v3 retracts + v4 replacements, in version order
    val all = new ConcurrentLinkedQueue[Change]()
    drain(root, "f1", tmpDir("txcdc-cp2"), all, startingVersion = Some(0L))
    var state = Map.empty[Long, String]
    all.asScala.toSeq.sortBy(_._1).foreach {
      case (_, "insert", i, h) => state += (i -> h)
      case (_, "delete", i, _) => state -= i
      case other => fail(s"unexpected change $other")
    }
    assert(state == t.read.select("indx", "tx_hash").as[(Long, String)]
      .collect().toMap)
  }

  test("incremental view maintenance: folding the feed tracks the live aggregate across a reorg") {
    val root = tmpDir("txcdc-ivm")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(mkLogs(0, 9))    // v1: 20 rows
    t.removeLogsFrom(12L)        // v2: the reorg retraction
    t.storeLogs(mkLogs(30, 34))  // v3: the canonical replacement
    // the materialized view (address -> row count), maintained purely
    // from the feed: each batch aggregates its deltas DISTRIBUTED and
    // only per-address counts reach the fold — deletes subtract, so the
    // reorg needs no rebuild
    val view = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val q = spark.readStream
      .format("graft.stream.TxCdcSourceProvider")
      .option("root", root).option("filterHash", "f1")
      .option("startingVersion", 0)
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.groupBy("address", "_change_type").agg(count(lit(1)).as("n"))
          .collect().foreach { r =>
            val d = if (r.getString(1) == "insert") r.getLong(2)
              else -r.getLong(2)
            view(r.getString(0)) = view(r.getString(0)) + d
          }
      }
      .option("checkpointLocation", tmpDir("txcdc-ivm-cp"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val want = t.read.groupBy("address").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(view.toMap.filter(_._2 != 0L) == want)
  }

  test("maxCommitsPerBatch admission: a far-behind consumer catches up in per-commit steps") {
    val root = tmpDir("txcdc-adm")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(mkLogs(0, 1))   // v1
    t.storeLogs(mkLogs(2, 3))   // v2
    t.removeLogsFrom(6L)        // v3
    val batches =
      new ConcurrentLinkedQueue[(Long, Seq[Long])]() // (batchId, versions)
    val q = spark.readStream
      .format("graft.stream.TxCdcSourceProvider")
      .option("root", root).option("filterHash", "f1")
      .option("startingVersion", 0)
      .option("maxCommitsPerBatch", 1)
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val vs = df.select("_commit_version").as[Long].collect().toSeq
        if (vs.nonEmpty) batches.add((id, vs)): Unit
      }
      .option("checkpointLocation", tmpDir("txcdc-adm-cp"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val bs = batches.asScala.toSeq.sortBy(_._1)
    // three commits drained as three single-commit batches, in order
    assert(bs.map(_._2.distinct) == Seq(Seq(1L), Seq(2L), Seq(3L)),
      s"expected one commit per batch, got $bs")
  }

  test("the manifest poller survives a sustained commit storm pruning " +
    "between its list and its read") {
    // the poller lists the newest kv version then reads it non-atomically;
    // a committer storm can prune the listed version in that gap. Drive
    // the race DETERMINISTICALLY through the poller's KvStore afterPin
    // seam: the first two polls lose their listed version to a burst that
    // burns the whole kv retention window, the third reads clean — the
    // retry must deliver the newest manifest, never fail the trigger
    val root = tmpDir("txcdc-storm")
    val t = new TxLogTable(spark, root, "fstorm")
    t.storeLogs(mkLogs(0, 1))
    val stream = new graft.stream.TxCdcMicroBatchStream(root, "fstorm", None)
    var bursts = 0
    stream.manifests.afterPin = () => if (bursts < 2) {
      bursts += 1
      // each append = one kv commit; the default window is 4, so 4
      // commits prune the version the poller just listed
      (0 until 4).foreach(_ => t.storeLogs(mkLogs(2, 2)): Unit)
    }
    try {
      val v = stream.latestOffset()
      assert(bursts == 2, "the storm seam must have fired and pruned twice")
      assert(v == graft.stream.VersionOffset(t.version()),
        "the retried poll must pin the newest committed manifest")
      // planning reads the retained manifests through the same store
      assert(stream.planInputPartitions(graft.stream.VersionOffset(0L), v)
        .nonEmpty)
    } finally stream.manifests.afterPin = () => ()
  }

  test("a version that aged out of retention fails the stream loudly") {
    val root = tmpDir("txcdc")
    val t = new TxLogTable(spark, root, "f1", retainVersions = 1)
    t.storeLogs(mkLogs(0, 1))
    t.storeLogs(mkLogs(2, 3))
    val got = new ConcurrentLinkedQueue[Change]()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(root, "f1", tmpDir("txcdc-cp"), got,
        startingVersion = Some(0L))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no longer retained")))
  }

  test("streaming ingest to CDC tail: the live sync's commits arrive as deltas") {
    // end-to-end: the tracker's sync writes the tx table (AIMD backfill
    // batches, then the tail block by block, then a depth-2 fork's
    // retraction and replacement); the CDC stream tails the SAME table's
    // commit log from version 0
    val root = tmpDir("txcdc-sync")
    val chain = MockChain.linear(30, n => if (n % 2 == 0) 2 else 3)
    def syncer(c: Seq[MBlock]) = new Syncer(spark, new MockProvider(spark, c),
      root, FilterConfig(), batchSize = 8L, transactionalStore = true)
    syncer(chain).sync()
    val forked = MockChain.fork(chain, depth = 2, extend = 1)
    val r = syncer(forked).sync()
    assert(r.removed > 0, "the fork retracted nothing")
    val t = new TxLogTable(spark, root, FilterConfig().hash)
    val stored = t.read.select("indx", "tx_hash").as[(Long, String)]
      .collect().toSeq
    assert(stored.map(_._2).sorted == new MockProvider(spark, forked).allLogs
      .select("tx_hash").as[String].collect().toSeq.sorted)
    val got = new ConcurrentLinkedQueue[Change]()
    drain(root, FilterConfig().hash, tmpDir("txcdc-cp"), got,
      startingVersion = Some(0L))
    val feed = got.asScala.toSeq
    // inserts minus deletes, as a multiset, is the synced table
    def bag(cs: Seq[(Long, String)]) =
      cs.groupBy(identity).map { case (k, v) => k -> v.size }
    val ins = bag(feed.collect { case (_, "insert", i, h) => (i, h) })
    val del = bag(feed.collect { case (_, "delete", i, h) => (i, h) })
    val net = (ins.keySet ++ del.keySet)
      .map(k => k -> (ins.getOrElse(k, 0) - del.getOrElse(k, 0)))
      .filter(_._2 != 0).toMap
    assert(net == bag(stored))
    assert(feed.map(_._1).toSet.size > 1,
      "expected multiple per-batch commits in the feed")
    assert(feed.exists(_._2 == "delete"), "the fork's retraction is missing")
  }

  test("T7 streaming twin: progress ticks bridge from the listener bus") {
    val root = tmpDir("txcdc-bridge")
    val t = new TxLogTable(spark, root, "f1")
    (0L until 4L).foreach(i => t.storeLogs(mkLogs(2 * i, 2 * i + 1)))
    t.removeLogsFrom(13L)       // v1..v4 inserts, v5 a delete
    val head = t.version()
    val ticks = new ConcurrentLinkedQueue[SyncProgress]()
    val box = new LatestTickBox
    val bridge = new graft.stream.StreamProgressBridge(p => {
      ticks.add(p); box.onProgress(p)
    })
    // a second, misbehaving consumer must lose ticks, not kill the stream
    val bad = new graft.stream.StreamProgressBridge(
      _ => sys.error("misbehaving consumer"))
    // earlier queries' progress must not reach this bridge
    Bridge.drainListeners(spark.sparkContext)
    spark.streams.addListener(bridge)
    spark.streams.addListener(bad)
    try {
      val changes = new ConcurrentLinkedQueue[Change]()
      drain(root, "f1", tmpDir("txcdc-bridge-cp"), changes,
        startingVersion = Some(0L), maxCommitsPerBatch = Some(1L))
      assert(changes.size.toLong == t.changesBetween(0L, head).count())
      // the listener bus is async — drain it before asserting
      Bridge.drainListeners(spark.sparkContext)
      val got = ticks.asScala.toSeq
      assert(got.nonEmpty, "no progress ticks bridged")
      assert(got.forall(_.phase == "stream"))
      // the version cursor (VersionOffset is the bare version) is
      // monotone across batches and reaches the table's head
      val cursors = got.map(_.current)
      assert(cursors == cursors.sorted, s"cursor not monotone: $cursors")
      assert(cursors.last == head, s"cursor stopped at ${cursors.last}")
      // numInputRows counts source READS and the sink reads each batch
      // once, so the cumulative count covers the delivered feed
      assert(got.last.appended >= changes.size.toLong)
      // the poll mailbox holds the freshest tick
      assert(box.poll().contains(got.last))
    } finally {
      spark.streams.removeListener(bridge)
      spark.streams.removeListener(bad)
    }
  }
}
