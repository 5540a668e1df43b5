package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.{MockChain, MockProvider, SparkSpec}
import graft.model.FilterConfig
import graft.sync.Syncer

/** Appends of driver-held batches (a `LocalRelation`: the JSON-RPC
  * provider's parse, a collected sync-tail block) are indexed and, on
  * both file stores, written on the driver with no Spark job; every other
  * batch takes the ranged path. Both must assign the same indices.
  */
class AppendJobsSpec extends SparkSpec with JobCount {
  import spark.implicits._

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def logs(rows: (Long, String, Long)*): DataFrame =
    rows.map { case (tx, hash, block) =>
      (tx, hash, block, s"h$block", "a1", Seq("sig"), "0x")
    }.toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data")

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    }

  test("a driver-held TxLogTable append runs no job and writes one file") {
    val root = tmpDir("appendjobs-tx")
    val t = new TxLogTable(spark, root, "f1")
    val batch = logs((0L, "tx-a", 7L), (1L, "tx-b", 7L), (0L, "tx-c", 8L),
      (2L, "tx-d", 8L), (0L, "tx-e", 9L))
    assert(isLocal(batch))
    val (end, jobs) = jobsOf(t.storeLogs(batch))
    assert(end == 5L)
    assert(jobs == 0, s"$jobs Spark jobs in a driver-held TxLogTable append")
    val files = parquetFiles(new java.io.File(TxLogTable.dataDir(root, "f1")))
    assert(files.size == 1, files.mkString(", "))
    val Seq(e) = t.manifest().entries
    assert((e.minIndx, e.maxIndx, e.minBlock, e.maxBlock) == (0L, 4L, 7L, 9L))
  }

  test("a driver-held LogTable append is one write; lastIndex() runs no job") {
    val t = new LogTable(spark, tmpDir("appendjobs-lt"), "f1")
    t.storeLogs(logs((0L, "tx-a", 1L), (1L, "tx-b", 2L)))
    val batch = logs((0L, "tx-c", 3L), (1L, "tx-d", 3L))
    // the watermark comes from the parquet footers, not a table scan
    val (last, indexJobs) = jobsOf(t.lastIndex())
    val (end, jobs) = jobsOf(t.storeLogs(batch))
    assert(last == 2L && end == 4L)
    assert(indexJobs == 0, s"lastIndex() ran $indexJobs jobs")
    assert(jobs == 0, s"$jobs jobs in a driver-held LogTable append")
    assert(t.read.select("indx").as[Long].collect().sorted.toSeq ==
      (0L until 4L))
  }

  test("a Syncer tail block over MockProvider starts no pin or count job") {
    // every block is in the tail (head 3 < maxBlockBacklog) and the store
    // is fresh, so sync() runs no bulk batch and no orphan probe, and each
    // non-empty block's write runs on the driver
    val chain = MockChain.linear(4, n => Seq(2, 0, 3, 1)(n.toInt))
    val sync = new Syncer(spark, new MockProvider(spark, chain),
      tmpDir("appendjobs-sync"), FilterConfig(), transactionalStore = true)
    val (report, jobs) = jobsOf(sync.sync())
    assert(report.added == 6L && report.batches == 0L)
    assert(jobs == 0, s"$jobs Spark jobs for 3 non-empty tail blocks")
    assert(sync.table.lastIndex() == 6L)
    assert(sync.table.read.select("block_num").as[Long].collect().sorted
      .toSeq == Seq(0L, 0L, 2L, 2L, 2L, 3L))
  }

  test("a resumed sync() with one new block runs only its write, on both file stores") {
    // the checkpoint exists, so sync() probes for orphans above it; the
    // store answers from its manifest or footers, and the one new tail
    // block is written on the driver
    val logsAt = (n: Long) => Seq(2, 0, 3, 1, 2)(n.toInt)
    Seq(true, false).foreach { tx =>
      val root = tmpDir("appendjobs-resume")
      new Syncer(spark, new MockProvider(spark, MockChain.linear(4, logsAt)),
        root, FilterConfig(), transactionalStore = tx).sync()
      val sync = new Syncer(spark,
        new MockProvider(spark, MockChain.linear(5, logsAt)), root,
        FilterConfig(), transactionalStore = tx)
      val (report, jobs) = jobsOf(sync.sync())
      assert(report.added == 2L && report.removed == 0L)
      assert(jobs == 0, s"$jobs Spark jobs resuming onto one block (tx=$tx)")
      assert(sync.table.lastIndex() == 8L)
    }
  }

  test("a cached LogTable read sees a driver-held append's rows") {
    // Spark's insert command recaches plans over the path it wrote; the
    // driver-side publish refreshes them the same way
    val t = new LogTable(spark, tmpDir("appendjobs-cache"), "f1")
    t.storeLogs(logs((0L, "tx-a", 1L), (1L, "tx-b", 2L)))
    val cached = t.read.cache()
    try {
      assert(cached.count() == 2L)
      t.storeLogs(logs((0L, "tx-c", 3L), (0L, "tx-d", 20000L)))
      assert(cached.count() == 4L)
      assert(cached.select("tx_hash").as[String].collect().sorted.toSeq ==
        Seq("tx-a", "tx-b", "tx-c", "tx-d"))
    } finally cached.unpersist()
  }

  // unsorted rows; (block 5, tx 1) is a tie broken only by tx_hash, with
  // a null hash (sorts first) and two hashes whose UTF-16 order is the
  // reverse of their UTF-8 byte order (U+FF21 < U+1F600 in UTF-8 bytes,
  // but U+FF21 > U+D83D as UTF-16 units)
  private val unsorted = Seq[(Long, String, Long)](
    (2L, "tx-z", 6L), (1L, "tx-b", 5L), (0L, "tx-y", 6L),
    (1L, "😀", 5L), (1L, null, 5L), (0L, "tx-q", 5L),
    (1L, "Ａ", 5L), (1L, "tx-a", 5L), (3L, "tx-x", 4L))

  /** Appends `rows` to `local` as a `LocalRelation` and to `ranged` read
    * back from parquet, over the same pre-existing prefix, and checks
    * both assign the same indices.
    */
  private def assertParity(local: LogStore, ranged: LogStore,
      rows: Seq[(Long, String, Long)]): Unit = {
    val prefix = logs((0L, "tx-0", 1L), (1L, "tx-1", 1L))
    Seq(local, ranged).foreach(_.storeLogs(prefix))
    val batch = logs(rows: _*)
    val dir = tmpDir("appendjobs-parity") + "/batch"
    batch.write.parquet(dir)
    val scanned = spark.read.parquet(dir)
    assert(isLocal(batch) && !isLocal(scanned))
    assert(local.storeLogs(batch) == ranged.storeLogs(scanned))
    assert(local.lastIndex() == ranged.lastIndex())
    def pairs(t: LogStore): Set[(Long, String)] =
      t.read.select("indx", "tx_hash").as[(Long, String)].collect().toSet
    assert(pairs(local) == pairs(ranged))
    // and both follow Spark's sort order, independently derived
    assert(pairs(local).filter(_._1 >= 2L).toSeq.sortBy(_._1).map(_._2) ==
      expectedOrder(rows))
  }

  /** Spark's ascending (block_num, tx_index, tx_hash): nulls first,
    * strings by unsigned UTF-8 bytes.
    */
  private def expectedOrder(rows: Seq[(Long, String, Long)]): Seq[String] = {
    val bytes = Ordering.Implicits.seqOrdering[Seq, Int]
    def key(h: String): Option[Seq[Int]] =
      Option(h).map(_.getBytes("UTF-8").toSeq.map(_ & 0xff))
    rows.sortWith { (a, b) =>
      if (a._3 != b._3) a._3 < b._3
      else if (a._1 != b._1) a._1 < b._1
      else Ordering.Option(bytes).lt(key(a._2), key(b._2))
    }.map(_._2)
  }

  test("driver-held and ranged appends assign identical indices on all three backends") {
    assertParity(new LogTable(spark, tmpDir("parity-lt-a"), "f1"),
      new LogTable(spark, tmpDir("parity-lt-b"), "f1"), unsorted)
    assertParity(new TxLogTable(spark, tmpDir("parity-tx-a"), "f1"),
      new TxLogTable(spark, tmpDir("parity-tx-b"), "f1"), unsorted)
    // the JDBC log table declares TX_HASH NOT NULL, as the reference's
    // postgres schema does: it gets the batch without the null-hash row
    def url(): String = s"jdbc:derby:${tmpDir("parity-jdbc")}/db;create=true"
    assertParity(new JdbcLogStore(spark, url(), "f1"),
      new JdbcLogStore(spark, url(), "f1"), unsorted.filter(_._2 != null))
  }
}
