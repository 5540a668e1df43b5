package graft

import org.apache.spark.sql.functions._

import graft.model.FilterConfig
import graft.store.TxLogTable
import graft.sync.Syncer

/** The manifest-committed store: the backend-conformance suite
  * (`store/testing.go:10-242`) over [[TxLogTable]], plus the
  * transactionality proofs the backend exists for — truncation touches
  * METADATA ONLY (`bolt_store.go:180-197` parity without the rewrite),
  * the journal machinery is bypassed entirely, and crash/garbage handling
  * reduces to the manifest pointer + vacuum.
  */
class TxStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkLogs(blockFrom: Long, blockTo: Long, perBlock: Int = 2) =
    (blockFrom to blockTo).flatMap { b =>
      (0 until perBlock).map(i =>
        (i.toLong, s"tx-$b-$i", b, s"h$b", s"a${b % 3}",
          Seq("sig"), "0x"))
    }.toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data")

  private def idxOf(t: TxLogTable): Seq[Long] =
    t.read.select("indx").as[Long].collect().sorted.toSeq

  test("store/read-back round trip with consecutive indices") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    assert(t.lastIndex() == 0L)
    val next = t.storeLogs(mkLogs(0, 4)) // 10 logs
    assert(next == 10L)
    assert(t.lastIndex() == 10L)
    assert(idxOf(t) == (0L until 10L))
  }

  test("remove-then-reappend continues the sequence (testing.go:104-143)") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    t.storeLogs(mkLogs(0, 4))
    val removed = t.removeLogsFrom(6L)
    assert(removed.count() == 4)
    assert(removed.select("indx").as[Long].collect().toSeq == (6L until 10L))
    assert(t.lastIndex() == 6L)
    t.storeLogs(mkLogs(3, 4))
    assert(idxOf(t) == (0L until 10L))
  }

  test("multiple independent entries (testing.go:22-63)") {
    val root = tmpDir("txstore")
    val t1 = new TxLogTable(spark, root, "f1")
    val t2 = new TxLogTable(spark, root, "f2")
    t1.storeLogs(mkLogs(0, 1))
    assert(t1.lastIndex() == 4L)
    assert(t2.lastIndex() == 0L)
    t2.storeLogs(mkLogs(0, 0))
    assert(t2.lastIndex() == 2L)
    assert(t1.lastIndex() == 4L)
  }

  test("point read GetLog (store.go:34-35)") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    t.storeLogs(mkLogs(0, 4))
    val row = t.getLog(7L).collect()
    assert(row.length == 1 && row.head.getAs[Long]("indx") == 7L)
    // and a point above a later truncation cap is GONE
    t.removeLogsFrom(6L)
    assert(t.getLog(7L).collect().isEmpty)
    assert(t.getLog(5L).count() == 1)
  }

  test("truncation is metadata-only: zero data I/O, no journal, no tmp dirs") {
    val root = tmpDir("txstore")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(mkLogs(0, 4))   // indices 0..9
    t.storeLogs(mkLogs(5, 9))   // indices 10..19
    val dataDir = new java.io.File(s"$root/txlogs/filter_hash=f1/data")
    def fileState(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(dataDir).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileState()
    Thread.sleep(1100)
    // drop the whole second commit AND cap the first mid-way
    val removed = t.removeLogsFrom(7L)
    assert(removed.count() == 13)
    assert(removed.select("indx").as[Long].collect().toSeq == (7L until 20L))
    // THE point of this backend: every data file byte-identical in place
    assert(fileState() == before,
      "truncation touched data files — it must be a manifest commit only")
    // no journal/tmp/trash artifacts anywhere under the table root
    def names(f: java.io.File): Seq[String] =
      Option(f.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(x => x.getName +: names(x))
    assert(!names(new java.io.File(root)).exists(n =>
      n.contains(".tmp-") || n.contains(".trash-") || n.contains(".compact-")))
    // and the visible table is exact
    assert(idxOf(t) == (0L until 7L))
    assert(t.lastIndex() == 7L)
    // survivors below the cap read from the UNTOUCHED first commit
    assert(t.read.where(col("indx") === 6L).count() == 1)
  }

  test("repeated truncate/append cycles keep caps and sequence exact") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    t.storeLogs(mkLogs(0, 9))      // 0..19
    t.removeLogsFrom(15L)          // cap first commit at 15
    t.storeLogs(mkLogs(8, 9))      // 15..18
    assert(idxOf(t) == (0L until 19L))
    // truncate INTO the already-capped entry: re-cap lower, drop the new one
    val removed = t.removeLogsFrom(12L)
    assert(removed.select("indx").as[Long].collect().toSeq == (12L until 19L))
    assert(idxOf(t) == (0L until 12L))
    t.storeLogs(mkLogs(6, 6))
    assert(idxOf(t) == (0L until 14L))
    // removing at/above lastIndex is a no-op
    assert(t.removeLogsFrom(99L).count() == 0)
    assert(t.lastIndex() == 14L)
  }

  test("append crash before the manifest commit leaves the OLD table; vacuum sweeps the orphan") {
    val root = tmpDir("txstore")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(mkLogs(0, 4))
    intercept[RuntimeException] {
      t.storeLogs(mkLogs(5, 9), crashAt = "after-data-write")
    }
    // a fresh instance (the restarted process) sees the pre-crash table
    val fresh = new TxLogTable(spark, root, "f1")
    assert(idxOf(fresh) == (0L until 10L))
    assert(fresh.lastIndex() == 10L)
    // the orphan directory exists but is invisible…
    val dataDir = new java.io.File(s"$root/txlogs/filter_hash=f1/data")
    assert(dataDir.listFiles().count(_.isDirectory) == 2)
    // …and is NOT swept while fresh (in-flight protection), IS once stale
    assert(fresh.vacuum() == 0)
    assert(fresh.vacuum(olderThanMs = 0L) == 1)
    assert(dataDir.listFiles().count(_.isDirectory) == 1)
    // the recovered store keeps working
    fresh.storeLogs(mkLogs(5, 9))
    assert(idxOf(fresh) == (0L until 20L))
  }

  test("vacuum reclaims truncation garbage without touching live commits") {
    val root = tmpDir("txstore")
    // retainVersions = 1: no history window, so truncation garbage is
    // reclaimable immediately (the time-travel tests cover retention > 1)
    val t = new TxLogTable(spark, root, "f1", retainVersions = 1)
    t.storeLogs(mkLogs(0, 4))  // 0..9
    t.storeLogs(mkLogs(5, 9))  // 10..19, fully dropped below
    t.removeLogsFrom(10L)
    val dataDir = new java.io.File(s"$root/txlogs/filter_hash=f1/data")
    assert(dataDir.listFiles().count(_.isDirectory) == 2)
    assert(t.vacuum(olderThanMs = 0L) == 1)
    assert(dataDir.listFiles().count(_.isDirectory) == 1)
    assert(idxOf(t) == (0L until 10L))
  }

  test("exportSnapshot round trip: a plain parquet reader reproduces " +
    "readAt(v); MANIFEST lists the exported files") {
    val root = tmpDir("txstore")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(mkLogs(0, 4))   // v1: 0..9
    t.storeLogs(mkLogs(5, 9))   // v2: 10..19
    t.removeLogsFrom(12L)       // v3: cap at 12
    val out = tmpDir("txexport")
    assert(t.exportSnapshot(out, Some(2L)) == 2L)
    // the foreign reader: a PLAIN parquet scan with zero knowledge of the
    // tx manifest format (the harness's DuckDB twin is the declared
    // tx_export query's oracle)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("indx", "tx_hash", "block_num")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val ext = spark.read.parquet(s"$out/data")
    assert(rows(ext) == rows(t.readAt(2L)))
    assert(rows(ext).map(_._1) == (0L until 20L))
    // MANIFEST: version, watermark, exact file list
    val mf = scala.io.Source.fromFile(s"$out/MANIFEST").getLines().toSeq
    assert(mf.contains("version=2") && mf.contains("last_index=20"))
    val listed = mf.filter(_.startsWith("file=")).map(_.stripPrefix("file="))
    val actual = new java.io.File(s"$out/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(listed == actual && listed.nonEmpty)
    // current-version export MATERIALIZES the truncation cap: external
    // readers need no entry/cap knowledge
    val out2 = tmpDir("txexport2")
    assert(t.exportSnapshot(out2) == 3L)
    assert(spark.read.parquet(s"$out2/data").select("indx").as[Long]
      .collect().sorted.toSeq == (0L until 12L))
    // the copy is independent of the source's retention: age the source
    // past v2 and vacuum — the export still reads whole
    t.storeLogs(mkLogs(6, 6))
    t.compact()
    t.vacuum(olderThanMs = 0L); t.vacuum(olderThanMs = 0L)
    assert(rows(ext).size == 20)
  }

  test("importSnapshot round trip: export → import → read equality; " +
    "replace semantics; external parquet without block_range; validation") {
    val root = tmpDir("txstore-imp-src")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(mkLogs(0, 4))   // v1: 0..9
    t.storeLogs(mkLogs(5, 9))   // v2: 10..19
    t.removeLogsFrom(12L)       // v3: cap at 12, watermark 12
    val out = tmpDir("tximp-exp")
    t.exportSnapshot(out, Some(2L))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("indx", "tx_hash", "block_num", "address")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    // import into a FRESH table: read == readAt(2) of the source, the
    // watermark comes from the export MANIFEST, history says "import"
    val t2 = new TxLogTable(spark, tmpDir("txstore-imp-a"), "f1")
    val v = t2.importSnapshot(out)
    assert(v == 1L)
    assert(rows(t2.read) == rows(t.readAt(2L)))
    assert(t2.lastIndex() == 20L)
    assert(t2.history().where(col("operation") === "import").count() == 1L)
    // appending continues from the imported watermark, densely
    t2.storeLogs(mkLogs(10, 10))
    assert(idxOf(t2) == (0L until 22L))
    // REPLACE semantics: importing over a non-empty table swaps the
    // visible content in one commit; the prior state stays
    // time-travelable
    val t3 = new TxLogTable(spark, tmpDir("txstore-imp-b"), "f1")
    t3.storeLogs(mkLogs(50, 54)) // unrelated content, indices 0..9
    val preVersion = t3.version()
    t3.importSnapshot(out)
    assert(rows(t3.read) == rows(t.readAt(2L)))
    assert(rows(t3.readAt(preVersion)).map(_._2)
      .forall(_.startsWith("tx-5")))
    // an EXTERNALLY-written snapshot (no block_range column, shuffled
    // column order) imports via name-based conformance
    val extDir = tmpDir("tximp-ext")
    spark.range(0L, 7L).select(
      concat(lit("a"), col("id") % 2).as("address"),
      col("id").as("indx"),
      (col("id") % 3).as("tx_index"),
      concat(lit("x"), col("id")).as("tx_hash"),
      (col("id") * 2).as("block_num"),
      concat(lit("h"), col("id")).as("block_hash"),
      array(lit("sig")).as("topics"),
      lit("0x").as("data"))
      .write.parquet(s"$extDir/data")
    val t4 = new TxLogTable(spark, tmpDir("txstore-imp-c"), "f1")
    t4.importSnapshot(extDir)
    assert(t4.lastIndex() == 7L)
    assert(t4.read.select("block_range").distinct().count() == 1L)
    assert(idxOf(t4) == (0L until 7L))
    // gapped indices are rejected loudly, and the failed import commits
    // nothing
    val gapDir = tmpDir("tximp-gap")
    spark.range(0L, 6L).select((col("id") * 2).as("indx"),
      col("id").as("tx_index"), concat(lit("x"), col("id")).as("tx_hash"),
      col("id").as("block_num"), lit("h").as("block_hash"),
      lit("a").as("address"), array(lit("s")).as("topics"),
      lit("0x").as("data"))
      .write.parquet(s"$gapDir/data")
    val t5 = new TxLogTable(spark, tmpDir("txstore-imp-d"), "f1")
    intercept[IllegalArgumentException](t5.importSnapshot(gapDir))
    assert(!t5.exists)
    // a duplicate PAIRED with a gap keeps count == max-min+1 ([0,2,2]:
    // min=0 max=2 count=3) — the distinct-count leg of the validation
    // must still reject it
    val dupDir = tmpDir("tximp-dup")
    Seq(0L, 2L, 2L).toDF("indx").select(col("indx"),
      col("indx").as("tx_index"), concat(lit("x"), col("indx")).as("tx_hash"),
      col("indx").as("block_num"), lit("h").as("block_hash"),
      lit("a").as("address"), array(lit("s")).as("topics"),
      lit("0x").as("data"))
      .write.parquet(s"$dupDir/data")
    val t6 = new TxLogTable(spark, tmpDir("txstore-imp-e"), "f1")
    intercept[IllegalArgumentException](t6.importSnapshot(dupDir))
    assert(!t6.exists)
  }

  test("a stale .dropped marker inside a LIVE directory is shed, so grace " +
    "restarts at genuine dereference") {
    val root = tmpDir("txstore")
    val t = new TxLogTable(spark, root, "f1", retainVersions = 1)
    t.storeLogs(mkLogs(0, 4))
    val dataDir = new java.io.File(s"$root/txlogs/filter_hash=f1/data")
    val d1 = dataDir.listFiles().filter(_.isDirectory).head
    // simulate a vacuum pass that stamped this directory during its
    // pre-commit window: by the time the dir is LIVE the marker is
    // already hours old — without the shed, the first vacuum after a
    // later genuine dereference would delete with ZERO grace
    val marker = new java.io.File(d1, ".dropped")
    assert(marker.createNewFile())
    assert(marker.setLastModified(System.currentTimeMillis() - 3L * 3600 * 1000))
    assert(t.vacuum() == 0)
    assert(!marker.exists(), "marker inside a live directory must be shed")
    // genuinely dereference d1 (compact rewrites the rows elsewhere) —
    // the grace clock must start NOW, not at the stale stamp
    t.compact()
    assert(t.vacuum(olderThanMs = 3600L * 1000) == 0,
      "a just-dereferenced dir must survive the full grace window")
    assert(d1.exists())
    assert(t.vacuum(olderThanMs = 0L) >= 1)
    assert(!d1.exists())
  }

  test("compact collapses entries transactionally and materializes caps away") {
    val root = tmpDir("txstore")
    val t = new TxLogTable(spark, root, "f1", retainVersions = 1)
    Seq((8L, 9L), (0L, 1L), (6L, 7L), (2L, 3L), (4L, 5L)).foreach {
      case (a, b) => t.storeLogs(mkLogs(a, b))
    }
    t.removeLogsFrom(18L) // cap the last commit
    assert(idxOf(t) == (0L until 18L))
    t.compact()
    assert(idxOf(t) == (0L until 18L))
    assert(t.lastIndex() == 18L)
    // one live entry; the pre-compaction commits are vacuumable garbage
    val dataDir = new java.io.File(s"$root/txlogs/filter_hash=f1/data")
    assert(t.vacuum(olderThanMs = 0L) == 5)
    assert(dataDir.listFiles().count(_.isDirectory) == 1)
    // rows inside the compacted commit are index-clustered
    val byFile = t.read
      .select(input_file_name().as("f"), col("indx"))
      .collect().groupBy(_.getString(0))
    byFile.values.foreach { rows =>
      val ix = rows.map(_.getLong(1))
      assert(ix.sameElements(ix.sorted), "compacted file not index-sorted")
    }
    // a fresh reader sees the same table
    assert(idxOf(new TxLogTable(spark, root, "f1")) == (0L until 18L))
  }

  test("compactZOrdered clusters by the Z key, transactionally") {
    val root = tmpDir("txstore")
    val t = new TxLogTable(spark, root, "f1", blocksPerRange = 100L,
      retainVersions = 1)
    t.storeLogs(mkLogs(0, 49, perBlock = 4))
    val before = t.read.count()
    t.compactZOrdered(bits = 8)
    assert(t.read.count() == before)
    val z = graft.ops.Layout.zorderKey(
      pmod(col("block_num"), lit(100L)),
      xxhash64(col("address")).bitwiseAND(255L), 8)
    val byFile = t.read
      .select(input_file_name().as("f"), z.as("z"))
      .collect().groupBy(_.getString(0))
    byFile.values.foreach { rows =>
      val zs = rows.map(_.getLong(1))
      assert(zs.sameElements(zs.sorted), "file not z-ordered")
    }
    assert(idxOf(t) == (0L until before))
    assert(t.vacuum(olderThanMs = 0L) == 1)
  }

  test("sync engine over the tx backend: backfill + reorg retraction match the canonical chain") {
    val root = tmpDir("txsync")
    val chain = MockChain.linear(60, n => if (n % 2 == 0) 2 else 5)
    new Syncer(spark, new MockProvider(spark, chain), root, FilterConfig(),
      transactionalStore = true).sync()
    val forked = MockChain.fork(chain, depth = 3, extend = 1)
    val s2 = new Syncer(spark, new MockProvider(spark, forked), root,
      FilterConfig(), transactionalStore = true)
    val r = s2.sync()
    assert(r.removed == (57L to 59L).map(n => if (n % 2 == 0) 2 else 5).sum)
    assert(r.added == 4)
    val stored = s2.table.read.select("tx_hash").as[String].collect().sorted
    val canonical = new MockProvider(spark, forked).allLogs
      .select("tx_hash").as[String].collect().sorted
    assert(stored.sameElements(canonical))
    // the reorg retraction ran as a manifest commit: no journal artifacts
    def names(f: java.io.File): Seq[String] =
      Option(f.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(x => x.getName +: names(x))
    assert(!names(new java.io.File(root)).exists(_.contains(".tmp-")))
  }

  test("time travel: readAt reproduces every retained snapshot; history logs the commits") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    t.storeLogs(mkLogs(0, 4))   // v1: 0..9
    t.storeLogs(mkLogs(5, 9))   // v2: 0..19
    t.removeLogsFrom(15L)       // v3: 0..14
    t.storeLogs(mkLogs(8, 9))   // v4: 0..18
    assert(t.version() == 4L)
    def at(v: Long): Seq[Long] =
      t.readAt(v).select("indx").as[Long].collect().sorted.toSeq
    assert(at(1L) == (0L until 10L))
    assert(at(2L) == (0L until 20L))
    assert(at(3L) == (0L until 15L))
    assert(at(4L) == (0L until 19L))
    // snapshot isolation: the v2 read sees rows the v3 truncation removed,
    // from data files that were never touched
    assert(t.readAt(2L).where(col("indx") === 17L).count() == 1)
    val h = t.history()
      .select("version", "operation", "last_index")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(h == Seq((4L, "append", 19L), (3L, "truncate", 15L),
      (2L, "append", 20L), (1L, "append", 10L)))
    intercept[IllegalArgumentException](t.readAt(99L))
  }

  test("time travel across compaction; vacuum protects retained snapshots until they age out") {
    val root = tmpDir("txstore")
    val t = new TxLogTable(spark, root, "f1", retainVersions = 2)
    t.storeLogs(mkLogs(0, 4))   // v1: dir c1
    t.storeLogs(mkLogs(5, 9))   // v2: dir c2
    t.compact()                 // v3: dir c3; retained = {v2, v3}
    // v2 still names BOTH pre-compaction dirs — vacuum must spare them
    assert(t.vacuum(olderThanMs = 0L) == 0)
    assert(t.readAt(2L).select("indx").as[Long].collect().sorted.toSeq
      == (0L until 20L))
    intercept[IllegalArgumentException](t.readAt(1L)) // aged out
    t.storeLogs(mkLogs(0, 0))   // v4: retained = {v3, v4}; c1+c2 now garbage
    assert(t.vacuum(olderThanMs = 0L) == 2)
    assert(idxOf(t) == (0L until 22L))
    assert(t.history().count() == 2)
  }

  test("concurrent appenders serialize via commit CAS + rebase: no loss, contiguous indices") {
    val root = tmpDir("txstore")
    val t1 = new TxLogTable(spark, root, "f1")
    val t2 = new TxLogTable(spark, root, "f1")
    t1.storeLogs(mkLogs(0, 1))  // v1: indices 0..3
    // inject a competing committer between t1's data write and its commit
    var injected = false
    t1.beforeCommit = () => if (!injected) {
      injected = true
      assert(t2.storeLogs(mkLogs(50, 52)) == 10L) // 6 rows -> 4..9
    }
    try {
      // t1's first attempt indexed from the stale watermark 4; the CAS
      // aborts it and the rebase re-indexes from 10
      assert(t1.storeLogs(mkLogs(10, 12)) == 16L)
    } finally t1.beforeCommit = () => ()
    assert(injected)
    assert(idxOf(t1) == (0L until 16L))
    // the interleaved committer's rows won the race and hold 4..9
    val byBlock = t1.read.select("block_num", "indx").as[(Long, Long)]
      .collect().toSeq
    assert(byBlock.filter(_._1 >= 50L).map(_._2).sorted == (4L until 10L))
    assert(byBlock.filter(b => b._1 >= 10L && b._1 < 50L).map(_._2).sorted
      == (10L until 16L))
    // history recorded three serialized appends
    assert(t1.history().select("operation").as[String].collect()
      .forall(_ == "append"))
    assert(t1.version() == 3L)
    // t1's abandoned first attempt is unreferenced garbage for vacuum
    assert(t1.vacuum(olderThanMs = 0L) == 1)
    // both stores observe the same final table
    assert(idxOf(t2) == (0L until 16L))
  }

  test("change data feed: interval-exact per-commit inserts/deletes; replay reconstructs any snapshot") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    t.storeLogs(mkLogs(0, 4))   // v1: insert 0..9
    t.storeLogs(mkLogs(5, 9))   // v2: insert 10..19
    t.removeLogsFrom(15L)       // v3: delete 15..19 (the reorg retraction)
    t.storeLogs(mkLogs(8, 9))   // v4: insert 15..18 (the canonical replacement)
    def feed(a: Long, b: Long): Seq[(Long, String, Long)] =
      t.changesBetween(a, b)
        .select("_commit_version", "_change_type", "indx")
        .as[(Long, String, Long)].collect().sorted.toSeq
    assert(feed(0L, 4L) ==
      ((0L until 10L).map((1L, "insert", _)) ++
        (10L until 20L).map((2L, "insert", _)) ++
        (15L until 20L).map((3L, "delete", _)) ++
        (15L until 19L).map((4L, "insert", _))).sorted)
    // per-commit granularity: the truncation's deletes carry the DATA of
    // the rows they removed, read from the pre-truncation snapshot
    val del = t.changesBetween(2L, 3L)
    assert(del.select("_change_type").as[String].collect()
      .forall(_ == "delete"))
    assert(del.where(col("indx") === 17L).select("tx_hash").as[String]
      .collect().head.nonEmpty)
    // replaying the feed onto the v1 snapshot reproduces the CURRENT table
    var state = t.readAt(1L).select("indx", "tx_hash").as[(Long, String)]
      .collect().toMap
    t.changesBetween(1L, 4L)
      .select("_commit_version", "_change_type", "indx", "tx_hash")
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
      .foreach {
        case (_, "insert", i, h) => state += (i -> h)
        case (_, "delete", i, _) => state -= i
        case other => fail(s"unexpected change $other")
      }
    assert(state == t.read.select("indx", "tx_hash").as[(Long, String)]
      .collect().toMap)
    // physical maintenance is invisible to the feed; empty ranges are empty
    t.compact() // v5
    assert(t.changesBetween(4L, 5L).count() == 0)
    assert(t.changesBetween(3L, 3L).count() == 0)
    // and the feed refuses a range that fell out of retention
    val tiny = new TxLogTable(spark, tmpDir("txstore"), "f1",
      retainVersions = 1)
    tiny.storeLogs(mkLogs(0, 1))
    tiny.storeLogs(mkLogs(2, 3))
    intercept[IllegalArgumentException](tiny.changesBetween(0L, 2L))
  }

  test("TIMESTAMP AS OF: readAtTimestamp resolves the newest commit at or before the clock") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    val before = System.currentTimeMillis() - 1
    t.storeLogs(mkLogs(0, 4))   // v1: 0..9
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.storeLogs(mkLogs(5, 9))   // v2: 0..19
    assert(t.readAtTimestamp(mid).count() == 10L)
    assert(t.readAtTimestamp(System.currentTimeMillis()).count() == 20L)
    intercept[IllegalArgumentException](t.readAtTimestamp(before))
    val stamps = t.history().orderBy(col("version"))
      .select("commit_ts").as[Long].collect()
    assert(stamps.length == 2 && stamps(0) <= stamps(1) &&
      stamps.forall(_ > 0L))
  }

  test("maintain bounds the manifest for commit-per-batch writers") {
    val t = new TxLogTable(spark, tmpDir("txstore"), "f1")
    var compactions = 0
    (0 until 10).foreach { i =>
      t.storeLogs(mkLogs(i * 2, i * 2 + 1)) // 4 rows per commit
      if (t.maintain(maxEntries = 3)) compactions += 1
    }
    assert(compactions >= 2, s"expected repeated compactions, got $compactions")
    // the live manifest never exceeds threshold+1 entries, data is exact
    val latest = t.history().orderBy(col("version").desc)
      .select("entries").as[Long].head()
    assert(latest <= 4)
    assert(idxOf(t) == (0L until 40L))
    assert(t.history().select("operation").as[String].collect()
      .count(_ == "optimize") == compactions)
    // physical commits never enter the change feed
    val feed = t.changesBetween(0L, t.version())
      .select("_change_type").as[String].collect()
    assert(feed.length == 40 && feed.forall(_ == "insert"))
  }

  test("racing appender threads all serialize: every batch lands once, indices stay dense") {
    val root = tmpDir("txstore")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tables = (0 until 4).map(_ => new TxLogTable(spark, root, "f1"))
      val futures = (0 until 4).map { th =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 3).foreach { i =>
            // disjoint block ranges per thread -> globally unique tx hashes
            val base = th * 100 + i * 10
            tables(th).storeLogs(mkLogs(base, base + 1)): Unit
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val t = tables.head
      // 12 commits x 4 rows, all present exactly once, indices dense
      assert(t.version() == 12L)
      assert(idxOf(t) == (0L until 48L))
      val txs = t.read.select("tx_hash").as[String].collect()
      assert(txs.length == 48 && txs.distinct.length == 48)
      assert(t.history().select("operation").as[String].collect()
        .forall(_ == "append"))
      // rebased-away first attempts are unreferenced garbage, not data
      assert(t.read.count() == 48L)
      t.vacuum(olderThanMs = 0L): Unit
      assert(idxOf(t) == (0L until 48L))
    } finally pool.shutdown()
  }

  test("KvStore compare-and-set aborts on a stale expected version") {
    val kv = new graft.store.KvStore(spark, tmpDir("kvcas"))
    val (_, v0) = kv.getWithVersion("x")
    assert(v0 == 0L)
    kv.setAll(Map("x" -> "1"), expectedVersion = Some(0L))
    val (x1, v1) = kv.getWithVersion("x")
    assert(x1.contains("1") && v1 > 0L)
    kv.setAll(Map("x" -> "2"), expectedVersion = Some(v1))
    val (x2, v2) = kv.getWithVersion("x")
    assert(x2.contains("2") && v2 == v1 + 1L)
    // stale expected -> conflict, nothing written
    intercept[graft.store.ConcurrentCommitException] {
      kv.setAll(Map("x" -> "3"), expectedVersion = Some(v1))
    }
    assert(kv.getWithVersion("x") == (Some("2"), v2))
  }
}
