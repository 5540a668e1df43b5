package graft

import org.apache.spark.sql.functions._

import graft.store.{KvStore, LogTable}

/** Port of the reference's backend-conformance suite
  * (`store/testing.go:10-242`, 5 shared tests) against the parquet-backed
  * store layer.
  */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkLogs(blockFrom: Long, blockTo: Long, perBlock: Int = 2) =
    (blockFrom to blockTo).flatMap { b =>
      (0 until perBlock).map(i =>
        (i.toLong, s"tx-$b-$i", b, s"h$b", s"a${b % 3}",
          Seq("sig"), "0x"))
    }.toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data")

  test("store/read-back round trip with consecutive indices") {
    val t = new LogTable(spark, tmpDir("store"), "f1")
    assert(t.lastIndex() == 0L)          // empty → 0 (store.go:25-26)
    val next = t.storeLogs(mkLogs(0, 4)) // 10 logs
    assert(next == 10L)
    assert(t.lastIndex() == 10L)
    val idx = t.read.select("indx").as[Long].collect().sorted
    assert(idx.sameElements(0L until 10L))
  }

  test("remove-then-reappend continues the sequence (testing.go:104-143)") {
    val t = new LogTable(spark, tmpDir("store"), "f1")
    t.storeLogs(mkLogs(0, 4))
    val removed = t.removeLogsFrom(6L)
    assert(removed.count() == 4)
    assert(t.lastIndex() == 6L)
    t.storeLogs(mkLogs(3, 4))
    val idx = t.read.select("indx").as[Long].collect().sorted
    assert(idx.sameElements(0L until 10L))
  }

  test("multiple independent entries (testing.go:22-63)") {
    val root = tmpDir("store")
    val t1 = new LogTable(spark, root, "f1")
    val t2 = new LogTable(spark, root, "f2")
    t1.storeLogs(mkLogs(0, 1))
    assert(t1.lastIndex() == 4L)
    assert(t2.lastIndex() == 0L)     // other filter untouched
    t2.storeLogs(mkLogs(0, 0))
    assert(t2.lastIndex() == 2L)
    assert(t1.lastIndex() == 4L)
  }

  test("truncation is partition-pruned and handles fully-emptied partitions") {
    val root = tmpDir("store")
    // 2 blocks per partition dir → blocks 0..9 span 5 partitions
    val t = new LogTable(spark, root, "f1", blocksPerRange = 2L)
    t.storeLogs(mkLogs(0, 9)) // 20 logs, indices 0..19
    val dirBase = s"$root/logs/filter_hash=f1"
    def mtimes(): Map[String, Long] =
      new java.io.File(dirBase).listFiles()
        .filter(_.getName.startsWith("block_range="))
        .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    val before = mtimes()
    Thread.sleep(1100)
    // remove indx >= 13 → blocks 6(half),7,8,9 → partitions 3 (rewritten),
    // 4 (fully emptied)
    val removed = t.removeLogsFrom(13L)
    assert(removed.count() == 7)
    assert(t.lastIndex() == 13L)
    val after = mtimes()
    assert(!after.contains("block_range=4"), "emptied partition must vanish")
    // untouched partitions keep their files byte-for-byte (same mtimes)
    Seq("block_range=0", "block_range=1", "block_range=2").foreach { p =>
      assert(after(p) == before(p), s"$p was rewritten but holds no removed rows")
    }
    // survivors intact and dense
    val idx = t.read.select("indx").as[Long].collect().sorted
    assert(idx.sameElements(0L until 13L))
  }

  test("truncation is crash-safe at every protocol window (bolt_store.go:180-197 parity)") {
    // kill the writer at each failpoint; a FRESH LogTable (the restarted
    // process) must always see a consistent table: the OLD one before the
    // intent commit, the NEW one after it (roll-forward on first read)
    def build(root: String): LogTable = {
      val t = new LogTable(spark, root, "f1", blocksPerRange = 2L)
      t.storeLogs(mkLogs(0, 9)) // 20 logs, indices 0..19, partitions 0..4
      t
    }
    def idxOf(t: LogTable): Seq[Long] =
      t.read.select("indx").as[Long].collect().sorted.toSeq

    // crash after the survivor write, BEFORE the intent commit → old table
    val rootA = tmpDir("store")
    val tA = build(rootA)
    intercept[RuntimeException] { tA.removeLogsFrom(13L, crashAt = "after-write") }
    val freshA = new LogTable(spark, rootA, "f1", blocksPerRange = 2L)
    assert(idxOf(freshA) == (0L until 20L),
      "pre-intent crash must leave the ORIGINAL table")
    // the orphan tmp is invisible; a later successful truncation still works
    assert(freshA.removeLogsFrom(13L).count() == 7)
    assert(idxOf(freshA) == (0L until 13L))

    // crash after the intent commit, before any swap → new table
    val rootB = tmpDir("store")
    val tB = build(rootB)
    intercept[RuntimeException] { tB.removeLogsFrom(13L, crashAt = "after-intent") }
    val freshB = new LogTable(spark, rootB, "f1", blocksPerRange = 2L)
    assert(idxOf(freshB) == (0L until 13L),
      "post-intent crash must roll FORWARD to the truncated table")
    assert(freshB.lastIndex() == 13L)

    // crash mid-swap (one partition swapped, one pending) → new table
    val rootC = tmpDir("store")
    val tC = build(rootC)
    intercept[RuntimeException] { tC.removeLogsFrom(13L, crashAt = "mid-swap") }
    val freshC = new LogTable(spark, rootC, "f1", blocksPerRange = 2L)
    assert(idxOf(freshC) == (0L until 13L),
      "mid-swap crash must complete to the truncated table")
    // recovery cleared the journal and swept the tmp dir
    val strayC = new java.io.File(s"$rootC/logs").listFiles()
      .filter(_.getName.contains(".tmp-"))
    assert(strayC.isEmpty, s"tmp not swept: ${strayC.mkString(",")}")
    // and the recovered store keeps working: re-append continues the seq
    freshC.storeLogs(mkLogs(7, 9))
    assert(idxOf(freshC) == (0L until 19L))
  }

  test("truncation drops a null block_num's default-partition dir like any other") {
    val t = new LogTable(spark, tmpDir("store"), "f1", blocksPerRange = 10L)
    val batch = Seq[(Long, String, Option[Long])]((0L, "tx-n", None),
        (0L, "tx-a", Some(3L)))
      .map { case (tx, hash, block) =>
        (tx, hash, block, "h", "a1", Seq("sig"), "0x") }
      .toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
        "topics", "data")
    assert(t.storeLogs(batch) == 2L)
    assert(t.getLog(0L).where(col("block_num").isNull).count() == 1,
      "precondition: the null row sorts first")
    // the no-checkpoint restart truncation (Syncer.sync)
    assert(t.removeLogsFrom(0L).count() == 2)
    assert(t.lastIndex() == 0L && t.read.count() == 0)
    assert(t.storeLogs(batch) == 2L)
    // a truncation above the null row keeps it
    assert(t.removeLogsFrom(1L).count() == 1)
    assert(t.read.select("indx", "block_num").as[(Long, Option[Long])]
      .collect().toSeq == Seq((0L, None)))
  }

  test("compaction self-heals from a crash at every swap window") {
    // a crash before the journal's intent commit leaves the OLD table, a
    // crash after it rolls FORWARD to the compacted one on a fresh reader
    def build(root: String): LogTable = {
      val t = new LogTable(spark, root, "f1", blocksPerRange = 5L)
      // fragmented out-of-order appends, the compaction workload: each
      // partition holds three files
      Seq((8L, 9L), (0L, 1L), (6L, 7L), (2L, 3L), (4L, 5L)).foreach {
        case (a, b) => t.storeLogs(mkLogs(a, b))
      }
      t
    }
    def fresh(root: String) = new LogTable(spark, root, "f1", blocksPerRange = 5L)
    def rows(t: LogTable): Seq[org.apache.spark.sql.Row] =
      t.read.orderBy("indx").collect().toSeq
    def filesPerPartition(root: String): Seq[Int] =
      new java.io.File(s"$root/logs/filter_hash=f1").listFiles()
        .filter(_.getName.startsWith("block_range=")).sortBy(_.getName)
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    def tmps(root: String): Seq[java.io.File] =
      new java.io.File(s"$root/logs").listFiles()
        .filter(_.getName.contains(".tmp-")).toSeq

    Seq("after-write", "after-intent", "mid-swap").foreach { point =>
      val root = tmpDir("store")
      val t = build(root)
      val expected = rows(t)
      val fragmented = filesPerPartition(root)
      assert(fragmented.size == 2 && fragmented.forall(_ > 1),
        s"precondition: fragmented partitions, got $fragmented")
      intercept[RuntimeException] { t.compact(crashAt = point) }
      val crashed = filesPerPartition(root)
      if (point == "mid-swap")
        assert(crashed.head == 1 && crashed.last == fragmented.last,
          s"precondition: one partition swapped at the crash, got $crashed")
      else assert(crashed == fragmented, s"$point: live table changed")

      val healed = fresh(root)
      assert(rows(healed) == expected, s"$point: rows changed")
      if (point == "after-write") {
        assert(filesPerPartition(root) == fragmented,
          "pre-intent crash must leave the ORIGINAL table")
        // the orphan tmp is swept only once stale: a young one could be
        // a live writer's
        assert(tmps(root).size == 1)
        tmps(root).foreach(_.setLastModified(
          System.currentTimeMillis() - 2 * graft.store.PartitionSwap.staleMs))
        assert(rows(fresh(root)) == expected)
      } else assert(filesPerPartition(root) == Seq(1, 1),
        s"$point: post-intent crash must roll FORWARD to the compacted table")
      assert(tmps(root).isEmpty, s"$point: stray tmp ${tmps(root)}")
    }
  }

  test("a rename-aside compaction's leftover sibling fails loudly, not as a short table") {
    // earlier versions compacted by renaming the live dir aside to
    // `.trash-*` and the rewrite in from `.compact-*`; a crash could
    // strand a partition in either, and nothing rolls that forward now
    Seq(".trash-", ".compact-").foreach { kind =>
      val root = tmpDir("store")
      val t = new LogTable(spark, root, "f1", blocksPerRange = 5L)
      t.storeLogs(mkLogs(0, 9))
      val dir = new java.io.File(s"$root/logs/filter_hash=f1")
      val stranded = new java.io.File(dir.getParentFile, dir.getName + kind + "1")
      java.nio.file.Files.createDirectories(stranded.toPath)
      val part = dir.listFiles().filter(_.getName.startsWith("block_range=")).max
      assert(part.renameTo(new java.io.File(stranded, part.getName)))
      val reader = new LogTable(spark, root, "f1", blocksPerRange = 5L)
      // every call refuses, not just the first
      (1 to 2).foreach { _ =>
        val e = intercept[java.io.IOException](reader.lastIndex())
        assert(e.getMessage.contains(stranded.getName), e.getMessage)
      }
      intercept[java.io.IOException](reader.read)
    }
  }

  test("point read GetLog (store.go:34-35)") {
    val t = new LogTable(spark, tmpDir("store"), "f1")
    t.storeLogs(mkLogs(0, 4))
    val row = t.getLog(7L).collect()
    assert(row.length == 1 && row.head.getAs[Long]("indx") == 7L)
  }

  test("compact clusters each partition into one block-sorted file") {
    val root = tmpDir("store")
    val t = new LogTable(spark, root, "f1", blocksPerRange = 5L)
    // many small out-of-order appends → fragmented files
    Seq((8L, 9L), (0L, 1L), (6L, 7L), (2L, 3L), (4L, 5L)).foreach {
      case (a, b) => t.storeLogs(mkLogs(a, b))
    }
    val before = t.read.count()
    t.compact()
    assert(t.read.count() == before)
    // one data file per partition dir, rows sorted by block_num within it
    import org.apache.spark.sql.functions.input_file_name
    val byFile = t.read
      .select(input_file_name().as("f"), col("block_num"))
      .collect().groupBy(_.getString(0))
    assert(byFile.size == 2) // 2 block_range partitions, 1 file each
    byFile.values.foreach { rows =>
      val nums = rows.map(_.getLong(1))
      assert(nums.sameElements(nums.sorted), "file not block-sorted")
    }
    // indices unchanged by compaction
    val idx = t.read.select("indx").as[Long].collect().sorted
    assert(idx.sameElements(0L until before))
  }

  test("compact on an empty/fresh table is a no-op, not a brick") {
    val t = new LogTable(spark, tmpDir("store"), "f1")
    t.compact()          // fresh: no dir at all
    assert(t.lastIndex() == 0L)
    t.storeLogs(mkLogs(0, 1))
    t.removeLogsFrom(0L) // now the dir exists but holds zero rows
    t.compact()
    assert(t.lastIndex() == 0L)
    t.storeLogs(mkLogs(0, 1))
    assert(t.read.count() == 4) // still fully usable
  }

  test("compactZOrdered clusters rows by the (block, address-hash) Z key") {
    val root = tmpDir("store")
    val t = new LogTable(spark, root, "f1", blocksPerRange = 100L)
    t.storeLogs(mkLogs(0, 49, perBlock = 4)) // addresses interleave blocks
    val before = t.read.count()
    t.compactZOrdered(bits = 8)
    assert(t.read.count() == before)
    // rows inside each file must follow the Z key order (the clustering
    // property row-group stats pruning relies on at real row-group sizes)
    val z = graft.ops.Layout.zorderKey(
      col("block_num"), xxhash64(col("address")).bitwiseAND(255L), 8)
    val byFile = t.read
      .select(input_file_name().as("f"), z.as("z"))
      .collect().groupBy(_.getString(0))
    byFile.values.foreach { rows =>
      val zs = rows.map(_.getLong(1))
      assert(zs.sameElements(zs.sorted), "file not z-ordered")
    }
    // content unchanged
    val idx = t.read.select("indx").as[Long].collect().sorted
    assert(idx.sameElements(0L until before))
  }

  test("kv get/set/update (testing.go:65-102)") {
    val kv = new KvStore(spark, tmpDir("kv"))
    assert(kv.get("k1").isEmpty)
    kv.set("k1", "v1")
    assert(kv.get("k1").contains("v1"))
    kv.set("k1", "v2")               // update in place
    assert(kv.get("k1").contains("v2"))
    assert(kv.getPrefix("") == Seq("k1" -> "v2"))
  }

  test("kv versions are monotonic across restarts (stale-dir regression)") {
    // a restarted store must continue from the newest version on disk —
    // a smaller version would pin reads to a stale snapshot forever
    val dir = tmpDir("kv")
    val kv = new KvStore(spark, dir)
    kv.set("k", "1")
    def vers() = new java.io.File(dir, "kv").listFiles()
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(_.getName.toLong).sorted.toSeq
    val v1 = vers()
    assert(v1.size == 1)
    // a "restarted JVM": a new KvStore instance must still write a
    // strictly larger version and prune
    val kv2 = new KvStore(spark, dir)
    kv2.set("k", "2")
    val v2 = vers()
    assert(v2.max == v1.head + 1)
    assert(kv2.get("k").contains("2"))
    assert(new KvStore(spark, dir).get("k").contains("2"))
    // prune retains a short window (concurrent list-then-read readers must
    // never see the version they just listed vanish), never more
    (0 until 6).foreach(i => kv2.set("k", s"x$i"))
    assert(vers().size == 4 && vers().max == v1.head + 7)
    assert(kv2.get("k").contains("x5"))
  }

  test("prefix listing (testing.go:199-242)") {
    val kv = new KvStore(spark, tmpDir("kv"))
    kv.set("filter_a", "1"); kv.set("filter_b", "2"); kv.set("last_x", "3")
    val keys = kv.listPrefix("filter_").select("key").as[String].collect()
    assert(keys.toSeq == Seq("filter_a", "filter_b"))
  }

  test("kv retention boundary: a pinned reader straddling retainVersions-1 " +
    "commits succeeds, one beyond loses its snapshot") {
    // retention keeps the last `retain` versions INCLUDING the newest, so
    // a reader that pinned version v survives exactly retain-1 further
    // commits; the retain-th prunes v
    val dir = tmpDir("kv")
    val retain = 3
    val reader = new KvStore(spark, dir, retain)
    val writer = new KvStore(spark, dir, retain)
    writer.set("k", "pinned")
    // storm `n` commits right after the reader's FIRST pin; count pins
    var pins = 0
    def stormAfterFirstPin(n: Int, tag: String): Unit =
      reader.afterPin = () => {
        pins += 1
        if (pins == 1) (0 until n).foreach(i => writer.set("k", s"$tag$i"))
      }
    try {
      // success side: retain-1 commits after the pin — the pinned
      // snapshot still reads whole (and sees the OLD value)
      stormAfterFirstPin(retain - 1, "storm")
      assert(reader.get("k").contains("pinned") && pins == 1)
      // failure side: retain commits prune the pinned version; the
      // reader loses that snapshot and re-lists onto the new tail
      pins = 0
      stormAfterFirstPin(retain, "storm2")
      assert(reader.get("k").contains(s"storm2${retain - 1}") && pins == 2)
    } finally reader.afterPin = () => ()
  }

  test("kv reader outliving the retention window fails LOUDLY naming the " +
    "dial, not with a raw FileNotFound") {
    val dir = tmpDir("kv")
    val retain = 2
    val reader = new KvStore(spark, dir, retain)
    val writer = new KvStore(spark, dir, retain)
    writer.set("k", "v0")
    // sustained storm: between EVERY list and read of the reader, the
    // writer burns `retain` commits, so the listed version is pruned
    // before the read lands — through all 8 retries
    var burst = 0
    reader.afterPin = () => {
      (0 until retain).foreach { i => burst += 1; writer.set("k", s"b$burst") }
    }
    try {
      val e = intercept[IllegalStateException](reader.get("k"))
      assert(e.getMessage.contains(s"retainVersions=$retain"))
      assert(e.getMessage.contains("re-list retries"))
      assert(e.getCause != null) // the underlying missing-path kept as cause
    } finally reader.afterPin = () => ()
    // a storm that STOPS inside the retry budget recovers: prune the
    // reader's pin twice, then let it through
    var bursts = 0
    reader.afterPin = () => if (bursts < 2) {
      bursts += 1
      (0 until retain).foreach { i => burst += 1; writer.set("k", s"c$burst") }
    }
    try assert(reader.get("k").contains(s"c$burst"))
    finally reader.afterPin = () => ()
  }

  test("kv refuses the legacy parquet layout instead of reading it as empty") {
    // an empty read would drop the sync checkpoint and re-backfill into a
    // non-empty log table
    val dir = tmpDir("kv")
    assert(new java.io.File(dir, "kv/v1700000000000").mkdirs())
    val e = intercept[java.io.IOException](new KvStore(spark, dir))
    assert(e.getMessage.contains("old parquet layout"))
  }
}
