package graft

import org.apache.spark.sql.functions._

import graft.ext.{IndexLifecycle, Similarity}

/** ANN index lifecycle: small-file compaction (append debt) with
  * bit-identical probes and crash recovery, and the versioned
  * rebuild-while-serving pointer swap.
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def mkVecs(ids: Seq[Long], seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val centers = (0 until 4).map(_ => Array.fill(16)(rnd.nextGaussian()))
    ids.map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + 0.25 * rnd.nextGaussian()).toFloat).toSeq)
    }
  }

  private def bits(r: org.apache.spark.sql.Row) =
    (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))

  private def probe(idx: org.apache.spark.sql.DataFrame,
      qv: Array[Float]): Seq[(Long, Long)] =
    Similarity.annTopKMultiTable(idx, qv, "vec_id", "embedding",
        dim = 16, nbits = 4, tables = 4, k = 8,
        probeHamming = 0, probeBudget = 3)
      .collect().map(bits).toSeq

  /** An LSH multi-table index over 300 vectors with append debt: a
    * standing build plus three appended batches.
    */
  private def indebted(path: String): Seq[(Long, Seq[Float])] = {
    val all = mkVecs(0L until 300L, 11)
    val standing = all.filter(_._1 % 4 != 0).toDF("vec_id", "embedding")
    val batches = (1 to 3).map(b =>
      all.filter(p => p._1 % 4 == 0 && p._1 % 3 == b % 3)
        .toDF("vec_id", "embedding"))
    Similarity.writeLshMultiTableIndex(standing, "vec_id", "embedding",
      path, dim = 16, nbits = 4, tables = 4)
    batches.foreach(b => Similarity.appendLshMultiTableIndex(b, "vec_id",
      "embedding", path, dim = 16, nbits = 4, tables = 4))
    all
  }

  /** Part files per key dir. */
  private def fileCounts(path: String): Map[String, Int] =
    new java.io.File(path).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .map(d => d.getName -> d.listFiles()
        .count(f => f.isFile && f.getName.startsWith("part-"))).toMap

  /** Swap tmps beside the index. */
  private def tmps(path: String): Seq[java.io.File] =
    new java.io.File(path).getParentFile.listFiles().toSeq
      .filter(_.getName.startsWith(new java.io.File(path).getName + ".tmp-"))

  test("compactIndex: append-debt directories collapse to the built " +
    "layout; probes bit-identical before/after; cold dirs untouched") {
    val path = tmpDir("lshmt-compact")
    val all = indebted(path)
    val before = fileCounts(path)
    assert(before.values.max > 2, "append debt not created")

    val qs = Seq(0L, 1L, 4L, 77L).map(q => all(q.toInt)._2.toArray)
    val preIdx = spark.read.parquet(path)
    val pre = qs.map(probe(preIdx, _))
    val expectedRows = preIdx.count()

    val n = IndexLifecycle.compactIndex(spark, path, "vec_id",
      maxFilesPerDir = 2)
    assert(n > 0, "no directories compacted")
    val after = fileCounts(path)
    // hot dirs collapsed; cold dirs' files untouched
    assert(after.values.max <= 2, s"still-hot dirs after compact: $after")
    before.filter(_._2 <= 2).foreach { case (d, c) =>
      assert(after(d) == c, s"cold dir $d was rewritten")
    }
    assert(tmps(path).isEmpty, "compaction left its tmp")

    val postIdx = spark.read.parquet(path)
    assert(postIdx.count() == expectedRows, "row count changed")
    val post = qs.map(probe(postIdx, _))
    assert(pre == post, "probes diverged across compaction")
    // idempotent: a second compact is a no-op
    assert(IndexLifecycle.compactIndex(spark, path, "vec_id",
      maxFilesPerDir = 2) == 0)
  }

  test("compactIndex recovery: a crash at every swap window leaves the " +
    "old index or rolls forward to the compacted one") {
    Seq("after-write", "after-intent", "mid-swap").foreach { point =>
      val path = tmpDir(s"lshmt-recover-$point")
      val all = indebted(path)
      val qs = Seq(0L, 1L, 4L, 77L).map(q => all(q.toInt)._2.toArray)
      val pre = qs.map(probe(spark.read.parquet(path), _))
      val before = fileCounts(path)
      intercept[RuntimeException] {
        IndexLifecycle.compactIndex(spark, path, "vec_id",
          maxFilesPerDir = 2, crashAt = point)
      }
      val crashed = fileCounts(path)
      if (point == "mid-swap")
        assert(crashed.count { case (d, c) => c != before(d) } == 1,
          "precondition: one key dir swapped at the crash")
      else assert(crashed == before, s"$point: live index changed")
      // every key dir is whole at every window: probes are bit-identical
      // even before recovery
      assert(qs.map(probe(spark.read.parquet(path), _)) == pre,
        s"$point: probe diverged at the crash")
      if (point == "after-write") {
        // the orphan tmp is swept only once stale: a young one could be
        // a live compactor's
        assert(tmps(path).size == 1)
        tmps(path).foreach(_.setLastModified(
          System.currentTimeMillis() - 2 * graft.store.PartitionSwap.staleMs))
      }
      // recovery runs at the head of the next maintenance call; after the
      // intent commit the swap has rolled forward and nothing is left hot
      val n = IndexLifecycle.compactIndex(spark, path, "vec_id",
        maxFilesPerDir = 2)
      assert((n > 0) == (point == "after-write"), s"$point: compacted $n")
      assert(fileCounts(path).values.max <= 2, s"$point: still hot")
      assert(tmps(path).isEmpty, s"$point: stray tmp ${tmps(path)}")
      assert(qs.map(probe(spark.read.parquet(path), _)) == pre,
        s"$point: probe diverged after recovery")
    }
  }

  test("compactIndex recovery: a batch appended after a crash past the " +
    "intent survives the roll-forward") {
    Seq("after-intent", "mid-swap").foreach { point =>
      val path = tmpDir(s"lshmt-append-$point")
      indebted(path)
      intercept[RuntimeException] {
        IndexLifecycle.compactIndex(spark, path, "vec_id",
          maxFilesPerDir = 2, crashAt = point)
      }
      // the append rolls the journaled swap forward before it writes, so
      // the swap cannot later replace the key dirs it lands in
      val extra = mkVecs(300L until 340L, 12)
      Similarity.appendLshMultiTableIndex(extra.toDF("vec_id", "embedding"),
        "vec_id", "embedding", path, dim = 16, nbits = 4, tables = 4)
      def extraRows() = spark.read.parquet(path).where(col("vec_id") >= 300L)
        .count()
      val appended = extraRows()
      assert(appended == extra.size * 4, s"$point: one row per table")
      IndexLifecycle.compactIndex(spark, path, "vec_id", maxFilesPerDir = 2)
      // every table's copy of every appended vector is still there
      assert(extraRows() == appended, s"$point: appended rows lost")
      val idx = spark.read.parquet(path)
      extra.foreach { case (id, v) =>
        assert(probe(idx, v.toArray).map(_._1).contains(id),
          s"$point: appended vec_id $id lost")
      }
    }
  }

  test("compactIndex refuses a rename-aside compaction's leftover sibling") {
    // earlier versions renamed hot key dirs aside to `.trash-*`; a crash
    // could strand one there, leaving probes short of its rows
    val path = tmpDir("lshmt-trash")
    indebted(path)
    val self = new java.io.File(path)
    val trash = new java.io.File(self.getParentFile, self.getName + ".trash-1")
    java.nio.file.Files.createDirectories(trash.toPath)
    val keyDir = self.listFiles().filter(_.getName.contains("=")).head
    assert(keyDir.renameTo(new java.io.File(trash, keyDir.getName)))
    val e = intercept[java.io.IOException] {
      IndexLifecycle.compactIndex(spark, path, "vec_id", maxFilesPerDir = 2)
    }
    assert(e.getMessage.contains(trash.getName), e.getMessage)
    intercept[java.io.IOException] {
      Similarity.appendLshMultiTableIndex(
        mkVecs(Seq(400L), 13).toDF("vec_id", "embedding"), "vec_id",
        "embedding", path, dim = 16, nbits = 4, tables = 4)
    }
  }

  test("publish/currentPath/vacuum: rebuild-while-serving — a held " +
    "reader stays on its version, the pointer cut is all-or-nothing") {
    val root = tmpDir("idx-versions")
    val allB = mkVecs(0L until 300L, 31)
    val corpusA = allB.take(200).toDF("vec_id", "embedding")
    // v2 = A grown 50% — the re-train-at-N×-growth shape
    val corpusB = allB.toDF("vec_id", "embedding")

    assert(IndexLifecycle.currentVersion(root).isEmpty)
    val v1 = IndexLifecycle.publish(spark, root) { dir =>
      Similarity.writeLshMultiTableIndex(corpusA, "vec_id", "embedding",
        dir, dim = 16, nbits = 4, tables = 4)
    }
    assert(v1 == 1)
    val v1Path = IndexLifecycle.currentPath(root).get
    val served = spark.read.parquet(v1Path) // the in-flight reader
    val qv = allB(250)._2.toArray // corpus vector 250 — only in corpusB
    val preSwap = probe(served, qv)
    assert(!preSwap.map(_._1).contains(250L))

    val v2 = IndexLifecycle.publish(spark, root) { dir =>
      Similarity.writeLshMultiTableIndex(corpusB, "vec_id", "embedding",
        dir, dim = 16, nbits = 4, tables = 4)
    }
    assert(v2 == 2)
    // the held reader still serves v1 — bit-identical, no mixed index
    assert(probe(served, qv) == preSwap, "held reader saw the new version")
    // a fresh resolve serves v2 and finds the new vector
    val fresh = spark.read.parquet(IndexLifecycle.currentPath(root).get)
    assert(probe(fresh, qv).map(_._1).contains(250L))

    // vacuum reclaims v1 once drained; v2 keeps serving
    assert(IndexLifecycle.vacuum(spark, root) == Seq(1))
    assert(!new java.io.File(root, "v1").exists())
    assert(probe(spark.read.parquet(
      IndexLifecycle.currentPath(root).get), qv).map(_._1).contains(250L))
  }
}
