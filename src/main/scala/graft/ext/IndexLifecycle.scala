package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle operations for the persisted ANN serving indexes (the
  * bucket-partitioned MT-LSH tree, the cell-partitioned IVF-MA /
  * IVF-PQ trees, and any other key-partitioned parquet index):
  *
  *  - [[compactIndex]] — small-file maintenance for APPENDED indexes.
  *    Every [[Similarity.appendLshMultiTableIndex]]-family call lands
  *    one small file per touched partition directory, so continuous
  *    ingest accumulates per-bucket file counts that degrade probes
  *    twice over: task-per-file scheduling on the pruned scan, and the
  *    loss of the id-SORTED single-file layout the native-In rerank
  *    fetch's page skipping relies on. Compaction rewrites only the
  *    directories past a file-count threshold (one partition-pruned
  *    job, never a full-index rewrite) and swaps them in through the
  *    journaled partition swap the log table's truncation and
  *    compaction use ([[graft.store.PartitionSwap]]), restoring both the
  *    file count and the id-sort. Probes over the compacted index are
  *    BIT-IDENTICAL to before (same rows, same bytes — spec-pinned).
  *  - [[publish]] / [[currentPath]] / [[vacuum]] — REBUILD-WHILE-SERVING
  *    for the documented re-train-at-N×-growth contract: index artifacts
  *    live under `root/v<N>` and a `CURRENT` pointer file names the
  *    serving version. A rebuild writes `v<N+1>` in full (invisible —
  *    no reader resolves it), then one atomic pointer move cuts new
  *    probes over; readers that resolved earlier keep their version's
  *    immutable files until [[vacuum]] reclaims non-current versions.
  *    No probe ever sees a mixed index: a reader binds to exactly one
  *    `v<N>` directory for its whole lifetime. This is the tx table's
  *    manifest-pointer shape ([[graft.store.TxLogTable]]) reduced to a
  *    single-artifact pointer; on an object store the pointer move
  *    becomes a conditional put / metastore swap, same contract.
  *
  * Single-writer contract (like every store in this library): one
  * maintainer per index root; readers are unrestricted. Serving callers
  * that memoize a relation must re-resolve after a compact or publish —
  * the old relation's file listing is stale (compact) or pinned to the
  * old version (publish).
  */
object IndexLifecycle {

  private def hfs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------------
  // Compaction
  // ---------------------------------------------------------------------

  private def partitionDirs(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.contains("=")).toSeq

  private def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq

  private def compactionSwap(spark: SparkSession, path: String) =
    new graft.store.PartitionSwap(spark, path, s"$path/_journal",
      "compact_intent")

  /** Roll a crashed [[compactIndex]] forward; every batch build and
    * append of a [[Similarity]] index runs this before it writes.
    */
  private[graft] def recover(spark: SparkSession, path: String): Unit =
    compactionSwap(spark, path).recover()

  /** Compact the partition directories of a key-partitioned index that
    * have accumulated more than `maxFilesPerDir` part files (append
    * debt), restoring one-range-file-per-directory layout and the
    * within-file id sort. ONE partition-pruned job rewrites only the hot
    * keys — cost ∝ hot-key bytes, never index size — then each key
    * directory is swapped in by [[graft.store.PartitionSwap]], journaled
    * in a KV store under `path/_journal` (a `_`-prefixed dir Spark's file
    * index skips); the next compactIndex, batch build or append rolls a
    * crashed swap forward ([[recover]]).
    * Returns the number of directories compacted.
    *
    * Maintenance-window contract: run between serving batches (the same
    * cadence as any ingesting table's compaction). A probe concurrent
    * with the swap could observe a key directory mid-swap; the
    * delete/rename-in window is two metadata operations, but unlike
    * the duplicate-tolerant probe arithmetic it is not provably
    * invisible — so this is a maintainer-side op, not a serving-side
    * one. Probes BEFORE vs AFTER are bit-identical (same rows and
    * bytes; spec-pinned).
    *
    * @param idCol the secondary sort/range column of the index layout
    *              (`vec_id` for every [[Similarity]] index)
    */
  def compactIndex(spark: SparkSession, path: String, idCol: String,
      maxFilesPerDir: Int = 4): Int =
    compactIndex(spark, path, idCol, maxFilesPerDir, crashAt = "")

  /** Crash-injection twin of [[compactIndex]]: throws at one of
    * [[graft.store.PartitionSwap]]'s windows.
    */
  private[graft] def compactIndex(spark: SparkSession, path: String,
      idCol: String, maxFilesPerDir: Int, crashAt: String): Int = {
    require(maxFilesPerDir >= 1, s"maxFilesPerDir must be >= 1")
    val swap = compactionSwap(spark, path)
    swap.recover()
    val hot = partitionDirs(new java.io.File(path))
      .filter(d => partFiles(d).size > maxFilesPerDir)
    if (hot.isEmpty) return 0
    // partition column name + typed values parsed from the dir names —
    // typed `isin` keeps the rewrite read partition-PRUNED to hot keys
    val (pcol, rawVals) = {
      val parts = hot.map(_.getName.split("=", 2))
      require(parts.map(_(0)).distinct.size == 1,
        s"mixed partition columns under $path")
      (parts.head(0), parts.map(_(1)))
    }
    val base = spark.read.parquet(path)
    val typed: Seq[Any] = base.schema(pcol).dataType match {
      case org.apache.spark.sql.types.LongType    => rawVals.map(_.toLong)
      case org.apache.spark.sql.types.IntegerType => rawVals.map(_.toInt)
      case _                                      => rawVals
    }
    // same layout discipline as the builders: range by (key, id), sort
    // within — restores the id-sorted single-file-per-dir shape the
    // rerank fetch's page skipping measures 2.8× on
    swap.rewrite(hot.map(_.getName), crashAt) { tmp =>
      base.where(col(pcol).isin(typed: _*))
        .repartitionByRange(col(pcol), col(idCol))
        .sortWithinPartitions(pcol, idCol)
        .write.mode("overwrite").partitionBy(pcol).parquet(tmp)
      // a hot key can legitimately be absent from tmp only if its rows
      // were ALL dropped — impossible for a pure rewrite; refuse rather
      // than swap a key into nothingness
      hot.foreach(keyDir => require(
        new java.io.File(tmp, keyDir.getName).exists(),
        s"compacted output missing for ${keyDir.getName}"))
    }
    hot.size
  }

  // ---------------------------------------------------------------------
  // Versioned publish (rebuild-while-serving)
  // ---------------------------------------------------------------------

  private def currentFile(root: String) = new java.io.File(root, "CURRENT")

  /** The serving version under `root`, if any has been published. */
  def currentVersion(root: String): Option[Int] = {
    val f = currentFile(root)
    if (!f.exists()) None
    else {
      val s = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      require(s.nonEmpty && s.forall(_.isDigit), s"corrupt CURRENT: '$s'")
      Some(s.toInt)
    }
  }

  /** Absolute path of the serving index artifact (`root/v<N>`). */
  def currentPath(root: String): Option[String] =
    currentVersion(root).map(v => new java.io.File(root, s"v$v").getPath)

  /** Build the next index version and atomically cut probes over to it.
    * `build` receives the new version's directory and must write the
    * complete artifact there (any of the [[Similarity]] `write*Index`
    * builders); nothing resolves the directory until the pointer moves,
    * so a crashed build leaves only an orphan `v<N+1>` that the next
    * [[vacuum]] sweeps. The pointer cut is ONE atomic rename of a
    * written-then-fsynced tmp file over `CURRENT` — a reader sees the
    * old version or the new one, never a mix and never a partial write.
    * Returns the published version number.
    *
    * The serving discipline this enables is the FAISS re-train contract
    * with zero downtime: serve v1, rebuild v2 (re-trained quantizer /
    * re-drawn planes) while v1 keeps serving, publish, let in-flight
    * readers drain, vacuum.
    */
  def publish(spark: SparkSession, root: String)
      (build: String => Unit): Int = {
    val next = currentVersion(root).getOrElse(0) + 1
    val vdir = new java.io.File(root, s"v$next")
    java.nio.file.Files.createDirectories(vdir.toPath.getParent)
    build(vdir.getPath)
    require(vdir.exists(), s"publish build wrote nothing at $vdir")
    val tmp = new java.io.File(root, s".CURRENT.tmp-$next")
    java.nio.file.Files.write(tmp.toPath,
      next.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, currentFile(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Reclaim non-current versions (and orphan tmp pointers), keeping the
    * newest `retain` besides CURRENT for still-draining readers. Returns
    * the version numbers deleted.
    */
  def vacuum(spark: SparkSession, root: String, retain: Int = 0): Seq[Int] = {
    val cur = currentVersion(root)
    val rootDir = new java.io.File(root)
    val versions = Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => f.getName.drop(1).toInt)
      .sorted.toSeq
    val keep = (cur.toSeq ++ versions.reverse.filterNot(cur.contains)
      .take(math.max(0, retain))).toSet
    val drop = versions.filterNot(keep.contains)
    val fs = hfs(spark, root)
    drop.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(
        new java.io.File(rootDir, s"v$v").getPath), true)
    }
    Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".CURRENT.tmp-"))
      .foreach(f => fs.delete(
        new org.apache.hadoop.fs.Path(f.getPath), true))
    drop
  }
}
