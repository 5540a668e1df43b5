package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.LogOps.HeldRows

/** The store layer (SURVEY.md §1.1e): per-filter append-only indexed log
  * over parquet directories, plus a tiny KV metadata log ([[KvStore]]).
  *
  * Reference contract (`store/store.go:6-36`): `LastIndex`, `StoreLogs`
  * (append batch with consecutive indices), `RemoveLogs(n)` (truncate
  * suffix), `GetLog(n)` (point read). The filter hash namespaces everything
  * (`tracker.go:188`): here it is the directory name, so different standing
  * queries never share files and a filter's whole history is one
  * partition-pruned path.
  *
  * Scale design:
  *  - data lands partitioned by `block_range` (block_num div 10_000) so both
  *    range scans (S1) and reorg truncation (S9) touch only the tail
  *    partition directories, never the full history;
  *  - appends assign indices as `base + position within the batch`
  *    ([[graft.ops.LogOps.withAppendIndexes]]), `base` being the table's
  *    LastIndex. A batch already on the driver (the JSON-RPC provider's
  *    parse, a sync-tail block) is sorted, numbered and written there,
  *    through Spark's parquet write support, with no job ([[publish]]); any
  *    other batch takes the ranged two-pass scheme (repartitionByRange +
  *    per-partition counts → offsets) and one Spark write, so no
  *    single-partition sort exists on the append path however large the
  *    batch;
  *  - the watermark probes ([[lastIndex]], [[firstIndexAbove]]) read the
  *    `indx`/`block_num` min/max every parquet footer already carries: a
  *    listing plus one footer read per file not seen before, no Spark
  *    job. Only a file without usable statistics sends a probe back to
  *    the table scan;
  *  - truncation rewrites only the partitions holding `indx >= n` — an
  *    engine with a transactional table format (Delta/Iceberg) would issue a
  *    metadata-only DELETE; plain parquet needs the rewrite, and reorgs only
  *    ever touch the last `MaxBlockBacklog` blocks by construction
  *    (`tracker.go:296`).
  */
final class LogTable(spark: SparkSession, root: String, filterHash: String,
    /** Blocks per at-rest partition directory. */
    val blocksPerRange: Long = 10000L) extends LogStore {
  import LogTable.Bounds

  private val dir = s"$root/logs/filter_hash=$filterHash"

  /** Tiny versioned metadata store for the truncation journal — its
    * atomic version commit is the POINTER this table's crash-safe
    * truncation pivots on (the plain-parquet analog of a Delta/Iceberg
    * metadata commit; ref `bolt_store.go:180-197` transactional truncate).
    */
  private lazy val meta = new KvStore(spark, s"$root/logs_meta/filter_hash=$filterHash")
  private def metaDirExists: Boolean =
    new java.io.File(s"$root/logs_meta/filter_hash=$filterHash/kv").exists()
  private val intentKey = "truncate_intent"
  @volatile private var intentChecked = false

  def exists: Boolean =
    new java.io.File(dir).exists() && read.limit(1).count() > 0

  /** Missing directory = genuinely fresh store → empty; any OTHER failure
    * (I/O, corrupt footer) propagates — silently treating it as "fresh"
    * would reset lastIndex to 0 and corrupt the monotonic sequence. A
    * crashed maintenance operation self-heals first: a pending truncation
    * intent rolls forward ([[recoverPendingTruncation]]) and a crashed
    * compaction swap rolls forward/back ([[recoverCompaction]]) before
    * the directory is interpreted.
    */
  def read: DataFrame = {
    recoverPending()
    readNoRecover
  }

  private def recoverPending(): Unit = if (!intentChecked) {
    intentChecked = true
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs)
    recoverPendingTruncation(fs)
    sweepStagedAppends(fs)
  }

  /** Orphans and temp files of a crashed protocol are swept only once
    * this old: the store allows concurrent readers, and a fresh reader
    * must not delete a live writer's in-flight files.
    */
  private val staleMs = 60L * 60 * 1000

  /** Name prefix of a driver-held append's files before [[publish]]
    * renames them in.
    */
  private val stagedPrefix = ".append-"

  /** Stale `.append-` files a crashed [[publish]] left in the
    * `block_range` dirs: invisible to readers, swept so they cannot
    * accumulate.
    */
  private def sweepStagedAppends(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val root = new Path(dir)
    if (fs.exists(root)) {
      val now = System.currentTimeMillis()
      fs.listStatus(root).filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(st => st.isFile && st.getPath.getName.startsWith(stagedPrefix))
        .filter(st => now - st.getModificationTime > staleMs)
        .foreach(st => fs.delete(st.getPath, false))
    }
  }

  /** Whether the data dir exists. recoverCompaction has already rolled
    * any crashed swap forward or back, so a still-missing dir is a
    * genuinely fresh store — unless a trash sibling survived recovery
    * (only possible if the heal itself failed), which must fail loudly,
    * not read as empty.
    */
  private def dirExists: Boolean = {
    val self = new java.io.File(dir)
    self.exists() || {
      val siblings = Option(self.getParentFile)
        .flatMap(p => Option(p.listFiles()))
        .getOrElse(Array.empty[java.io.File])
      val strandedTrash =
        siblings.find(_.getName.startsWith(self.getName + ".trash-"))
      strandedTrash.foreach(t => throw new java.io.IOException(
        s"log table $dir missing but ${t.getPath} exists — a compaction " +
          "swap crashed mid-rename and self-heal failed; rename the trash " +
          "dir back to recover"))
      false
    }
  }

  private def readNoRecover: DataFrame =
    if (!dirExists) emptyLogs
    else if (!hasParquetFiles(new java.io.File(dir))) {
      // a reorg that truncates EVERY stored log leaves the dir with no
      // data files (only _SUCCESS markers); schema inference would throw,
      // bricking the store — that state is a legitimately empty table
      emptyLogs
    } else spark.read.parquet(dir)

  /** Whether `f` holds a data file Spark's file index would list: hidden
    * (`_`/`.`-prefixed) names, such as a staged append, do not count.
    */
  private def hasParquetFiles(f: java.io.File): Boolean =
    if (f.getName.startsWith("_") || f.getName.startsWith(".")) false
    else if (f.isFile) f.getName.endsWith(".parquet")
    else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .exists(hasParquetFiles)

  private def emptyLogs: DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("indx", LongType), StructField("tx_index", LongType),
        StructField("tx_hash", StringType), StructField("block_num", LongType),
        StructField("block_hash", StringType), StructField("address", StringType),
        StructField("topics", ArrayType(StringType)),
        StructField("data", StringType), StructField("block_range", LongType)
      ))
    )
  }

  /** A2 — next append index (max+1, empty → 0); a driver-side Long because
    * it seeds the next batch's index range (ref `store/store.go:25-26`).
    * Read from the data files' footers ([[fileBounds]]); the table scan
    * runs only when some file lacks usable statistics.
    */
  def lastIndex(): Long = {
    recoverPending()
    fileBounds() match {
      case Some(files) => files.map(_._2.maxIndx).maxOption.fold(0L)(_ + 1L)
      case None =>
        read.agg(coalesce(max(col("indx")) + 1L, lit(0L))).head().getLong(0)
    }
  }

  /** From the data files' footer bounds; only a file whose block range
    * straddles `block` is scanned. Without usable statistics this is the
    * [[LogStore]] default scan.
    */
  override def firstIndexAbove(block: Long): Option[Long] = {
    recoverPending()
    fileBounds() match {
      case Some(files) =>
        LogStore.firstIndexAbove(block, files)(f =>
          LogStore.Span(f._2.minIndx, f._2.minBlock, f._2.maxBlock)) { fs =>
          spark.read.schema("indx LONG, block_num LONG")
            .parquet(fs.map(_._1.toString): _*)
        }
      case None => super.firstIndexAbove(block)
    }
  }

  /** Footer bounds by path, stamped with the file's (length, mtime); the
    * bounds are None for a file without rows. Data files are immutable
    * (an append adds files; truncation and compaction swap in newly
    * written ones), so an entry stays valid while its stamp matches.
    */
  private val footers = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), Option[Bounds])]()

  /** The bounds of every live data file that holds rows; None when some
    * row group lacks either statistic or counts nulls in it, and the
    * caller must scan. The listing skips `_`/`.`-prefixed names as
    * Spark's file index does (`_SUCCESS`, `_temporary`, checksums).
    */
  private def fileBounds(): Option[Seq[(Path, Bounds)]] =
    if (!dirExists) Some(Nil)
    else {
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def live(p: Path): Seq[FileStatus] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val name = st.getPath.getName
          if (name.startsWith("_") || name.startsWith(".")) Nil
          else if (st.isDirectory) live(st.getPath)
          else Seq(st)
        }
      val files = live(new Path(dir))
      footers.keySet.retainAll(files.map(_.getPath.toString).asJava)
      val bounds =
        files.map(st => footerBounds(st).map(_.map(st.getPath -> _)))
      if (bounds.exists(_.isEmpty)) None else Some(bounds.flatMap(_.get))
    }

  /** One file's bounds, cached: Some(None) for a file without rows, None
    * when a row-bearing row group lacks a usable statistic.
    */
  private def footerBounds(st: FileStatus): Option[Option[Bounds]] = {
    val key = st.getPath.toString
    val stamp = (st.getLen, st.getModificationTime)
    Option(footers.get(key)).filter(_._1 == stamp).map(h => Some(h._2))
      .getOrElse {
        val b = readFooter(st)
        b.foreach(x => footers.put(key, (stamp, x)))
        b
      }
  }

  /** Read options for [[readFooter]], built once: `ParquetFileReader.open`
    * without them builds fresh ones, and a fresh Hadoop `Configuration`
    * with them, on every call, which costs far more than the footer read.
    */
  private lazy val footerReadOptions =
    HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()

  private def readFooter(st: FileStatus): Option[Option[Bounds]] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration),
      footerReadOptions)
    val groups =
      try reader.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
      finally reader.close()
    def range(g: BlockMetaData, column: String): Option[(Long, Long)] =
      g.getColumns.asScala.find(_.getPath.toDotString == column)
        .flatMap(c => Option(c.getStatistics))
        .filter(s =>
          s.hasNonNullValue && s.isNumNullsSet && s.getNumNulls == 0)
        .map(s => (s.genericGetMin, s.genericGetMax))
        .collect { case (lo: java.lang.Long, hi: java.lang.Long) =>
          (lo.longValue, hi.longValue) }
    val perGroup = groups.map(g => for {
      (i0, i1) <- range(g, "indx")
      (b0, b1) <- range(g, "block_num")
    } yield Bounds(i0, i1, b0, b1))
    if (perGroup.exists(_.isEmpty)) None
    else Some(perGroup.flatten.reduceOption(_ merge _))
  }

  /** S8/W1 — append a batch of logs, assigning consecutive indices
    * `base, base+1, …` in (block_num, tx_index, tx_hash) order
    * (ref `postgresql_store.go:110-150`) through
    * [[graft.ops.LogOps.withAppendIndexes]]. A driver-held batch is
    * written on the driver and published by renames ([[publish]]); any
    * other batch is one Spark parquet append.
    */
  def storeLogs(batch: DataFrame): Long = storeLogs(batch, crashAt = "")

  /** Crash-injection twin of [[storeLogs]]: "mid-publish" throws between
    * the first and second `block_range` renames of a driver-held batch.
    */
  private[graft] def storeLogs(batch: DataFrame, crashAt: String): Long = {
    val base = lastIndex()
    graft.ops.LogOps.withAppendIndexes(batch, base) { b =>
      b.held match {
        case Some(h) => publish(h, crashAt)
        case None => b.rows
          .withColumn("block_range",
            floor(col("block_num") / lit(blocksPerRange)))
          .write.mode(SaveMode.Append).partitionBy("block_range").parquet(dir)
      }
      base + b.n
    }
  }

  /** The driver-held append, laid out as Spark's partitioned writer lays
    * it out: one file per `block_range=<r>` dir (the null range in
    * Spark's default-partition dir), `block_range` itself only in the
    * path. Each file is first written under a `.append-` name, which
    * readers and the watermark probes skip; the files are then renamed
    * in ascending `block_range` order, which is index order, so a crash
    * leaves a prefix of the batch (the sync loop's orphan probe truncates
    * it) and at worst stale temp files ([[sweepStagedAppends]]). On a
    * local root the files are written through java.nio. Cached plans
    * over the table are refreshed as Spark's insert command does.
    */
  private def publish(h: HeldRows, crashAt: String): Unit = if (h.rows.nonEmpty) {
    val files = new Bridge.ParquetFiles(spark, h.schema)
    val range = LogStore.blockRange(h, blocksPerRange)
    // groupBy keeps each range's rows in index order; nulls sort first
    val ranges = h.rows.groupBy(range).toSeq.sortBy(_._1)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = scala.collection.mutable.ArrayBuffer.empty[Path]
    try ranges.foreach { case (r, rs) =>
      val part = new Path(dir, ExternalCatalogUtils.getPartitionPathString(
        "block_range", r.map(_.toString).orNull))
      staged += files.write(part, rs.iterator, prefix = stagedPrefix)
    } catch {
      case t: Throwable =>
        staged.foreach(fs.delete(_, false))
        throw t
    }
    staged.zipWithIndex.foreach { case (tmp, i) =>
      if (i == 1) crash("mid-publish", crashAt)
      val dst = new Path(tmp.getParent, tmp.getName.stripPrefix(stagedPrefix))
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"rename $tmp -> $dst failed")
    }
    spark.catalog.refreshByPath(dir)
  }

  /** S9 — RemoveLogs(n): delete every log with `indx >= n`
    * (ref `postgresql_store.go:153-158`). Partition-pruned rewrite: only
    * `block_range` directories that actually contain removed rows are
    * rebuilt — everything below them is untouched, so a reorg (bounded to
    * the last `MaxBlockBacklog` blocks, ref `tracker.go:296`) rewrites at
    * most the one or two tail partitions regardless of table size. An
    * engine on a transactional format (Delta/Iceberg) would make this a
    * metadata-only DELETE; the swap below is the plain-parquet equivalent.
    * Returns the removed logs in ascending order (the retraction emission
    * order after revertLogs, ref `tracker.go:756-761`).
    */
  def removeLogsFrom(n: Long): DataFrame = removeLogsFrom(n, crashAt = "")

  /** Crash-injection hook for the truncation protocol spec: throws at the
    * named point ("after-write", "after-intent", "mid-swap") so StoreSpec
    * can kill the process-equivalent at every window and assert what a
    * fresh reader sees.
    */
  private[graft] final class InjectedCrash(at: String)
    extends RuntimeException(s"injected crash at $at")
  private def crash(at: String, crashAt: String): Unit =
    if (at == crashAt) throw new InjectedCrash(at)

  /** Truncation protocol (crash-safe; single writer):
    *  1. survivors of affected partitions → a fresh tmp dir
    *     (crash ⇒ live table untouched; the orphan tmp is swept later);
    *  2. ONE versioned KV commit journals the intent
    *     {tmp, swap ranges, delete-only ranges} — THE atomic pointer: the
    *     table is old before this commit, new after it;
    *  3. per-partition delete+rename swaps, each idempotent
    *     (crash ⇒ the next read()'s [[recoverPendingTruncation]] replays
    *     step 3 to completion — roll-forward, never rollback);
    *  4. clear the intent, drop the tmp dir.
    */
  private[graft] def removeLogsFrom(n: Long, crashAt: String): DataFrame = {
    val current = read.cache() // read() also recovers any pending intent
    var survivors: Option[DataFrame] = None
    try {
      // pin the removed set on the DRIVER before deleting its source files —
      // a cached plan can be evicted and recomputed against the rewritten
      // directory; the set is reorg-bounded (≤ MaxBlockBacklog blocks), so
      // collecting is safe by construction
      val removedRows = current.where(col("indx") >= n)
        .orderBy(col("indx")).collect()
      val removed = spark.createDataFrame(
        spark.sparkContext.parallelize(removedRows.toSeq, 1),
        current.schema)
      // partition-dir values are type-inferred on read (int, not long)
      val affected = removed.select(col("block_range").cast("long")).distinct()
        .collect().map(_.getLong(0))
      if (affected.nonEmpty) {
        val surv = current
          .where(col("block_range").isin(affected.map(Long.box): _*) &&
            col("indx") < n)
          .cache()
        survivors = Some(surv)
        surv.count()
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val tmp = s"$dir.tmp-${System.nanoTime()}"
        surv.write.mode(SaveMode.Overwrite)
          .partitionBy("block_range").parquet(tmp)
        crash("after-write", crashAt)
        // a partition whose every row was removed has no tmp output — for
        // it the delete IS the whole swap
        val swapRanges = affected.filter(r =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/block_range=$r")))
        val deleteOnly = affected.filterNot(swapRanges.contains)
        meta.set(intentKey,
          s"$tmp|${swapRanges.mkString(",")}|${deleteOnly.mkString(",")}")
        crash("after-intent", crashAt)
        applySwaps(fs, tmp, swapRanges, deleteOnly, crashAt)
        meta.set(intentKey, "")
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      removed
    } finally {
      // unpersist on EVERY exit: an exception mid-protocol must not leave
      // a stale cached relation over the (possibly rewritten) directory
      survivors.foreach(_.unpersist())
      current.unpersist()
    }
  }

  /** Step 3 of the protocol — idempotent per-partition swaps: a range
    * whose tmp dir is gone was already swapped by a previous attempt.
    */
  private def applySwaps(fs: org.apache.hadoop.fs.FileSystem, tmp: String,
      swapRanges: Seq[Long], deleteOnly: Seq[Long], crashAt: String = ""): Unit = {
    var first = true
    swapRanges.foreach { r =>
      val dst = new org.apache.hadoop.fs.Path(s"$dir/block_range=$r")
      val src = new org.apache.hadoop.fs.Path(s"$tmp/block_range=$r")
      if (fs.exists(src)) {
        fs.delete(dst, true)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"rename $src -> $dst failed")
      }
      if (first) { first = false; crash("mid-swap", crashAt) }
    }
    deleteOnly.foreach { r =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/block_range=$r"), true)
    }
    // files changed underneath any existing reader: drop cached plans and
    // stale listings over this path
    spark.catalog.refreshByPath(dir)
  }

  /** Roll a crashed truncation forward (intent journaled but swaps
    * incomplete) and sweep orphan tmp dirs (crash BEFORE the intent
    * commit). Runs once per LogTable instance, before the first read —
    * single-writer contract makes that sufficient: only a crashed
    * predecessor can leave a pending intent.
    */
  /** Self-heal a crashed compaction swap (the truncation journal's
    * sibling). [[swapInto]]'s windows and their recoveries:
    *  - crash during the tmp write (live dir untouched): the partial
    *    `.compact-*` orphan is swept;
    *  - crash between the two renames (live dir aside in `.trash-*`, new
    *    table complete in `.compact-*` — Spark's `_SUCCESS` marker is the
    *    completeness witness): roll FORWARD, renaming the tmp in;
    *    without a complete tmp, roll BACK the trash;
    *  - crash after the swap, before the trash delete: the trash is
    *    post-swap garbage and is swept.
    * Idempotent; runs once per instance before the first read
    * (single-writer contract — only a crashed predecessor can strand
    * these states).
    */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val self = new java.io.File(dir)
    def siblings(prefix: String): Seq[java.io.File] =
      Option(self.getParentFile).flatMap(p => Option(p.listFiles()))
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(self.getName + prefix)).toSeq
    val trashes = siblings(".trash-")
    val tmps = siblings(".compact-")
    if (trashes.isEmpty && tmps.isEmpty) return
    def hp(f: java.io.File) = new org.apache.hadoop.fs.Path(f.getPath)
    val dst = new org.apache.hadoop.fs.Path(dir)
    if (!self.exists() && trashes.nonEmpty) {
      val complete = tmps.find(t => new java.io.File(t, "_SUCCESS").exists())
      val src = complete.getOrElse(trashes.maxBy(_.getName))
      if (!fs.rename(hp(src), dst))
        throw new java.io.IOException(
          s"compaction self-heal: rename ${src.getPath} -> $dir failed")
      spark.catalog.refreshByPath(dir)
    }
    // Stranded siblings are garbage once a live dir exists — but a tmp
    // could also belong to an IN-FLIGHT compaction by another process
    // (readers are allowed concurrently; only writes are single-owner),
    // so tmps are swept only when stale. Trash sweeping is always safe:
    // with a live dir it is post-swap garbage, and the owner's own
    // cleanup delete no-ops if we get there first.
    if (new java.io.File(dir).exists()) {
      siblings(".trash-").foreach(f => fs.delete(hp(f), true))
      siblings(".compact-")
        .filter(f => System.currentTimeMillis() - f.lastModified() > staleMs)
        .foreach(f => fs.delete(hp(f), true))
    }
  }

  private def recoverPendingTruncation(
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    if (metaDirExists) {
      meta.get(intentKey).filter(_.nonEmpty).foreach { s =>
        val parts = s.split("\\|", 3)
        def ranges(x: String) =
          x.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
        applySwaps(fs, parts(0), ranges(parts(1)), ranges(parts(2)))
        meta.set(intentKey, "")
        fs.delete(new org.apache.hadoop.fs.Path(parts(0)), true)
      }
      // orphan tmp dirs from pre-intent crashes: invisible to readers,
      // swept here so they cannot accumulate. Stale-only, like the
      // `.compact-*` sweep: the store allows concurrent READERS, and a
      // fresh reader racing a live writer (between its survivor write and
      // its intent commit) must not delete the in-flight tmp — the writer
      // would then journal a delete-only intent and drop partitions
      // without replacing survivors.
      val self = new java.io.File(dir)
      Option(self.getParentFile).flatMap(p => Option(p.listFiles()))
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(self.getName + ".tmp-"))
        .filter(t => System.currentTimeMillis() - t.lastModified() > staleMs)
        .foreach(t => fs.delete(
          new org.apache.hadoop.fs.Path(t.getPath), true))
    }
  }

  /** S10 — point read (pushed-down unique-key predicate). */
  def getLog(n: Long): DataFrame = read.where(col("indx") === n)

  /** Swap a freshly-written directory into place without a
    * destroy-before-replace window: the live dir is RENAMED aside (not
    * deleted) before the replacement moves in, so a crash at any point
    * leaves the data recoverable under `<dir>` or `<dir>.trash-*` — the
    * same no-lost-state discipline as KvStore's versioned commits. The
    * brief not-found window between the two renames only affects
    * concurrent readers, which the store contract (single writer, reads
    * re-plan per query) already tolerates.
    */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem, tmp: String,
      crashAt: String = ""): Unit = {
    // Hadoop FileSystem.rename reports failure by RETURNING FALSE, not
    // throwing — an unchecked rename-aside would let the second rename
    // move tmp INSIDE the still-present live dir (nested garbage) or
    // silently abandon the rewrite. Abort loudly instead; every failure
    // mode leaves the data intact under dir, trash, or tmp.
    def mustRename(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
    val dst = new org.apache.hadoop.fs.Path(dir)
    val trash = new org.apache.hadoop.fs.Path(s"$dir.trash-${System.nanoTime()}")
    if (fs.exists(dst)) mustRename(dst, trash)
    crash("compact-after-aside", crashAt)
    try mustRename(new org.apache.hadoop.fs.Path(tmp), dst)
    catch {
      case e: Throwable =>
        // roll the live dir back so a failed swap leaves the table
        // readable in place; if even the rollback fails, the next read's
        // recoverCompaction self-heals from the stranded trash dir
        if (fs.exists(trash)) fs.rename(trash, dst)
        throw e
    }
    crash("compact-before-trash-delete", crashAt)
    fs.delete(trash, true)
  }

  /** Shared compaction scaffold: rewrite every partition into one file,
    * rows clustered by `sortKeys`, then swap atomically-as-possible
    * (see [[swapInto]]). No-op on an empty/fresh table — swapping in a
    * row-less directory (which parquet writes with no data files) would
    * leave a dir that fails schema inference on every later read.
    *
    * The source dir stays intact until the tmp write has fully succeeded,
    * so the write streams straight from the live files — no cache/
    * materialization pass (unlike removeLogsFrom, which deletes the very
    * partitions it reads and must pin rows first).
    */
  private def rewriteClustered(sortKeys: Seq[org.apache.spark.sql.Column],
      crashAt: String = ""): Unit = {
    if (!new java.io.File(dir).exists() || read.isEmpty) return
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir.compact-${System.nanoTime()}"
    read
      .repartition(col("block_range"))
      // lead with the partition column: FileFormatWriter requires data
      // sorted by partition cols and would otherwise inject its own
      // (unstable) sort, destroying the clustering
      .sortWithinPartitions(col("block_range") +: sortKeys: _*)
      .write.mode(SaveMode.Overwrite).partitionBy("block_range").parquet(tmp)
    crash("compact-after-write", crashAt)
    swapInto(fs, tmp, crashAt)
  }

  /** Layout maintenance: rewrite every partition clustered by
    * `(block_num, tx_index)` and collapsed to one file per partition dir.
    * Streaming appends leave one small file per micro-batch with
    * interleaved block ranges; after compaction each file's
    * `block_num`/`indx` min-max stats are tight, so ranged scans (S1) and
    * reorg truncation (S9) skip whole row groups. This is the
    * OPTIMIZE/Z-ORDER analog for plain parquet — single sort key because
    * the access pattern is one-dimensional (block order ≡ index order).
    */
  def compact(): Unit = compact(crashAt = "")

  /** Crash-injection twin of [[compact]] for the protocol spec. */
  private[graft] def compact(crashAt: String): Unit =
    rewriteClustered(Seq(col("block_num"), col("tx_index")), crashAt)

  /** Two-dimensional layout maintenance: like [[compact]], but clusters
    * each partition by a Morton key over (block_num, xxhash64(address)) —
    * the reference's two real access dimensions (ranged scans S1 ×
    * address-filtered standing queries P1). Z-ordering makes BOTH the
    * per-file `block_num` min/max AND the per-file `address` value set
    * tight, so either predicate prunes row groups; a block-only sort
    * leaves every file spanning all addresses. Within-partition file
    * count stays 1; the clustering only reorders rows.
    */
  def compactZOrdered(bits: Int = 16): Unit = {
    require(blocksPerRange <= (1L << bits),
      s"blocksPerRange=$blocksPerRange exceeds the $bits-bit Z budget")
    rewriteClustered(Seq(graft.ops.Layout.zorderKey(
      // PARTITION-RELATIVE block coordinate: raw low bits of block_num
      // wrap every 2^bits blocks, and a block_range straddling that
      // boundary would sort post-wrap blocks first — destroying exactly
      // the block clustering this method exists for. block_num mod
      // blocksPerRange is monotone within every partition and fits the
      // bit budget (blocksPerRange defaults to 10000 < 2^16).
      pmod(col("block_num"), lit(blocksPerRange)),
      // hash the address so the second dimension is dense + numeric;
      // pruning still works on the raw address column's file stats
      xxhash64(col("address")).bitwiseAND((1L << bits) - 1), bits)))
  }
}

private object LogTable {
  /** `indx` and `block_num` bounds over a data file's rows. */
  final case class Bounds(minIndx: Long, maxIndx: Long,
      minBlock: Long, maxBlock: Long) {
    def merge(o: Bounds): Bounds = Bounds(math.min(minIndx, o.minIndx),
      math.max(maxIndx, o.maxIndx), math.min(minBlock, o.minBlock),
      math.max(maxBlock, o.maxBlock))
  }
}
