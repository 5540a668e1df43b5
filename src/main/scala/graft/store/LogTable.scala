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
  *    (`tracker.go:296`);
  *  - truncation and compaction both replace partition dirs through one
  *    journaled, roll-forward swap ([[PartitionSwap]]).
  */
final class LogTable(spark: SparkSession, root: String, filterHash: String,
    /** Blocks per at-rest partition directory. */
    val blocksPerRange: Long = 10000L) extends LogStore {
  import LogTable.Bounds

  private val dir = s"$root/logs/filter_hash=$filterHash"

  /** Truncation and compaction rewrite partitions through one journaled
    * swap; its tiny versioned KV journal's atomic commit is the POINTER
    * both pivot on (the plain-parquet analog of a Delta/Iceberg metadata
    * commit; ref `bolt_store.go:180-197` transactional truncate).
    */
  private val swap = new PartitionSwap(spark, dir,
    s"$root/logs_meta/filter_hash=$filterHash", "truncate_intent")
  @volatile private var intentChecked = false

  def exists: Boolean =
    new java.io.File(dir).exists() && read.limit(1).count() > 0

  /** Missing directory = genuinely fresh store → empty; any OTHER failure
    * (I/O, corrupt footer) propagates — silently treating it as "fresh"
    * would reset lastIndex to 0 and corrupt the monotonic sequence. A
    * crashed truncation or compaction rolls forward first
    * ([[PartitionSwap.recover]]), before the directory is interpreted.
    */
  def read: DataFrame = {
    recoverPending()
    readNoRecover
  }

  private def recoverPending(): Unit = if (!intentChecked) {
    swap.recover()
    sweepStagedAppends()
    intentChecked = true
  }

  /** Name prefix of a driver-held append's files before [[publish]]
    * renames them in.
    */
  private val stagedPrefix = ".append-"

  /** Stale `.append-` files a crashed [[publish]] left in the
    * `block_range` dirs: invisible to readers, swept so they cannot
    * accumulate.
    */
  private def sweepStagedAppends(): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      val now = System.currentTimeMillis()
      fs.listStatus(root).filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(st => st.isFile && st.getPath.getName.startsWith(stagedPrefix))
        .filter(st => now - st.getModificationTime > PartitionSwap.staleMs)
        .foreach(st => fs.delete(st.getPath, false))
    }
  }

  /** A missing data dir is a genuinely fresh store: a dir missing
    * because an earlier version's compaction crashed with it renamed
    * aside is refused by [[PartitionSwap.recover]] first.
    */
  private def dirExists: Boolean = new java.io.File(dir).exists()

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
      staged += files.write(new Path(dir, rangeDir(r)), rs.iterator,
        prefix = stagedPrefix)
    } catch {
      case t: Throwable =>
        staged.foreach(fs.delete(_, false))
        throw t
    }
    staged.zipWithIndex.foreach { case (tmp, i) =>
      if (i == 1) InjectedCrash.at("mid-publish", crashAt)
      val dst = new Path(tmp.getParent, tmp.getName.stripPrefix(stagedPrefix))
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"rename $tmp -> $dst failed")
    }
    spark.catalog.refreshByPath(dir)
  }

  /** The partition dir of a `block_range` value: Spark's default-partition
    * dir for null, as Spark's partitioned writer names it.
    */
  private def rangeDir(r: Option[Any]): String =
    ExternalCatalogUtils.getPartitionPathString(
      "block_range", r.map(_.toString).orNull)

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

  /** Crash-injection twin of [[removeLogsFrom]]: throws at one of
    * [[PartitionSwap]]'s windows ("after-write", "after-intent",
    * "mid-swap") so StoreSpec can kill the process-equivalent at every
    * window and assert what a fresh reader sees.
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
      // partition values as read (type-inferred; null for a null block_num)
      val affected = removedRows.toSeq
        .map(r => Option(r.getAs[Any]("block_range"))).distinct
      if (affected.nonEmpty) {
        val inAffected = col("block_range").isin(affected.flatten: _*) ||
          (if (affected.contains(None)) col("block_range").isNull else lit(false))
        val surv = current.where(inAffected && col("indx") < n).cache()
        survivors = Some(surv)
        surv.count()
        // a partition whose every row was removed has no tmp output: the
        // swap drops it
        swap.rewrite(affected.map(rangeDir), crashAt) { tmp =>
          surv.write.mode(SaveMode.Overwrite)
            .partitionBy("block_range").parquet(tmp)
        }
      }
      removed
    } finally {
      // unpersist on EVERY exit: an exception mid-protocol must not leave
      // a stale cached relation over the (possibly rewritten) directory
      survivors.foreach(_.unpersist())
      current.unpersist()
    }
  }

  /** S10 — point read (pushed-down unique-key predicate). */
  def getLog(n: Long): DataFrame = read.where(col("indx") === n)

  /** Shared compaction scaffold: rewrite every partition into one file,
    * rows clustered by `sortKeys`, and swap each in through the journaled
    * [[PartitionSwap]]; a live partition the rewrite lacks is dropped.
    * No-op on an empty/fresh table — swapping in a row-less directory
    * (which parquet writes with no data files) would leave a dir that
    * fails schema inference on every later read.
    *
    * The live partitions stay intact until the intent commit, after the
    * tmp write has fully succeeded, so the write streams straight from
    * the live files — no cache/materialization pass (unlike
    * removeLogsFrom, whose survivors must outlive their source files).
    */
  private def rewriteClustered(sortKeys: Seq[org.apache.spark.sql.Column],
      crashAt: String): Unit = {
    if (!new java.io.File(dir).exists() || read.isEmpty) return
    swap.rewrite(swap.partitions(dir), crashAt) { tmp =>
      read
        .repartition(col("block_range"))
        // lead with the partition column: FileFormatWriter requires data
        // sorted by partition cols and would otherwise inject its own
        // (unstable) sort, destroying the clustering
        .sortWithinPartitions(col("block_range") +: sortKeys: _*)
        .write.mode(SaveMode.Overwrite).partitionBy("block_range").parquet(tmp)
    }
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

  /** Crash-injection twin of [[compact]]: throws at one of
    * [[PartitionSwap]]'s windows.
    */
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
  def compactZOrdered(bits: Int = 16): Unit =
    rewriteClustered(
      Seq(graft.ops.Layout.logZorderKey(blocksPerRange, bits)), crashAt = "")
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
