package graft.stream

import java.util

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.store.{KvStore, TxLogTable}

/** Structured Streaming source over a [[graft.store.TxLogTable]] commit
  * log — the Delta streaming-source shape: OFFSETS ARE TABLE VERSIONS,
  * and each micro-batch delivers exactly the change feed between two
  * committed versions (`_change_type` insert|delete, `_commit_version`),
  * so a downstream materialization sees a reorg as the same
  * retract-then-replace delta the batch reconciler emits.
  *
  * Scale shape:
  *  - the driver never runs a Spark job to poll: `latestOffset` reads the
  *    newest manifest from the table's own manifest log
  *    ([[graft.store.TxLogTable.manifestLog]], one small JSON file), once
  *    per trigger;
  *  - planning is manifest-interval arithmetic (appends insert
  *    `[prev, cur)`, truncations delete `[cur, prev)`, compactions are
  *    invisible) — one input partition per affected parquet file, so a
  *    batch spanning many commits fans out across executors;
  *  - readers push the index range down as a parquet row-group +
  *    record-level filter (`FilterApi`), so a delta touching the tail of
  *    a large commit reads only the matching row groups.
  *
  * Exactly-once: versions are monotone and checkpointed by the engine;
  * restart replans `(lastCommitted, latest]` from the retained manifests.
  * The retention window must cover the checkpoint lag
  * (`retainVersions` on the writing table; planning fails loudly if a
  * needed version aged out rather than silently skipping commits).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.stream.TxCdcSourceProvider")
  *     .option("root", root).option("filterHash", hash)
  *     .option("startingVersion", 0)   // default: version at stream start
  *     .load()
  * }}}
  */
class TxCdcSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TxCdcSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TxCdcTable(new CaseInsensitiveStringMap(properties))
}

object TxCdcSource {
  val schema: StructType = StructType(
    TxLogTable.logSchema.fields.toSeq ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType)))

  /** One contiguous index interval of one data directory contributing to
    * one commit's delta; `hi` exclusive.
    */
  private[stream] case class Slice(version: Long, changeType: String,
      dir: String, lo: Long, hi: Long)

  /** Manifest-interval arithmetic: the per-commit change slices between
    * two versions. Fails loudly when a needed version is no longer
    * retained — a silent skip would drop changes downstream.
    */
  private[stream] def slices(dataDir: String,
      byV: Map[Long, TxLogTable.Manifest],
      from: Long, to: Long): Seq[Slice] = {
    (from to to).foreach(v => require(byV.contains(v),
      s"commit $v no longer retained (have " +
        s"${byV.keys.toSeq.sorted.mkString(",")}); raise retainVersions " +
        "on the writing table to cover the stream's checkpoint lag"))
    (from + 1 to to).flatMap { v =>
      val (prev, cur) = (byV(v - 1), byV(v))
      val (tag, lo, hi, entries) = cur.op match {
        case "append" =>
          ("insert", prev.lastIndex, cur.lastIndex, cur.entries)
        case "truncate" =>
          ("delete", cur.lastIndex, prev.lastIndex, prev.entries)
        case _ => ("", 0L, 0L, Seq.empty) // compact/zorder: physical only
      }
      entries.flatMap { e =>
        val l = math.max(lo, e.minIndx)
        val h = math.min(hi, math.min(e.cap, e.maxIndx + 1))
        if (l < h) Some(Slice(v, tag, s"$dataDir/${e.name}", l, h)) else None
      }
    }
  }
}

final class TxCdcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_tx_cdc"
  override def schema(): StructType = TxCdcSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = TxCdcSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        def opt(k: String): Option[String] =
          Option(opts.get(k)).orElse(Option(options.get(k)))
        val root = opt("root").getOrElse(
          sys.error("TxCdcSource requires option 'root'"))
        val hash = opt("filterHash").getOrElse(
          sys.error("TxCdcSource requires option 'filterHash'"))
        new TxCdcMicroBatchStream(root, hash,
          startingVersion = opt("startingVersion").map(_.toLong),
          maxCommitsPerBatch =
            opt("maxCommitsPerBatch").map(_.toLong).getOrElse(Long.MaxValue))
      }
    }
}

final case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

final class TxCdcMicroBatchStream(root: String, filterHash: String,
    startingVersion: Option[Long],
    maxCommitsPerBatch: Long = Long.MaxValue)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val dataDir = TxLogTable.dataDir(root, filterHash)
  // the driver's Hadoop conf (cluster FS credentials, defaultFS)
  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration

  /** The writing table's manifest log, read through the same store. */
  private[graft] lazy val manifests: KvStore =
    TxLogTable.manifestLog(SparkSession.active, root, filterHash)

  private def currentVersion(): Long =
    TxLogTable.manifestOf(manifests).version

  override def initialOffset(): Offset =
    VersionOffset(startingVersion.getOrElse(currentVersion()))

  private def latest(): VersionOffset = VersionOffset(currentVersion())

  /** Admission: at most `maxCommitsPerBatch` commits per micro-batch —
    * bounds each batch to the ingest batches that produced those
    * commits, so a CDC consumer far behind a bulk backfill catches up
    * in controlled steps instead of one giant batch (the same
    * admission-control posture as [[ChainMicroBatchStream]]'s AIMD,
    * with the table's own commit granularity as the unit).
    *
    * Under Trigger.AvailableNow the head is CLAMPED to the version
    * pinned at [[prepareForTriggerAvailableNow]] — without the clamp a
    * continuously committing writer keeps the run alive forever, the
    * opposite of the AvailableNow contract (drain a fixed prefix, then
    * terminate).
    */
  private def admit(committed: Long): VersionOffset = {
    val live = currentVersion()
    val head =
      if (availableNowTarget >= 0) math.min(availableNowTarget, live)
      else live
    // never below the committed offset (a startingVersion ahead of the
    // table is simply "no data yet"); overflow-safe at the unbounded
    // default
    VersionOffset(math.max(committed, math.min(head,
      if (maxCommitsPerBatch > head - committed) head
      else committed + maxCommitsPerBatch)))
  }

  override def latestOffset(): Offset = latest()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    admit(start.asInstanceOf[VersionOffset].version)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // AvailableNow pins the target to the version seen at preparation, so
  // the run drains a fixed prefix even while writers keep committing
  private var availableNowTarget: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = currentVersion()
  override def reportLatestOffset(): Offset =
    VersionOffset(
      if (availableNowTarget >= 0) availableNowTarget
      else currentVersion())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].version
    val to = end.asInstanceOf[VersionOffset].version
    if (from >= to) return Array.empty
    val byV = TxLogTable.retainedOf(manifests).map(m => m.version -> m)
      .toMap + (0L -> TxLogTable.Manifest(0L, Seq.empty))
    // Hadoop FS listing (not java.io.File): commit dirs live wherever
    // the table does — HDFS/object store on a cluster
    TxCdcSource.slices(dataDir, byV, from, to).flatMap { s =>
      val dirPath = new Path(s.dir)
      val fs = dirPath.getFileSystem(hadoopConf)
      val files =
        (if (fs.exists(dirPath)) fs.listStatus(dirPath).toSeq else Seq.empty)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      require(files.nonEmpty,
        s"data dir ${s.dir} of commit ${s.version} has no parquet files — " +
          "vacuumed before the stream consumed it?")
      files.map(st => TxCdcInputPartition(st.getPath.toString, s.lo, s.hi,
        s.changeType, s.version): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // ship the driver's Hadoop conf to the executor readers (FS
    // credentials, defaultFS) — the standard DSv2 connector shape
    val conf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[TxCdcInputPartition]
      new PartitionReader[InternalRow] {
        // row-group + record-level pushdown of the commit's index range
        private val pred = FilterApi.and(
          FilterApi.gtEq(FilterApi.longColumn("indx"),
            java.lang.Long.valueOf(p.lo)),
          FilterApi.lt(FilterApi.longColumn("indx"),
            java.lang.Long.valueOf(p.hi)))
        private val reader: ParquetReader[Group] =
          ParquetReader.builder(new GroupReadSupport(), new Path(p.file))
            .withConf(conf.value)
            .withFilter(FilterCompat.get(pred))
            .build()
        private val tag = UTF8String.fromString(p.changeType)
        private var current: InternalRow = _

        private def str(g: Group, field: String): UTF8String =
          if (g.getFieldRepetitionCount(field) == 0) null
          else UTF8String.fromString(g.getString(field, 0))

        private def topics(g: Group): GenericArrayData =
          if (g.getFieldRepetitionCount("topics") == 0) null
          else {
            val lst = g.getGroup("topics", 0)
            val n = lst.getFieldRepetitionCount("list")
            new GenericArrayData((0 until n).map { i =>
              val el = lst.getGroup("list", i)
              if (el.getFieldRepetitionCount("element") == 0) null
              else UTF8String.fromString(el.getString("element", 0))
            }.toArray[Any])
          }

        override def next(): Boolean = {
          val g = reader.read()
          if (g == null) false
          else {
            current = new GenericInternalRow(Array[Any](
              g.getLong("tx_index", 0), str(g, "tx_hash"),
              g.getLong("block_num", 0), str(g, "block_hash"),
              str(g, "address"), topics(g), str(g, "data"),
              g.getLong("indx", 0), g.getLong("block_range", 0),
              tag, p.version))
            true
          }
        }
        override def get(): InternalRow = current
        override def close(): Unit = reader.close()
      }
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)
}

final case class TxCdcInputPartition(file: String, lo: Long, hi: Long,
    changeType: String, version: Long) extends InputPartition
