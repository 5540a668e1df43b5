package org.apache.spark.sql.graftbridge

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression and plan → DataFrame bridge. Spark 4 made the
  * `Column(expr)` constructor and `Dataset.ofRows` private[sql];
  * third-party expression libraries bridge through a same-package
  * accessor (the pattern used across the Spark ecosystem). Besides these
  * conversions, only the listener bus, the session state and the write
  * support behind [[ParquetFiles]] are touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Waits until every listener event posted so far has been delivered,
    * so counts a listener keeps are complete when read. Throws
    * `TimeoutException` past the bus's own 10 s bound.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A DataFrame over a plan built by the caller (`Dataset.ofRows`) — how
    * driver-held `InternalRow`s become a `LocalRelation` frame without a
    * round trip through external `Row`s.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  /** Register a custom expression under a SQL-callable name, so
    * `spark.sql("SELECT keccak256(c) …")` works alongside the Column API.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** `path` as a java.nio path when it lives on the local filesystem: the
    * `file:` scheme, or no scheme under a `file:` default filesystem. The
    * driver-side parquet writer and the KV store use it to skip Hadoop's
    * local filesystem, whose creates and renames start `chmod`/`readlink`
    * processes when the native Hadoop library is not loaded.
    */
  def localPath(path: Path, conf: Configuration): Option[java.nio.file.Path] = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") None
    else Some(new java.io.File(path.toUri.getPath).getAbsoluteFile.toPath)
  }

  /** Spark's own parquet write path, run on the driver for rows already
    * there: `ParquetFileFormat.prepareWrite` over the session's Hadoop
    * conf (every SQL and parquet setting of the session: codec, timestamp
    * type, footer statistics), then one parquet `ParquetWriter` per file
    * over Spark's `ParquetWriteSupport`, configured from that conf as
    * `ParquetOutputFormat` configures a write task's writer. A local path
    * is written through java.nio (`LocalOutputFile`), any other through
    * its Hadoop filesystem. No job and no commit protocol: the caller
    * publishes the files. Files are named as Spark's writer names a
    * task's first file, with one job UUID per instance.
    */
  final class ParquetFiles(spark: org.apache.spark.sql.SparkSession,
      schema: StructType) {
    private val job = Job.getInstance(
      ClassicConversions.castToImpl(spark).sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    private val factory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    private val conf = job.getConfiguration
    private val context = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    private val jobId = java.util.UUID.randomUUID()

    /** `part-00000-<job>-c000.<codec>.parquet`. */
    private val fileName =
      s"part-00000-$jobId-c000${factory.getFileExtension(context)}"

    /** The conf's per-column settings: `<key>#<column>` as (key, column,
      * value).
      */
    private val perColumn: Seq[(String, String, String)] =
      conf.getValByRegex("#").asScala.toSeq.flatMap { case (k, v) =>
        k.split("#", 2) match {
          case Array(key, column) => Some((key, column, v))
          case _ => None
        }
      }

    /** `ParquetOutputFormat.getRecordWriter`'s settings, read from the
      * prepared conf through the same getters and keys (the builder's
      * `withConf` alone does not apply them), per-column `<key>#<column>`
      * overrides included. The builder exposes no setter for the two
      * page-size-check heuristics (`parquet.page.size.check.estimate`,
      * `parquet.page.value.count.threshold`); they keep parquet's
      * defaults.
      */
    private def configure(b: Writer): Writer = {
      import ParquetOutputFormat._
      b.withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.CREATE)
        .withCompressionCodec(getCompression(context))
        .withRowGroupSize(getLongBlockSize(conf))
        .withMaxPaddingSize(
          conf.getInt(MAX_PADDING_BYTES, ParquetWriter.MAX_PADDING_SIZE_DEFAULT))
        .withValidation(getValidation(conf))
        .withPageSize(getPageSize(conf))
        .withDictionaryPageSize(getDictionaryPageSize(conf))
        .withDictionaryEncoding(getEnableDictionary(conf))
        .withWriterVersion(getWriterVersion(conf))
        .withMinRowCountForPageSizeCheck(getMinRowCountForPageSizeCheck(conf))
        .withMaxRowCountForPageSizeCheck(getMaxRowCountForPageSizeCheck(conf))
        .withColumnIndexTruncateLength(conf.getInt(COLUMN_INDEX_TRUNCATE_LENGTH,
          ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH))
        .withStatisticsTruncateLength(conf.getInt(STATISTICS_TRUNCATE_LENGTH,
          ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH))
        .withMaxBloomFilterBytes(getBloomFilterMaxBytes(conf))
        .withBloomFilterEnabled(getBloomFilterEnabled(conf))
        .withAdaptiveBloomFilterEnabled(getAdaptiveBloomFilterEnabled(conf))
        .withRowGroupRowCountLimit(conf.getInt(BLOCK_ROW_COUNT_LIMIT,
          ParquetProperties.DEFAULT_ROW_GROUP_ROW_COUNT_LIMIT))
        .withPageRowCountLimit(conf.getInt(PAGE_ROW_COUNT_LIMIT,
          ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT))
        .withPageWriteChecksumEnabled(getPageWriteChecksumEnabled(conf))
        .withStatisticsEnabled(getStatisticsEnabled(conf))
      perColumn.foreach { case (key, column, v) =>
        key match {
          case ENABLE_DICTIONARY => b.withDictionaryEncoding(column, v.toBoolean)
          case BLOOM_FILTER_ENABLED => b.withBloomFilterEnabled(column, v.toBoolean)
          case BLOOM_FILTER_EXPECTED_NDV => b.withBloomFilterNDV(column, v.toLong)
          case BLOOM_FILTER_FPP => b.withBloomFilterFPP(column, v.toDouble)
          case BLOOM_FILTER_CANDIDATES_NUMBER =>
            b.withBloomFilterCandidateNumber(column, v.toInt)
          case STATISTICS_ENABLED => b.withStatisticsEnabled(column, v.toBoolean)
          case _ => b
        }
      }
      b
    }

    /** Writes `rows` as one file `dir/<prefix><fileName>` and returns its
      * path; a failed write deletes the partial file.
      */
    def write(dir: Path, rows: Iterator[InternalRow],
        prefix: String = ""): Path = {
      val path = new Path(dir, prefix + fileName)
      val file = localPath(path, conf) match {
        case Some(p) =>
          java.nio.file.Files.createDirectories(p.getParent)
          new LocalOutputFile(p)
        case None => HadoopOutputFile.fromPath(path, conf)
      }
      val w = configure(new Writer(file)).build()
      try rows.foreach(w.write)
      catch {
        case t: Throwable =>
          try w.close() catch { case _: Throwable => () }
          path.getFileSystem(conf).delete(path, false)
          throw t
      }
      w.close()
      path
    }
  }

  private final class Writer(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Writer](file) {
    override protected def self(): Writer = this
    override protected def getWriteSupport(
        conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
