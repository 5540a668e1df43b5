package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression and plan → DataFrame bridge. Spark 4 made the
  * `Column(expr)` constructor and `Dataset.ofRows` private[sql];
  * third-party expression libraries bridge through a same-package
  * accessor (the pattern used across the Spark ecosystem). Besides these
  * conversions, only the session state behind [[ParquetFiles]] is
  * touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

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

  /** Spark's own parquet writer, run on the driver for rows already
    * there: `ParquetFileFormat.prepareWrite` over the session's Hadoop
    * conf (every SQL and parquet setting of the session: codec, timestamp
    * type, footer statistics), then one `OutputWriterFactory.newInstance`
    * per file, as a write task does. No job and no commit protocol: the
    * caller publishes the files. Files are named as Spark's writer names
    * a task's first file, with one job UUID per instance.
    */
  final class ParquetFiles(spark: org.apache.spark.sql.SparkSession,
      schema: StructType) {
    private val job = Job.getInstance(
      ClassicConversions.castToImpl(spark).sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    private val factory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    private val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    private val jobId = java.util.UUID.randomUUID()

    /** `part-00000-<job>-c000.<codec>.parquet`. */
    private val fileName =
      s"part-00000-$jobId-c000${factory.getFileExtension(context)}"

    /** Writes `rows` as one file `dir/<prefix><fileName>` and returns its
      * path; a failed write deletes the partial file.
      */
    def write(dir: Path, rows: Iterator[InternalRow],
        prefix: String = ""): Path = {
      val path = new Path(dir, prefix + fileName)
      val w = factory.newInstance(path.toString, schema, context)
      try rows.foreach(w.write)
      catch {
        case t: Throwable =>
          try w.close() catch { case _: Throwable => () }
          path.getFileSystem(job.getConfiguration).delete(path, false)
          throw t
      }
      w.close()
      path
    }
  }
}
