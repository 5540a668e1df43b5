package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Column ↔ Expression and plan → DataFrame bridge. Spark 4 made the
  * `Column(expr)` constructor and `Dataset.ofRows` private[sql];
  * third-party expression libraries bridge through a same-package
  * accessor (the pattern used across the Spark ecosystem). Only these
  * conversions — no other internals are touched.
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
}
