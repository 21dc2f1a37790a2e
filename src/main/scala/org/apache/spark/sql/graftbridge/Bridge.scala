package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]`; placing this one-file accessor in an
  * `org.apache.spark.sql` subpackage is the standard technique for
  * libraries that ship custom Catalyst expressions (cf. many open-source
  * Spark extensions). Nothing else in the engine lives outside `graft.*`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan — how an engine-defined logical node
    * (e.g. `graft.ops.WeightedBinsNode`) enters the DataFrame API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Names of functions an extensions object would inject (test hook). */
  def injectedFunctionNames(e: org.apache.spark.sql.SparkSessionExtensions): Seq[String] = {
    val reg = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    val before = reg.listFunction().map(_.funcName).toSet
    e.registerFunctions(reg)
    reg.listFunction().map(_.funcName).filterNot(before)
  }

  /** Register a function builder on a LIVE session (extensions normally
    * bind at session build; this covers attach-to-running-session). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
}
