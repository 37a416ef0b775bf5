package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge.
  *
  * Spark 4 made `Column.expr` and `new Column(expr)` private[sql]
  * (columns are ColumnNode-backed for Connect compatibility); extension
  * libraries reach the classic bridges through an in-package shim —
  * the same pattern public Spark connectors use. Kept to two one-line
  * forwarders so the package intrusion surface stays minimal.
  */
object ColumnBridge {
  /** Spark 4 made `types.AbstractDataType` private[sql]; extension
    * expressions need it to declare `inputTypes` (ExpectsInputTypes /
    * ImplicitCastInputTypes). Same in-package-alias pattern as the
    * Column bridges. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function on an ALREADY-RUNNING session (builder
    * extensions only apply to sessions created after them). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** DataFrame over a raw LogicalPlan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The rows a DataFrame's executed plan yields, in internal form —
    * what `Dataset.rdd` maps to external rows. */
  def toRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd

  /** Add a planner strategy to a running session. */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
                  strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!ss.experimental.extraStrategies.contains(strategy))
      ss.experimental.extraStrategies = ss.experimental.extraStrategies :+ strategy
  }
}
