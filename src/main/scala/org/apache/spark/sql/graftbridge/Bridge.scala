package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Spark 4 backs `Column` with `ColumnNode`s; the Expression<->Column
 * converters live in `org.apache.spark.sql.classic.ExpressionUtils`, which is
 * `private[sql]`. This bridge (placed inside the org.apache.spark.sql package
 * namespace) re-exports the two conversions our Catalyst-expression DSL needs.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a concrete Catalyst expression tree —
   *  needed when the result is returned from a FunctionRegistry builder
   *  (lazy ColumnNodeExpression placeholders are Unevaluable there). */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** A DataFrame of `session` over a logical plan. */
  def ofRows(session: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL function builder into a live session's catalog. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
  }

  /** Register a SQL function builder via SparkSessionExtensions. */
  def injectFunction(ext: org.apache.spark.sql.SparkSessionExtensions, name: String,
                     builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo("graft", name), builder))
  }

  /** Run `df` as one tracked SQL execution and return its rows in Catalyst's
   *  internal (unsafe) form, without the round trip through external `Row`s. */
  def collectInternal(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** True when `df`'s plan reads a cached (persisted) Dataset anywhere. */
  def readsCache(df: org.apache.spark.sql.DataFrame): Boolean = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sharedState.cacheManager.useCachedData(df.queryExecution.analyzed)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
  }
}
