package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the package-private classic API — the standard
  * technique for Spark extension libraries that construct DataFrames
  * from custom `LogicalPlan` nodes and Columns from custom
  * `Expression`s (the public API has constructors for neither), and
  * that parse SQL to a plan they bind themselves. Nothing else in the
  * private surface is touched. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `sqlText` parsed by the session's SQL parser, not yet analyzed:
    * table names are still `UnresolvedRelation`s for the caller to bind. */
  def parsePlan(spark: SparkSession, sqlText: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sqlText)

  /** A Column holding `e` itself: no function registry, no session. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (possibly unresolved) Catalyst expression behind `c`. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
