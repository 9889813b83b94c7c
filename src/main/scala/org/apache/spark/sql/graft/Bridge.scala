package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Column ⇄ Expression bridge. Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so libraries adding
  * custom Catalyst expressions expose them through a small shim in an
  * `org.apache.spark.sql` subpackage — the standard extension pattern.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A `DataFrame` over an already-resolved plan (`Dataset.ofRows` is
    * `private[sql]`) — how `graft.sources.Tables` serves a cached
    * relation without re-resolving its source.
    */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(s), plan)

  /** Imperative registration of graft's SQL functions into an EXISTING
    * session (the extension route, `graft.GraftExtensions`, only applies
    * at session build time). Uses the session's own function registry, so
    * it composes with `newSession()` isolation.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // same builder list as the extension route — one source of truth
    graft.GraftExtensions.functions.foreach { case (name, cls, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        builder)
    }
  }
}
