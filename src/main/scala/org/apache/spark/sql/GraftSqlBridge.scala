package org.apache.spark.sql

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `org.apache.spark.sql`-scoped shim graft needs: building a
  * DataFrame from a raw LogicalPlan (to hand custom logical nodes such as
  * [[graft.plans.TopKPerKey]] to the planner), extracting the Catalyst
  * expression behind a public Column, and reaching the active SparkContext
  * and its live configuration from a session extension. All are
  * `private[sql]`/`private[spark]` in
  * Spark 4's classic API — the standard extension-library move is a
  * package-scoped bridge; everything else in graft stays on public surface.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(cs, plan)
  }

  /** EAGER Column → Expression conversion. `ExpressionUtils.expression`
    * returns a lazy `ColumnNodeExpression` wrapper that reports itself
    * resolved, so a custom logical node holding one is skipped by the
    * analyzer and dies at codegen; the converter unwraps to the real
    * Catalyst tree (e.g. UnresolvedAttribute), which resolves normally.
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a Catalyst expression back into a public Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The SparkContext a session is being built on (`private[spark]`). */
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** The context's own `SparkConf` (`private[spark]`; the public `getConf`
    * is a copy, so a key set on it reaches no session). */
  def conf(sc: SparkContext): SparkConf = sc.conf
}
