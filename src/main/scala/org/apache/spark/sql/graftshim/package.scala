package org.apache.spark.sql

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge between public `Column` and Catalyst `Expression` for
  * custom expressions (Spark 4 wraps Column around ColumnNode; the
  * converters live in `sql.classic`, package-private to sql). This
  * is the standard extension-library shim — no Spark internals are
  * modified, only re-exported.
  */
package object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Resolve the optimizer rules an extensions installer registered —
    * `SparkSessionExtensions.buildOptimizerRules` is private[sql];
    * re-exported so specs can assert extension wiring without
    * constructing a dedicated SparkSession. */
  def optimizerRules(ext: SparkSessionExtensions, session: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(session)

  /** `SparkSession.sql` with the parsing step supplied by the caller:
    * `plan` builds the logical plan on a fresh tracker (recording its
    * parse time there), and `Dataset.ofRows` analyzes it on the same
    * tracker, with `session` active on the thread throughout, as in
    * `sql`. Re-exported because `withActive` and `ofRows` are
    * private[sql]; it lets a caller rewrite the parsed plan before
    * analysis and still report every phase on one tracker. */
  def ofRows(session: SparkSession)(plan: QueryPlanningTracker => LogicalPlan): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    s.withActive {
      val tracker = new QueryPlanningTracker
      classic.Dataset.ofRows(s, plan(tracker), tracker)
    }
  }
}
