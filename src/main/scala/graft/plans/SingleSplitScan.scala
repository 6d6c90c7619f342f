package graft.plans

import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Optimizer rule: a read of a small engine table runs as ONE
  * partition, so the operators above it need no exchange.
  *
  * Spark reports `UnknownPartitioning(0)` for every file or DSv2 scan,
  * even one that reads a single split, so `EnsureRequirements` plans a
  * range-partition sample and a shuffle-map stage under every ORDER BY
  * and GROUP BY: three or four Spark jobs for a read of a few hundred
  * rows, where the reference runs the whole plan in-process
  * (DataFusion). This rule wraps the scan operation (the leaf plus its
  * Project/Filter chain, so parquet data filters and KV range pushdown
  * still reach the scan) in `Repartition(1, shuffle = false)`. That
  * plans as `CoalesceExec(1)`, whose `SinglePartition` satisfies every
  * ordered and clustered distribution: the sort, the aggregate and the
  * join's stream side then run in the scan's one task, in one job.
  *
  * It fires when the leaf is a table the engine registered (the
  * [[EngineTableOption]] option, set by `GraftEngine.registerTable`)
  * and the leaf's `stats.sizeInBytes` is at most
  * `spark.sql.files.openCostInBytes`, Spark's own "bytes worth one
  * file open": at that size the file planner never splits a file.
  * COW tables size themselves from their file index; KV scans report
  * the rows of their clipped range times the segment's bytes per row
  * (`KvScan.estimateStatistics`). Above the bound, and in sessions with
  * no engine, plans are unchanged, and so are commands (writes, DML).
  *
  * Correctness does not depend on the bound: `coalesce(1)` is correct
  * for any number of input partitions, and for zero it yields one
  * empty partition, so a global aggregate still returns its row. The
  * bound decides only speed. The trade-off: work that is super-linear
  * in a small input, such as a cross join of two small tables, now
  * runs in one task.
  *
  * Installed by `GraftEngine` through
  * `spark.experimental.extraOptimizations`, whose batch runs after V2
  * pushdown, so the KV scan it sizes is already range-clipped.
  */
object SingleSplitScan extends Rule[LogicalPlan] {

  /** Option the engine sets on every table it registers. */
  val EngineTableOption = "graft.engine.table"

  private def engineTable(leaf: LogicalPlan): Boolean = leaf match {
    case l: LogicalRelation =>
      l.catalogTable.exists(_.storage.properties.contains(EngineTableOption))
    case s: DataSourceV2ScanRelation =>
      s.relation.table.properties().containsKey(EngineTableOption)
    case _ => false
  }

  /** The leaf under a Project/Filter chain, if `p` is such a chain. */
  private def scanLeaf(p: LogicalPlan): Option[LogicalPlan] = p match {
    case Project(_, child) => scanLeaf(child)
    case Filter(_, child) => scanLeaf(child)
    case leaf: LeafNode => Some(leaf)
    case _ => None
  }

  private def small(leaf: LogicalPlan): Boolean =
    engineTable(leaf) && leaf.stats.sizeInBytes <= conf.filesOpenCostInBytes

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // writes and DML keep their plans; a DML target is no read
    case c: Command => c
    // already one partition (an earlier pass of this fixed-point batch)
    case r @ Repartition(1, false, child) if scanLeaf(child).isDefined => r
    case p if scanLeaf(p).exists(small) => Repartition(1, shuffle = false, p)
    case p => p.mapChildren(apply)
  }
}

/** Optimizer rule: a SELECT of constants (`SELECT 1`,
  * `select @@version_comment limit 1`, the probes connectors send on
  * connect) becomes a `LocalRelation`, which plans as a
  * `LocalTableScanExec` and answers with no Spark job. It folds a
  * deterministic, foldable projection over `OneRowRelation` only when
  * evaluating it succeeds: an expression that throws (`select 1/0`)
  * stays in the plan and fails at execution as before.
  */
object FoldConstantSelect extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, _: OneRowRelation)
        if list.map(value).forall(e => e.deterministic && e.foldable) =>
      Try(InternalRow.fromSeq(list.map(value(_).eval()))).toOption
        .map(row => LocalRelation(p.output, Seq(row)))
        .getOrElse(p)
  }

  /** An alias is never foldable itself; its child is what evaluates. */
  private def value(e: NamedExpression): Expression = e match {
    case Alias(child, _) => child
    case other => other
  }
}
