package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, CurrentRow, Literal, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule (injectOptimizerRule): a GLOBAL `row_number()` window —
  * `row_number() OVER (ORDER BY …)` with no PARTITION BY — physically
  * plans as a SinglePartition exchange: every row gathers into one task,
  * the anti-scale shape this repo's prefix-sum kernels exist to avoid.
  * This rule rewrites exactly that pattern into [[RunningSumPlan]] (rank
  * = running count of 1 over the same total order), so ANY caller —
  * including plain `spark.sql` with a window the author never profiled —
  * rides the native two-pass exec: range exchange, boundary-totals job,
  * offset pass, no gather.
  *
  * Deliberately narrow preconditions (each bullet is a correctness
  * guard, not a TODO):
  *  - the Window node computes EXACTLY ONE expression, a `row_number()`
  *    with the default (rows, unboundedPreceding, currentRow) frame —
  *    other functions keep Spark's window machinery;
  *  - partitionSpec is empty — partitioned windows parallelize already,
  *    and whether a grouped rewrite wins depends on group sizes the
  *    optimizer cannot see (the operator library exposes
  *    [[graft.operators.ScaleOps.groupedRank]] for callers who know);
  *  - the order is whatever the query declared: with ties, distributed
  *    row_number is nondeterministic in ANY plan, so the rewrite
  *    preserves the (already weak) contract.
  *
  * The rewrite preserves the output attribute exactly (same exprId, same
  * IntegerType via a cast from the exec's long) — downstream references
  * resolve unchanged. Asserted in ExtensionRuleSpec: SQL global
  * row_number plans RunningSum with no Window and no SinglePartition,
  * values identical; partitioned/other-function windows are untouched.
  */
object GlobalRankRewrite extends Rule[LogicalPlan] {
  private def isDefaultRowFrame(spec: WindowSpecDefinition): Boolean =
    spec.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) =>
        true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Window(Seq(a @ Alias(
          WindowExpression(RowNumber(), spec: WindowSpecDefinition), name)),
        partitionSpec, orderSpec, child, _)
        if partitionSpec.isEmpty && orderSpec.nonEmpty &&
          spec.partitionSpec.isEmpty && isDefaultRowFrame(spec) =>
      val cum = AttributeReference("__global_rank", LongType,
        nullable = false)()
      val rs = RunningSumPlan(Nil, orderSpec, Seq(Literal(1L)), Seq("sum"),
        Seq(cum), child)
      Project(child.output :+ Alias(Cast(cum, IntegerType), name)(
        exprId = a.exprId, qualifier = a.qualifier,
        explicitMetadata = Some(a.metadata)), rs)
  }
}
