package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Final, Partial}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec

/** Runs a final `ObjectHashAggregateExec` and the partial directly below it
  * as ONE Complete-mode aggregate.
  *
  * The planner always splits an aggregate into a Partial/Final pair, even
  * when the child is already clustered on the grouping keys and no exchange
  * goes between the two. The tier cascade is that case four times over: one
  * exchange, then a chain of (hierarchy, bucket) aggregates in one reduce
  * stage (Rollup). There each partial builds a hash map, serializes every
  * object buffer (a `BlockAgg` point buffer, a `collect_set` set) into its
  * output row, and the final deserializes them into a second hash map. One
  * Complete aggregate updates a single buffer per group straight from the
  * input rows, as the planner's old no-partial path did.
  *
  * Fires only where the pair is exactly what `AggUtils` plans for one
  * non-distinct aggregate: neither node streaming, every function Partial
  * below and Final above with no distinct, the same plain-attribute grouping
  * keys on both sides, and the same functions once canonicalized. A pair
  * with an exchange between them keeps its map-side partial; `HashAggregate`
  * and `SortAggregate` pairs are left alone. Injected as a query-stage
  * preparation rule ([[graft.GraftExtensions]]), so it sees the plan after
  * adaptive execution has placed its exchanges, and again on every
  * re-optimization.
  */
object LocalCompleteAggregate extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case fin: ObjectHashAggregateExec => fin.child match {
      case part: ObjectHashAggregateExec if fuses(part, fin) =>
        fin.copy(
          groupingExpressions = part.groupingExpressions,
          aggregateExpressions = fin.aggregateExpressions.map(_.copy(mode = Complete)),
          initialInputBufferOffset = 0,
          child = part.child)
      case _ => fin
    }
  }

  private def fuses(part: ObjectHashAggregateExec, fin: ObjectHashAggregateExec): Boolean = {
    def fns(as: Seq[AggregateExpression]) =
      as.map(a => (a.aggregateFunction.canonicalized, a.filter.map(_.canonicalized)))
    !part.isStreaming && !fin.isStreaming &&
    part.aggregateExpressions.forall(a => a.mode == Partial && !a.isDistinct) &&
    fin.aggregateExpressions.forall(a => a.mode == Final && !a.isDistinct) &&
    part.groupingExpressions.forall(_.isInstanceOf[Attribute]) &&
    part.groupingExpressions.map(_.exprId) == fin.groupingExpressions.map(_.exprId) &&
    fin.requiredChildDistributionExpressions.contains(fin.groupingExpressions) &&
    fns(part.aggregateExpressions) == fns(fin.aggregateExpressions)
  }
}
