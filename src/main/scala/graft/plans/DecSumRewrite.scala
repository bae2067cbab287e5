package graft.plans

import org.apache.spark.sql.catalyst.expressions.{EvalMode, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DecimalType
import graft.functions.DecSumExact

/** Every grouped decimal SUM over a long-backed input wider than
  * decimal(8,s) runs on [[DecSumExact]]'s long accumulator instead of
  * Spark's `Sum`, whose buffer at precision p+10 > 18 is a boxed
  * BigDecimal add per row. The rule is the one place that choice is
  * made, so `spark.sql`, ChSql, ChDdl and DataFrame `sum` all get it.
  *
  * Untouched:
  *  - precision ≤ 8: Spark's own DecimalAggregates already sums the
  *    unscaled long, since p+10 ≤ 18;
  *  - precision > 18: the input itself is not long-backed;
  *  - TRY mode (`try_sum`): its overflow contract is Sum's own;
  *  - window aggregates: only `Aggregate` operators are rewritten.
  *
  * Results and the result type decimal(p+10, s) are Sum's, with one
  * difference: a partial sum that overflows decimal(p+10) and then
  * cancels back into range is exact here, where Sum gives NULL (or an
  * ANSI error). Reaching it takes on the order of 10^10 rows.
  *
  * Injected as a pre-CBO rule (GraftExtensions): it runs once, after
  * the operator-optimization batches where ProjectionRewrite matches
  * `Sum`, and before DecimalAggregates and the distinct-aggregate
  * rewrite, which handle any aggregate function.
  */
case object DecSumRewrite extends Rule[LogicalPlan] {

  private def longBacked(s: Sum): Boolean = s.child.dataType match {
    case d: DecimalType => d.precision > 8 && d.precision <= 18
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case a: Aggregate =>
      val rewritten = a.aggregateExpressions.map(_.transformUp {
        case ae @ AggregateExpression(s: Sum, _, _, _, _)
            if longBacked(s) && s.evalContext.evalMode != EvalMode.TRY =>
          ae.copy(aggregateFunction = DecSumExact(s.child))
      }.asInstanceOf[NamedExpression])
      if (rewritten == a.aggregateExpressions) a
      else a.copy(aggregateExpressions = rewritten)
  }
}
