package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._

/** exponentialTimeDecayed{Sum,Count,Max,Avg} as one mergeable
  * aggregate: each event (v, t) is decayed by exp(−Δt/x) to the
  * group's LATEST time T, giving
  *
  *   s = Σ v·exp((t−T)/x),  c = Σ exp((t−T)/x),  m = max v·exp((t−T)/x)
  *
  * The state is (T so far, s, c, m), always normalized to its own T.
  * An update or merge that brings a later time rescales the older side
  * by exp((T_old − T_new)/x), so every exp argument is ≤ 0 — stable at
  * epoch-scale t, where the closed form's exp(t/x) overflows. The
  * state is fixed-width, so the aggregate runs in codegen and
  * aggregates partially; its result does not depend on row order
  * beyond the last-ulp rounding of the adds.
  *
  * Rows with a NULL value or time are skipped, as ClickHouse skips
  * NULL arguments. A group with no counted row gives NULL in every
  * field. The result is a struct (s, c, m); the four names read their
  * field, avg as s / c, so sum, avg and max over the same arguments
  * share one buffer. `x` must be a constant.
  */
case class TimeDecayed(value: Expression, time: Expression, x: Expression)
  extends DeclarativeAggregate with TernaryLike[Expression] {

  override def first: Expression = value
  override def second: Expression = time
  override def third: Expression = x

  override def checkInputDataTypes(): TypeCheckResult =
    if (!x.foldable) TypeCheckResult.TypeCheckFailure(
      s"exponentialTimeDecayed: the decay constant must be constant, got ${x.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StructType(Seq(
    StructField("s", DoubleType), StructField("c", DoubleType),
    StructField("m", DoubleType)))
  override def nullable: Boolean = false
  override def prettyName: String = "exponential_time_decayed"

  private lazy val xc: Expression = Literal(FnBuilders.d(x).eval(), DoubleType)

  private lazy val t = AttributeReference("t", DoubleType, nullable = true)()
  private lazy val s = AttributeReference("s", DoubleType, nullable = false)()
  private lazy val c = AttributeReference("c", DoubleType, nullable = false)()
  private lazy val m = AttributeReference("m", DoubleType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(t, s, c, m)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(0.0), Literal(0.0), Literal(0.0))

  /** exp((older − newer)/x): the factor that carries a value at time
    * `older` to time `newer`. */
  private def decay(older: Expression, newer: Expression): Expression =
    Exp(Divide(Subtract(older, newer), xc))

  /** Combine state a = (ta, sa, ca, ma) with b = (tb, sb, cb, mb), both
    * non-empty: the side with the later time keeps its sums, the other
    * is rescaled to that time. Ties keep b's time, with factor 1. */
  private def combine(a: Seq[Expression], b: Seq[Expression]): Seq[Expression] = {
    val Seq(ta, sa, ca, ma) = a
    val Seq(tb, sb, cb, mb) = b
    val bLater = GreaterThanOrEqual(tb, ta)
    val da = decay(ta, tb)
    val db = decay(tb, ta)
    Seq(
      If(bLater, tb, ta),
      If(bLater, Add(Multiply(sa, da), sb), Add(sa, Multiply(sb, db))),
      If(bLater, Add(Multiply(ca, da), cb), Add(ca, Multiply(cb, db))),
      If(bLater, Greatest(Seq(Multiply(ma, da), mb)), Greatest(Seq(ma, Multiply(mb, db)))))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val (v, tv) = (FnBuilders.d(value), FnBuilders.d(time))
    val skip = Or(IsNull(v), IsNull(tv))
    // the row as a one-event state
    val row = Seq(tv, v, Literal(1.0), v)
    val step = combine(aggBufferAttributes, row)
    aggBufferAttributes.indices.map { i =>
      If(skip, aggBufferAttributes(i), If(IsNull(t), row(i), step(i)))
    }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val l = aggBufferAttributes.map(_.left)
    val r = aggBufferAttributes.map(_.right)
    val both = combine(l, r)
    l.indices.map { i =>
      If(IsNull(r.head), l(i), If(IsNull(l.head), r(i), both(i)))
    }
  }

  override lazy val evaluateExpression: Expression = {
    def orNull(e: Expression): Expression = If(IsNull(t), Literal(null, DoubleType), e)
    CreateNamedStruct(Seq(
      Literal("s"), orNull(s), Literal("c"), orNull(c), Literal("m"), orNull(m)))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TimeDecayed =
    copy(value = newFirst, time = newSecond, x = newThird)
}
