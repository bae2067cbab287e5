package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact decimal SUM with a two-tier accumulator (r19 verdict #9):
  * the hot tier is a plain LONG of unscaled units — Spark's own Sum
  * over an input wider than decimal(8,s) accumulates at precision
  * p+10 > 18, i.e. a boxed BigDecimal add per row (the q01/y01 cost:
  * 0.83 s of q01's ~1.0 s, OPTIMIZATION_r20.md §9) — and a cold
  * decimal(38,s) tier absorbs the overflow
  * ESCAPE, so the exactness contract survives any row count:
  *
  *  - update: add the input's unscaled long into `accL`; iff the add
  *    WOULD overflow (predicted with guarded compares — no wrapping
  *    arithmetic is ever executed, so the expressions are ANSI-safe),
  *    flush `accL` and the input into the decimal tier instead;
  *  - merge: same pattern on the two longs, bigs add exactly;
  *  - evaluate: big + accL, cast to Sum's own result type
  *    decimal(p+10, s) — the invariant `total = big + accL` holds at
  *    every step, every add is exact integer arithmetic, so the
  *    result is BIT-identical to Sum's at any partitioning and any
  *    summation order.
  *
  * The overflow headroom per PARTIAL is 2^63 / max|unscaled| — for
  * money-scale decimal(12,2) that is ≳ 9·10^6 rows per partition in
  * the adversarial case and ~10^15 typically; the escape makes the
  * worst case correct rather than fast. Input must be long-backed
  * (precision ≤ 18), which every dec()/rate() column here is.
  */
case class DecSumExact(child: Expression)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"decimal_sum_exact expects a long-backed decimal (precision <= " +
        s"${Decimal.MAX_LONG_DIGITS}), got ${other.simpleString}")
  }

  private lazy val inDec = child.dataType.asInstanceOf[DecimalType]
  private lazy val scale = inDec.scale
  // Sum's result type for this input — plans and oracle casts see the
  // exact same schema as sum(child)
  override lazy val dataType: DataType = DecimalType(
    math.min(inDec.precision + 10, DecimalType.MAX_PRECISION), scale)
  private lazy val bigType = DecimalType(DecimalType.MAX_PRECISION, scale)

  override def nullable: Boolean = true
  override def prettyName: String = "decimal_sum_exact"

  private lazy val accL = AttributeReference("accL", LongType, nullable = false)()
  private lazy val big = AttributeReference("big", bigType, nullable = true)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(accL, big, seen)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(0L), Literal.create(null, bigType), Literal(false))

  private def decOf(l: Expression): Expression =
    MakeDecimal(l, DecimalType.MAX_PRECISION, scale)
  private def zeroBig: Expression =
    Literal.create(Decimal(0, DecimalType.MAX_PRECISION, scale), bigType)
  private def nullBig: Expression = Literal.create(null, bigType)
  private def asBig(e: Expression): Expression = Cast(e, bigType)

  /** acc + x would overflow a long. Both compares are guarded by the
    * sign test on their short-circuiting And, so the subtractions
    * never overflow themselves (ANSI-safe). */
  private def wouldOverflow(acc: Expression, x: Expression): Expression = Or(
    And(GreaterThan(x, Literal(0L)),
      GreaterThan(acc, Subtract(Literal(Long.MaxValue), x))),
    And(LessThan(x, Literal(0L)),
      LessThan(acc, Subtract(Literal(Long.MinValue), x))))

  override lazy val updateExpressions: Seq[Expression] = {
    val xu = UnscaledValue(child)
    val ovf = wouldOverflow(accL, xu)
    Seq(
      If(IsNull(xu), accL, If(ovf, Literal(0L), Add(accL, xu))),
      If(IsNull(xu), big,
        If(ovf,
          asBig(Add(Add(Coalesce(Seq(big, zeroBig)), decOf(accL)), decOf(xu))),
          big)),
      Or(seen, IsNotNull(xu)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val ovf = wouldOverflow(accL.left, accL.right)
    val bigLR = If(And(IsNull(big.left), IsNull(big.right)), nullBig,
      asBig(Add(Coalesce(Seq(big.left, zeroBig)),
        Coalesce(Seq(big.right, zeroBig)))))
    Seq(
      If(ovf, Literal(0L), Add(accL.left, accL.right)),
      If(ovf,
        asBig(Add(Add(Coalesce(Seq(bigLR, zeroBig)), decOf(accL.left)),
          decOf(accL.right))),
        bigLR),
      Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(Not(seen), Literal.create(null, dataType),
      If(IsNull(big), Cast(decOf(accL), dataType),
        Cast(Add(big, decOf(accL)), dataType)))

  override protected def withNewChildInternal(newChild: Expression): DecSumExact =
    copy(child = newChild)
}
