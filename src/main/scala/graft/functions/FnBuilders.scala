package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The building blocks every ClickHouse function family composes its
  * expressions from (the family modules listed in [[GraftFunctions]]).
  * Each alias is a [[Builder]]: the argument expressions of one call
  * → the Catalyst expression the name denotes. Builders delegate to
  * Spark's own builtin builders or build Catalyst nodes directly —
  * codegen'd, never a UDF.
  */
private[graft] object FnBuilders {

  type Builder = Seq[Expression] => Expression

  /** Spark's own builder for a builtin function name. */
  def builtin(name: String): Builder = {
    val b = FunctionRegistry.builtin
      .lookupFunctionBuilder(FunctionIdentifier(name))
      .getOrElse(throw new IllegalStateException(s"no builtin '$name'"))
    exprs => b(exprs)
  }

  /** A name that exists only to say why it cannot run here. */
  def refuse(message: String): Builder = { _ =>
    throw new UnsupportedOperationException(message)
  }

  def d(e: Expression): Expression = Cast(e, DoubleType)
  def lit(x: Double): Expression = Literal(x)

  implicit final class Ops(private val e: Expression) {
    def +(o: Expression): Expression = Add(e, o)
    def -(o: Expression): Expression = Subtract(e, o)
    def *(o: Expression): Expression = Multiply(e, o)
    def /(o: Expression): Expression = Divide(e, o)
  }

  def sqrt(e: Expression): Expression = builtin("sqrt")(Seq(e))
  def exp(e: Expression): Expression = builtin("exp")(Seq(e))
  def abs(e: Expression): Expression = builtin("abs")(Seq(e))
  def ln(e: Expression): Expression = builtin("ln")(Seq(e))

  /** Struct field (or map key) access on a not-yet-resolved value. */
  def fld(e: Expression, f: String): Expression =
    UnresolvedExtractValue(e, Literal(f))

  /** CH tuple: a struct whose fields are named `_1`, `_2`, … — the
    * DDL Tuple mapping, so positional tupleElement works on both. */
  def tupleOf(vals: Seq[Expression]): Expression =
    CreateNamedStruct(vals.zipWithIndex.flatMap { case (v, i) =>
      Seq(Literal(s"_${i + 1}"), v)
    })

  /** Explicitly wrap an AggregateFunction that sits below the root of
    * the returned tree, where the analyzer's root-level auto-wrap does
    * not reach. */
  def wrapAgg(e: Expression, filter: Option[Expression] = None): Expression = e match {
    case af: aggregate.AggregateFunction =>
      af.toAggregateExpression(isDistinct = false, filter = filter)
    case other => other
  }

  /** A lambda variable under a name no user column can collide with. */
  def fresh(n: String): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq(
      UnresolvedNamedLambdaVariable.freshVarName(n)))

  /** One-argument lambda over a fixed variable name. The name shows in
    * unaliased output column names, so each caller keeps its own. */
  def lam1(name: String)(body: Expression => Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq(name))
    LambdaFunction(body(x), Seq(x))
  }

  def lam2(a: String, b: String)(
      body: (Expression, Expression) => Expression): Expression = {
    val va = UnresolvedNamedLambdaVariable(Seq(a))
    val vb = UnresolvedNamedLambdaVariable(Seq(b))
    LambdaFunction(body(va, vb), Seq(va, vb))
  }

  def elemAt(a: Expression, i: Expression): Expression =
    builtin("element_at")(Seq(a, i))

  /** Bind a subexpression once as a lambda variable. Interpreted
    * projections (every higher-order-function plan) do no common-
    * subexpression elimination, so an O(n) fold/sort subtree spliced
    * at k use sites runs k times per row — bind(x)(body) evaluates x
    * once via transform(array(x), v -> body(v))[1]. */
  def bind(e: Expression)(body: Expression => Expression): Expression = {
    val v = fresh("bound")
    elemAt(builtin("transform")(
      Seq(CreateArray(Seq(e)), LambdaFunction(body(v), Seq(v)))), Literal(1))
  }

  /** A codegen'd static call into a compiled kernel object
    * (null-propagating; never a UDF). */
  def si(ret: DataType, method: String, ins: Seq[DataType],
      target: Class[_] = ChStrHelpers.getClass,
      deterministic: Boolean = true): Builder = { es =>
    StaticInvoke(target, ret, method, es, inputTypes = ins,
      isDeterministic = deterministic)
  }

  def strLitOpt(e: Expression): Option[String] = e match {
    case Literal(s: UTF8String, StringType) => Some(s.toString)
    case _ => None
  }

  def strLit(e: Expression, fn: String, what: String): String =
    strLitOpt(e).getOrElse(throw new IllegalArgumentException(
      s"$fn needs a literal $what, got $e"))

  def intLit(e: Expression, fn: String, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case Literal(i: Long, LongType) => i.toInt
    case other => throw new IllegalArgumentException(
      s"$fn needs a literal $what, got $other")
  }

  /** A&S 7.1.26: erfc(x) for x ≥ 0, |ε| < 1.5e-7. Horner form — the
    * oracle SQL spells the identical Horner chain. */
  def erfc(x: Expression): Expression = {
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) + u * lit(1.061405429)))))
    poly * exp(lit(0.0) - x * x)
  }

  /** Winitzki's erfinv approximation (|ε| < 2e-3) — the z-quantile of
    * the confidence bounds and sample-size planners; the oracle spells
    * the same polynomial. */
  def erfinv(x: Expression): Expression = {
    val a = lit(0.147)
    val l = ln(lit(1.0) - x * x)
    val t = lit(2.0 / (math.Pi * 0.147)) + l / lit(2.0)
    sqrt(sqrt(t * t - l / a) - t)
  }
}
