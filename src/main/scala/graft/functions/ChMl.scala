package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** ClickHouse's in-engine ML aggregates (reference:
  * src/Parsers/ASTFunction.h name registry; public CH semantics):
  * stochasticLinearRegression / stochasticLogisticRegression fit a
  * linear model inside a GROUP BY; evalMLMethod applies the fitted
  * state to feature columns.
  *
  * Realization — deterministic closed form, NOT SGD. ClickHouse's own
  * SGD result depends on the order blocks arrive in (states are
  * weight-averaged as blocks merge), which on a distributed engine is
  * non-deterministic run to run — unacceptable for an oracle-checked
  * pipeline. Both fits here are pure compositions of partial-agg sums
  * (map-side combining, one shuffle, scale-free) followed by a scalar
  * solve of the d×d normal equations (d = #features + 1 ≤ model
  * scale):
  *
  *  - linear: ridge  w = (XᵀX + l2·I)⁻¹ Xᵀy  — the exact optimum of
  *    the objective CH's SGD chases (l2 on the weight diagonal only,
  *    never the bias, matching CH's regularization);
  *  - logistic: one Newton-Raphson step from w = 0. At w = 0 every
  *    σ(wᵀx) = ½, so the Hessian is exactly XᵀX/4 + l2·I and the
  *    gradient Xᵀ(y − ½): w = (XᵀX/4 + l2·I)⁻¹ Xᵀ(y − ½) — the same
  *    sums as the linear fit, deterministic, one data pass.
  *
  * The (learning rate, l2, batch size, method) parameter tuple is
  * accepted as in CH; l2 (default 0.1, CH's default) shapes the
  * solution, the other three tune an SGD this realization doesn't
  * need and are ignored (documented deviation).
  *
  * The returned "state" is a CH-tuple-shaped struct
  * (_1 = 'linear'|'logistic', _2 = [w₁…wₙ, bias]) directly consumable
  * by evalMLMethod — no -State combinator needed (CH requires one
  * because its native state is opaque; an array of weights is not).
  *
  * Solve: d ≤ 3 uses explicit Cramer determinants — spelled token for
  * token the same way in the c43 DuckDB oracle, so the cross-engine
  * compare is exact; d > 3 uses a fixed-pivot Gauss-Jordan fold over
  * the flattened augmented matrix (no pivot search: the normal-
  * equation matrix is symmetric positive definite for l2 > 0, so the
  * natural pivot order is numerically safe) — ChMlSpec pins it
  * against the Cramer path and a hand solve.
  */
private[graft] object ChMl {
  import FnBuilders.{Ops, builtin, fld, wrapAgg}

  private def sumOf(e: Expression): Expression =
    wrapAgg(builtin("sum")(Seq(e)))

  /** CH parametric calls arrive params-first through the ChSql
    * rewrite: up to four LEADING foldable literals are the
    * (lr, l2, batch, method) tuple; everything after is
    * (target, features…). At least two trailing expressions always
    * stay data arguments, so a literal-valued target cannot be
    * swallowed as a parameter. */
  private def splitParams(
      es: Seq[Expression]): (Seq[Expression], Seq[Expression]) = {
    val lead = es.takeWhile(_.isInstanceOf[Literal]).size
    val nParams = math.min(math.min(lead, 4), math.max(0, es.size - 2))
    (es.take(nParams), es.drop(nParams))
  }

  /** Fit dispatch shared by both regressions. */
  def fit(logistic: Boolean, es: Seq[Expression]): Expression = {
    val name =
      if (logistic) "stochasticLogisticRegression"
      else "stochasticLinearRegression"
    val (params, rest) = splitParams(es)
    require(rest.size >= 2,
      s"$name([lr, l2, batch, method])(target, feat1, …) needs a " +
        "target and at least one feature column")
    val l2 = params.lift(1)
      .map(p => Cast(p, DoubleType))
      .getOrElse(Literal(0.1)) // CH's documented default l2
    val target = Cast(rest.head, DoubleType)
    val feats = rest.tail.map(e => Cast(e, DoubleType))
    val n = feats.size
    val d = n + 1
    val aug: Seq[Expression] = feats :+ Literal(1.0) // bias column
    val y = if (logistic) target - Literal(0.5) else target

    // Normal-equation entries as partial-agg sums. For logistic the
    // matrix is the w=0 Hessian XᵀX/4; l2 lands on the weight
    // diagonal only (CH never regularizes the bias).
    def a(i: Int, j: Int): Expression = {
      val s = sumOf(aug(i) * aug(j))
      val scaled = if (logistic) s * Literal(0.25) else s
      if (i == j && i < n) scaled + l2 else scaled
    }
    def b(i: Int): Expression = sumOf(aug(i) * y)

    val w: Seq[Expression] = d match {
      case 2 => cramer2(a, b)
      case 3 => cramer3(a, b)
      case _ => gaussJordan(d, a, b)
    }
    CreateNamedStruct(Seq(
      Literal("_1"), Literal(if (logistic) "logistic" else "linear"),
      Literal("_2"), CreateArray(w.map(e => Cast(e, DoubleType)))))
  }

  /** d = 2 (one feature + bias), explicit Cramer — oracle-mirrored. */
  private def cramer2(a: (Int, Int) => Expression,
      b: Int => Expression): Seq[Expression] = {
    val det = a(0, 0) * a(1, 1) - a(0, 1) * a(1, 0)
    Seq(
      (b(0) * a(1, 1) - a(0, 1) * b(1)) / det,
      (a(0, 0) * b(1) - b(0) * a(1, 0)) / det)
  }

  /** d = 3 (two features + bias), explicit Cramer — oracle-mirrored. */
  private def cramer3(a: (Int, Int) => Expression,
      b: Int => Expression): Seq[Expression] = {
    def det3(
        c0: Int => Expression, c1: Int => Expression,
        c2: Int => Expression): Expression =
      c0(0) * (c1(1) * c2(2) - c2(1) * c1(2)) -
        c1(0) * (c0(1) * c2(2) - c2(1) * c0(2)) +
        c2(0) * (c0(1) * c1(2) - c1(1) * c0(2))
    val det = det3(a(_, 0), a(_, 1), a(_, 2))
    Seq(
      det3(b, a(_, 1), a(_, 2)) / det,
      det3(a(_, 0), b, a(_, 2)) / det,
      det3(a(_, 0), a(_, 1), b) / det)
  }

  /** d > 3: fixed-pivot Gauss-Jordan as a scalar fold over the
    * flattened d×(d+1) augmented matrix (runs AFTER aggregation, on
    * d² model-scale numbers — not a data-scan cost). */
  private def gaussJordan(d: Int, a: (Int, Int) => Expression,
      b: Int => Expression): Seq[Expression] = {
    val cols = d + 1
    val m0 = CreateArray(
      (0 until d).flatMap(r => (0 until d).map(c => a(r, c)) :+ b(r))
        .map(e => Cast(e, DoubleType)))
    val acc = UnresolvedNamedLambdaVariable(Seq("__ml_acc"))
    val p = UnresolvedNamedLambdaVariable(Seq("__ml_p"))
    val idx = UnresolvedNamedLambdaVariable(Seq("__ml_i"))
    def at(arr: Expression, i: Expression): Expression =
      builtin("element_at")(Seq(arr, Cast(i + Literal(1), IntegerType)))
    // row index = idx div cols (a direct IntegralDivide node —
    // registry builders like floor's assert resolved args at build
    // time, which an analyzer-invoked dialect builder can't promise)
    val rInt = Cast(IntegralDivide(
      Cast(idx, LongType), Literal(cols.toLong)), IntegerType)
    val c = Pmod(Cast(idx, IntegerType), Literal(cols))
    val piv = at(acc, Cast(p, IntegerType) * Literal(cols) + Cast(p, IntegerType))
    val pivRowC = at(acc, Cast(p, IntegerType) * Literal(cols) + c)
    val factor = at(acc, rInt * Literal(cols) + Cast(p, IntegerType)) / piv
    val step = builtin("transform")(Seq(
      builtin("sequence")(Seq(Literal(0), Literal(d * cols - 1))),
      LambdaFunction(
        If(EqualTo(rInt, Cast(p, IntegerType)),
          pivRowC / piv,
          at(acc, idx) - factor * pivRowC),
        Seq(idx))))
    val solved = builtin("aggregate")(Seq(
      builtin("sequence")(Seq(Literal(0), Literal(d - 1))),
      m0,
      LambdaFunction(step, Seq(acc, p))))
    (0 until d).map(r =>
      builtin("element_at")(Seq(solved, Literal(r * cols + cols))))
  }

  /** evalMLMethod(state, f1 … fn): wᵀf + bias, sigmoided when the
    * state came from the logistic fit. */
  def evalMLMethod(es: Seq[Expression]): Expression = {
    require(es.size >= 2,
      "evalMLMethod(state, feat1, …) needs a fitted state and features")
    val state = es.head
    val feats = es.tail.map(e => Cast(e, DoubleType))
    val w = fld(state, "_2")
    val kind = fld(state, "_1")
    val bias = builtin("element_at")(Seq(w, Literal(feats.size + 1)))
    val dot = feats.zipWithIndex.foldLeft(bias) { case (acc, (f, i)) =>
      acc + builtin("element_at")(Seq(w, Literal(i + 1))) * f
    }
    If(EqualTo(kind, Literal("logistic")),
      Literal(1.0) / (Literal(1.0) +
        builtin("exp")(Seq(UnaryMinus(dot)))),
      dot)
  }
}
