package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled kernel for the maxIntersections[Position] boundary sweep
  * (StatFns' sweep; reference:
  * AggregateFunctionMaxIntersections.h) — one JVM loop over the
  * sorted (point, ±1) boundary array instead of the interpreted
  * ArrayAggregate fold that allocated one accumulator struct per
  * boundary (2 rows per interval, twice — the two sweep copies'
  * fresh lambda ids defeated CSE). Found by the r15 sf1 scale probe:
  * c31 was the one key scaling super-linearly (21.9x wall at 10x
  * data, dev/scale_probe_r15.txt) — allocation pressure, not
  * algorithm; the kernel is the a18/t21 native-kernel policy applied
  * here. Semantics are EXACTLY the fold's: running count cur += d in
  * array order, best = max, at = the point where best was FIRST
  * exceeded (strict >, so ties keep the earliest point).
  *
  * Input: array<struct<p: double, d: long>> sorted ascending on
  * (p, d) — the -1 end-boundary sorts before the +1 start at equal
  * points, which realizes half-open [s, e). Output:
  * struct<best: long, at: double> (at is null when the array is
  * empty — CH returns 0/NaN-ish defaults, the callers' groups are
  * never empty under GROUP BY).
  */
case class SweepMaxExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 2 &&
        s.fields(0).dataType == DoubleType &&
        s.fields(1).dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"max_intersections_sweep expects array<struct<p: double, d: long>>, " +
        s"got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("best", LongType, nullable = false),
    StructField("at", DoubleType, nullable = true)))
  override def prettyName: String = "max_intersections_sweep"

  override protected def nullSafeEval(input: Any): Any =
    SweepMaxImpl.sweep(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SweepMaxImpl.sweep($c);")

  override protected def withNewChildInternal(newChild: Expression): SweepMaxExpr =
    copy(child = newChild)
}

object SweepMaxImpl {
  def sweep(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var cur = 0L
    var best = 0L
    var at: Any = null
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      cur += e.getLong(1)
      if (cur > best) { best = cur; at = e.getDouble(0) }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best, at))
  }
}
