package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled kernel for the Mann-Whitney rank fold
  * (StatFns' mannWhitneyUTest; reference
  * AggregateFunctionMannWhitney.h semantics): one JVM loop over the
  * group's sorted (value, cohort) pairs instead of the interpreted
  * ArrayAggregate fold that allocated a 6-field accumulator struct
  * per element — the SweepMaxExpr treatment (r15's c31 fix) applied
  * to the U test. Semantics are EXACTLY the fold's: runs of equal
  * values flush as ones × (pos + (run+1)/2) into the group-0 rank sum
  * r1 (average-rank ties) and run³−run into the tie-correction term,
  * all in the same double arithmetic order, so the statistic is
  * bit-identical (ChDialectSpec pins kernel ≡ composed fold).
  *
  * Input: array<struct<v: double, o: long>> sorted ascending on
  * (v, o). Output: struct<r1: double, ties: double>.
  */
case class MwFoldExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 2 &&
        s.fields(0).dataType == DoubleType &&
        s.fields(1).dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mw_rank_fold expects array<struct<v: double, o: long>>, " +
        s"got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("r1", DoubleType, nullable = false),
    StructField("ties", DoubleType, nullable = false)))
  override def prettyName: String = "mw_rank_fold"

  override protected def nullSafeEval(input: Any): Any =
    MwFoldImpl.fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MwFoldImpl.fold($c);")

  override protected def withNewChildInternal(newChild: Expression): MwFoldExpr =
    copy(child = newChild)
}

object MwFoldImpl {
  def fold(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var pos = 0.0; var run = 0.0; var ones = 0.0; var lastV = 0.0
    var r1 = 0.0; var ties = 0.0
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      val v = e.getDouble(0)
      val o = e.getLong(1).toDouble
      // run-extension equality must match Catalyst EqualTo on doubles
      // (the composed fold's semantics): NaN = NaN is TRUE there, and
      // sort_array places NaNs adjacent — Java `==` would make each
      // NaN its own run and shift r1/ties
      val sameV = v == lastV ||
        (java.lang.Double.isNaN(v) && java.lang.Double.isNaN(lastV))
      if (run > 0.0 && sameV) { // extend the open run
        run += 1.0; ones += o
      } else { // flush, then restart at this value
        r1 += ones * (pos + (run + 1.0) / 2.0)
        ties += run * run * run - run
        pos += run
        run = 1.0; ones = o; lastV = v
      }
      i += 1
    }
    r1 += ones * (pos + (run + 1.0) / 2.0) // final flush (run 0 adds 0)
    ties += run * run * run - run
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](r1, ties))
  }
}
