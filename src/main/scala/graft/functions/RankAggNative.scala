package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** rankCorr(x, y) — Spearman's ρ with average-rank ties (reference
  * name registry src/Parsers/ASTFunction.h; public CH semantics).
  *
  * A rank statistic needs the group's sample: the buffer holds the
  * (x, y) pairs ([[Pairs]]) — exactly the state CH's own
  * implementation keeps — and eval() ranks each margin once (sort +
  * linear tie-run pass, O(n log n)) before the closed-form Pearson
  * over rank pairs. A
  * Catalyst higher-order-function spelling was rejected: `aggregate`
  * lambdas append to accumulator arrays by copy, which makes
  * per-element rank assignment O(n²) per group — this kernel is the
  * scale-correct realization. */
case class RankCorrAgg(
    x: Expression,
    y: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedAgg[Pairs] {

  override def children: Seq[Expression] = Seq(x, y)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rankcorr"

  override def checkInputDataTypes(): TypeCheckResult = expect(
    children.forall(_.dataType.isInstanceOf[NumericType]) ->
      "rankCorr expects two numeric columns")

  override def createAggregationBuffer(): Pairs = new Pairs

  override protected def add(buf: Pairs, input: InternalRow): Unit = {
    val xv = x.eval(input)
    val yv = y.eval(input)
    if (xv != null && yv != null)
      buf.add(BufferedAgg.toDouble(xv), BufferedAgg.toDouble(yv))
  }

  /** Average ranks of `vs` (1-based positions, tie runs share the
    * mean of their positions). */
  private def ranksOf(vs: Array[Double]): Array[Double] = {
    val n = vs.length
    val idx = Array.range(0, n).sortBy(vs(_))
    val r = new Array[Double](n)
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n && vs(idx(j + 1)) == vs(idx(i))) j += 1
      val avg = (i + j + 2) / 2.0 // mean of 1-based positions i+1 … j+1
      var k = i
      while (k <= j) { r(idx(k)) = avg; k += 1 }
      i = j + 1
    }
    r
  }

  override def eval(buf: Pairs): Any = {
    val n = buf.n
    if (n < 2) return null
    val rx = ranksOf(java.util.Arrays.copyOf(buf.xs, n))
    val ry = ranksOf(java.util.Arrays.copyOf(buf.ys, n))
    var sx = 0.0; var sy = 0.0; var sxx = 0.0; var syy = 0.0; var sxy = 0.0
    var i = 0
    while (i < n) {
      sx += rx(i); sy += ry(i)
      sxx += rx(i) * rx(i); syy += ry(i) * ry(i); sxy += rx(i) * ry(i)
      i += 1
    }
    val cov = sxy - sx * sy / n
    val vx = sxx - sx * sx / n
    val vy = syy - sy * sy / n
    if (vx <= 0.0 || vy <= 0.0) null else cov / math.sqrt(vx * vy)
  }

  override def withNewMutableAggBufferOffset(n: Int): RankCorrAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): RankCorrAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RankCorrAgg =
    copy(x = newChildren(0), y = newChildren(1))
}

/** (x, y) pairs in arrival order, on two growable double arrays. */
final class Pairs extends AggBuffer[Pairs] {
  var xs = new Array[Double](4)
  var ys = new Array[Double](4)
  var n = 0

  def add(x: Double, y: Double): Unit = {
    if (n == xs.length) {
      xs = java.util.Arrays.copyOf(xs, n * 2)
      ys = java.util.Arrays.copyOf(ys, n * 2)
    }
    xs(n) = x; ys(n) = y
    n += 1
  }

  def mergeWith(o: Pairs): Unit = {
    var i = 0
    while (i < o.n) { add(o.xs(i), o.ys(i)); i += 1 }
  }

  def byteSize: Int = 4 + 16 * n

  def write(out: ByteBuffer): Unit = {
    out.putInt(n)
    var i = 0
    while (i < n) { out.putDouble(xs(i)); out.putDouble(ys(i)); i += 1 }
  }

  def read(in: ByteBuffer): Unit = {
    val m = in.getInt()
    var i = 0
    while (i < m) { add(in.getDouble(), in.getDouble()); i += 1 }
  }
}
