package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** histogram(nbins)(x) — ClickHouse's adaptive histogram (reference
  * name registry src/Parsers/ASTFunction.h; public CH semantics):
  * returns nbins (lower, upper, height) triples whose bin boundaries
  * ADAPT to the data (a streaming 1-D agglomerative clustering), not
  * fixed-width buckets.
  *
  * State is a capped centroid list — (Σx, weight, lo, hi) per
  * centroid, at most 16×nbins entries ([[Centroids]]); on overflow the
  * two centroids with the closest means merge (CH's own compaction
  * rule). update() inserts single points map-side, merge()
  * concatenates + compacts, eval() compacts to exactly nbins and
  * emits the triples sorted by lower bound. Like CH, the result depends on arrival order across
  * partitions (the docs call the error "dependent on the order of
  * data flowing into the block"), so the contract is structural —
  * HistogramSpec pins: bin count, total height = row count, coverage
  * of [min, max], sorted non-overlapping ranges, and exactness when
  * distinct values ≤ nbins. */
case class HistogramAgg(
    child: Expression,
    nbins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedAgg[Centroids] {

  require(nbins >= 1, s"histogram needs >= 1 bins, got $nbins")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", DoubleType, nullable = false),
    StructField("_2", DoubleType, nullable = false),
    StructField("_3", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "histogram"

  override def checkInputDataTypes(): TypeCheckResult = expect(
    child.dataType.isInstanceOf[NumericType] ->
      s"histogram expects a numeric column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Centroids = new Centroids(nbins * 16)

  override protected def add(buf: Centroids, input: InternalRow): Unit = {
    val v = child.eval(input)
    if (v != null) buf.insert(BufferedAgg.toDouble(v))
  }

  override def eval(buf: Centroids): Any = {
    val bins = Centroids.compact(buf.cs, nbins).sortBy(c => c(0) / c(1))
    if (bins.isEmpty) return new GenericArrayData(Array.empty[Any])
    // CH derives bin bounds from NEIGHBORING means: lower_0 = global
    // min, bound between bins = midpoint of adjacent means, upper_last
    // = global max — adjacent and non-overlapping by construction
    val means = bins.map(c => c(0) / c(1))
    val gmin = bins.map(_(2)).min
    val gmax = bins.map(_(3)).max
    val bounds = gmin +: means.sliding(2).collect {
      case mutable.ArrayBuffer(a, b) => (a + b) / 2.0
    }.toSeq :+ gmax
    new GenericArrayData(bins.indices.map { i =>
      InternalRow(bounds(i), bounds(i + 1), bins(i)(1))
    }.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(n: Int): HistogramAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HistogramAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramAgg =
    copy(child = newChildren(0))
}

/** At most `cap` centroids, each Array(sumX, weight, lo, hi). */
final class Centroids(cap: Int) extends AggBuffer[Centroids] {
  var cs = mutable.ArrayBuffer.empty[Array[Double]]

  def insert(x: Double): Unit = {
    cs += Array(x, 1.0, x, x)
    if (cs.length > cap) cs = Centroids.compact(cs, cap / 2)
  }

  def mergeWith(o: Centroids): Unit = {
    cs ++= o.cs
    if (cs.length > cap) cs = Centroids.compact(cs, cap)
  }

  def byteSize: Int = 4 + 32 * cs.length

  def write(out: ByteBuffer): Unit = {
    out.putInt(cs.length)
    cs.foreach(_.foreach(out.putDouble))
  }

  def read(in: ByteBuffer): Unit = {
    val n = in.getInt()
    cs = mutable.ArrayBuffer.fill(n)(Array.fill(4)(in.getDouble()))
  }
}

object Centroids {
  /** Merge closest-mean adjacent centroids until `target` remain.
    * Sorts once; each round folds ONE closest pair — O(k²) on a
    * capped k, never on the data. */
  def compact(buf: mutable.ArrayBuffer[Array[Double]],
      target: Int): mutable.ArrayBuffer[Array[Double]] = {
    val sorted = buf.sortBy(c => c(0) / c(1))
    def fold(i: Int): Unit = { // sorted(i) absorbs sorted(i + 1)
      val a = sorted(i); val b = sorted(i + 1)
      sorted(i) = Array(a(0) + b(0), a(1) + b(1),
        math.min(a(2), b(2)), math.max(a(3), b(3)))
      sorted.remove(i + 1)
    }
    // always coalesce equal-mean centroids (duplicate values must
    // land in ONE bin even under the bin budget)
    var i = sorted.length - 2
    while (i >= 0) {
      if (i + 1 < sorted.length &&
          sorted(i)(0) / sorted(i)(1) == sorted(i + 1)(0) / sorted(i + 1)(1))
        fold(i)
      i -= 1
    }
    var n = sorted.length
    while (n > target) {
      var best = 0
      var bestGap = Double.PositiveInfinity
      var i = 0
      while (i < n - 1) {
        val gap = sorted(i + 1)(0) / sorted(i + 1)(1) -
          sorted(i)(0) / sorted(i)(1)
        if (gap < bestGap) { bestGap = gap; best = i }
        i += 1
      }
      fold(best)
      n -= 1
    }
    sorted
  }
}
