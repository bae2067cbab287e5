package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** CH's bare quantile/median/quantiles contract, realized faithfully:
  * a RESERVOIR of at most `cap` samples per group (the reference's
  * AggregateFunctionQuantile over ReservoirSampler, default 8192) —
  * hard-bounded state at any corpus size, O(1) per row.
  *
  *  - n ≤ cap: EXACT and deterministic — the INTERPOLATED statistic
  *    at index q·(n−1), linear between the two neighboring sorted
  *    values with weights (right−idx, idx−left): the reference's own
  *    ReservoirSampler::quantileInterpolated convention (median of
  *    {1,2,3,4} is 2.5). This equals DuckDB's quantile_cont up to
  *    final-combination rounding ulps, so oracles guard with
  *    round(…, 6). Only sf0.01 stays in this regime: there each c08
  *    `o_orderstatus` group holds about 5k rows. At sf0.1 each holds
  *    about 50k, far over the cap, so c08 is sampled there and its
  *    exact oracle does not hold (ROADMAP, known defects).
  *  - n > cap: Algorithm-R reservoir over a per-buffer xorshift PRNG
  *    (seeded deterministically, but sampling depends on arrival
  *    order — the reference's bare quantile is nondeterministic above
  *    the reservoir too). The answer is the interpolated statistic of
  *    the sample.
  *
  * With a determinator (`det`), this is quantileDeterministic(x,
  * determinator): the reference's determinator-keyed reservoir
  * contract — the SAMPLE is a pure function of the (value,
  * determinator) multiset, independent of arrival order, partitioning,
  * and merge schedule (ReservoirSamplerDeterministic.h's purpose).
  * Realized as a bottom-k sketch ([[DetSample]]): keep the `cap` rows
  * with the smallest (splitmix64(determinator), value) pairs — a
  * uniform sample when the determinator is well-distributed, EXACT
  * below the cap (all rows kept; the same interpolated statistic), and
  * trivially mergeable (union, re-take bottom-k), which is what makes
  * it layout-independent where Algorithm R is not.
  *
  * Why not approx_percentile: the GK sketch at an accuracy high
  * enough to stay exact at verification scale (50000) degrades to
  * O(n·S) compression churn — measured 23x slower than the exact
  * percentile on a 50k-value group (bench r14, c08 46 s). A reservoir
  * is what the reference actually runs, and it is append-speed. */
case class ReservoirQuantile(
    child: Expression,
    det: Option[Expression],
    levels: Seq[Double],
    returnArray: Boolean,
    cap: Int = 8192,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedAgg[Sample] {

  require(levels.nonEmpty && levels.forall(l => l >= 0.0 && l <= 1.0),
    s"quantile level(s) must be in [0, 1], got ${levels.mkString(", ")}")

  override def children: Seq[Expression] = child +: det.toSeq
  override def nullable: Boolean = true
  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType
  override def prettyName: String =
    if (det.isEmpty) "reservoir_quantile" else "deterministic_reservoir_quantile"

  // the dialect path always Casts the value to Double and the
  // determinator to Long, but direct API construction can pass anything
  override def checkInputDataTypes(): TypeCheckResult = expect(
    child.dataType.isInstanceOf[NumericType] ->
      s"$prettyName: value must be numeric, got ${child.dataType.simpleString}",
    det.forall(_.dataType == LongType) ->
      s"$prettyName: determinator must be BIGINT (cast it), got ${det.map(_.dataType.simpleString).orNull}")

  override def createAggregationBuffer(): Sample =
    if (det.isEmpty) new ReservoirBuf(cap) else new DetSample(cap)

  override protected def add(buf: Sample, input: InternalRow): Unit = {
    val v = child.eval(input)
    if (v != null) buf match {
      case r: ReservoirBuf => r.insert(BufferedAgg.toDouble(v))
      case d: DetSample =>
        val key = det.get.eval(input)
        if (key != null)
          d.insert(key.asInstanceOf[Long], BufferedAgg.toDouble(v))
    }
  }

  override def eval(buf: Sample): Any = {
    if (buf.count == 0L) return null
    val sorted = buf.sortedValues
    def at(q: Double): Double = {
      // index q·(n−1), linear between neighbors with weights
      // (right−idx, idx−left) — ReservoirSampler::quantileInterpolated
      val n = sorted.length
      val index = math.max(0.0, math.min((n - 1).toDouble, q * (n - 1)))
      val left = index.toInt
      val right = left + 1
      if (right >= n) sorted(n - 1)
      else sorted(left) * (right - index) + sorted(right) * (index - left)
    }
    if (returnArray) new GenericArrayData(levels.map(at).toArray)
    else at(levels.head)
  }

  override def withNewMutableAggBufferOffset(o: Int): ReservoirQuantile =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReservoirQuantile =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ReservoirQuantile =
    copy(child = newChildren.head, det = det.map(_ => newChildren(1)))
}

/** A quantile sample: how many values arrived and the kept ones. One
  * aggregate only ever merges samples of its own kind. */
trait Sample extends AggBuffer[Sample] {
  def count: Long
  def sortedValues: Array[Double]
}

/** Reservoir state: kept values (≤ cap) + total seen count. The PRNG
  * is xorshift64*, seeded from a fixed constant so a given arrival
  * order reproduces. */
final class ReservoirBuf(cap: Int) extends Sample {
  // start tiny: under a count(distinct) Expand plan the partial stage
  // keys on (group, distinct-col) — one buffer per PAIR, most holding
  // a single value
  private var values = new Array[Double](math.min(cap, 4))
  private var kept = 0
  var count = 0L
  private var rng = 0x9e3779b97f4a7c15L

  private def nextLong(): Long = {
    var x = rng
    x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
    rng = x
    x * 0x2545f4914f6cdd1dL
  }
  /** uniform in [0, bound) */
  private def nextBelow(bound: Long): Long = {
    val r = nextLong() >>> 1
    r % bound
  }

  def insert(v: Double): Unit = {
    count += 1
    if (kept < cap) {
      if (kept == values.length)
        values = java.util.Arrays.copyOf(values,
          math.min(cap, math.max(8, values.length * 2)))
      values(kept) = v
      kept += 1
    } else {
      // Algorithm R: replace slot j with prob cap/count
      val j = nextBelow(count)
      if (j < cap) values(j.toInt) = v
    }
  }

  def mergeWith(s: Sample): Unit = {
    val o = s.asInstanceOf[ReservoirBuf]
    if (o.count == 0L) return
    if (count == 0L) {
      values = java.util.Arrays.copyOf(o.values, o.values.length)
      kept = o.kept; count = o.count; rng = o.rng
      return
    }
    // An EXACT side (count == kept: nothing ever dropped) is just a
    // batch of arrivals — replay it through insert(), which is the
    // true Algorithm-R continuation and costs O(o.kept) with no array
    // copies. This covers every merge in a typical plan (partials are
    // per-partition, usually under the cap), including merging exact
    // partials into an already-sampled accumulator. The copying
    // weighted merge below only runs when BOTH sides have already
    // subsampled — at most once per upstream sampled partial, never
    // per row (the first cut copied ≤64 KB per merge CALL and
    // measured 3.3x slower than the exact percentile under a
    // count(distinct) Expand plan's ~100k merges).
    if (o.count == o.kept) {
      var i = 0
      while (i < o.kept) { insert(o.values(i)); i += 1 }
    } else if (count == kept) {
      // this side exact, other sampled: adopt o as the base (it has
      // the longer history) and replay this side's values into it
      val mine = values; val myKept = kept
      values = java.util.Arrays.copyOf(o.values, o.values.length)
      kept = o.kept; count = o.count; rng = rng ^ o.rng
      var i = 0
      while (i < myKept) { insert(mine(i)); i += 1 }
    } else {
      // both sampled: slot sources drawn by weight count/total
      // (k_mine ~ Binomial(slots, count/total)), then WITHOUT
      // replacement within each side via partial Fisher–Yates — a
      // with-replacement draw lets one original sample occupy several
      // slots and biases multi-stage merges (r14 advice #3)
      val total = count + o.count
      val mine = java.util.Arrays.copyOf(values, kept)
      val theirs = java.util.Arrays.copyOf(o.values, o.kept)
      val outLen = math.min(cap.toLong, total).toInt
      var kMine = 0
      var i = 0
      while (i < outLen) { if (nextBelow(total) < count) kMine += 1; i += 1 }
      if (kMine > mine.length) kMine = mine.length
      if (outLen - kMine > theirs.length) kMine = outLen - theirs.length
      val out = new Array[Double](outLen)
      // the first k slots of a Fisher–Yates shuffle are a uniform
      // without-replacement k-sample
      var j = 0
      while (j < kMine) {
        val pick = j + nextBelow((mine.length - j).toLong).toInt
        val t = mine(j); mine(j) = mine(pick); mine(pick) = t
        out(j) = mine(j)
        j += 1
      }
      var k = 0
      while (k < outLen - kMine) {
        val pick = k + nextBelow((theirs.length - k).toLong).toInt
        val t = theirs(k); theirs(k) = theirs(pick); theirs(pick) = t
        out(kMine + k) = theirs(k)
        k += 1
      }
      values = out; kept = outLen; count = total
    }
  }

  def sortedValues: Array[Double] = BufferedAgg.sortedPrefix(values, kept)

  def byteSize: Int = 8 + 8 + 4 + 8 * kept

  def write(out: ByteBuffer): Unit = {
    out.putLong(count); out.putLong(rng); out.putInt(kept)
    var i = 0
    while (i < kept) { out.putDouble(values(i)); i += 1 }
  }

  def read(in: ByteBuffer): Unit = {
    count = in.getLong(); rng = in.getLong(); kept = in.getInt()
    values = new Array[Double](kept)
    var i = 0
    while (i < kept) { values(i) = in.getDouble(); i += 1 }
  }
}

/** The deterministic sample: the bottom-`cap` (hash, value) pairs,
  * ordered lexicographically, on the shared [[BottomK]] heap. The kept
  * multiset equals "the cap smallest pairs of everything inserted"
  * regardless of order — the determinism contract. `count` is every
  * insert seen. */
final class DetSample(cap: Int) extends BottomK(cap) with Sample {
  private var vals = new Array[Double](keys.length)
  var count = 0L

  protected def less(i: Int, j: Int): Boolean =
    keys(i) < keys(j) || (keys(i) == keys(j) && vals(i) < vals(j))

  protected def swap(i: Int, j: Int): Unit = {
    val th = keys(i); keys(i) = keys(j); keys(j) = th
    val tv = vals(i); vals(i) = vals(j); vals(j) = tv
  }

  override protected def grown(n: Int): Unit = vals = java.util.Arrays.copyOf(vals, n)

  private def put(h: Long, v: Double): Unit = { val i = freeSlot(); keys(i) = h; vals(i) = v; offer() }

  /** One row, keyed by its determinator's splitmix64 hash. */
  def insert(determinator: Long, v: Double): Unit = { count += 1; put(mix(determinator), v) }

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def mergeWith(s: Sample): Unit = {
    val o = s.asInstanceOf[DetSample]
    var i = 0
    while (i < o.size) { put(o.keys(i), o.vals(i)); i += 1 }
    count += o.count
  }

  def sortedValues: Array[Double] = BufferedAgg.sortedPrefix(vals, size)

  def byteSize: Int = 8 + 4 + 16 * size

  def write(out: ByteBuffer): Unit = {
    out.putLong(count); out.putInt(size)
    var i = 0
    while (i < size) { out.putLong(keys(i)); out.putDouble(vals(i)); i += 1 }
  }

  def read(in: ByteBuffer): Unit = {
    count = in.getLong()
    val n = in.getInt()
    var i = 0
    while (i < n) { put(in.getLong(), in.getDouble()); i += 1 }
  }
}
