package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The k SMALLEST ids of a group, ascending — the partial-agg form of
  * `row_number() OVER (PARTITION BY bucket ORDER BY id) <= k`
  * (NearDupIndex's per-bucket cap). Unlike the window spelling, which
  * shuffles and sorts EVERY member of a hot bucket onto one task just
  * to drop all but k (a boilerplate LSH band shared by 10^8 docs at
  * 100 TB is one straggler task), this is a bounded max-heap per
  * buffer: O(k) state, map-side partial aggregation collapses the hot
  * bucket BEFORE the shuffle, and the aggregate's output partitioning
  * (the groupBy key) is exactly the partitioning the banded-index
  * cache wants — so the explicit repartition (a second full Exchange)
  * disappears too. Guide §2.3/§2.4/§2.5. Ids unique per caller, so
  * "k smallest" ≡ the window's first-k-by-id exactly.
  */
case class MinKIds(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedAgg[MinKBuf] {

  require(k >= 1, s"min_k_ids k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_k_ids"

  override def checkInputDataTypes(): TypeCheckResult = expect(
    (child.dataType == LongType) ->
      s"min_k_ids expects a BIGINT id, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): MinKBuf = new MinKBuf(k)

  override protected def add(buf: MinKBuf, input: InternalRow): Unit = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
  }

  override def eval(buf: MinKBuf): Any = new GenericArrayData(buf.sortedIds)

  override def withNewMutableAggBufferOffset(o: Int): MinKIds =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinKIds =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinKIds =
    copy(child = newChildren.head)
}

/** The bounded heap behind every bottom-k buffer: a binary max-heap
  * on primitive arrays whose root is the LARGEST kept entry, evicted
  * when a strictly smaller one arrives, so the kept entries are the
  * `cap` smallest of everything inserted regardless of order. Entries
  * are keyed by `keys`; a subclass says what else an entry holds and
  * how two entries order ([[less]], [[swap]]), so each caller's
  * comparisons are its own code, not a per-comparison branch. O(log
  * cap) per insert, O(cap) state always. */
abstract class BottomK(cap: Int) {
  protected var keys = new Array[Long](math.min(cap + 1, 4))
  private[functions] var size = 0

  /** Entry i orders strictly before entry j. */
  protected def less(i: Int, j: Int): Boolean
  protected def swap(i: Int, j: Int): Unit
  /** The arrays now hold `n` entries; a subclass grows its own. */
  protected def grown(n: Int): Unit = ()

  /** Slot `size`, one past the kept entries (the arrays grow on
    * demand, to at most cap + 1): a new entry is written there, then
    * [[offer]]ed. Read it before `keys`, which it may replace. */
  protected final def freeSlot(): Int = {
    if (size == keys.length) {
      val n = math.min(cap + 1, math.max(8, keys.length * 2))
      keys = java.util.Arrays.copyOf(keys, n)
      grown(n)
    }
    size
  }

  /** Keep the entry in slot [[freeSlot]]: under the cap it joins the heap;
    * at the cap it replaces the root if strictly smaller. */
  protected final def offer(): Unit =
    if (size < cap) {
      var i = size
      size += 1
      while (i > 0 && less((i - 1) / 2, i)) {
        swap(i, (i - 1) / 2)
        i = (i - 1) / 2
      }
    } else if (less(size, 0)) {
      swap(0, size)
      siftDown()
    }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < size && less(m, l)) m = l
      if (r < size && less(m, r)) m = r
      if (m == i) done = true
      else { swap(i, m); i = m }
    }
  }
}

/** The k smallest longs seen: entries are keys alone. */
final class MinKBuf(k: Int) extends BottomK(k) with AggBuffer[MinKBuf] {
  protected def less(i: Int, j: Int): Boolean = keys(i) < keys(j)

  protected def swap(i: Int, j: Int): Unit = {
    val t = keys(i); keys(i) = keys(j); keys(j) = t
  }

  def add(v: Long): Unit = { val i = freeSlot(); keys(i) = v; offer() }

  def mergeWith(o: MinKBuf): Unit = {
    var i = 0
    while (i < o.size) { add(o.keys(i)); i += 1 }
  }

  def sortedIds: Array[Long] = BufferedAgg.sortedPrefix(keys, size)

  def byteSize: Int = 4 + 8 * size

  def write(out: ByteBuffer): Unit = {
    out.putInt(size)
    var i = 0
    while (i < size) { out.putLong(keys(i)); i += 1 }
  }

  def read(in: ByteBuffer): Unit = {
    val n = in.getInt()
    var i = 0
    while (i < n) { add(in.getLong()); i += 1 }
  }
}
