package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Size-capped id collection per bucket, with an optional `sz` payload:
  *  - `capped_id_list(id, cap)` — LSH bucket pairing (Dedup.bucketPairs
  *    / Ann's embedding near-dup): a bucket's member ids;
  *  - `capped_id_sz_list(id, sz, cap)` — the sparse set-similarity core
  *    (Dedup.setJaccardPairs / ngramContainment): a gram's (doc id, doc
  *    set size) members, so the pair stage never joins back to a
  *    per-doc table.
  *
  * `sort_array(collect_list(id))` + `filter(size BETWEEN 2 AND cap)`
  * is semantically identical but materializes the FULL bucket array
  * before the filter — bounded in time, unbounded in one task's
  * memory: an adversarial boilerplate band shared by 10^8 docs at
  * 100 TB is a single ~800 MB aggregation buffer
  * (dev/dedup_skew_probe_r15.txt). This aggregate stores at most
  * cap+1 elements — one past the cap proves the bucket is over-sized,
  * after which updates and merges only pass through — and eval
  * returns NULL for buckets outside [2, cap], so the downstream
  * filter is `isNotNull`. O(cap) state per bucket at ANY bucket
  * cardinality, same single-shuffle plan.
  *
  * eval returns the entries SORTED by id ascending (what the id1 < id2
  * pair explode needs). Long ids only — every caller keys on a long
  * doc id; sz is an INT (NULL reads as 0). */
case class CappedIdList(
    id: Expression,
    sz: Option[Expression],
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedAgg[CappedIdBuf] {

  require(cap >= 2, s"$prettyName cap must be >= 2, got $cap")

  override def children: Seq[Expression] = id +: sz.toSeq
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(
    if (sz.isEmpty) LongType
    else StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sz", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String =
    if (sz.isEmpty) "capped_id_list" else "capped_id_sz_list"

  override def checkInputDataTypes(): TypeCheckResult = expect(sz match {
    case None => (id.dataType == LongType) ->
      s"capped_id_list expects a BIGINT id, got ${id.dataType.simpleString}"
    case Some(s) => (id.dataType == LongType && s.dataType == IntegerType) ->
      s"capped_id_sz_list expects (BIGINT id, INT sz), got (${id.dataType},${s.dataType})"
  })

  override def createAggregationBuffer(): CappedIdBuf =
    new CappedIdBuf(cap, sz.isDefined)

  override protected def add(buf: CappedIdBuf, input: InternalRow): Unit = {
    val v = id.eval(input)
    if (v != null) {
      val s = sz.map(_.eval(input)).orNull
      buf.add(v.asInstanceOf[Long], if (s == null) 0 else s.asInstanceOf[Int])
    }
  }

  override def eval(buf: CappedIdBuf): Any = {
    if (buf.size < 2 || buf.size > cap) null
    else if (sz.isEmpty) new GenericArrayData(buf.sortedIds)
    else new GenericArrayData(buf.sortedPairs.map[Any] { case (i, s) => InternalRow(i, s) })
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedIdList =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedIdList =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CappedIdList =
    copy(id = newChildren.head, sz = sz.map(_ => newChildren(1)))
}

/** ≤ cap+1 stored ids (and sizes, when `withSz`); `size` saturates at
  * cap+1 (enough to decide the [2, cap] filter — the true cardinality
  * past that is irrelevant, so over-cap updates are free). */
final class CappedIdBuf(cap: Int, withSz: Boolean) extends AggBuffer[CappedIdBuf] {
  private var ids = new Array[Long](4)
  private var szs = if (withSz) new Array[Int](4) else null
  var size = 0

  def add(id: Long, sz: Int): Unit = {
    if (size > cap) return // already disqualified: pass through
    if (size == ids.length) {
      val n = math.min(cap + 1, math.max(8, ids.length * 2))
      ids = java.util.Arrays.copyOf(ids, n)
      if (withSz) szs = java.util.Arrays.copyOf(szs, n)
    }
    ids(size) = id
    if (withSz) szs(size) = sz
    size += 1
  }

  def mergeWith(o: CappedIdBuf): Unit = {
    var i = 0
    while (i < o.size && size <= cap) {
      add(o.ids(i), if (withSz) o.szs(i) else 0); i += 1
    }
  }

  def sortedIds: Array[Long] = BufferedAgg.sortedPrefix(ids, size)

  /** (id, size) pairs by id ascending; a stable sort, so equal ids
    * keep their arrival order. */
  def sortedPairs: Array[(Long, Int)] =
    Array.tabulate(size)(i => (ids(i), szs(i))).sortBy(_._1)

  // every counted id is stored (size ≤ cap+1), so the stored ids alone
  // restore the size and its saturation
  def byteSize: Int = 4 + (if (withSz) 12 else 8) * size

  def write(out: ByteBuffer): Unit = {
    out.putInt(size)
    var i = 0
    while (i < size) {
      out.putLong(ids(i))
      if (withSz) out.putInt(szs(i))
      i += 1
    }
  }

  def read(in: ByteBuffer): Unit =
    for (_ <- 0 until in.getInt()) add(in.getLong(), if (withSz) in.getInt() else 0)
}
