package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
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
  extends TypedImperativeAggregate[CappedIdBuf] {

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

  override def checkInputDataTypes(): TypeCheckResult =
    (id.dataType, sz.map(_.dataType)) match {
      case (LongType, None) | (LongType, Some(IntegerType)) =>
        TypeCheckResult.TypeCheckSuccess
      case (other, None) => TypeCheckResult.TypeCheckFailure(
        s"capped_id_list expects a BIGINT id, got ${other.simpleString}")
      case (i, Some(s)) => TypeCheckResult.TypeCheckFailure(
        s"capped_id_sz_list expects (BIGINT id, INT sz), got ($i,$s)")
    }

  override def createAggregationBuffer(): CappedIdBuf =
    new CappedIdBuf(cap, sz.isDefined)

  override def update(buf: CappedIdBuf, input: InternalRow): CappedIdBuf = {
    val v = id.eval(input)
    if (v != null) {
      val s = sz.map(_.eval(input)).orNull
      buf.add(v.asInstanceOf[Long], if (s == null) 0 else s.asInstanceOf[Int])
    }
    buf
  }

  override def merge(a: CappedIdBuf, b: CappedIdBuf): CappedIdBuf = {
    a.mergeWith(b); a
  }

  override def eval(buf: CappedIdBuf): Any = {
    if (buf.size < 2 || buf.size > cap) null
    else if (sz.isEmpty) new GenericArrayData(buf.sortedIds)
    else {
      val (ids, szs) = buf.sortedByIds
      val out = new Array[Any](ids.length)
      var i = 0
      while (i < ids.length) { out(i) = InternalRow(ids(i), szs(i)); i += 1 }
      new GenericArrayData(out)
    }
  }

  override def serialize(buf: CappedIdBuf): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): CappedIdBuf =
    CappedIdBuf.fromBytes(bytes, cap, sz.isDefined)

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
final class CappedIdBuf(cap: Int, withSz: Boolean) {
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
    // if the other side already overflowed but we copied all its
    // stored ids without overflowing, its saturation must carry over
    if (o.size > cap && size <= cap) size = cap + 1
  }

  def sortedIds: Array[Long] = {
    val s = java.util.Arrays.copyOf(ids, size)
    java.util.Arrays.sort(s)
    s
  }

  /** (ids, sizes) by id ascending; a stable sort, so equal ids keep
    * their arrival order. */
  def sortedByIds: (Array[Long], Array[Int]) = {
    val idx = (0 until size).toArray
      .map(i => (ids(i), szs(i))).sortBy(_._1)
    (idx.map(_._1), idx.map(_._2))
  }

  def toBytes: Array[Byte] = {
    val n = math.min(size, cap + 1)
    val bb = ByteBuffer.allocate(4 + (if (withSz) 12 else 8) * n)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(size)
    var i = 0
    while (i < n) {
      bb.putLong(ids(i))
      if (withSz) bb.putInt(szs(i))
      i += 1
    }
    bb.array()
  }
}

object CappedIdBuf {
  def fromBytes(bytes: Array[Byte], cap: Int, withSz: Boolean): CappedIdBuf = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val buf = new CappedIdBuf(cap, withSz)
    val size = bb.getInt
    val n = math.min(size, cap + 1)
    var i = 0
    while (i < n) {
      buf.add(bb.getLong, if (withSz) bb.getInt else 0); i += 1
    }
    buf.size = size
    buf
  }
}
