package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for ClickHouse's -Map and -ForEach aggregate
  * combinators (AggregateFunctionCombinatorFactory suffix peeling,
  * reference name resolution via ASTFunction.h): `sumMap` /
  * `minMap` / `maxMap` / `avgMap` / `countMap` aggregate map values
  * KEY-WISE across rows; `sumForEach` / … aggregate array values
  * ELEMENT-WISE. The idiom behind CH metric tables (counter→value
  * maps summed across rows) and per-dimension vector statistics.
  *
  * Why a typed aggregate and not a collect+fold spelling: the state
  * must stay O(distinct keys | max length) per group — CH's own state
  * shape ([[Cells]]) — and must combine map-side. A
  * collect_list-then-fold spelling buffers O(rows × entries) per
  * group before reducing, which is an OOM shape on hot groups at
  * 100 TB; this kernel folds each row into the keyed buffer at
  * update() (map-side partial aggregation) and merges buffers
  * pairwise, so the shuffle carries only the per-key reductions.
  * (The plan-level explode + hash-agg spelling in a14_sum_map remains
  * the widest-scale alternative when the query can re-group; the
  * combinator is the single-expression SQL front door.)
  *
  * Numeric policy: values reduce in Double (counts in Long). For
  * integral inputs with op ∈ sum/min/max the result is emitted as
  * BIGINT (exact up to 2^53 — beyond that CH's own UInt64 sumMap has
  * wrapped long since); fractional inputs emit DOUBLE; avg always
  * DOUBLE; count always BIGINT. Output keys are sorted ascending,
  * CH's documented sumMap order.
  */
private[graft] object MapAggNative {
  val ops: Set[String] = Set("sum", "min", "max", "avg", "count")

  /** Registry entries: `opMap(map)` / `opMap(keys, values)` (both CH
    * spellings) and `opForEach(arr)`. */
  lazy val descriptors: Seq[GraftFunctions.Descriptor] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import FnBuilders.builtin
    ops.toSeq.flatMap { op =>
      val mapName = s"${op}Map"
      val feName = s"${op}ForEach"
      val mapB: Seq[Expression] => Expression = {
        case Seq(m) =>
          MapCombineAgg(builtin("map_keys")(Seq(m)),
            builtin("map_values")(Seq(m)), op)
        case Seq(k, v) => MapCombineAgg(k, v, op)
        case other => throw new IllegalArgumentException(
          s"$mapName(map) or $mapName(keys, values) expected, got " +
            s"${other.size} arguments")
      }
      val feB: Seq[Expression] => Expression = {
        case Seq(a) => ForEachAgg(a, op)
        case other => throw new IllegalArgumentException(
          s"$feName(array) expected, got ${other.size} arguments")
      }
      Seq(
        (FunctionIdentifier(mapName),
          GraftFunctions.info(classOf[MapCombineAgg], mapName, aggregate = true), mapB),
        (FunctionIdentifier(feName),
          GraftFunctions.info(classOf[ForEachAgg], feName, aggregate = true), feB))
    }
  }

  def resultType(op: String, integral: Boolean): DataType = op match {
    case "count" => LongType
    case "avg"   => DoubleType
    case _       => if (integral) LongType else DoubleType
  }

  def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
}

/** (acc, count) cells on primitive arrays, every one reduced under the
  * same op: values reduce in Double, counts in Long. ForEach's
  * positional array is these cells as they are; MapCombine's keyed
  * map adds a key → cell index ([[KeyedCells]]). */
class Cells(op: String) extends AggBuffer[Cells] {
  private val isMin = op == "min"
  private val isMax = op == "max"
  private val identity =
    if (isMin) Double.PositiveInfinity else if (isMax) Double.NegativeInfinity else 0.0
  var acc = new Array[Double](4)
  var cnt = new Array[Long](4)
  var n = 0

  /** Extend to `len` cells; new cells start at the op's identity. */
  def grow(len: Int): Unit = {
    if (len > acc.length) {
      acc = java.util.Arrays.copyOf(acc, math.max(len, acc.length * 2))
      cnt = java.util.Arrays.copyOf(cnt, acc.length)
    }
    while (n < len) { acc(n) = identity; cnt(n) = 0L; n += 1 }
  }

  /** Fold `c` values reduced to `a` into cell i (one row: c = 1). */
  def fold(i: Int, a: Double, c: Long): Unit = {
    acc(i) = if (isMin) math.min(acc(i), a) else if (isMax) math.max(acc(i), a) else acc(i) + a
    cnt(i) += c
  }

  /** The emitted value of cell i. */
  def result(i: Int, integral: Boolean): Any = op match {
    case "count" => cnt(i)
    case "avg"   => acc(i) / cnt(i)
    case _       => if (integral) acc(i).toLong else acc(i)
  }

  def mergeWith(o: Cells): Unit = {
    grow(o.n)
    var i = 0
    while (i < o.n) { fold(i, o.acc(i), o.cnt(i)); i += 1 }
  }

  def byteSize: Int = 4 + 16 * n

  def write(out: ByteBuffer): Unit = {
    out.putInt(n)
    var i = 0
    while (i < n) { out.putDouble(acc(i)); out.putLong(cnt(i)); i += 1 }
  }

  def read(in: ByteBuffer): Unit = {
    grow(in.getInt())
    var i = 0
    while (i < n) { fold(i, in.getDouble(), in.getLong()); i += 1 }
  }
}

/** Cells addressed by key: cell i holds `keys(i)`. */
final class KeyedCells(op: String, keyType: DataType) extends Cells(op) {
  private val slots = mutable.HashMap.empty[Any, Int]
  val keys = mutable.ArrayBuffer.empty[Any]

  def slot(k: Any): Int = slots.getOrElseUpdate(k, { keys += k; grow(n + 1); n - 1 })

  override def mergeWith(o: Cells): Unit = {
    val ko = o.asInstanceOf[KeyedCells]
    var i = 0
    while (i < ko.n) { fold(slot(ko.keys(i)), ko.acc(i), ko.cnt(i)); i += 1 }
  }

  // a string key travels as its bytes, any integral key as a long
  override def byteSize: Int = 4 + super.byteSize + keys.iterator.map {
    case s: UTF8String => 4 + s.numBytes
    case _ => 8
  }.sum

  override def write(out: ByteBuffer): Unit = {
    out.putInt(n)
    keys.foreach { k =>
      k match {
        case s: UTF8String => val b = s.getBytes; out.putInt(b.length); out.put(b)
        case n => out.putLong(n.asInstanceOf[java.lang.Number].longValue)
      }
    }
    super.write(out)
  }

  override def read(in: ByteBuffer): Unit = {
    for (_ <- 0 until in.getInt()) slot(keyType match {
      case StringType =>
        val b = new Array[Byte](in.getInt()); in.get(b)
        UTF8String.fromBytes(b)
      case ByteType  => in.getLong().toByte
      case ShortType => in.getLong().toShort
      case LongType  => in.getLong()
      case _         => in.getLong().toInt
    })
    super.read(in)
  }
}

/** `opMap(keys, values)` — key-wise reduction of parallel arrays
  * (the two-array CH spelling; the map-argument spelling passes
  * map_keys/map_values at the builder). Duplicate keys WITHIN a row
  * reduce too, as CH. NULL keys or values are skipped. */
case class MapCombineAgg(
    keys: Expression,
    values: Expression,
    op: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedAgg[KeyedCells] {

  require(MapAggNative.ops(op), s"unknown map op $op")

  private lazy val keyType: DataType =
    keys.dataType.asInstanceOf[ArrayType].elementType
  private lazy val valType: DataType =
    values.dataType.asInstanceOf[ArrayType].elementType
  private lazy val integral = MapAggNative.isIntegral(valType)

  override def children: Seq[Expression] = Seq(keys, values)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(keyType, MapAggNative.resultType(op, integral),
      valueContainsNull = false)
  override def prettyName: String = s"${op}map"

  override def checkInputDataTypes(): TypeCheckResult =
    (keys.dataType, values.dataType) match {
      case (ArrayType(kt, _), ArrayType(vt, _)) => expect(
        (kt match {
          case StringType | ByteType | ShortType | IntegerType | LongType |
               DateType => true
          case _ => false
        }) -> s"unsupported ${op}Map key type ${kt.simpleString}",
        vt.isInstanceOf[NumericType] ->
          s"unsupported ${op}Map value type ${vt.simpleString}")
      case other => expect(false ->
        s"${op}Map expects (array, array), got ${other.productIterator.mkString(", ")}")
    }

  override def createAggregationBuffer(): KeyedCells = new KeyedCells(op, keyType)

  override protected def add(buf: KeyedCells, input: InternalRow): Unit = {
    val ks = keys.eval(input).asInstanceOf[ArrayData]
    val vs = values.eval(input).asInstanceOf[ArrayData]
    if (ks == null || vs == null) return
    val n = math.min(ks.numElements(), vs.numElements())
    var i = 0
    while (i < n) {
      if (!ks.isNullAt(i) && !vs.isNullAt(i)) {
        // an InternalRow key → an immutable, buffer-safe key
        val k = ks.get(i, keyType) match {
          case s: UTF8String => s.clone()
          case other => other
        }
        buf.fold(buf.slot(k), BufferedAgg.toDouble(vs.get(i, valType)), 1L)
      }
      i += 1
    }
  }

  override def eval(buf: KeyedCells): Any = {
    val sorted = (0 until buf.n).sortBy(buf.keys(_))(TypeUtils.getInterpretedOrdering(keyType))
    new ArrayBasedMapData(
      new GenericArrayData(sorted.map(buf.keys(_)).toArray),
      new GenericArrayData(sorted.map(buf.result(_, integral)).toArray))
  }

  override def withNewMutableAggBufferOffset(n: Int): MapCombineAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): MapCombineAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MapCombineAgg =
    copy(keys = newChildren(0), values = newChildren(1))
}

/** `opForEach(arr)` — element-wise (positional) reduction of array
  * values across rows. Result length = max input length; positions a
  * shorter row lacks simply don't contribute (CH -ForEach). */
case class ForEachAgg(
    child: Expression,
    op: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BufferedAgg[Cells] {

  require(MapAggNative.ops(op), s"unknown forEach op $op")

  private lazy val valType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private lazy val integral = MapAggNative.isIntegral(valType)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(MapAggNative.resultType(op, integral), containsNull = false)
  override def prettyName: String = s"${op}foreach"

  override def checkInputDataTypes(): TypeCheckResult = expect(
    (child.dataType match {
      case ArrayType(_: NumericType, _) => true
      case _ => false
    }) -> s"${op}ForEach expects array<numeric>, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Cells = new Cells(op)

  override protected def add(buf: Cells, input: InternalRow): Unit = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return
    val n = arr.numElements()
    buf.grow(n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) buf.fold(i, BufferedAgg.toDouble(arr.get(i, valType)), 1L)
      i += 1
    }
  }

  override def eval(buf: Cells): Any =
    new GenericArrayData(Array.tabulate[Any](buf.n) { i =>
      // a position some rows lack still has count 0 under min/max —
      // emit the op identity as 0 would be wrong; CH emits 0 for
      // missing sums and the type default elsewhere. Count 0 only
      // happens for positions ALL contributing rows null'd: emit 0.
      if (buf.cnt(i) == 0L) MapAggNative.resultType(op, integral) match {
        case LongType => 0L
        case _        => 0.0
      }
      else buf.result(i, integral)
    })

  override def withNewMutableAggBufferOffset(n: Int): ForEachAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ForEachAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ForEachAgg =
    copy(child = newChildren(0))
}
