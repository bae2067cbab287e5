package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
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
  * Why a TypedImperativeAggregate and not a collect+fold spelling:
  * the state must stay O(distinct keys | max length) per group — CH's
  * own state shape — and must combine map-side. A
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
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
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
          new ExpressionInfo(classOf[MapCombineAgg].getName, mapName), mapB),
        (FunctionIdentifier(feName),
          new ExpressionInfo(classOf[ForEachAgg].getName, feName), feB))
    }
  }

  def init(op: String): (Double, Long) = op match {
    case "min" => (Double.PositiveInfinity, 0L)
    case "max" => (Double.NegativeInfinity, 0L)
    case _     => (0.0, 0L)
  }

  def step(op: String, acc: (Double, Long), v: Double): (Double, Long) =
    op match {
      case "min" => (math.min(acc._1, v), acc._2 + 1)
      case "max" => (math.max(acc._1, v), acc._2 + 1)
      case _     => (acc._1 + v, acc._2 + 1)
    }

  def combine(op: String, a: (Double, Long), b: (Double, Long)): (Double, Long) =
    op match {
      case "min" => (math.min(a._1, b._1), a._2 + b._2)
      case "max" => (math.max(a._1, b._1), a._2 + b._2)
      case _     => (a._1 + b._1, a._2 + b._2)
    }

  /** The emitted value for one reduced (acc, count) cell. */
  def result(op: String, integral: Boolean, cell: (Double, Long)): Any =
    op match {
      case "count" => cell._2
      case "avg"   => cell._1 / cell._2
      case _       => if (integral) cell._1.toLong else cell._1
    }

  def resultType(op: String, integral: Boolean): DataType = op match {
    case "count" => LongType
    case "avg"   => DoubleType
    case _       => if (integral) LongType else DoubleType
  }

  def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType => false
    case _ => false
  }

  def toD(t: DataType, v: Any): Double = t match {
    case ByteType    => v.asInstanceOf[Byte].toDouble
    case ShortType   => v.asInstanceOf[Short].toDouble
    case IntegerType => v.asInstanceOf[Int].toDouble
    case LongType    => v.asInstanceOf[Long].toDouble
    case FloatType   => v.asInstanceOf[Float].toDouble
    case DoubleType  => v.asInstanceOf[Double]
    case d: DecimalType => v.asInstanceOf[Decimal].toDouble
    case other => throw new IllegalArgumentException(
      s"non-numeric value type ${other.simpleString}")
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
  extends TypedImperativeAggregate[mutable.LinkedHashMap[Any, (Double, Long)]] {

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

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (keys.dataType, values.dataType) match {
      case (ArrayType(kt, _), ArrayType(vt, _)) =>
        val kOk = kt match {
          case StringType | ByteType | ShortType | IntegerType | LongType |
               DateType => true
          case _ => false
        }
        val vOk = vt match {
          case _: NumericType => true
          case _ => false
        }
        if (!kOk) TypeCheckFailure(
          s"unsupported ${op}Map key type ${kt.simpleString}")
        else if (!vOk) TypeCheckFailure(
          s"unsupported ${op}Map value type ${vt.simpleString}")
        else TypeCheckSuccess
      case other => TypeCheckFailure(
        s"${op}Map expects (array, array), got " +
          other.productIterator.mkString(", "))
    }
  }

  override def createAggregationBuffer()
      : mutable.LinkedHashMap[Any, (Double, Long)] =
    mutable.LinkedHashMap.empty

  /** InternalRow key → an immutable, buffer-safe key. */
  private def ownKey(raw: Any): Any = raw match {
    case s: UTF8String => s.clone()
    case other => other
  }

  override def update(
      buffer: mutable.LinkedHashMap[Any, (Double, Long)],
      input: InternalRow): mutable.LinkedHashMap[Any, (Double, Long)] = {
    val ks = keys.eval(input).asInstanceOf[ArrayData]
    val vs = values.eval(input).asInstanceOf[ArrayData]
    if (ks == null || vs == null) return buffer
    val n = math.min(ks.numElements(), vs.numElements())
    var i = 0
    while (i < n) {
      if (!ks.isNullAt(i) && !vs.isNullAt(i)) {
        val k = ownKey(ks.get(i, keyType))
        val v = MapAggNative.toD(valType, vs.get(i, valType))
        val acc = buffer.getOrElse(k, MapAggNative.init(op))
        buffer.update(k, MapAggNative.step(op, acc, v))
      }
      i += 1
    }
    buffer
  }

  override def merge(
      buffer: mutable.LinkedHashMap[Any, (Double, Long)],
      other: mutable.LinkedHashMap[Any, (Double, Long)])
      : mutable.LinkedHashMap[Any, (Double, Long)] = {
    other.foreach { case (k, cell) =>
      buffer.get(k) match {
        case Some(acc) => buffer.update(k, MapAggNative.combine(op, acc, cell))
        case None      => buffer.update(k, cell)
      }
    }
    buffer
  }

  override def eval(
      buffer: mutable.LinkedHashMap[Any, (Double, Long)]): Any = {
    val ord: Ordering[Any] = keyType match {
      case StringType => Ordering.fromLessThan((a: Any, b: Any) =>
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]) < 0)
      case ByteType   => Ordering.by((a: Any) => a.asInstanceOf[Byte].toInt)
      case ShortType  => Ordering.by((a: Any) => a.asInstanceOf[Short].toInt)
      case LongType   => Ordering.by((a: Any) => a.asInstanceOf[Long])
      case _          => Ordering.by((a: Any) => a.asInstanceOf[Int])
    }
    val sorted = buffer.toSeq.sortBy(_._1)(ord)
    new ArrayBasedMapData(
      new GenericArrayData(sorted.map(_._1).toArray),
      new GenericArrayData(sorted.map { case (_, cell) =>
        MapAggNative.result(op, integral, cell)
      }.toArray))
  }

  override def serialize(
      buffer: mutable.LinkedHashMap[Any, (Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (k, (d, c)) =>
      keyType match {
        case StringType =>
          val b = k.asInstanceOf[UTF8String].getBytes
          out.writeInt(b.length); out.write(b)
        case ByteType  => out.writeByte(k.asInstanceOf[Byte].toInt)
        case ShortType => out.writeShort(k.asInstanceOf[Short].toInt)
        case LongType  => out.writeLong(k.asInstanceOf[Long])
        case _         => out.writeInt(k.asInstanceOf[Int])
      }
      out.writeDouble(d)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(
      bytes: Array[Byte]): mutable.LinkedHashMap[Any, (Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = mutable.LinkedHashMap.empty[Any, (Double, Long)]
    var i = 0
    while (i < n) {
      val k: Any = keyType match {
        case StringType =>
          val len = in.readInt()
          val b = new Array[Byte](len); in.readFully(b)
          UTF8String.fromBytes(b)
        case ByteType  => in.readByte()
        case ShortType => in.readShort()
        case LongType  => in.readLong()
        case _         => in.readInt()
      }
      m.update(k, (in.readDouble(), in.readLong()))
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(n: Int): MapCombineAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): MapCombineAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MapCombineAgg =
    copy(keys = newChildren(0), values = newChildren(1))
  override def prettyName: String = s"${op}map"
}

/** `opForEach(arr)` — element-wise (positional) reduction of array
  * values across rows. Result length = max input length; positions a
  * shorter row lacks simply don't contribute (CH -ForEach). */
case class ForEachAgg(
    child: Expression,
    op: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[(Double, Long)]] {

  require(MapAggNative.ops(op), s"unknown forEach op $op")

  private lazy val valType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private lazy val integral = MapAggNative.isIntegral(valType)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(MapAggNative.resultType(op, integral), containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(_: NumericType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"${op}ForEach expects array<numeric>, got ${other.simpleString}")
    }
  }

  override def createAggregationBuffer(): mutable.ArrayBuffer[(Double, Long)] =
    mutable.ArrayBuffer.empty

  override def update(
      buffer: mutable.ArrayBuffer[(Double, Long)],
      input: InternalRow): mutable.ArrayBuffer[(Double, Long)] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return buffer
    val n = arr.numElements()
    while (buffer.length < n) buffer += MapAggNative.init(op)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = MapAggNative.toD(valType, arr.get(i, valType))
        buffer(i) = MapAggNative.step(op, buffer(i), v)
      }
      i += 1
    }
    buffer
  }

  override def merge(
      buffer: mutable.ArrayBuffer[(Double, Long)],
      other: mutable.ArrayBuffer[(Double, Long)])
      : mutable.ArrayBuffer[(Double, Long)] = {
    while (buffer.length < other.length) buffer += MapAggNative.init(op)
    var i = 0
    while (i < other.length) {
      buffer(i) = MapAggNative.combine(op, buffer(i), other(i))
      i += 1
    }
    buffer
  }

  override def eval(buffer: mutable.ArrayBuffer[(Double, Long)]): Any =
    new GenericArrayData(buffer.map { cell =>
      // a position some rows lack still has count 0 under min/max —
      // emit the op identity as 0 would be wrong; CH emits 0 for
      // missing sums and the type default elsewhere. Count 0 only
      // happens for positions ALL contributing rows null'd: emit 0.
      if (cell._2 == 0L) MapAggNative.resultType(op, integral) match {
        case LongType => 0L
        case _        => 0.0
      }
      else MapAggNative.result(op, integral, cell)
    }.toArray)

  override def serialize(
      buffer: mutable.ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.length)
    buffer.foreach { case (d, c) => out.writeDouble(d); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(
      bytes: Array[Byte]): mutable.ArrayBuffer[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = mutable.ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < n) { b += ((in.readDouble(), in.readLong())); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): ForEachAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ForEachAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ForEachAgg =
    copy(child = newChildren(0))
  override def prettyName: String = s"${op}foreach"
}
