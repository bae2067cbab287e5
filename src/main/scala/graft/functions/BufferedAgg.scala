package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.Decimal

/** One group's state in a [[BufferedAgg]] — the aggregate's buffer
  * policy (capped list, bottom-k heap, reservoir, keyed map,
  * positional array, centroids, pairs). It says how two partial
  * states merge and how a state travels from the partial to the final
  * stage, as little-endian bytes of an exact, precomputed size: one
  * allocation per state, which matters under a count(distinct) Expand
  * plan's hundreds of thousands of small states. The bytes never leave
  * a query, so the layout is free to change. Contravariant: a buffer
  * that merges any [[Cells]] also serves an aggregate typed on the
  * subclass [[KeyedCells]]. */
trait AggBuffer[-B] {
  def mergeWith(o: B): Unit
  /** The number of bytes [[write]] writes. */
  def byteSize: Int
  def write(out: ByteBuffer): Unit
  /** Restore a fresh buffer from what [[write]] wrote. */
  def read(in: ByteBuffer): Unit
}

/** The Catalyst plumbing every graft typed aggregate shares: merge,
  * serialize and deserialize go through the [[AggBuffer]], and the
  * aggregate supplies its buffer (`createAggregationBuffer`), how a
  * row enters it ([[add]]) and `eval`. Each aggregate stays a case
  * class, since Catalyst rebuilds it through `copy`. */
trait BufferedAgg[B <: AggBuffer[B]] extends TypedImperativeAggregate[B] {

  /** Feed one input row into the buffer; NULL handling is the
    * aggregate's own. */
  protected def add(buf: B, input: InternalRow): Unit

  final override def update(buf: B, input: InternalRow): B = { add(buf, input); buf }

  final override def merge(a: B, b: B): B = { a.mergeWith(b); a }

  final override def serialize(buf: B): Array[Byte] = {
    val out = ByteBuffer.allocate(buf.byteSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.write(out)
    out.array()
  }

  final override def deserialize(bytes: Array[Byte]): B = {
    val buf = createAggregationBuffer()
    buf.read(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))
    buf
  }

  /** Analysis-time input checks: the first failing (condition,
    * message) pair is the error — a type error at analysis, not a
    * ClassCastException at run time. */
  protected def expect(checks: (Boolean, String)*): TypeCheckResult =
    checks.collectFirst { case (false, msg) => TypeCheckResult.TypeCheckFailure(msg) }
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
}

object BufferedAgg {
  /** The first `n` values of `a`, sorted, in a fresh array. */
  def sortedPrefix(a: Array[Long], n: Int): Array[Long] = {
    val s = java.util.Arrays.copyOf(a, n); java.util.Arrays.sort(s); s
  }
  def sortedPrefix(a: Array[Double], n: Int): Array[Double] = {
    val s = java.util.Arrays.copyOf(a, n); java.util.Arrays.sort(s); s
  }

  /** A numeric input's physical value as a double. */
  def toDouble(v: Any): Double = v match {
    case d: Double => d
    case n: java.lang.Number => n.doubleValue // Float, Long, Int, Short, Byte
    case d: Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"numeric input expected, got ${other.getClass.getSimpleName}")
  }
}
