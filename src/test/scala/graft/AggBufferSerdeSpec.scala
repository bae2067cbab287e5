package graft

import scala.language.reflectiveCalls

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.GraftFunctions

/** Every kind of graft aggregate buffer survives the trip from the
  * partial to the final stage: for the empty, under-cap and saturated
  * state of each, `eval` after `deserialize(serialize(b))` equals
  * `eval(b)`, and merging the restored buffer into another one gives
  * what merging the original gives. The aggregates are built through
  * the registry, as SQL builds them, over bound input columns. */
class AggBufferSerdeSpec extends SparkSpec {

  private type Agg = TypedImperativeAggregate[Any]

  private def agg(name: String, args: Expression*): Agg = {
    val (_, _, builder) = GraftFunctions.descriptors.find(_._1.funcName == name)
      .getOrElse(fail(s"no graft function $name"))
    (builder(args) match {
      case ae: AggregateExpression => ae.aggregateFunction
      case other => other
    }).asInstanceOf[Agg]
  }

  private def in(i: Int, t: DataType): Expression = BoundReference(i, t, nullable = true)

  private def fill(a: Agg, rows: Seq[InternalRow]): Any =
    rows.foldLeft(a.createAggregationBuffer())((b, r) => a.update(b, r))

  private def out(a: Agg, b: Any): Any = CatalystTypeConverters.convertToScala(a.eval(b), a.dataType)

  private def restored(a: Agg, b: Any): Any = a.deserialize(a.serialize(b))

  /** eval and merge agree on `b` and its round trip, for each state. */
  private def check(a: Agg, states: Seq[Seq[InternalRow]], other: Seq[InternalRow]): Unit =
    states.foreach { rows =>
      val b = fill(a, rows)
      val r = restored(a, b)
      assert(out(a, r) == out(a, b), s"${a.prettyName} eval after serde, ${rows.size} rows")
      val merged = out(a, a.merge(fill(a, other), r))
      assert(merged == out(a, a.merge(fill(a, other), fill(a, rows))),
        s"${a.prettyName} merge after serde, ${rows.size} rows")
    }

  private val rnd = new scala.util.Random(7)
  private def longs(n: Int): Seq[InternalRow] = Seq.fill(n)(InternalRow(rnd.nextInt(1000000).toLong))
  private def doubles(n: Int): Seq[InternalRow] = Seq.fill(n)(InternalRow(rnd.nextGaussian() * 100))

  test("capped list: empty, under the cap, and over it with the saturation carried") {
    check(agg("capped_id_list", in(0, LongType), Literal(10)),
      Seq(Nil, longs(5), longs(25)), longs(3))
    val withSz = Seq.fill(25)(InternalRow(rnd.nextInt(1000).toLong, rnd.nextInt(50)))
    check(agg("capped_id_sz_list", in(0, LongType), in(1, IntegerType), Literal(10)),
      Seq(Nil, withSz.take(5), withSz), withSz.take(2))
    // an over-cap buffer merged into a 1-id buffer stays over the cap
    val a = agg("capped_id_list", in(0, LongType), Literal(10))
    assert(a.eval(a.merge(fill(a, longs(1)), restored(a, fill(a, longs(25))))) == null)
  }

  test("bottom-k heap: min_k_ids below and at k") {
    check(agg("min_k_ids", in(0, LongType), Literal(10)),
      Seq(Nil, longs(5), longs(200)), longs(50))
  }

  test("reservoir: exact, and sampled on both sides with count and rng carried") {
    val a = agg("quantiles", in(0, DoubleType), Literal(0.1), Literal(0.5), Literal(0.9))
    val big = doubles(20000)
    check(a, Seq(Nil, doubles(100), big), doubles(20000))
    // the restored reservoir keeps sampling exactly as the original:
    // the same next arrivals replace the same slots
    val more = doubles(5000)
    val orig = more.foldLeft(fill(a, big))((b, r) => a.update(b, r))
    val back = more.foldLeft(restored(a, fill(a, big)))((b, r) => a.update(b, r))
    assert(out(a, back) == out(a, orig))
  }

  test("deterministic reservoir: bottom-k by determinator, count carried") {
    val a = agg("quantileDeterministic", in(0, DoubleType), in(1, LongType), Literal(0.5))
    def rows(n: Int) = Seq.fill(n)(InternalRow(rnd.nextGaussian(), rnd.nextLong()))
    check(a, Seq(Nil, rows(100), rows(20000)), rows(20000))
    val b = fill(a, rows(20000))
    assert(restored(a, b).asInstanceOf[{ def count: Long }].count == 20000L)
  }

  test("centroids: histogram below and past its compaction cap") {
    check(agg("histogram", Literal(4), in(0, DoubleType)),
      Seq(Nil, doubles(3), doubles(1000)), doubles(300))
  }

  test("keyed map and positional array: sumMap over string and int keys, ForEach") {
    def mapRows(n: Int, str: Boolean) = Seq.fill(n) {
      val ks = Seq.fill(3)(rnd.nextInt(20))
      InternalRow(
        new GenericArrayData(ks.map(k => if (str) UTF8String.fromString(s"k$k") else k).toArray[Any]),
        new GenericArrayData(ks.map(_ => rnd.nextInt(100).toLong).toArray[Any]))
    }
    for (str <- Seq(true, false)) {
      val kt = if (str) StringType else IntegerType
      check(agg("sumMap", in(0, ArrayType(kt)), in(1, ArrayType(LongType))),
        Seq(Nil, mapRows(1, str), mapRows(200, str)), mapRows(30, str))
    }
    def arrRows(n: Int) = Seq.fill(n)(InternalRow(new GenericArrayData(
      Array.fill[Any](1 + rnd.nextInt(5))(rnd.nextDouble()))))
    for (name <- Seq("sumForEach", "minForEach", "avgForEach"))
      check(agg(name, in(0, ArrayType(DoubleType))),
        Seq(Nil, arrRows(1), arrRows(200)), arrRows(30))
  }

  test("pairs: rankCorr") {
    def rows(n: Int) = Seq.fill(n)(InternalRow(rnd.nextInt(50).toDouble, rnd.nextGaussian()))
    check(agg("rankCorr", in(0, DoubleType), in(1, DoubleType)),
      Seq(Nil, rows(1), rows(500)), rows(40))
  }
}
