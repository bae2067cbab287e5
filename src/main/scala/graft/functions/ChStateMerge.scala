package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet, Count, Max, Min, Sum}
import org.apache.spark.sql.types._
import FnBuilders.{Builder, builtin, fld, wrapAgg}

/** The -State / -Merge / -MergeState / -SimpleState aggregate
  * combinators — ClickHouse's two-level aggregation contract
  * (AggregateFunctionCombinatorFactory suffix peeling, resolved by
  * the reference's ASTFunction name lookup like every other
  * combinator chain; the `AggregateFunction(...)` column type these
  * produce is the storage type behind AggregatingMergeTree and every
  * pre-aggregating materialized view).
  *
  *   aggState(x)   per-group PARTIAL aggregate, storable in a column;
  *   aggMerge(st)  combine stored partials to the final value;
  *   aggMergeState(st)  combine partials to a combined PARTIAL
  *                 (re-aggregation to a coarser key keeps the column
  *                 mergeable — the MV-over-MV idiom);
  *   aggSimpleState(x)  the plain value, typed as a mergeable column
  *                 (SimpleAggregateFunction: merge == re-apply).
  *
  * Spark-first realization: the state IS Spark's own partial-agg
  * shape, spelled as portable columns rather than an opaque binary —
  * sum/min/max states are the scalar itself, avg is the (sum, count)
  * pair, uniq is Spark's Datasketches HLL sketch binary
  * (hll_sketch_agg / hll_union_agg — mergeable exactly like CH's
  * uniqState), uniqExact/groupArray are the exact element sets CH
  * also keeps. Every Merge is itself an ordinary Catalyst aggregate,
  * so map-side combine applies at BOTH levels, and a 100 TB
  * MV-partials table re-aggregates with one shuffle on the coarse
  * key. DECIMAL sums stay decimal through the state (exact,
  * order-independent) — the c33 oracle relies on it.
  */
object ChStateMerge {

  private val nullL = Literal(null, NullType)

  /** -If wrapping: off-predicate rows feed NULL into the (null-
    * skipping) state aggregate — identical to ChCombinators. */
  private def iff(cond: Option[Expression], x: Expression): Expression =
    cond.fold(x)(p => If(p, x, nullL))

  // ---- per-base State builders -------------------------------------

  private def state(base: String, cond: Option[Expression],
      vals: Seq[Expression]): Expression = {
    val x = iff(cond, if (vals.isEmpty) Literal(1) else vals.head)
    base match {
      case "sum"   => wrapAgg(Sum(x))
      case "count" => wrapAgg(Count(Seq(x)))
      case "min"   => wrapAgg(Min(x))
      case "max"   => wrapAgg(Max(x))
      // (sum, count) pair; sum keeps the input's exact type (decimal
      // sums stay exact — addition-order independent)
      case "avg" => CreateNamedStruct(Seq(
        Literal("s"), wrapAgg(Sum(x)),
        Literal("c"), wrapAgg(Count(Seq(x)))))
      // Datasketches HLL binary — mergeable across groups
      case "uniq" => wrapAgg(builtin("hll_sketch_agg")(Seq(x)))
      case "uniqExact"      => wrapAgg(CollectSet(x))
      case "groupArray"     => wrapAgg(CollectList(x))
      case "groupUniqArray" => wrapAgg(CollectSet(x))
    }
  }

  // ---- per-base Merge / MergeState builders ------------------------

  /** finalize=false keeps the result a STATE (-MergeState). */
  private def merge(base: String, st: Expression,
      finalize: Boolean): Expression = base match {
    case "sum" => wrapAgg(Sum(st))
    // merged count is a sum of partial counts; 0 (not NULL) over an
    // empty merge input, as CH
    case "count" =>
      Coalesce(Seq(wrapAgg(Sum(st)), Literal(0L)))
    case "min" => wrapAgg(Min(st))
    case "max" => wrapAgg(Max(st))
    case "avg" =>
      val s = wrapAgg(Sum(fld(st, "s")))
      val c = wrapAgg(Sum(fld(st, "c")))
      if (!finalize) CreateNamedStruct(Seq(Literal("s"), s, Literal("c"), c))
      // one double division over exactly-merged sums — CH avg is Float64
      else Divide(Cast(s, DoubleType), Cast(c, DoubleType))
    case "uniq" =>
      val u = wrapAgg(builtin("hll_union_agg")(Seq(st)))
      if (!finalize) u else builtin("hll_sketch_estimate")(Seq(u))
    case "uniqExact" =>
      val els = builtin("array_distinct")(
        Seq(builtin("flatten")(Seq(wrapAgg(CollectList(st))))))
      if (!finalize) els else Cast(builtin("size")(Seq(els)), LongType)
    case "groupArray" =>
      builtin("flatten")(Seq(wrapAgg(CollectList(st))))
    case "groupUniqArray" =>
      builtin("array_distinct")(
        Seq(builtin("flatten")(Seq(wrapAgg(CollectList(st))))))
  }

  private val bases = Seq("sum", "count", "min", "max", "avg", "uniq",
    "uniqExact", "groupArray", "groupUniqArray")
  /** -SimpleState only where merge == re-apply on plain values. */
  private val simple = Set("sum", "min", "max")

  private[graft] lazy val generated: Seq[(String, Builder)] = {
    val entries = bases.flatMap { b =>
      val plainState: Builder = es => state(b, None, es)
      val ifState: Builder = es => state(b, Some(es.last), es.init)
      val m: Builder = es => merge(b, es.head, finalize = true)
      val ms: Builder = es => merge(b, es.head, finalize = false)
      Seq(
        s"${b}State" -> plainState,
        s"${b}IfState" -> ifState,
        s"${b}Merge" -> m,
        s"${b}MergeState" -> ms) ++
        (if (simple(b)) Seq[(String, Builder)](
          s"${b}SimpleState" -> (es => state(b, None, es)),
          s"${b}SimpleStateIf" -> ifState)
        else Nil)
    }
    entries
  }
}
