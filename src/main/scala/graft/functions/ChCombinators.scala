package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, CollectList, CollectSet, Count, Max, Min, Sum}
import org.apache.spark.sql.types._
import FnBuilders.{Builder, builtin}

/** ClickHouse aggregate-function COMBINATORS. The reference resolves
  * an aggregate call by peeling combinator suffixes off the name
  * (src/Parsers/ASTFunction.h name lookup; ClickHouse's
  * AggregateFunctionCombinatorFactory): `sumArrayIf`, `uniqExactIf`,
  * `countIfOrNull`, `avgOrNullIf`, … Realized Spark-first by
  * PRE-GENERATING the finite base × chain cross product as
  * FunctionRegistry entries — every generated name resolves to the
  * codegen'd Catalyst aggregate the chain denotes, never a UDF:
  *
  *   -If        trailing predicate argument; off-predicate rows feed
  *              NULL into the (null-skipping) aggregate
  *   -Array     aggregate over the ELEMENTS of an array argument —
  *              realized as a per-row fold (sum / size / array_min /
  *              array_max) feeding the outer aggregate, so the
  *              element reduction happens map-side and partial
  *              aggregation is preserved at scale
  *   -Distinct  AggregateExpression(isDistinct = true)
  *   -OrNull    NULL instead of the default value when no rows were
  *              aggregated (CH wraps the result type Nullable)
  *   -OrDefault the type default (0) when no rows were aggregated
  *
  * Chains stack in application order (Array, then Distinct, then If,
  * then OrNull/OrDefault); the documented alternate spelling with
  * -OrNull/-OrDefault before -If (`avgOrNullIf`) is registered too.
  */
object ChCombinators {

  private val nullL = Literal(null, NullType)

  /** Per-row double fold of an array — the -Array element reduction
    * for sum/avg (same contract as CollectionFns' arraySum). */
  private def foldSum(arr: Expression): Expression = {
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    builtin("aggregate")(Seq(arr, Literal(0.0),
      LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x))))
  }

  /** The aggregate for one (base, -Array?, -Distinct?) combination
    * over cond-wrapped row-level inputs. */
  private def agg(base: String, arr: Boolean, dist: Boolean,
      cond: Option[Expression], vals: Seq[Expression]): Expression = {
    def c(e: Expression): Expression = cond.fold(e)(p => If(p, e, nullL))
    if (!arr) {
      val x = c(if (vals.isEmpty) Literal(1) else vals.head)
      base match {
        case "sum"   => Sum(x).toAggregateExpression(dist)
        case "count" => Count(Seq(x)).toAggregateExpression(dist)
        case "avg"   => Average(x).toAggregateExpression(dist)
        case "min"   => Min(x).toAggregateExpression()
        case "max"   => Max(x).toAggregateExpression()
        case "uniq"  => builtin("approx_count_distinct")(Seq(x))
        case "uniqExact" => Count(Seq(x)).toAggregateExpression(isDistinct = true)
        case "groupArray"     => CollectList(x).toAggregateExpression()
        case "groupUniqArray" => CollectSet(x).toAggregateExpression()
      }
    } else {
      val a = vals.head
      base match {
        case "sum" => Sum(c(foldSum(a))).toAggregateExpression()
        // countArray = Σ sizes; 0 (not NULL) over zero rows, as CH
        case "count" => Coalesce(Seq(
          Sum(c(Cast(builtin("size")(Seq(a)), LongType))).toAggregateExpression(),
          Literal(0L)))
        case "avg" => Divide(
          Sum(c(foldSum(a))).toAggregateExpression(),
          Sum(c(Cast(builtin("size")(Seq(a)), DoubleType))).toAggregateExpression())
        case "min" => Min(c(builtin("array_min")(Seq(a)))).toAggregateExpression()
        case "max" => Max(c(builtin("array_max")(Seq(a)))).toAggregateExpression()
        case "groupArray" =>
          builtin("flatten")(Seq(CollectList(c(a)).toAggregateExpression()))
        case "groupUniqArray" => builtin("array_distinct")(Seq(
          builtin("flatten")(Seq(CollectList(c(a)).toAggregateExpression()))))
      }
    }
  }

  /** How many inputs the chain actually aggregated — drives -OrNull /
    * -OrDefault. Never NULL itself (coalesced to 0). */
  private def accepted(arr: Boolean, cond: Option[Expression],
      vals: Seq[Expression]): Expression = {
    def c(e: Expression): Expression = cond.fold(e)(p => If(p, e, nullL))
    if (!arr)
      Count(Seq(c(if (vals.isEmpty) Literal(1) else vals.head)))
        .toAggregateExpression()
    else Coalesce(Seq(
      Sum(c(Cast(builtin("size")(Seq(vals.head)), LongType)))
        .toAggregateExpression(),
      Literal(0L)))
  }

  private def make(base: String, arr: Boolean, dist: Boolean,
      hasIf: Boolean, post: String): Builder = { es =>
    val (vals, cond) = if (hasIf) (es.init, Some(es.last)) else (es, None)
    val b = agg(base, arr, dist, cond, vals)
    post match {
      case "OrNull" =>
        If(EqualTo(accepted(arr, cond, vals), Literal(0L)), nullL, b)
      case "OrDefault" => Coalesce(Seq(b, Literal(0)))
      case _ => b
    }
  }

  private val bases =
    Seq("sum", "count", "avg", "min", "max", "uniq", "uniqExact",
      "groupArray", "groupUniqArray")
  private val arrayable =
    Set("sum", "count", "avg", "min", "max", "groupArray", "groupUniqArray")
  private val distinctable = Set("sum", "avg", "count")
  private val defaultable =
    Set("sum", "count", "avg", "min", "max", "uniq", "uniqExact")
  /** Names StatFns defines by hand (kept there — identical semantics). */
  private val handWritten = Set("sumIf", "avgIf", "countIf", "minIf", "maxIf")

  /** name → builder for every generated combinator chain. */
  private[graft] lazy val generated: Seq[(String, Builder)] = {
    val entries = for {
      b     <- bases
      arr   <- Seq(false, true) if !arr || arrayable(b)
      dist  <- Seq(false, true) if !dist || (!arr && distinctable(b))
      hasIf <- Seq(false, true)
      post  <- Seq("", "OrNull", "OrDefault") if post.isEmpty || defaultable(b)
      if arr || dist || hasIf || post.nonEmpty
    } yield {
      val stem = b + (if (arr) "Array" else "") + (if (dist) "Distinct" else "")
      val builder = make(b, arr, dist, hasIf, post)
      val canonical = stem + (if (hasIf) "If" else "") + post
      // CH docs also spell -OrNull/-OrDefault before -If: avgOrNullIf
      val alternate =
        if (hasIf && post.nonEmpty) Seq((stem + post + "If") -> builder)
        else Nil
      (canonical -> builder) +: alternate
    }
    entries.flatten
      .filterNot { case (n, _) => handWritten(n) }
      .distinctBy(_._1)
  }
}
