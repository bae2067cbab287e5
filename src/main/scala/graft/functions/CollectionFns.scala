package graft.functions

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import FnBuilders._

/** Arrays, maps, tuples and the bitmap family (bitmaps realized as
  * sorted distinct arrays). Higher-order names follow the reference's
  * lambda-FIRST argument order; Spark validates that a function
  * receiving a user lambda resolves to ONE top-level higher-order
  * function, so composites that take a user lambda keep such a node
  * at the root, while plan-built lambdas may nest freely. */
private[graft] object CollectionFns {

  /** Per-row keywise map combine: mapAdd / mapSubtract over N maps —
    * keys = sorted distinct union, values summed (later maps negated
    * for subtract), missing keys contribute 0. */
  private def mapCombineRows(es: Seq[Expression],
      subtract: Boolean): Expression = {
    val allKeys = builtin("array_distinct")(Seq(builtin("concat")(
      es.map(m => builtin("map_keys")(Seq(m))))))
    val k = UnresolvedNamedLambdaVariable(Seq("k"))
    val valueOf = es.zipWithIndex.map { case (m, idx) =>
      val v = Coalesce(Seq(
        Cast(builtin("element_at")(Seq(m, k)), DoubleType), Literal(0.0)))
      if (subtract && idx > 0) UnaryMinus(v) else v
    }.reduce[Expression]((x, y) => Add(x, y))
    builtin("map_from_entries")(Seq(builtin("transform")(Seq(
      builtin("sort_array")(Seq(allKeys)),
      LambdaFunction(CreateNamedStruct(Seq(
        Literal("key"), k, Literal("value"), valueOf)), Seq(k))))))
  }

  private def mapMergeRightWins(a: Expression, b: Expression): Expression = {
    val kept = builtin("filter")(Seq(
      builtin("map_entries")(Seq(a)),
      lam1("__g2_x")(e => Not(builtin("array_contains")(Seq(
        builtin("map_keys")(Seq(b)), fld(e, "key")))))))
    builtin("map_from_entries")(Seq(
      Concat(Seq(kept, builtin("map_entries")(Seq(b))))))
  }

  /** The user lambda's single variable substituted by `ref` inside its
    * body (pre-analysis, so both the parsed UnresolvedAttribute form
    * and an already-bound lambda variable are matched). */
  private def subst1(f: Expression, ref: Expression): Expression = f match {
    case LambdaFunction(body, Seq(v: UnresolvedNamedLambdaVariable), _) =>
      body.transformUp {
        case a: UnresolvedAttribute if a.nameParts == v.nameParts => ref
        case lv: UnresolvedNamedLambdaVariable
            if lv.nameParts == v.nameParts => ref
      }
    case _ => throw new IllegalArgumentException(
      "expected a one-argument lambda as the first argument")
  }

  // The lambda-first array search functions are built with
  // ArrayAggregate at the root and the user body substituted into the
  // fold.

  private def arrayAggregate(arr: Expression, zero: Expression,
      step: (Expression, Expression) => Expression,
      fin: Expression => Expression): Expression =
    builtin("aggregate")(Seq(arr, zero, lam2("__g3_a", "__g3_b")(step), lam1("__g3_x")(fin)))

  /** no-match value is NULL (the reference returns the element type's
    * default; a Spark column has no non-null default to synthesize). */
  private def arrayFirstLast(last: Boolean): Builder = { es =>
    val arr = es(1)
    val zero = CreateNamedStruct(Seq(
      Literal("f"), Literal(false),
      Literal("v"), builtin("get")(Seq(arr, Literal(0)))))
    arrayAggregate(arr, zero,
      (acc, x) => {
        val hit = Cast(subst1(es.head, x), BooleanType)
        val take = if (last) hit else And(Not(fld(acc, "f")), hit)
        If(take,
          CreateNamedStruct(Seq(Literal("f"), Literal(true),
            Literal("v"), x)),
          acc)
      },
      a => If(fld(a, "f"), fld(a, "v"),
        If(Literal(true), Literal(null), fld(a, "v"))))
  }

  private def arrayFirstLastIndex(last: Boolean): Builder = { es =>
    val arr = es(1)
    val zero = CreateNamedStruct(Seq(
      Literal("i"), Literal(0), Literal("idx"), Literal(0)))
    arrayAggregate(arr, zero,
      (acc, x) => {
        val i1 = Add(fld(acc, "i"), Literal(1))
        val hit = Cast(subst1(es.head, x), BooleanType)
        val take =
          if (last) hit else And(EqualTo(fld(acc, "idx"), Literal(0)), hit)
        CreateNamedStruct(Seq(
          Literal("i"), i1,
          Literal("idx"), If(take, i1, fld(acc, "idx"))))
      },
      a => fld(a, "idx"))
  }

  /** arrayFill(f, arr): scan left→right; where f(x) is false the
    * element is replaced by its (possibly already replaced) left
    * neighbor — the first element is never replaced (CH doc
    * semantics). Reverse form = reverse → fill → reverse. */
  private def arrayFillB(f: Expression, arr0: Expression,
      rev: Boolean): Expression = {
    // the reverse form runs the same fold over the reversed array and
    // un-reverses in the FINISH lambda — keeping ArrayAggregate at the
    // root (Spark requires a function receiving a lambda to resolve
    // to a HigherOrderFunction)
    val arr = if (rev) builtin("reverse")(Seq(arr0)) else arr0
    arrayAggregate(arr,
      builtin("slice")(Seq(arr, Literal(1), Literal(0))), // typed empty
      (acc, x) => {
        val keep = Or(Cast(subst1(f, x), BooleanType),
          EqualTo(builtin("size")(Seq(acc)), Literal(0)))
        val v = If(keep, x, builtin("element_at")(Seq(acc, Literal(-1))))
        builtin("concat")(Seq(acc, builtin("array")(Seq(v))))
      },
      a => if (rev) builtin("reverse")(Seq(a)) else a)
  }

  private def arraySplitB(right: Boolean): Builder = { es =>
    val arr = es(1)
    val emptyElem = builtin("slice")(Seq(arr, Literal(1), Literal(0)))
    val emptyOut = builtin("array_repeat")(Seq(arr, Literal(0)))
    val zero = CreateNamedStruct(Seq(
      Literal("out"), emptyOut,
      Literal("cur"), emptyElem,
      Literal("n"), Literal(0)))
    arrayAggregate(arr, zero,
      (acc, x) => {
        val hit = Cast(subst1(es.head, x), BooleanType)
        val out = fld(acc, "out"); val cur = fld(acc, "cur")
        val n = Add(fld(acc, "n"), Literal(1))
        if (!right) {
          // cut on the LEFT of a flagged element (not before the first)
          val cut = And(hit, GreaterThan(builtin("size")(Seq(cur)),
            Literal(0)))
          CreateNamedStruct(Seq(
            Literal("out"), If(cut,
              Concat(Seq(out, CreateArray(Seq(cur)))), out),
            Literal("cur"), If(cut, CreateArray(Seq(x)),
              Concat(Seq(cur, CreateArray(Seq(x))))),
            Literal("n"), n))
        } else {
          // cut on the RIGHT of a flagged element
          val cur1 = Concat(Seq(cur, CreateArray(Seq(x))))
          CreateNamedStruct(Seq(
            Literal("out"), If(hit,
              Concat(Seq(out, CreateArray(Seq(cur1)))), out),
            Literal("cur"), If(hit, emptyElem, cur1),
            Literal("n"), n))
        }
      },
      a => If(GreaterThan(builtin("size")(Seq(fld(a, "cur"))), Literal(0)),
        Concat(Seq(fld(a, "out"), CreateArray(Seq(fld(a, "cur"))))),
        fld(a, "out")))
  }

  // Tuple arithmetic is element-wise over CH tuples (structs). Arity
  // must be knowable at build time, so operands must be written as
  // tuple(...) in place; anything else refuses with guidance.

  private def structFields(e: Expression, fn: String): Seq[Expression] =
    e match {
      case CreateNamedStruct(kids) =>
        kids.grouped(2).map(_.last).toSeq
      case other => throw new UnsupportedOperationException(
        s"$fn needs its tuple operands written in place — " +
          s"$fn(tuple(a, b), tuple(c, d)) — got $other")
    }

  private def tupleWise(fn: String,
      op: (Expression, Expression) => Expression): Builder = { es =>
    val a = structFields(es(0), fn)
    val b = structFields(es(1), fn)
    require(a.size == b.size, s"$fn: tuple sizes differ " +
      s"(${a.size} vs ${b.size})")
    tupleOf(a.zip(b).map { case (x, y) => op(x, y) })
  }

  /** CH's value-mapping transform(x, from, to[, default]). The name
    * collides with Spark's transform HOF, so ChSql rewrites lambda-less
    * transform() calls to the internal name chTransformValue. */
  private def transformValue: Builder = { es =>
    require(es.size == 3 || es.size == 4,
      "transform(x, array_from, array_to[, default])")
    val idx = builtin("array_position")(Seq(es(1), es(0)))
    val hit = builtin("element_at")(
      Seq(es(2), Cast(idx, IntegerType)))
    val miss = if (es.size == 4) es(3) else es(0)
    If(GreaterThan(idx, Literal(0L)), hit, miss)
  }

  /** Rebind a CH (k, v) map lambda onto a map_entries element. */
  private def entryLambda(es: Seq[Expression],
      fn: String): (Expression, Expression) = es.head match {
    case LambdaFunction(body,
        Seq(k: UnresolvedNamedLambdaVariable,
            v: UnresolvedNamedLambdaVariable), _) =>
      val e = fresh("e")
      val nb = body.transformUp {
        case x: UnresolvedNamedLambdaVariable if x.nameParts == k.nameParts =>
          fld(e, "key")
        case x: UnresolvedNamedLambdaVariable if x.nameParts == v.nameParts =>
          fld(e, "value")
      }
      (LambdaFunction(nb, Seq(e)), es(1))
    case _ => throw new IllegalArgumentException(s"$fn((k, v) -> cond, map)")
  }

  /** arrayShingles(arr, n): consecutive length-n windows, in order;
    * fewer than n elements → empty; NULL array → NULL; n ≤ 0 raises
    * (the reference errors on a non-positive shingle length). The
    * empty case reuses a slice of the one-window transform so its
    * element type matches without naming the unresolved element
    * type; the raise rides assert_true inside the guard branch so it
    * only fires when that branch is reached. */
  private def arrayShingles(es: Seq[Expression]): Expression = {
    val arr = es(0)
    val n = Cast(es(1), IntegerType)
    val i = fresh("i")
    def windows(count: Expression): Expression =
      builtin("transform")(Seq(
        builtin("sequence")(Seq(Literal(1), count)),
        LambdaFunction(builtin("slice")(Seq(arr, i, n)), Seq(i))))
    val sz = builtin("size")(Seq(arr))
    val empty = builtin("slice")(Seq(windows(Literal(1)), Literal(1), Literal(0)))
    val raise = builtin("assert_true")(Seq(GreaterThan(n, Literal(0)),
      Literal("arrayShingles: shingle length must be a positive integer")))
    If(IsNull(arr), Literal(null),
      If(IsNotNull(raise), empty,
        If(GreaterThanOrEqual(sz, n),
          windows(Add(Subtract(sz, n), Literal(1))),
          empty)))
  }

  /** The emptyArray<T>() family — typed empty-array literals, with
    * the unsigned types widened the way the DDL type map widens them. */
  private def emptyArrayAliases: Seq[(String, Builder)] = Seq(
    "emptyArrayInt8" -> ByteType, "emptyArrayInt16" -> ShortType,
    "emptyArrayInt32" -> IntegerType, "emptyArrayInt64" -> LongType,
    "emptyArrayUInt8" -> ShortType, "emptyArrayUInt16" -> IntegerType,
    "emptyArrayUInt32" -> LongType, "emptyArrayUInt64" -> LongType,
    "emptyArrayFloat32" -> FloatType, "emptyArrayFloat64" -> DoubleType,
    "emptyArrayString" -> StringType, "emptyArrayDate" -> DateType,
    "emptyArrayDateTime" -> TimestampType
  ).map { case (n, t) =>
    n -> ((_: Seq[Expression]) =>
      Literal.create(Array.empty[Any], ArrayType(t)): Expression)
  }

  def aliases: Seq[(String, Builder)] = Seq[(String, Builder)](
    // lambda-first higher-order functions
    // (transform(arr, x -> casts(x)) is later collapsed to an
    // array-level Cast by the CastTransformRewrite optimizer rule —
    // the builder itself must return a HigherOrderFunction whenever
    // it was called with a lambda, so the rewrite can't happen here)
    "arrayMap"    -> { es => builtin("transform")(Seq(es(1), es(0))) },
    "arrayFilter" -> { es => builtin("filter")(Seq(es(1), es(0))) },
    "arrayExists" -> { es => builtin("exists")(Seq(es(1), es(0))) },
    "arrayAll"    -> { es => builtin("forall")(Seq(es(1), es(0))) },
    // arrayFold(λ(acc,x), arr, init) is EXACTLY Spark's aggregate with
    // the lambda moved last — the one user-lambda name that maps 1:1
    "arrayFold" -> { es => builtin("aggregate")(Seq(es(1), es(2), es(0))) },
    "arrayFill" -> { es => arrayFillB(es.head, es(1), rev = false) },
    "arrayReverseFill" -> { es => arrayFillB(es.head, es(1), rev = true) },
    "arrayFirst" -> arrayFirstLast(last = false),
    "arrayLast"  -> arrayFirstLast(last = true),
    "arrayFirstIndex" -> arrayFirstLastIndex(last = false),
    "arrayLastIndex"  -> arrayFirstLastIndex(last = true),
    // arrayCount([f,] arr): matching elements (truthy without lambda)
    "arrayCount" -> { es =>
      val (f, arr) =
        if (es.size == 1) (None, es.head) else (Some(es.head), es(1))
      arrayAggregate(arr, Literal(0),
        (acc, x) => {
          val hit = f match {
            case Some(l) => Cast(subst1(l, x), BooleanType)
            case None => Not(EqualTo(Cast(x, DoubleType), Literal(0.0)))
          }
          Add(acc, If(hit, Literal(1), Literal(0)))
        },
        a => a) },
    // split BEFORE each element the lambda flags (first group always
    // starts at element 1); empty input → empty result
    "arraySplit" -> arraySplitB(right = false),
    // split AFTER each flagged element
    "arrayReverseSplit" -> arraySplitB(right = true),

    // element access and containment
    "has"           -> builtin("array_contains"),
    "hasAny" -> builtin("arrays_overlap"),
    "hasAll" -> { es =>
      val x = fresh("e")
      ArrayForAll(es(1), LambdaFunction(ArrayContains(es(0), x), Seq(x)))
    },
    "hasSubstr" -> { es =>
      val (a, b) = (es(0), es(1))
      val la = builtin("size")(Seq(a)); val lb = builtin("size")(Seq(b))
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      If(EqualTo(lb, Literal(0)), Literal(true),
        If(GreaterThan(lb, la), Literal(false),
          builtin("exists")(Seq(
            builtin("sequence")(Seq(Literal(1),
              Add(Subtract(la, lb), Literal(1)))),
            LambdaFunction(
              EqualTo(builtin("slice")(Seq(a, i, lb)), b), Seq(i)))))) },
    "indexOf"       -> builtin("array_position"),
    // arr[n] 1-based with negative-from-end, exactly element_at
    "arrayElement" -> builtin("element_at"),
    // countEqual(arr, v): size of the matching filter — the lambda is
    // constructed HERE (user lambdas can't alias to nested HOFs, a
    // plan-built one can)
    "countEqual" -> { es =>
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      builtin("size")(Seq(builtin("filter")(Seq(es(0),
        LambdaFunction(EqualNullSafe(x, es(1)), Seq(x)))))) },

    // construction and reshaping
    // range(end) / range(start, end[, step]) — half-open like CH, so
    // sequence runs to end-1 (sequence's stop is inclusive; for a
    // positive step the last element ≤ end-1 matches range exactly)
    "range" -> { es =>
      val longs = es.map(e => Cast(e, LongType))
      val (start, end, step) = es.size match {
        case 1 => (Literal(0L): Expression, longs(0), Seq.empty[Expression])
        case 2 => (longs(0), longs(1), Seq.empty[Expression])
        case _ => (longs(0), longs(1), Seq(longs(2)))
      }
      If(LessThanOrEqual(end, start),
        Literal.create(Array.empty[Long], ArrayType(LongType)),
        builtin("sequence")(Seq(start, Subtract(end, Literal(1L))) ++ step)) },
    // arrayWithConstant(n, x) — CH's arg order, Spark's array_repeat
    "arrayWithConstant" -> { es =>
      builtin("array_repeat")(Seq(es(1), es(0))) },
    "arrayConcat"   -> builtin("concat"),
    "arrayPushBack" -> { es => builtin("concat")(
      Seq(es(0), CreateArray(Seq(es(1))))) },
    "arrayPushFront" -> { es => builtin("concat")(
      Seq(CreateArray(Seq(es(1))), es(0))) },
    "arrayPopBack" -> { es =>
      val sz = builtin("size")(Seq(es.head))
      builtin("slice")(Seq(es.head, Literal(1),
        builtin("greatest")(Seq(Subtract(sz, Literal(1)), Literal(0))))) },
    "arrayPopFront" -> { es =>
      val sz = builtin("size")(Seq(es.head))
      builtin("slice")(Seq(es.head, Literal(2),
        builtin("greatest")(Seq(Subtract(sz, Literal(1)), Literal(0))))) },
    // arrayResize(arr, n, pad): shrink = slice, grow = append pads.
    // The 2-arg form pads with the ELEMENT TYPE's default, which a
    // generic rewrite cannot synthesize — require the pad explicitly.
    "arrayResize" -> { es =>
      if (es.size < 3) throw new UnsupportedOperationException(
        "arrayResize needs the 3-arg form (arr, size, pad): the 2-arg " +
          "form pads with the element type's default — pass the pad " +
          "element explicitly")
      val sz = builtin("size")(Seq(es(0)))
      val n = Cast(es(1), IntegerType)
      If(LessThanOrEqual(n, sz),
        builtin("slice")(Seq(es(0), Literal(1), n)),
        builtin("concat")(Seq(es(0),
          builtin("array_repeat")(Seq(es(2), Subtract(n, sz)))))) },
    "arraySlice"   -> builtin("slice"),
    "arrayReverse" -> builtin("reverse"),
    "arrayFlatten" -> builtin("flatten"),
    "arrayZip"  -> builtin("arrays_zip"),
    "arrayZipUnaligned" -> builtin("arrays_zip"), // null-pads, CH contract
    "arrayShingles" -> arrayShingles _,
    "arrayJoin"     -> builtin("explode"),
    "arrayStringConcat" -> builtin("array_join"),
    "arrayRotateLeft" -> { es =>
      val len = builtin("size")(Seq(es.head))
      val n = If(GreaterThan(len, Literal(0)),
        Pmod(Cast(es(1), IntegerType), len), Literal(0))
      Concat(Seq(
        builtin("slice")(Seq(es.head, Add(n, Literal(1)),
          Subtract(len, n))),
        builtin("slice")(Seq(es.head, Literal(1), n)))) },
    "arrayRotateRight" -> { es =>
      val len = builtin("size")(Seq(es.head))
      val n = If(GreaterThan(len, Literal(0)),
        Pmod(UnaryMinus(Cast(es(1), IntegerType)), len), Literal(0))
      Concat(Seq(
        builtin("slice")(Seq(es.head, Add(n, Literal(1)),
          Subtract(len, n))),
        builtin("slice")(Seq(es.head, Literal(1), n)))) },
    "arrayShiftLeft" -> { es =>
      val len = builtin("size")(Seq(es.head))
      val n = Least(Seq(
        Greatest(Seq(Cast(es(1), IntegerType), Literal(0))), len))
      val fill = if (es.size > 2) es(2) else Literal(0)
      Concat(Seq(
        builtin("slice")(Seq(es.head, Add(n, Literal(1)),
          Subtract(len, n))),
        builtin("array_repeat")(Seq(fill, n)))) },
    "arrayShiftRight" -> { es =>
      val len = builtin("size")(Seq(es.head))
      val n = Least(Seq(
        Greatest(Seq(Cast(es(1), IntegerType), Literal(0))), len))
      val fill = if (es.size > 2) es(2) else Literal(0)
      Concat(Seq(
        builtin("array_repeat")(Seq(fill, n)),
        builtin("slice")(Seq(es.head, Literal(1), Subtract(len, n))))) },

    // ordering and sets
    "arraySort"     -> builtin("sort_array"),
    "arrayReverseSort" -> { es =>
      builtin("sort_array")(Seq(es.head, Literal(false))) },
    // CH contract: first `limit` positions sorted, the rest
    // unspecified — a fully sorted array satisfies it and is the
    // only deterministic spelling
    "arrayPartialSort" -> { es =>
      builtin("sort_array")(Seq(es.last)) },
    "arrayPartialReverseSort" -> { es =>
      builtin("sort_array")(Seq(es.last, Literal(false))) },
    "arrayShuffle" -> { es => builtin("shuffle")(es) },
    "arrayRandomSample" -> { es =>
      builtin("slice")(Seq(builtin("shuffle")(Seq(es(0))),
        Literal(1), es(1))) },
    "arrayDistinct" -> builtin("array_distinct"),
    "arrayUniq" -> { es =>
      builtin("size")(Seq(builtin("array_distinct")(es))) },
    // arrayEnumerate([]) must be [], and sequence(1, 0) throws —
    // guard the empty case explicitly
    "arrayEnumerate" -> { es =>
      val sz = builtin("size")(es)
      If(EqualTo(sz, Literal(0)),
        Literal.create(Array.empty[Int], ArrayType(IntegerType)),
        builtin("sequence")(Seq(Literal(1), sz))) },
    // arrayEnumerateUniq: 1-based occurrence rank of each element
    // among its equals so far — the CH first-occurrence-in-array
    // idiom (x = 1 keeps firsts). O(len²) per row via the indexed
    // lambda; the reference's hash pass is O(len), but arrays here
    // are row-local and small by design
    "arrayEnumerateUniq" -> { es =>
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      val y = UnresolvedNamedLambdaVariable(Seq("y"))
      builtin("transform")(Seq(es.head, LambdaFunction(
        builtin("size")(Seq(builtin("filter")(Seq(
          builtin("slice")(Seq(es.head, Literal(1), Add(i, Literal(1)))),
          LambdaFunction(EqualNullSafe(y, x), Seq(y)))))),
        Seq(x, i)))) },
    // dense enumeration: index of each value in the distinct list
    "arrayEnumerateDense" -> { es =>
      val d = builtin("array_distinct")(Seq(es.head))
      builtin("transform")(Seq(es.head,
        lam1("__g2_x")(x => builtin("array_position")(Seq(d, x))))) },
    // collapse CONSECUTIVE duplicates (not array_distinct) — native
    // single-pass kernel, any orderable element type
    "arrayCompact" -> { es => ArrayCompactExpr(es(0)) },
    "arrayIntersect"   -> builtin("array_intersect"),
    "arrayUnion" -> { es =>
      es.reduceLeft((a, b) => builtin("array_union")(Seq(a, b))) },
    "arraySymmetricDifference" -> { es =>
      // elements NOT present in every array: union minus intersect
      val union = es.reduceLeft((a, b) => builtin("array_union")(Seq(a, b)))
      val inter = es.reduceLeft((a, b) => builtin("array_intersect")(Seq(a, b)))
      builtin("array_except")(Seq(union, inter)) },
    // arrayJaccardIndex(a, b) = |a ∩ b| / |a ∪ b| over DISTINCT
    // elements (CH 23.7+ name)
    "arrayJaccardIndex" -> { es =>
      val inter = builtin("size")(Seq(builtin("array_intersect")(es)))
      val union = builtin("size")(Seq(builtin("array_distinct")(
        Seq(builtin("concat")(es)))))
      Divide(Cast(inter, DoubleType), Cast(union, DoubleType)) },

    // folds
    // arraySum folds in double (CH returns the widest numeric; the
    // double fold is exact for the 2^53 integer range)
    "arraySum" -> { es =>
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      builtin("aggregate")(Seq(es(0), Literal(0.0),
        LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)))) },
    "arrayAvg" -> { es =>
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      Divide(
        builtin("aggregate")(Seq(es(0), Literal(0.0),
          LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)))),
        Cast(builtin("size")(es), DoubleType)) },
    "arrayMin"  -> builtin("array_min"),
    "arrayMax"  -> builtin("array_max"),
    // double fold like arraySum — native kernel (null element → null,
    // empty → 1.0, matching the lambda fold it replaces)
    "arrayProduct" -> { es =>
      ArrayProductExpr(Cast(es(0), ArrayType(DoubleType))) },
    // running prefix sums — native O(n) codegen'd kernel
    // (graft.functions.ArrayCumSumExpr; the Cast is codegen'd too)
    "arrayCumSum" -> { es =>
      ArrayCumSumExpr(Cast(es(0), ArrayType(DoubleType))) },
    // cumulative sum clamped at zero whenever it would go negative
    "arrayCumSumNonNegative" -> { es =>
      val accV = UnresolvedNamedLambdaVariable(Seq("__ccn_acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("__ccn_x"))
      val fin = UnresolvedNamedLambdaVariable(Seq("__ccn_fin"))
      val run = fld(accV, "run"); val out = fld(accV, "out")
      val next = Greatest(Seq(Add(run, Cast(x, DoubleType)),
        Literal(0.0)))
      builtin("aggregate")(Seq(es.head,
        CreateNamedStruct(Seq(
          Literal("run"), Literal(0.0),
          Literal("out"),
          builtin("array_repeat")(Seq(Literal(0.0), Literal(0))))),
        LambdaFunction(CreateNamedStruct(Seq(
          Literal("run"), next,
          Literal("out"), Concat(Seq(out, CreateArray(Seq(next)))))),
          Seq(accV, x)),
        LambdaFunction(fld(fin, "out"), Seq(fin)))) },
    // [0, a[1]-a[0], a[2]-a[1], …] — CH's first element is 0; native
    // single-pass kernel (ArrayDifferenceExpr)
    "arrayDifference" -> { es =>
      ArrayDifferenceExpr(Cast(es(0), ArrayType(DoubleType))) },
    "arrayReduce" -> { es =>
      val arr = es(1)
      val name = strLit(es.head, "arrayReduce", "aggregate name").toLowerCase
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      def dsum = builtin("aggregate")(Seq(arr, Literal(0.0),
        LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x))))
      name match {
        case "sum"   => dsum
        case "min"   => builtin("array_min")(Seq(arr))
        case "max"   => builtin("array_max")(Seq(arr))
        case "count" => Cast(builtin("size")(Seq(arr)), LongType)
        case "avg"   => Divide(dsum,
          Cast(builtin("size")(Seq(arr)), DoubleType))
        case "uniqexact" | "uniq" => Cast(builtin("size")(
          Seq(builtin("array_distinct")(Seq(arr)))), LongType)
        case "any"   => builtin("element_at")(Seq(arr, Literal(1)))
        case "anylast" => builtin("element_at")(Seq(arr, Literal(-1)))
        case other => throw new IllegalArgumentException(
          s"arrayReduce: unsupported aggregate '$other' " +
            "(sum/min/max/count/avg/uniqExact/any/anyLast)")
      } },

    // maps
    "mapKeys"     -> builtin("map_keys"),
    "mapValues"   -> builtin("map_values"),
    "mapContains" -> builtin("map_contains_key"),
    "mapFromArrays" -> { es => builtin("map_from_arrays")(es) },
    // the reference's map HOFs take the lambda FIRST
    "mapFilter" -> { es => builtin("map_filter")(Seq(es(1), es(0))) },
    // mapApply((k,v) -> tuple(k', v'), m). Spark validates that a
    // function receiving a lambda RESOLVES to a HigherOrderFunction,
    // so the tuple body is split at build time into a key expression
    // and a value expression and rebuilt as a transform_values →
    // transform_keys → transform_values chain (original value carried
    // alongside so the key lambda still sees it).
    "mapApply" -> { es =>
      val (kName, vName, body) = es.head match {
        case LambdaFunction(b,
            Seq(k: UnresolvedNamedLambdaVariable,
                v: UnresolvedNamedLambdaVariable), _) =>
          (k.nameParts, v.nameParts, b)
        case _ => throw new IllegalArgumentException(
          "mapApply((k, v) -> tuple(k2, v2), map)")
      }
      val (fk, fv) = body match {
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.arguments.size == 2 &&
              Seq("tuple", "struct").contains(
                f.nameParts.last.toLowerCase) =>
          (f.arguments(0), f.arguments(1))
        case s: CreateNamedStruct if s.valExprs.size == 2 =>
          (s.valExprs(0), s.valExprs(1))
        case _ => throw new IllegalArgumentException(
          "mapApply's lambda must return tuple(key, value)")
      }
      def subst(e: Expression, kRef: Expression,
          vRef: Expression): Expression = e.transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts == kName => kRef
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts == vName => vRef
        case lv: UnresolvedNamedLambdaVariable
            if lv.nameParts == kName => kRef
        case lv: UnresolvedNamedLambdaVariable
            if lv.nameParts == vName => vRef
      }
      def lamKV(f: (Expression, Expression) => Expression): Expression = {
        val a = UnresolvedNamedLambdaVariable(Seq("__ma_k"))
        val b = UnresolvedNamedLambdaVariable(Seq("__ma_v"))
        LambdaFunction(f(a, b), Seq(a, b))
      }
      val paired = builtin("transform_values")(Seq(es(1),
        lamKV((k, v) => CreateNamedStruct(Seq(
          Literal("orig"), v,
          Literal("newv"), subst(fv, k, v))))))
      val keyed = builtin("transform_keys")(Seq(paired,
        lamKV((k, vs) => subst(fk, k, fld(vs, "orig")))))
      builtin("transform_values")(Seq(keyed,
        lamKV((_, vs) => fld(vs, "newv")))) },
    // map HOFs (reference order: lambda FIRST, like mapFilter).
    // Spark's analyzer requires a lambda's RESOLVED parent to be a
    // HigherOrderFunction at the root (the mapApply constraint), so
    // the (k, v) lambda is rebound onto map_entries' (key, value)
    // struct and handed to exists/forall directly.
    "mapExists" -> { es =>
      val (lam, m) = entryLambda(es, "mapExists")
      builtin("exists")(Seq(builtin("map_entries")(Seq(m)), lam)) },
    "mapAll" -> { es =>
      val (lam, m) = entryLambda(es, "mapAll")
      builtin("forall")(Seq(builtin("map_entries")(Seq(m)), lam)) },
    "mapSort" -> { es =>
      if (es.size != 1) throw new UnsupportedOperationException(
        "mapSort(map): the comparator-lambda form is not supported — " +
          "sort the entries explicitly via map_entries/array_sort")
      builtin("map_from_entries")(Seq(
        builtin("array_sort")(Seq(builtin("map_entries")(Seq(es.head)))))) },
    // right map's keys win (the reference's mapUpdate contract)
    "mapUpdate" -> { es => mapMergeRightWins(es(0), es(1)) },
    "mapConcat" -> { es => es.reduce(mapMergeRightWins) },
    "mapAdd"      -> { es => mapCombineRows(es, subtract = false) },
    "mapSubtract" -> { es => mapCombineRows(es, subtract = true) },
    // integer keys filled over [min, max] (or explicit max), 0 default
    "mapPopulateSeries" -> { es =>
      val m = es.head
      val keys = builtin("map_keys")(Seq(m))
      val mn = Cast(builtin("array_min")(Seq(keys)), LongType)
      val mx = Cast(
        if (es.size > 1) es(1) else builtin("array_max")(Seq(keys)), LongType)
      val k = UnresolvedNamedLambdaVariable(Seq("k"))
      builtin("map_from_entries")(Seq(builtin("transform")(Seq(
        builtin("sequence")(Seq(mn, mx)),
        LambdaFunction(CreateNamedStruct(Seq(
          Literal("key"), k,
          Literal("value"), Coalesce(Seq(
            builtin("element_at")(Seq(m, k)), Literal(0L))))), Seq(k)))))) },

    // tuples
    // tuple() names elements `_n`, matching the DDL Tuple mapping, so
    // positional tupleElement works on both
    "tuple" -> tupleOf _,
    // tupleElement(t, 1) is 1-based positional over the `_n` fields the
    // DDL Tuple mapping names; tupleElement(t, 'name') is by name
    "tupleElement" -> { es => es(1) match {
      case Literal(i: Int, IntegerType) => fld(es(0), s"_$i")
      case other =>
        UnresolvedExtractValue(es(0), other)
    } },
    "tuplePlus" -> tupleWise("tuplePlus", Add(_, _)),
    "tupleMinus" -> tupleWise("tupleMinus", Subtract(_, _)),
    "tupleMultiply" -> tupleWise("tupleMultiply", Multiply(_, _)),
    "tupleDivide" -> tupleWise("tupleDivide", Divide(_, _)),
    "tupleNegate" -> { es =>
      tupleOf(structFields(es(0), "tupleNegate").map(UnaryMinus(_))) },
    "tupleMultiplyByNumber" -> { es =>
      tupleOf(structFields(es(0), "tupleMultiplyByNumber")
        .map(Multiply(_, es(1)))) },
    "tupleDivideByNumber" -> { es =>
      tupleOf(structFields(es(0), "tupleDivideByNumber")
        .map(Divide(_, es(1)))) },

    // bitmaps: the CH AggregateFunctionGroupBitmapData surface realized
    // as SORTED DISTINCT ARRAYS — a bitmap's semantic contract without
    // a wire-format dependency; every producer sort-normalizes so
    // equal bitmaps compare equal (bitmapBuild is in `aggregates`)
    "bitmapToArray" -> { es => es.head },
    "bitmapCardinality" -> builtin("size"),
    "bitmapMin" -> builtin("array_min"),
    "bitmapMax" -> builtin("array_max"),
    "bitmapContains" -> builtin("array_contains"),
    "bitmapHasAny" -> builtin("arrays_overlap"),
    "bitmapHasAll" -> { es =>
      val x = UnresolvedNamedLambdaVariable(Seq("__bm_x"))
      builtin("forall")(Seq(es(1), LambdaFunction(
        builtin("array_contains")(Seq(es(0), x)), Seq(x)))) },
    "bitmapAnd" -> { es =>
      builtin("sort_array")(Seq(builtin("array_intersect")(es))) },
    "bitmapOr" -> { es =>
      builtin("sort_array")(Seq(builtin("array_union")(es))) },
    "bitmapAndnot" -> { es =>
      builtin("sort_array")(Seq(builtin("array_except")(es))) },
    "bitmapXor" -> { es =>
      builtin("sort_array")(Seq(builtin("array_except")(Seq(
        builtin("array_union")(es), builtin("array_intersect")(es))))) },
    "bitmapAndCardinality" -> { es =>
      builtin("size")(Seq(builtin("array_intersect")(es))) },
    "bitmapOrCardinality" -> { es =>
      builtin("size")(Seq(builtin("array_union")(es))) },
    "bitmapXorCardinality" -> { es =>
      builtin("size")(Seq(builtin("array_except")(Seq(
        builtin("array_union")(es), builtin("array_intersect")(es))))) },
    "bitmapAndnotCardinality" -> { es =>
      builtin("size")(Seq(builtin("array_except")(es))) },
    // bitmap subset ops over the sorted-array bitmap realization
    "bitmapSubsetInRange" -> { es =>
      val x = fresh("x")
      builtin("filter")(Seq(es(0), LambdaFunction(
        And(GreaterThanOrEqual(x, es(1)), LessThan(x, es(2))), Seq(x)))) },
    "bitmapSubsetLimit" -> { es =>
      val x = fresh("x")
      builtin("slice")(Seq(
        builtin("filter")(Seq(es(0), LambdaFunction(
          GreaterThanOrEqual(x, es(1)), Seq(x)))),
        Literal(1), Cast(es(2), IntegerType))) },
    // value remapping: x → to[pos(from, x)] where present, else x;
    // re-sort-normalized so equal bitmaps stay comparable
    "bitmapTransform" -> { es =>
      val x = fresh("x")
      val pos = builtin("array_position")(Seq(es(1), x))
      builtin("sort_array")(Seq(builtin("array_distinct")(Seq(
        builtin("transform")(Seq(es(0), LambdaFunction(
          If(GreaterThan(pos, Literal(0L)),
            builtin("element_at")(Seq(es(2), Cast(pos, IntegerType))), x),
          Seq(x)))))))) },
    "subBitmap" -> { es =>
      builtin("slice")(Seq(es(0),
        Add(Cast(es(1), IntegerType), Literal(1)),
        Cast(es(2), IntegerType))) },

    // value mapping
    "chTransformValue" -> transformValue
  ) ++ emptyArrayAliases

  /** bitmapBuild(x) builds the group's bitmap from its rows' values. */
  def aggregates: Seq[(String, Builder)] = Seq(
    "bitmapBuild" -> { es =>
      builtin("sort_array")(Seq(wrapAgg(builtin("collect_set")(es)))) })
}
