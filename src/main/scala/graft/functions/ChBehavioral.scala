package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import FnBuilders.{bind, builtin, elemAt, fld, fresh, wrapAgg}

/** SQL surface for the reference's behavioral PARAMETRIC aggregates —
  * windowFunnel / retention / sequenceMatch / sequenceCount callable
  * from plain `spark.sql` through the dialect (reference:
  * src/Parsers/ASTFunction.h `parameters` + registry resolution; the
  * operator twins in operators/Behavior.scala carry the bench keys
  * and the algorithm documentation).
  *
  * Each builder returns collect-then-fold Catalyst trees (the
  * movingAgg precedent): one time-sorted `collect_list` aggregate per
  * group, then a scalar fold over the collected array. Semantics are
  * IDENTICAL to the Behavior operators — the ChBehavioralSpec pins
  * SQL-vs-operator equality row for row:
  *  - windowFunnel: latest-viable-chain-start greedy DP, window
  *    anchored at the chain's FIRST event, window parameter in
  *    SECONDS (the DateTime unit CH uses);
  *  - sequenceMatch: ordered-subsequence DP, strictly increasing
  *    times, `(?t<=N)`/`(?t<N)` adjacent-step time conditions in
  *    seconds (per-level (latest, latest-strictly-before) pair DP —
  *    required under gap constraints AND duplicate timestamps);
  *  - sequenceCount: single greedy DFA, non-overlapping chains,
  *    restart after completion;
  *  - retention: pairwise unordered cond1-AND-condK flags.
  */
private[graft] object ChBehavioral {

  /** The group's condition-relevant events as a time-sorted struct
    * array (t: epoch-µs, ord: inverted flags so same-t events fold
    * lower-cond-first, ms: per-cond flags) — the aggregate-expression
    * twin of Behavior.packed. The collect_list carries a FILTER
    * clause keeping only rows where SOME condition holds — the same
    * pre-filter Behavior.packed applies before its groupBy, so the
    * buffered state per group is O(condition events), not O(events)
    * (a 1%-selective condition set would otherwise buffer 100× the
    * state). Groups whose every row fails the filter still exist on
    * the SQL surface (GROUP BY owns the keyset) and fold the empty
    * array to level 0 / matched 0 — the reference's behavior for
    * users with no qualifying events. */
  private def packedAgg(ts: Expression, conds: Seq[Expression],
      keepAll: Boolean = false): Expression = {
    val ms = CreateArray(conds.map(c => Cast(c, BooleanType)))
    val mv = fresh("m")
    val ord = builtin("transform")(
      Seq(ms, LambdaFunction(Not(mv), Seq(mv))))
    val entry = CreateNamedStruct(Seq(
      Literal("t"), builtin("unix_micros")(Seq(ts)),
      Literal("ord"), ord,
      Literal("ms"), ms))
    val hv = fresh("h")
    val anyCond = builtin("exists")(
      Seq(ms, LambdaFunction(hv, Seq(hv))))
    // strict_order funnels keep condition-less events (they interrupt)
    val filt = if (keepAll) None else Some(anyCond)
    builtin("sort_array")(
      Seq(wrapAgg(builtin("collect_list")(Seq(entry)),
        filter = filt)))
  }

  private def nullLongs(n: Int): Expression =
    builtin("array_repeat")(
      Seq(Cast(Literal(null), LongType), Literal(n)))

  private def levelOf(acc: Expression): Expression = {
    val x = fresh("x")
    builtin("size")(Seq(builtin("filter")(
      Seq(acc, LambdaFunction(IsNotNull(x), Seq(x))))))
  }

  private def fold(evs: Expression, init: Expression)(
      body: (Expression, Expression) => Expression): Expression = {
    val acc = fresh("acc")
    val e = fresh("e")
    builtin("aggregate")(
      Seq(evs, init, LambdaFunction(body(acc, e), Seq(acc, e))))
  }

  private def perLevelK(n: Int)(body: Expression => Expression): Expression = {
    val k = fresh("k")
    builtin("transform")(Seq(
      builtin("sequence")(Seq(Literal(0), Literal(n - 1))),
      LambdaFunction(body(k), Seq(k))))
  }

  /** windowFunnel(windowSeconds[, modes])(ts, cond1 … condN) → max
    * level. Modes mirror Behavior.windowFunnelModes (strict_order /
    * strict_deduplication / strict_increase); the no-mode path keeps
    * the leaner latest-start fold. */
  def windowFunnel(windowSeconds: Expression, ts: Expression,
      conds: Seq[Expression], modes: Set[String] = Set.empty): Expression = {
    val bad = modes.diff(graft.operators.Behavior.funnelModes)
    require(bad.isEmpty, s"unsupported windowFunnel mode(s): " +
      bad.mkString(", "))
    val n = conds.size
    val w = Multiply(Cast(windowSeconds, LongType), Literal(1000000L))
    if (modes.isEmpty) {
      val folded = fold(packedAgg(ts, conds), nullLongs(n)) { (acc, e) =>
        perLevelK(n) { k =>
          val t = fld(e, "t")
          val hit = elemAt(fld(e, "ms"), Add(k, Literal(1)))
          val prev = elemAt(acc, k)
          val cur = elemAt(acc, Add(k, Literal(1)))
          If(EqualTo(k, Literal(0)),
            If(hit, Greatest(Seq(cur, t)), cur),
            If(And(And(hit, IsNotNull(prev)),
                LessThanOrEqual(t, Add(prev, w))),
              Greatest(Seq(cur, prev)), cur))
        }
      }
      return levelOf(folded)
    }
    val strictOrder = modes("strict_order")
    val strictDedup = modes("strict_deduplication")
    val strictInc = modes("strict_increase")
    val nullL = Cast(Literal(null), LongType)
    val initLv = builtin("array_repeat")(Seq(
      CreateNamedStruct(Seq(Literal("sA"), nullL, Literal("lA"), nullL,
        Literal("sB"), nullL)),
      Literal(n)))
    val init = CreateNamedStruct(Seq(
      Literal("lv"), initLv, Literal("dead"), Literal(false)))
    def overUpper(body: Expression => Expression): Expression =
      if (n == 1) Literal(false)
      else {
        val k = fresh("k")
        builtin("exists")(Seq(
          builtin("sequence")(Seq(Literal(1), Literal(n - 1))),
          LambdaFunction(body(k), Seq(k))))
      }
    val folded = fold(packedAgg(ts, conds, keepAll = strictOrder), init) {
      (acc, e) =>
        val t = fld(e, "t")
        val ms = fld(e, "ms")
        val lv = fld(acc, "lv")
        val started = IsNotNull(fld(elemAt(lv, Literal(1)), "sA"))
        val hv = fresh("h")
        val anyHit = builtin("exists")(
          Seq(ms, LambdaFunction(hv, Seq(hv))))
        val outOfOrder = overUpper(k => And(elemAt(ms, Add(k, Literal(1))),
          IsNull(fld(elemAt(lv, k), "sA"))))
        val dup = overUpper(k => And(elemAt(ms, Add(k, Literal(1))),
          IsNotNull(fld(elemAt(lv, Add(k, Literal(1))), "sA"))))
        // coalesce: a null condition value must read as "no signal",
        // not poison the dead flag through three-valued Or
        val deadNow = Coalesce(Seq(Or(Or(fld(acc, "dead"),
          if (strictOrder) Or(And(Not(anyHit), started), outOfOrder)
          else Literal(false)),
          if (strictDedup) dup else Literal(false)), Literal(false)))
        val newLv = If(deadNow, lv, perLevelK(n) { k =>
          val hit = elemAt(ms, Add(k, Literal(1)))
          val curP = elemAt(lv, Add(k, Literal(1)))
          val sA = fld(curP, "sA")
          val lA = fld(curP, "lA")
          val prevP = elemAt(lv, k)
          val candUp =
            if (strictInc)
              If(LessThan(fld(prevP, "lA"), t),
                fld(prevP, "sA"), fld(prevP, "sB"))
            else fld(prevP, "sA")
          val cand = If(EqualTo(k, Literal(0)), t, candUp)
          val ext = If(EqualTo(k, Literal(0)), hit,
            And(And(hit, IsNotNull(cand)),
              LessThanOrEqual(t, Add(cand, w))))
          val better = And(ext, Or(IsNull(sA), GreaterThan(cand, sA)))
          If(better, CreateNamedStruct(Seq(
            Literal("sA"), cand, Literal("lA"), t,
            Literal("sB"), If(LessThan(lA, t), sA, fld(curP, "sB")))),
            curP)
        })
        CreateNamedStruct(Seq(
          Literal("lv"), newLv, Literal("dead"), deadNow))
    }
    val p = fresh("p")
    builtin("size")(Seq(builtin("filter")(
      Seq(fld(folded, "lv"), LambdaFunction(IsNotNull(fld(p, "sA")), Seq(p))))))
  }

  /** retention(cond1 … condN) → array<int>, r(k) = c1 && ck. */
  def retention(conds: Seq[Expression]): Expression = {
    val flags = conds.map(c =>
      wrapAgg(builtin("max")(Seq(Cast(c, IntegerType)))))
    CreateArray(flags.head +: flags.tail.map(f => Multiply(flags.head, f)))
  }

  /** One parsed pattern step: which cond it references (1-based) and
    * the adjacent-gap bound in µs from the PREVIOUS step (None = `.*`,
    * i.e. unconstrained). */
  final case class Step(condIdx: Int, gapMicros: Option[Long])

  /** Parse the CH pattern subset `(?N)` separated by `.*` or
    * `(?t<=S)` / `(?t<S)` (seconds). Anything else refuses loudly. */
  def parsePattern(pat: String, nConds: Int): Seq[Step] = {
    val refRe = """\(\?(\d+)\)""".r
    val timeRe = """\(\?t\s*(<=|<)\s*(\d+)\)""".r
    var rest = pat.trim
    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    var pendingGap: Option[Long] = None
    var first = true
    while (rest.nonEmpty) {
      refRe.findPrefixMatchOf(rest) match {
        case Some(m) =>
          val idx = m.group(1).toInt
          require(idx >= 1 && idx <= nConds,
            s"pattern step (?$idx) out of range: only $nConds condition(s) given")
          require(first || steps.nonEmpty, "pattern must start with (?N)")
          steps += Step(idx, if (first) None else pendingGap)
          pendingGap = None
          first = false
          rest = rest.substring(m.end)
        case None =>
          timeRe.findPrefixMatchOf(rest) match {
            case Some(m) =>
              require(!first, "pattern cannot start with a time condition")
              val secs = m.group(2).toLong
              val micros =
                if (m.group(1) == "<=") secs * 1000000L
                else secs * 1000000L - 1L // strict < in µs
              pendingGap = Some(pendingGap.fold(micros)(math.min(_, micros)))
              rest = rest.substring(m.end)
            case None if rest.startsWith(".*") =>
              rest = rest.substring(2)
            case None => throw new UnsupportedOperationException(
              s"unsupported sequence pattern fragment at: '$rest' — " +
                "supported: (?N), .*, (?t<=S), (?t<S)")
          }
      }
    }
    require(steps.nonEmpty, s"empty sequence pattern: '$pat'")
    steps.toSeq
  }

  private def stepArrays(steps: Seq[Step]): (Expression, Expression) = (
    CreateArray(steps.map(s => Literal(s.condIdx))),
    CreateArray(steps.map(s =>
      Literal.create(s.gapMicros.orNull, LongType))))

  /** sequenceMatch(pattern)(ts, cond1 … condN) → 0/1. Pair-DP per
    * level — (l1, l2) = latest completion time and latest completion
    * strictly before l1 — so extension at time t always sees the
    * latest completion strictly earlier than t even when a same-t
    * event overwrote l1 (duplicate timestamps are the norm at CH's
    * second granularity). Valid with and without per-step gap bounds:
    * if any completion lies in [t-gap, t), the latest-before-t one
    * does too. Mirrors Behavior.sequenceMatch's constrained branch. */
  def sequenceMatch(pattern: String, ts: Expression,
      conds: Seq[Expression]): Expression = {
    val steps = parsePattern(pattern, conds.size)
    val n = steps.size
    val (idxArr, gapArr) = stepArrays(steps)
    val nullL = Cast(Literal(null), LongType)
    val init = builtin("array_repeat")(Seq(
      CreateNamedStruct(Seq(Literal("l1"), nullL, Literal("l2"), nullL)),
      Literal(n)))
    val folded = fold(packedAgg(ts, conds), init) { (acc, e) =>
      perLevelK(n) { k =>
        val t = fld(e, "t")
        val hit = elemAt(fld(e, "ms"), elemAt(idxArr, Add(k, Literal(1))))
        val prevP = elemAt(acc, k)
        val curP = elemAt(acc, Add(k, Literal(1)))
        val gap = elemAt(gapArr, Add(k, Literal(1)))
        val cl1 = fld(curP, "l1")
        // latest level-k completion strictly before t (l2 < l1 ≤ t)
        val usable = If(LessThan(fld(prevP, "l1"), t),
          fld(prevP, "l1"), fld(prevP, "l2"))
        val extend = If(EqualTo(k, Literal(0)), hit,
          And(And(hit, IsNotNull(usable)),
            Or(IsNull(gap), LessThanOrEqual(Subtract(t, usable), gap))))
        val pushed = CreateNamedStruct(Seq(
          Literal("l1"), Greatest(Seq(cl1, t)),
          Literal("l2"), If(And(IsNotNull(cl1), GreaterThan(t, cl1)),
            cl1, fld(curP, "l2"))))
        If(extend, pushed, curP)
      }
    }
    val p = fresh("p")
    val lvl = builtin("size")(Seq(builtin("filter")(
      Seq(folded, LambdaFunction(IsNotNull(fld(p, "l1")), Seq(p))))))
    Cast(EqualTo(lvl, Literal(n)), IntegerType)
  }

  /** sequenceNextNode(direction, base)(ts, event, base_cond,
    * cond1 … condK) → the event value right after the matched
    * CONSECUTIVE-event chain, else NULL (public CH semantics;
    * reference parser: ASTFunction.h parameters + arguments).
    *
    *  - direction 'forward' scans the time-ascending event list,
    *    'backward' the reversed one (so the "next" node is the event
    *    just BEFORE the chain in wall-clock order);
    *  - base 'head' anchors the chain at the first event ('tail' at
    *    the last, backward only), 'first_match' / 'last_match' at the
    *    first / last position where the chain matches and the base
    *    condition holds on the anchor event.
    *
    * Per-group state is the full event list — inherent to the
    * semantics (the chain is over consecutive EVENTS, so every event
    * matters; CH's own implementation buffers the same). The fold is
    * array index arithmetic over the sorted collect — one aggregate,
    * no window. */
  /** When a condition reads NOTHING from the row but the event
    * expression itself (the overwhelmingly common CH shape:
    * `event_type = 'click'`), it can be evaluated AFTER the collect,
    * over the collected element — returns the substitution as a
    * function of the element reference. None ⇒ the cond reads other
    * columns (or the raw ts) and must be baked into the entry. */
  private def rebindToEv(c: Expression,
      event: Expression): Option[Expression => Expression] = {
    def clean(e: Expression): Boolean =
      e.semanticEquals(event) || (e match {
        case _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => false
        case _: Attribute => false
        case _ => e.deterministic && e.children.forall(clean)
      })
    if (!clean(c)) None
    else Some(evRef => c.transformUp {
      case e if e.semanticEquals(event) => evRef
    })
  }

  def sequenceNextNode(direction: String, base: String, ts: Expression,
      event: Expression, baseCond: Expression,
      conds: Seq[Expression]): Expression = {
    require(direction == "forward" || direction == "backward",
      s"sequenceNextNode direction must be 'forward' or 'backward', got '$direction'")
    require(Set("head", "tail", "first_match", "last_match")(base),
      s"sequenceNextNode base must be head|tail|first_match|last_match, got '$base'")
    val anchored = (direction, base) match {
      case ("forward", "head") => true
      case ("backward", "tail") => true
      case (_, "head") | (_, "tail") => throw new UnsupportedOperationException(
        s"sequenceNextNode('$direction', '$base') is not a valid pair — " +
          "head goes with forward, tail with backward")
      case _ => false
    }
    val k = conds.size
    // SHARED-COLLECT path (r10 verdict item 4): when every condition
    // is a pure function of the event expression, the collected entry
    // is just (t, ev) — IDENTICAL across all sequenceNextNode calls in
    // the SELECT, so Spark's PhysicalAggregation dedup builds the
    // per-group sorted event list ONCE and each call is only a scalar
    // fold projection over it (the c44 battery's 3+ calls previously
    // each buffered their own copy of every user's events). Conditions
    // re-evaluate post-collect against the element's ev field —
    // bit-equal to the baked form since they read nothing else.
    val rebound = (baseCond +: conds).map(rebindToEv(_, event))
    val sharable = rebound.forall(_.isDefined)
    // Tie-break contract (r12 verdict item 3): BOTH paths order
    // tied-timestamp events by the event's STRING rendering — the
    // sharable entry carries an explicit evs sort field ahead of the
    // raw ev (for CH-legal String event columns SimplifyCasts makes
    // evs the same value; for non-string extensions this pins one
    // path-independent order). Conditions still read the raw ev.
    val entry =
      if (sharable)
        CreateNamedStruct(Seq(
          Literal("t"), builtin("unix_micros")(Seq(ts)),
          Literal("evs"), Cast(event, StringType),
          Literal("ev"), event))
      else {
        val ms = CreateArray(conds.map(c =>
          Coalesce(Seq(Cast(c, BooleanType), Literal(false)))))
        CreateNamedStruct(Seq(
          Literal("t"), builtin("unix_micros")(Seq(ts)),
          Literal("ev"), Cast(event, StringType),
          Literal("bc"), Coalesce(Seq(Cast(baseCond, BooleanType),
            Literal(false))),
          Literal("ms"), ms))
      }
    val collected = builtin("sort_array")(
      Seq(wrapAgg(builtin("collect_list")(Seq(entry)))))
    val collectedArr = if (direction == "backward")
      builtin("reverse")(Seq(collected)) else collected
    // LET-BINDING (r13): the aggregate result projection is
    // interpreted (higher-order functions block codegen), so there is
    // NO common-subexpression elimination — splicing `collectedArr`
    // at every element access re-sorts the whole event list per
    // access, O(n² log n) per group (measured: 2.3 of c44's isolated
    // 2.7 s). transform(array(x), a -> body)[1] evaluates x ONCE and
    // binds it; a second binding does the same for the anchor index
    // so the candidate filter runs once, not once per reference.
    val arrVar = fresh("seqarr")
    def bodyOf(arr: Expression): Expression = {
      val sz = builtin("size")(Seq(arr))
      // 1-based anchor candidates; chain needs k consecutive events
      val idxs = If(GreaterThanOrEqual(sz, Literal(k)),
        builtin("sequence")(
          Seq(Literal(1), Add(Subtract(sz, Literal(k)), Literal(1)))),
        builtin("array_remove")(Seq(
          builtin("array")(Seq(Literal(0))), Literal(0))))
      val i = fresh("i")
      def at(ix: Expression) = elemAt(arr, ix)
      def asBool(e: Expression): Expression =
        Coalesce(Seq(Cast(e, BooleanType), Literal(false)))
      val (chainOk, baseOk) =
        if (sharable) {
          val fs = rebound.map(_.get)
          // k is compile-time known — unroll the chain so each rebound
          // condition lands at its own offset (no dynamic cond index)
          val chain = (0 until k).map(j =>
            asBool(fs(j + 1)(fld(at(Add(i, Literal(j))), "ev"))))
            .reduceOption(And.apply).getOrElse(Literal(true))
          (chain, asBool(fs.head(fld(at(i), "ev"))))
        } else {
          val j = fresh("j")
          val chain = builtin("forall")(Seq(
            builtin("sequence")(Seq(Literal(0), Literal(k - 1))),
            LambdaFunction(
              elemAt(fld(at(Add(i, j)), "ms"), Add(j, Literal(1))), Seq(j))))
          (chain, fld(at(i), "bc"))
        }
      val anchorOk = And(baseOk,
        if (anchored) EqualTo(i, Literal(1)) else Literal(true))
      val valid = builtin("filter")(Seq(idxs,
        LambdaFunction(And(anchorOk, chainOk), Seq(i))))
      val anchor =
        if (base == "last_match") builtin("array_max")(Seq(valid))
        else builtin("array_min")(Seq(valid))
      val av = fresh("anchor")
      def resultOf(a: Expression): Expression = {
        val nextIdx = Add(a, Literal(k))
        If(And(IsNotNull(a), LessThanOrEqual(nextIdx, sz)),
          Cast(fld(elemAt(arr, nextIdx), "ev"), StringType),
          Cast(Literal(null), StringType))
      }
      elemAt(builtin("transform")(Seq(
        CreateArray(Seq(anchor)),
        LambdaFunction(resultOf(av), Seq(av)))), Literal(1))
    }
    elemAt(builtin("transform")(Seq(
      CreateArray(Seq(collectedArr)),
      LambdaFunction(bodyOf(arrVar), Seq(arrVar)))), Literal(1))
  }

  /** sequenceMatchEvents(pattern)(ts, cond1 … condN) → the matched
    * chain's event timestamps (array<timestamp>, empty when the
    * pattern never completes). Same greedy forward DFA as
    * sequenceCount — the FIRST completed chain's times are kept
    * (consistent family semantics; CH's own greedy scan). */
  def sequenceMatchEvents(pattern: String, ts: Expression,
      conds: Seq[Expression]): Expression = {
    val steps = parsePattern(pattern, conds.size)
    val n = steps.size
    val (idxArr, gapArr) = stepArrays(steps)
    val emptyTimes = builtin("array_remove")(Seq(
      CreateArray(Seq(Literal(0L))), Literal(0L)))
    val init = CreateNamedStruct(Seq(
      Literal("lvl"), Literal(0),
      Literal("lt"), Literal(Long.MinValue),
      Literal("done"), Literal(false),
      Literal("ts"), emptyTimes))
    val folded = fold(packedAgg(ts, conds), init) { (acc, e) =>
      val t = fld(e, "t")
      val lvl = fld(acc, "lvl")
      val lt = fld(acc, "lt")
      val done = fld(acc, "done")
      val times = fld(acc, "ts")
      val hit = elemAt(fld(e, "ms"), elemAt(idxArr, Add(lvl, Literal(1))))
      val gap = elemAt(gapArr, Add(lvl, Literal(1)))
      val timeOk = Or(EqualTo(lvl, Literal(0)),
        And(GreaterThan(t, lt),
          Or(IsNull(gap), LessThanOrEqual(Subtract(t, lt), gap))))
      val advance = And(Not(done), And(hit, timeOk))
      val newTimes = If(advance,
        builtin("concat")(Seq(times, CreateArray(Seq(t)))),
        times)
      val newLvl = If(advance, Add(lvl, Literal(1)), lvl)
      CreateNamedStruct(Seq(
        Literal("lvl"), newLvl,
        Literal("lt"), If(advance, t, lt),
        Literal("done"), Or(done, EqualTo(newLvl, Literal(n))),
        Literal("ts"), newTimes))
    }
    // bind the fold once: the If splices it twice (done + ts), and
    // interpreted projections re-run the whole fold per splice (r13)
    bind(folded) { f =>
      val tv = fresh("t")
      val tv2 = fresh("t")
      If(fld(f, "done"),
        builtin("transform")(Seq(fld(f, "ts"),
          LambdaFunction(
            builtin("timestamp_micros")(Seq(tv)), Seq(tv)))),
        builtin("transform")(Seq(emptyTimes,
          LambdaFunction(
            builtin("timestamp_micros")(Seq(tv2)), Seq(tv2)))))
    }
  }

  /** sequenceCount(pattern)(ts, cond1 … condN) → non-overlapping
    * match count (greedy DFA, restart after completion). */
  def sequenceCount(pattern: String, ts: Expression,
      conds: Seq[Expression]): Expression = {
    val steps = parsePattern(pattern, conds.size)
    val n = steps.size
    val (idxArr, gapArr) = stepArrays(steps)
    val init = CreateNamedStruct(Seq(
      Literal("cnt"), Literal(0),
      Literal("lvl"), Literal(0),
      Literal("lt"), Literal(Long.MinValue)))
    val folded = fold(packedAgg(ts, conds), init) { (acc, e) =>
      val t = fld(e, "t")
      val lvl = fld(acc, "lvl")
      val lt = fld(acc, "lt")
      val cnt = fld(acc, "cnt")
      val hit = elemAt(fld(e, "ms"), elemAt(idxArr, Add(lvl, Literal(1))))
      val gap = elemAt(gapArr, Add(lvl, Literal(1)))
      val timeOk = Or(EqualTo(lvl, Literal(0)),
        And(GreaterThan(t, lt),
          Or(IsNull(gap), LessThanOrEqual(Subtract(t, lt), gap))))
      val advance = And(hit, timeOk)
      val newLvl = If(advance, Add(lvl, Literal(1)), lvl)
      val newLt = If(advance, t, lt)
      val complete = EqualTo(newLvl, Literal(n))
      CreateNamedStruct(Seq(
        Literal("cnt"), Add(cnt, If(complete, Literal(1), Literal(0))),
        Literal("lvl"), If(complete, Literal(0), newLvl),
        Literal("lt"), newLt))
    }
    fld(folded, "cnt")
  }
}
