package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.TopK

/** ClickHouse aggregate-function library (SURVEY §2 a01-a09):
  * min/max/countIf/sumIf, argMin/argMax, uniq/uniqExact,
  * quantile, stats moments, groupArray/groupUniqArray, topK, any.
  * All partial-aggregation friendly (no driver-side reduction).
  */
object AggQueries {

  val defs: Map[String, Q] = Map(

    // retention(cond1…condN) — ClickHouse's behavioral aggregate:
    // r[0] = cond1 ever held for the user, r[i] = cond1 AND cond_i
    // both held (pairwise, unordered). One hash aggregate.
    "a15_retention" -> Q(
      """SELECT user_id,
        |  mv || ',' || (mv*mc) || ',' || (mv*mp) AS r FROM (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS mv,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS mc,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS mp
        |  FROM events GROUP BY user_id)
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      // the flag array serialized to a "1,0,1" string (a07's idiom) so
      // the cross-engine row comparison never sees an array cell
      graft.operators.Behavior.retention(Tables(s, dir).events, "user_id",
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"))
        .select(col("user_id"),
          array_join(transform(col("r"), _.cast("string")), ",").as("r"))
        .orderBy("user_id")
    },

    // windowFunnel(window)(ts, conds…) — max funnel depth with every
    // step inside `window` of the chain's first event. The Spark plan
    // is ONE groupBy + a greedy fold over each user's sorted
    // condition-events (state O(steps)); the oracle states the same
    // semantics as EXISTS-chains (equivalent: keeping the latest
    // viable chain start is optimal because t ≤ start+W is monotone
    // in start).
    "a16_window_funnel" -> Q(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
        |l2 AS (SELECT DISTINCT v.user_id FROM e v JOIN e c
        |  ON c.user_id = v.user_id AND v.event_type = 'view'
        |  AND c.event_type = 'click'
        |  AND c.t >= v.t AND c.t <= v.t + 259200000000),
        |l3 AS (SELECT DISTINCT v.user_id FROM e v
        |  JOIN e c ON c.user_id = v.user_id AND v.event_type = 'view'
        |    AND c.event_type = 'click'
        |    AND c.t >= v.t AND c.t <= v.t + 259200000000
        |  JOIN e p ON p.user_id = v.user_id AND p.event_type = 'purchase'
        |    AND p.t >= c.t AND p.t <= v.t + 259200000000)
        |SELECT u.user_id,
        |  CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
        |       WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
        |       WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
        |       ELSE 0 END AS level
        |FROM u ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.operators.Behavior.windowFunnel(Tables(s, dir).events, "user_id",
          col("ts"), windowMicros = 259200000000L, // 3 days
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"))
        .orderBy("user_id")
    },

    // windowFunnel strict_order mode: after the chain starts, any
    // event whose condition's previous level is unreached interrupts
    // further processing (levels reached stand). Scoped, like a16, to
    // the three condition event types. The oracle is a recursive-CTE
    // replica of the scan itself — per-level chain starts (s0..s2)
    // plus the dead flag, stepped one event at a time in the same
    // (t, cond-index) order the fold uses — so every stateful edge
    // (restart, out-of-order death, window from chain start) is
    // cross-engine exact.
    "a20_funnel_strict" -> Q(
      """WITH RECURSIVE
        |e AS (SELECT user_id, epoch_us(ts) AS t,
        |        event_type = 'view' AS c1, event_type = 'click' AS c2,
        |        event_type = 'purchase' AS c3,
        |        row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
        |          CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |            ELSE 2 END) AS rn
        |      FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |scan AS (
        |  SELECT user_id, 0 AS rn, CAST(NULL AS BIGINT) AS s0,
        |         CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS s2,
        |         FALSE AS dead
        |  FROM (SELECT DISTINCT user_id FROM e)
        |  UNION ALL
        |  SELECT user_id, rn,
        |    CASE WHEN nd THEN s0 WHEN c1 THEN t ELSE s0 END,
        |    CASE WHEN nd THEN s1
        |         WHEN c2 AND s0 IS NOT NULL AND t <= s0 + 259200000000
        |              AND (s1 IS NULL OR s0 > s1) THEN s0 ELSE s1 END,
        |    CASE WHEN nd THEN s2
        |         WHEN c3 AND s1 IS NOT NULL AND t <= s1 + 259200000000
        |              AND (s2 IS NULL OR s1 > s2) THEN s1 ELSE s2 END,
        |    nd
        |  FROM (
        |    SELECT e.user_id, e.rn, e.t, e.c1, e.c2, e.c3,
        |           s.s0, s.s1, s.s2,
        |           s.dead OR (e.c2 AND s.s0 IS NULL)
        |                  OR (e.c3 AND s.s1 IS NULL) AS nd
        |    FROM scan s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1)),
        |fin AS (SELECT user_id, s0, s1, s2,
        |          row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rr
        |        FROM scan)
        |SELECT user_id,
        |  CASE WHEN s2 IS NOT NULL THEN 3 WHEN s1 IS NOT NULL THEN 2
        |       WHEN s0 IS NOT NULL THEN 1 ELSE 0 END AS level
        |FROM fin WHERE rr = 1
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.operators.Behavior.windowFunnelModes(
          Tables(s, dir).events.filter(
            col("event_type").isin("view", "click", "purchase")),
          "user_id", col("ts"), windowMicros = 259200000000L,
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"),
          modes = Set("strict_order"))
        .orderBy("user_id")
    },

    // sequenceMatch('(?1).*(?2)')(ts, conds…) — an ordered
    // subsequence with strictly increasing timestamps exists. For the
    // two-step pattern min(t1) < max(t2) is the exact oracle.
    "a17_sequence_match" -> Q(
      """SELECT user_id,
        |  CASE WHEN MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        |          < MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |       THEN 1 ELSE 0 END AS matched
        |FROM events WHERE event_type IN ('signup', 'purchase')
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.operators.Behavior.sequenceMatch(Tables(s, dir).events, "user_id",
          col("ts"),
          Seq(col("event_type") === "signup", col("event_type") === "purchase"))
        .orderBy("user_id")
    },

    // Three-step time-conditioned '(?1)(?t<=24h)(?2)(?t<=24h)(?3)' —
    // pins the DP fold beyond the two-step min/max shortcut AND the
    // gap-constrained variant (where earliest-completion DP would be
    // WRONG; see Behavior.sequenceMatch). Oracle is the literal
    // EXISTS chain: three rows, strictly increasing, adjacent gaps
    // within 24 h. The synthetic data splits ~41/109 at sf0.01.
    "a18_sequence_match3" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE event_type IN ('signup', 'click', 'purchase'))
        |SELECT u.user_id,
        |  CASE WHEN EXISTS (
        |    SELECT 1 FROM e v, e c, e p
        |    WHERE v.user_id = u.user_id AND c.user_id = u.user_id
        |      AND p.user_id = u.user_id
        |      AND v.event_type = 'signup' AND c.event_type = 'click'
        |      AND p.event_type = 'purchase'
        |      AND v.t < c.t AND c.t < p.t
        |      AND c.t - v.t <= 86400000000 AND p.t - c.t <= 86400000000)
        |  THEN 1 ELSE 0 END AS matched
        |FROM (SELECT DISTINCT user_id FROM e) u
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.operators.Behavior.sequenceMatch(
          Tables(s, dir).events.filter(
            col("event_type").isin("signup", "click", "purchase")),
          "user_id", col("ts"),
          Seq(col("event_type") === "signup", col("event_type") === "click",
            col("event_type") === "purchase"),
          gapMicros = Some(86400000000L))
        .orderBy("user_id")
    },

    // sequenceCount('(?1).*(?2)') — non-overlapping chain COUNT via a
    // single greedy DFA scan (first-match, restart after completion).
    // Oracle: with per-user timestamps all distinct (this data — the
    // strict-time rule never bites), the 2-step DFA closes exactly one
    // chain per signup→purchase ADJACENT-TYPE transition in time
    // order (every signup-run leaves the DFA open; the next run's
    // first purchase closes it), so a lag() transition count is the
    // exact closed form. (A list_reduce replica of the DFA was the
    // first oracle; DuckDB 1.0 returns plan-dependent results for
    // grouped list_reduce — same list, different answer — so the
    // closed form is also the more trustworthy one. The DFA itself is
    // pinned by BehaviorSpec's planted fixtures.)
    "a19_sequence_count" -> Q(
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup', 'purchase')),
        |o AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |      FROM e)
        |SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase'
        |                          AND prev = 'signup') AS INTEGER) AS n_chains
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.operators.Behavior.sequenceCount(
          Tables(s, dir).events.filter(
            col("event_type").isin("signup", "purchase")),
          "user_id", col("ts"),
          Seq(col("event_type") === "signup", col("event_type") === "purchase"))
        .orderBy("user_id")
    },

    // The -Map combinator family (ClickHouse sumMap/minMap/maxMap):
    // per-row maps aggregate KEY-WISE — the idiom behind CH metric
    // tables (map of counter→value summed across rows). Realized the
    // distributed way: explode the map entries, hash-aggregate on
    // (group, key) — partial-agg friendly, no per-row map merging —
    // and reassemble the CH output shape (key-sorted parallel arrays).
    "a14_sum_map" -> Q(
      """SELECT o_orderstatus,
        |  array_to_string(array_agg(p ORDER BY p), ',') AS ks,
        |  array_to_string(array_agg(CAST(s AS VARCHAR) ORDER BY p), ',') AS vs
        |FROM (
        |  SELECT o_orderstatus, o_orderpriority AS p,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s
        |  FROM orders GROUP BY 1, 2)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      // the per-row "metric map": priority → totalprice, one entry per
      // row; sumMap(m) sums values per key within each status group.
      // The CH output shape is key-sorted parallel arrays; serialized
      // to comma-joined strings (a07's idiom) so the cross-engine
      // comparison is type-independent — values as DECIMAL strings,
      // which render identically ("123.40") in both engines, unlike
      // DOUBLE (Java scientific notation vs C printf).
      val entries = Tables(s, dir).orders
        .select(col("o_orderstatus"),
          map(col("o_orderpriority"), col("o_totalprice")).as("m"))
        .select(col("o_orderstatus"), explode(col("m")).as(Seq("k", "v")))
      val perKey = entries.groupBy("o_orderstatus", "k")
        .agg(sum(dec(col("v"))).as("s"))
      perKey.groupBy("o_orderstatus")
        .agg(sort_array(collect_list(struct(col("k"), col("s")))).as("kv"))
        .select(col("o_orderstatus"),
          array_join(col("kv.k"), ",").as("ks"),
          array_join(transform(col("kv.s"), _.cast("string")), ",").as("vs"))
        .orderBy("o_orderstatus")
    },

    // The NATIVE -Map / -ForEach combinator kernels
    // (functions/MapAggNative): single-expression keyed/positional
    // reduction with O(distinct keys) state that folds map-side —
    // the SQL front door a14's explode+re-group plan can't provide
    // when the query's grouping can't change. Integral value policy
    // keeps every compared cell exact; avgMap (double) is pinned in
    // MapAggSpec instead.
    "a21_map_foreach" -> Q(
      """WITH per AS (
        |  SELECT o_orderstatus, o_orderpriority AS p,
        |    SUM(o_orderkey % 97) AS s, MIN(o_custkey % 89) AS mn,
        |    COUNT(*) AS c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderstatus,
        |  string_agg(p, ',' ORDER BY p) AS sk,
        |  string_agg(CAST(s AS VARCHAR), ',' ORDER BY p) AS sv,
        |  string_agg(CAST(mn AS VARCHAR), ',' ORDER BY p) AS mv,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY p) AS cv,
        |  CAST(SUM(s) AS VARCHAR) || ',' ||
        |    CAST(SUM(c * 3) AS VARCHAR) || ',' ||
        |    CAST(SUM(c) AS VARCHAR) AS fe
        |FROM per GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders
        .groupBy("o_orderstatus")
        .agg(
          expr("sumMap(map(o_orderpriority, o_orderkey % 97))").as("sm"),
          // the two-parallel-arrays CH spelling
          expr("minMap(array(o_orderpriority), array(o_custkey % 89))").as("mm"),
          expr("countMap(map(o_orderpriority, 1))").as("cm"),
          expr("sumForEach(array(o_orderkey % 97, 3, 1))").as("fea"))
        .select(col("o_orderstatus"),
          array_join(map_keys(col("sm")), ",").as("sk"),
          array_join(transform(map_values(col("sm")), _.cast("string")), ",")
            .as("sv"),
          array_join(transform(map_values(col("mm")), _.cast("string")), ",")
            .as("mv"),
          array_join(transform(map_values(col("cm")), _.cast("string")), ",")
            .as("cv"),
          array_join(transform(col("fea"), _.cast("string")), ",").as("fe"))
        .orderBy("o_orderstatus")
    },

    // min/max + conditional aggregates (ClickHouse countIf/sumIf).
    "a01_minmax" -> Q(
      """SELECT l_returnflag,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          count(when(col("l_discount") > 0.05, 1)).as("n_discounted"),
          sum(when(col("l_tax") > 0.04, dec(col("l_extendedprice")))).cast("double").as("taxed_price"))
        .orderBy("l_returnflag")
    },

    // argMax/argMin (ClickHouse). Ties on the ordering value are
    // broken by the key via struct ordering → fully deterministic.
    "a02_argminmax" -> Q(
      """SELECT c_nationkey,
        |  (SELECT c_custkey FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
        |   ORDER BY c_acctbal DESC, c_custkey DESC LIMIT 1) AS richest,
        |  (SELECT c_custkey FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
        |   ORDER BY c_acctbal ASC, c_custkey ASC LIMIT 1) AS poorest
        |FROM (SELECT DISTINCT c_nationkey FROM customer) c
        |ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).customer.groupBy("c_nationkey")
        .agg(
          max_by(col("c_custkey"), struct(col("c_acctbal"), col("c_custkey"))).as("richest"),
          min_by(col("c_custkey"), struct(col("c_acctbal"), col("c_custkey"))).as("poorest"))
        .orderBy("c_nationkey")
    },

    // uniqExact → COUNT(DISTINCT).
    "a03_uniq_exact" -> Q(
      """SELECT o_orderstatus,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"))
        .orderBy("o_orderstatus")
    },

    // uniq (approximate, HLL++). A sketch ESTIMATE has no cross-engine
    // oracle, but its documented error bound does (r18 verdict #6):
    // the key outputs the exact distinct count (hash-checked) plus a
    // boolean asserting |approx-exact| <= 5% of exact, which the
    // oracle states as literal TRUE — so the sketch's accuracy
    // contract is now part of the hash compare, not just a spec
    // promise. rsd 0.016 ≈ 1.04/√2¹² — the register budget of the
    // reference's uniqHLL12 (2^12-register HyperLogLog); 5% ≈ 3σ.
    // AggSpec still pins the raw estimate against exact.
    "a04_uniq_approx" -> Q(
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // Dedupe FIRST, aggregate second (r19, guide §2.3/§5): mixing
      // countDistinct with a non-distinct aggregate triggers the
      // distinct-rewrite Expand plan, which allocates the ~2^13-
      // register HLL buffer once per (group, orderkey) PAIR in the
      // partial aggregate — ~150k sketch buffers and their merges
      // (measured 12.2 s vs the 0.99 s baseline; the same blowup at
      // any scale). A (flag, orderkey) dedup collapses map-side, then
      // one tiny aggregate: exact = count of deduped rows, and the
      // HLL estimate is BIT-IDENTICAL because HyperLogLog state is
      // duplicate-insensitive — feeding each distinct value once
      // writes the same registers.
      Tables(s, dir).lineitem
        .select("l_returnflag", "l_orderkey").distinct()
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.016).as("__approx"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("__approx") - col("exact_orders")) <=
            col("exact_orders") * 0.05).as("approx_within_5pct"))
        .orderBy("l_returnflag")
    },

    // EXACT interpolated percentile — the quantileExactInterpolated/
    // medianExact contract (whole group buffered, by declaration);
    // both engines use pos = (n-1)*q, v = lo + frac*(hi-lo), so
    // doubles match. The BARE quantile/median spellings are the
    // bounded 8192-sample reservoir (functions/ReservoirQuantile)
    // since r14, interpolated below the cap since r15 (see c01/c08 +
    // PlanAuditSpec).
    "a05_quantile" -> Q(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.5) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
          percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
          percentile(col("l_extendedprice"), lit(0.5)).as("median_price"))
        .orderBy("l_returnflag")
    },

    // Moments: stddev/var/corr/covar. Merge order affects last ulps →
    // rounded to 6 decimals on both sides.
    "a06_stats" -> Q(
      """SELECT l_returnflag,
        |  ROUND(stddev_pop(l_quantity), 6) AS sd_qty,
        |  ROUND(var_pop(l_quantity), 6) AS var_qty,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  ROUND(covar_pop(l_quantity, l_discount), 6) AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(round(stddev_pop(col("l_quantity")), 6).as("sd_qty"),
          round(var_pop(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"))
        .orderBy("l_returnflag")
    },

    // groupArray / groupUniqArray → ordered collect; serialized to a
    // string so the comparison is type-independent.
    "a07_group_array" -> Q(
      """SELECT o_orderpriority,
        |  string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey) AS keys
        |FROM orders WHERE o_custkey < 20
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders.filter(col("o_custkey") < 20)
        .groupBy("o_orderpriority")
        .agg(array_join(transform(sort_array(collect_list(col("o_orderkey"))),
          _.cast("string")), ",").as("keys"))
        .orderBy("o_orderpriority")
    },

    // topK(3)(p_brand): exact heavy hitters via count+window — the
    // windowed input is pre-reduced to distinct values, so this scales.
    "a08_topk" -> Q(
      """SELECT p_brand, cnt FROM (
        |  SELECT p_brand, COUNT(*) AS cnt,
        |    row_number() OVER (ORDER BY COUNT(*) DESC, p_brand) AS rn
        |  FROM part GROUP BY p_brand) WHERE rn <= 3
        |ORDER BY cnt DESC, p_brand""".stripMargin) { (s, dir) =>
      TopK(Tables(s, dir).part, "p_brand", 3)
        .select("p_brand", "cnt")
        .orderBy(col("cnt").desc, col("p_brand"))
    },

    // groupBitAnd/groupBitOr/groupBitXor — bitwise aggregates.
    "a12_bit_aggregates" -> Q(
      """SELECT o_orderstatus,
        |  bit_and(o_orderkey) AS band,
        |  bit_or(o_orderkey) AS bor,
        |  bit_xor(o_orderkey) AS bxor
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders.groupBy("o_orderstatus")
        .agg(bit_and(col("o_orderkey")).as("band"),
          bit_or(col("o_orderkey")).as("bor"),
          bit_xor(col("o_orderkey")).as("bxor"))
        .orderBy("o_orderstatus")
    },

    // entropy(x) — Shannon entropy of the value distribution per
    // group: two-level aggregate (value histogram → -Σ p·log2 p),
    // identical shape in both engines, rounded for sum-order ulps.
    "a13_entropy" -> Q(
      """WITH h AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, SUM(c) AS tot FROM h GROUP BY 1)
        |SELECT h.l_returnflag,
        |  ROUND(-SUM((c / CAST(tot AS DOUBLE)) * log2(c / CAST(tot AS DOUBLE))), 6) AS entropy
        |FROM h JOIN t ON h.l_returnflag = t.l_returnflag
        |GROUP BY h.l_returnflag ORDER BY h.l_returnflag""".stripMargin) { (s, dir) =>
      val hist = Tables(s, dir).lineitem
        .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("c"))
      val totals = hist.groupBy("l_returnflag").agg(sum("c").as("tot"))
      val p = col("c") / col("tot").cast("double")
      hist.join(broadcast(totals), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(round(-sum(p * log2(p)), 6).as("entropy"))
        .orderBy("l_returnflag")
    },

    // skewPop/kurtPop — population moments. Spark's incremental
    // accumulators vs the oracle's two-pass naive formula differ in
    // the last ulps → rounded to 4 (same discipline as a06).
    "a10_moments" -> Q(
      """WITH mu AS (SELECT l_returnflag AS f, AVG(l_quantity) AS m FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  ROUND(AVG(POW(l_quantity - m, 3)) / POW(AVG(POW(l_quantity - m, 2)), 1.5), 4) AS skew,
        |  ROUND(AVG(POW(l_quantity - m, 4)) / POW(AVG(POW(l_quantity - m, 2)), 2) - 3, 4) AS kurt
        |FROM lineitem JOIN mu ON l_returnflag = f
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(round(skewness(col("l_quantity")), 4).as("skew"),
          round(kurtosis(col("l_quantity")), 4).as("kurt"))
        .orderBy("l_returnflag")
    },

    // quantiles(0.25, 0.5, 0.75)(x) — ClickHouse's multi-level form:
    // ONE pass computing the whole quantile vector (Spark percentile
    // with an array argument), vs three separate calls in the oracle.
    "a11_quantiles_multi" -> Q(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.50) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q75"))
        .orderBy("l_returnflag")
    },

    // any/anyLast — ClickHouse returns an arbitrary member; the
    // deterministic contract is "first in a defined order" (min_by).
    "a09_any_value" -> Q(
      """SELECT o_custkey,
        |  (SELECT o_orderpriority FROM orders o2 WHERE o2.o_custkey = o.o_custkey
        |   ORDER BY o_orderdate, o_orderkey LIMIT 1) AS first_prio,
        |  (SELECT o_orderpriority FROM orders o2 WHERE o2.o_custkey = o.o_custkey
        |   ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) AS last_prio
        |FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey < 100) o
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders.filter(col("o_custkey") < 100)
        .groupBy("o_custkey")
        .agg(
          min_by(col("o_orderpriority"), struct(col("o_orderdate"), col("o_orderkey"))).as("first_prio"),
          max_by(col("o_orderpriority"), struct(col("o_orderdate"), col("o_orderkey"))).as("last_prio"))
        .orderBy("o_custkey")
    }
  )
}
