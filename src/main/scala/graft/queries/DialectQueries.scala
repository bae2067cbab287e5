package graft.queries

import graft.sources.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions.{col, concat_ws, element_at, round}

/** ClickHouse-dialect SQL executed VERBATIM through spark.sql — the
  * "switch to this library" proof: the reference's users keep their
  * SQL (function names per src/Parsers/ASTFunction.h), graft's
  * FunctionRegistry surface (functions/GraftFunctions.scala) resolves it to
  * codegen'd Catalyst plans, and DuckDB confirms the results. */
object DialectQueries {

  private def chSql(views: Seq[String], chQuery: String): QFn =
    chSqlFan(views, Set.empty, chQuery)

  /** The ClickHouse-dialect spelling of c30 — still the declared
    * dialect surface for the A/B stat-test aggregates. Since r20 the
    * REGISTERED c30 plan computes the U test distributed (see
    * [[c30Fn]]); this text stays as the translation-parity oracle
    * (ChDialectSpec compares both plans row-for-row on real data). */
  private[graft] val c30ChText: String =
    """SELECT event_type,
      |  round(tupleElement(studentTTest(value, modulo(user_id, 2)), 1), 6) AS st_t,
      |  round(tupleElement(studentTTest(value, modulo(user_id, 2)), 2), 6) AS st_p,
      |  round(tupleElement(welchTTest(value, modulo(user_id, 2)), 1), 6) AS wt_t,
      |  round(tupleElement(welchTTest(value, modulo(user_id, 2)), 2), 6) AS wt_p,
      |  tupleElement(mannWhitneyUTest(value, modulo(user_id, 2)), 1) AS mw_u,
      |  round(tupleElement(mannWhitneyUTest(value, modulo(user_id, 2)), 2), 6) AS mw_p
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** c30 through the translator — kept ONLY for the parity test. */
  private[graft] def c30ChSqlFn: QFn =
    chSqlFan(Seq("events"), Set("events"), c30ChText)

  /** c30 with a DISTRIBUTED Mann-Whitney U (r19 verdict #2, guide
    * §2.3/§5): the dialect aggregate buffers each group's whole
    * sample (sort_array(collect_list)) — O(group) task memory, the
    * one spill-unsafe state left in the stats family. Identical tie
    * arithmetic from per-(group, value) counts instead:
    *   ceq/ones per distinct value (partial agg, collapses map-side),
    *   pos = exclusive prefix count over the value order (window on
    *   the REDUCED rows — Spark's window buffer spills, a collect
    *   cannot), r1 = Σ ones·(pos + (ceq+1)/2), ties = Σ ceq³−ceq —
    * exactly the rank fold's flush terms (every term is a multiple of
    * 0.5 and exactly representable, so any summation order gives the
    * same double). The t-tests keep their partial-agg dialect
    * expressions; the closed-form p spells the oracle's arithmetic
    * verbatim. ChDialectSpec pins this plan ≡ the [[c30ChText]]
    * translation on real events. */
  private[graft] def c30Fn: QFn = { (s, dir) =>
    GraftFunctions.ensureRegistered(s)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum, when}
    val e = fanOut(Tables(s, dir).events).selectExpr(
      "event_type AS et", "CAST(value AS DOUBLE) AS v",
      "CAST(user_id % 2 AS INT) AS g")
    // ONE pass: the per-(group, value) partial aggregate carries the
    // tie counts for the U test AND the per-cohort moment sums the
    // t-tests need, so the raw rows are read and shuffled exactly
    // once (and collapse map-side on duplicate values). The rounded
    // t statistics absorb the per-value re-association of the moment
    // sums (the package determinism discipline: inherently-float
    // stats are rounded); the U-test terms are multiples of 0.5 and
    // exactly representable, so they are identical on the pinned
    // testdata. Rows with a NULL value or cohort are skipped, as the
    // dialect aggregates skip them.
    val cnt = e.filter(col("v").isNotNull && col("g").isNotNull)
      .groupBy("et", "v").agg(
      count(lit(1)).cast("double").as("ceq"),
      count(when(col("g") === 0, 1)).cast("double").as("ones"),
      sum(when(col("g") === 0, col("v"))).as("s1v"),
      sum(when(col("g") === 0, col("v") * col("v"))).as("q1v"),
      sum(when(col("g") =!= 0, col("v"))).as("s2v"),
      sum(when(col("g") =!= 0, col("v") * col("v"))).as("q2v"))
    // exclusive prefix count over the value order — the rank fold's
    // `pos`, on the REDUCED rows (distinct values), through Spark's
    // spillable window buffer instead of a collected sample array
    val wPrev = Window.partitionBy("et").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = cnt
      .withColumn("pos", coalesce(sum("ceq").over(wPrev), lit(0.0)))
      .groupBy("et").agg(
        sum("ones").as("n1"),
        sum(col("ceq") - col("ones")).as("n2"),
        sum("s1v").as("s1"), sum("q1v").as("q1"),
        sum("s2v").as("s2"), sum("q2v").as("q2"),
        sum(col("ones") * (col("pos") + (col("ceq") + lit(1.0)) / lit(2.0)))
          .as("r1"),
        sum(col("ceq") * col("ceq") * col("ceq") - col("ceq")).as("ties"))
    // closed forms spelled VERBATIM as the oracle's tt/tv/mw/pz CTEs
    def zzOf(n: String, t: String, df: String): String =
      s"abs($t) * (1.0 - 1.0/(4.0*$df)) / sqrt(1.0 + $t*$t/(2.0*$df)) AS ${n}_zz"
    val chained = Seq(
      Seq("et", "n1", "n2", "r1", "ties",
        "n1 + n2 - 2.0 AS st_df",
        "(q1 - s1*s1/n1)/(n1 - 1.0) AS va1",
        "(q2 - s2*s2/n2)/(n2 - 1.0) AS va2",
        "s1/n1 - s2/n2 AS md",
        "((q1 - s1*s1/n1) + (q2 - s2*s2/n2)) / (n1 + n2 - 2.0) AS sp2"),
      Seq("et", "n1", "n2", "r1", "ties", "st_df",
        "md / sqrt(sp2 * (1.0/n1 + 1.0/n2)) AS st_t",
        "md / sqrt(va1/n1 + va2/n2) AS wt_t",
        """(va1/n1 + va2/n2)*(va1/n1 + va2/n2) /
          |  ((va1/n1)*(va1/n1)/(n1 - 1.0) + (va2/n2)*(va2/n2)/(n2 - 1.0)) AS wt_df""".stripMargin),
      Seq("et", "st_t", "wt_t",
        "r1 - n1*(n1 + 1.0)/2.0 AS mw_u",
        "n1*n2/2.0 AS mw_mu",
        "(n1*n2/12.0) * ((n1 + n2 + 1.0) - ties/((n1 + n2)*(n1 + n2 - 1.0))) AS mw_var",
        "st_df", "wt_df"),
      Seq("et", "st_t", "wt_t", "mw_u", "mw_var", "st_df", "wt_df",
        "GREATEST(abs(mw_u - mw_mu) - 0.5, 0.0) / sqrt(mw_var) AS mw_z"),
      Seq("et", "st_t", "wt_t", "mw_u", "mw_var", "st_df", "wt_df",
        "mw_z / sqrt(2.0) AS mw_x"),
      Seq("et", "st_t", "wt_t", "mw_u", "mw_var", "st_df", "wt_df", "mw_x",
        "1.0/(1.0 + 0.3275911*mw_x) AS mw_uu"))
      .foldLeft(agg)((df, cols) => df.selectExpr(cols: _*))
    val withPs = Seq(
      Seq("et", "st_t", "wt_t", "mw_u", "mw_var", "mw_x", "mw_uu",
        "st_df", "wt_df", zzOf("st", "st_t", "st_df"),
        zzOf("wt", "wt_t", "wt_df")),
      Seq("et", "st_t", "wt_t", "mw_u", "mw_var", "mw_x", "mw_uu",
        "st_df", "wt_df", "st_zz", "wt_zz",
        "st_zz / sqrt(2.0) AS st_x", "wt_zz / sqrt(2.0) AS wt_x"),
      Seq("et", "st_t", "wt_t", "mw_u", "mw_var", "mw_x", "mw_uu",
        "st_x", "wt_x",
        "1.0/(1.0 + 0.3275911*st_x) AS st_u",
        "1.0/(1.0 + 0.3275911*wt_x) AS wt_u"),
      Seq("et", "st_t", "wt_t", "mw_u", "mw_var", "mw_x", "mw_uu",
        """st_u*(0.254829592 + st_u*(-0.284496736 + st_u*(1.421413741 +
          |  st_u*(-1.453152027 + st_u*1.061405429)))) * exp(-(st_x*st_x)) AS st_p""".stripMargin,
        """wt_u*(0.254829592 + wt_u*(-0.284496736 + wt_u*(1.421413741 +
          |  wt_u*(-1.453152027 + wt_u*1.061405429)))) * exp(-(wt_x*wt_x)) AS wt_p""".stripMargin))
      .foldLeft(chained)((df, cols) => df.selectExpr(cols: _*))
    withPs
      .selectExpr("et AS event_type",
        "round(st_t, 6) AS st_t", "round(st_p, 6) AS st_p",
        "round(wt_t, 6) AS wt_t", "round(wt_p, 6) AS wt_p",
        "mw_u",
        """CASE WHEN mw_var <= 0 THEN 1.0 ELSE
          |  round(mw_uu*(0.254829592 + mw_uu*(-0.284496736 + mw_uu*(1.421413741 +
          |    mw_uu*(-1.453152027 + mw_uu*1.061405429)))) * exp(-(mw_x*mw_x)), 6)
          |END AS mw_p""".stripMargin)
      .orderBy("event_type")
  }

  /** chSql with the [[fanOut]] treatment on selected views — used by
    * the keys whose per-row aggregate state (rank folds, keyed maps,
    * reservoir buffers) dominates the scan stage: a single-split local
    * file would otherwise run that map-side work on one core. */
  private def chSqlFan(views: Seq[String], fan: Set[String],
      chQuery: String): QFn = { (s, dir) =>
    GraftFunctions.ensureRegistered(s)
    val t = Tables(s, dir)
    def reg(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      (if (fan(name)) fanOut(df) else df).createOrReplaceTempView(name)
    views.foreach {
      case "orders"    => reg("orders", t.orders)
      case "events"    => reg("events", t.events)
      case "documents" => reg("documents", t.documents)
      case "lineitem"  => reg("lineitem", t.lineitem)
      case "part_v"    => reg("part_v", t.part)
      case "customer"  => reg("customer", t.customer)
    }
    // through the REAL front door: the tokenizer translator first
    // (clause rewrites, extract-collision fix, …), then spark.sql
    s.sql(graft.functions.ChSql.translate(chQuery))
  }

  val defs: Map[String, Q] = Map(

    // SQL-lambda UDFs (ASTCreateFunctionQuery.h): CREATE FUNCTION
    // bodies inline as ordinary Catalyst at every call site — the
    // oracle runs the hand-inlined arithmetic. Nested calls (a UDF in
    // another UDF's argument list) exercise the substitution.
    "c26_ch_udf" -> Q(
      """SELECT o_orderkey AS k, o_custkey // 7 + 3 AS fee,
        |  CASE WHEN (o_orderkey + (o_custkey // 7 + 3)) % 3 = 0 THEN 'fizz'
        |       ELSE CAST(o_orderkey % 10 AS VARCHAR) END AS tag
        |FROM orders ORDER BY k LIMIT 500""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      graft.functions.ChDdl.execute(s,
        "CREATE OR REPLACE FUNCTION graft_fee AS (x) -> intDiv(x, 7) + 3")
      graft.functions.ChDdl.execute(s,
        """CREATE OR REPLACE FUNCTION graft_tag AS
          |  (k, c) -> if((k + c) % 3 = 0, 'fizz', toString(k % 10))""".stripMargin)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """SELECT o_orderkey AS k, graft_fee(o_custkey) AS fee,
          |  graft_tag(o_orderkey, graft_fee(o_custkey)) AS tag
          |FROM orders ORDER BY k LIMIT 500""".stripMargin))
    },

    // The round-7 array family — running ops (arrayCumSum /
    // arrayDifference), shape ops (arrayCompact / arrayReverseSort /
    // arrayPopBack / arrayPushFront), folds (arrayProduct) and
    // half-open range — verbatim CH names through the translator,
    // results flattened to strings so the hash compare is
    // representation-independent (numeric folds run in double on the
    // Spark side; toInt64 pins the rendering on both engines).
    "c24_ch_array_hof" -> Q(
      """WITH t AS (
        |  SELECT o_orderkey,
        |    [o_orderkey % 7, o_custkey % 5, 3] AS a,
        |    [o_orderkey % 3, o_orderkey % 3, o_custkey % 3] AS d
        |  FROM orders)
        |SELECT o_orderkey,
        |  array_to_string([CAST(list_sum(a[1:i]) AS VARCHAR) for i in range(1, len(a)+1)], ',') AS cum,
        |  array_to_string([CAST(CASE WHEN i = 1 THEN 0 ELSE a[i] - a[i-1] END AS VARCHAR) for i in range(1, len(a)+1)], ',') AS diff,
        |  array_to_string([CAST(d[i] AS VARCHAR) for i in range(1, len(d)+1) if i = 1 or d[i] != d[i-1]], ',') AS compact,
        |  array_to_string(list_reverse_sort(a), ',') AS rsort,
        |  CAST(list_product(a) AS BIGINT) AS prod,
        |  COALESCE(array_to_string(range(o_orderkey % 4), ','), '') AS rng,
        |  array_to_string(list_slice(a, 1, len(a)-1), ',') AS popb,
        |  array_to_string(list_prepend(9, a), ',') AS pushf,
        |  CAST(len(list_intersect(a, d)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a, d))) AS jac
        |FROM t ORDER BY o_orderkey""".stripMargin)(
      chSqlFan(Seq("orders"), Set("orders"),
        """WITH t AS (
          |  SELECT o_orderkey,
          |    array(o_orderkey % 7, o_custkey % 5, 3) AS a,
          |    array(o_orderkey % 3, o_orderkey % 3, o_custkey % 3) AS d
          |  FROM orders)
          |SELECT o_orderkey,
          |  arrayStringConcat(arrayMap(x -> toString(toInt64(x)), arrayCumSum(a)), ',') AS cum,
          |  arrayStringConcat(arrayMap(x -> toString(toInt64(x)), arrayDifference(a)), ',') AS diff,
          |  arrayStringConcat(arrayMap(x -> toString(x), arrayCompact(d)), ',') AS compact,
          |  arrayStringConcat(arrayMap(x -> toString(x), arrayReverseSort(a)), ',') AS rsort,
          |  toInt64(arrayProduct(a)) AS prod,
          |  arrayStringConcat(arrayMap(x -> toString(x), range(o_orderkey % 4)), ',') AS rng,
          |  arrayStringConcat(arrayMap(x -> toString(x), arrayPopBack(a)), ',') AS popb,
          |  arrayStringConcat(arrayMap(x -> toString(x), arrayPushFront(a, 9)), ',') AS pushf,
          |  arrayJaccardIndex(a, d) AS jac
          |FROM t ORDER BY o_orderkey""".stripMargin)),

    // Aggregating CH dialect: countIf/sumIf/uniqExact/median/quantile.
    // Bare median/quantile carry the bounded-memory reservoir contract
    // (cap 8192, exact-and-INTERPOLATED below it — the reference's
    // ReservoirSampler::quantileInterpolated): DuckDB's quantile_cont
    // is the same statistic up to final-rounding ulps, so both sides
    // guard with round(…, 6).
    "c01_dialect_agg" -> Q(
      """SELECT year(o_orderdate) AS yr, o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_total,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS med,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT toYear(o_orderdate) AS yr, o_orderstatus,
          |  countIf(o_totalprice > 150000) AS n_big,
          |  CAST(sumIf(CAST(o_totalprice AS DECIMAL(18,2)), o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_total,
          |  uniqExact(o_custkey) AS n_cust,
          |  round(median(o_totalprice), 6) AS med,
          |  round(quantile(o_totalprice, 0.9), 6) AS p90
          |FROM orders GROUP BY yr, o_orderstatus ORDER BY yr, o_orderstatus""".stripMargin)),

    // Scalar CH dialect over events: JSON extraction, time bucketing,
    // integer division, conditionals — all through spark.sql.
    "c02_dialect_scalar" -> Q(
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
        |  event_id // 7 AS grp,
        |  CASE WHEN value > 75 THEN 'high' WHEN value > 25 THEN 'mid' ELSE 'low' END AS band,
        |  length(event_type) > 0 AS has_type,
        |  date_diff('hour', ts, ts + INTERVAL 90 MINUTE) AS ddh,
        |  date_diff('day', ts, ts + INTERVAL 1 HOUR) AS ddd
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin)(
      chSql(Seq("events"),
        """SELECT event_id,
          |  JSONExtractInt(props, 'k') AS k,
          |  date_format(toStartOfHour(ts), 'yyyy-MM-dd HH') AS hr,
          |  intDiv(event_id, 7) AS grp,
          |  multiIf(value > 75, 'high', value > 25, 'mid', 'low') AS band,
          |  notEmpty(event_type) AS has_type,
          |  dateDiff('hour', ts, ts + INTERVAL 90 MINUTE) AS ddh,
          |  dateDiff('day', ts, ts + INTERVAL 1 HOUR) AS ddd
          |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin)),

    // String/array/hash dialect names through spark.sql.
    "c03_dialect_strings" -> Q(
      """SELECT p_partkey,
        |  length(p_name) AS len,
        |  lower(p_brand) AS lb,
        |  substring(p_name, 2, 6) AS sub,
        |  strpos(p_name, 'o') AS pos,
        |  replace(p_name, 'a', '_') AS rep,
        |  trim(concat(' ', p_brand, ' ')) AS tb,
        |  md5(p_brand) AS m,
        |  sha256(p_type) AS sh,
        |  bit_count(p_partkey) AS bc,
        |  list_contains(string_split(p_name, ' '), 'green') AS hasw,
        |  COALESCE(list_position(string_split(p_name, ' '), 'green'), 0) AS idxw,
        |  array_to_string(list_sort(string_split(p_name, ' ')), '|') AS joined,
        |  length(p_name) = 0 AS e
        |FROM part ORDER BY p_partkey""".stripMargin)(
      chSql(Seq("part_v"),
        """SELECT p_partkey,
          |  lengthUTF8(p_name) AS len,
          |  lowerUTF8(p_brand) AS lb,
          |  substringUTF8(p_name, 2, 6) AS sub,
          |  positionUTF8(p_name, 'o') AS pos,
          |  replaceAll(p_name, 'a', '_') AS rep,
          |  trimBoth(concatStr(' ', p_brand, ' ')) AS tb,
          |  MD5(p_brand) AS m,
          |  SHA256(p_type) AS sh,
          |  bitCount(p_partkey) AS bc,
          |  has(splitByChar(' ', p_name), 'green') AS hasw,
          |  indexOf(splitByChar(' ', p_name), 'green') AS idxw,
          |  arrayStringConcat(arraySort(splitByChar(' ', p_name)), '|') AS joined,
          |  empty(p_name) AS e
          |FROM part_v ORDER BY p_partkey""".stripMargin)),

    // ClickHouse-ONLY clauses through the ChSql translator: PREWHERE
    // merged into WHERE, LIMIT n BY realized as a per-group window —
    // the reference's SQL running verbatim, oracled.
    "c04_ch_clauses" -> Q(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_orderstatus = 'F') WHERE rn <= 2
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
          |PREWHERE o_orderstatus = 'F'
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 2 BY o_custkey""".stripMargin))
    },

    // ARRAY JOIN as a CLAUSE (ASTTablesInSelectQuery.h:129) + FINAL
    // (ASTTablesInSelectQuery.h:96) through the tokenizer translator:
    // ARRAY JOIN → LATERAL VIEW explode, FINAL stripped (a parquet
    // snapshot is already merged). ClickHouse SQL verbatim, oracled.
    "c05_ch_array_join" -> Q(
      """SELECT doc_id, word FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 6
        |ORDER BY doc_id, word""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables(s, dir).documents.createOrReplaceTempView("documents")
      s.sql(graft.functions.ChSql.translate(
        """SELECT doc_id, word FROM documents FINAL
          |ARRAY JOIN splitByChar(' ', text) AS word
          |WHERE lengthUTF8(word) > 6
          |ORDER BY doc_id, word""".stripMargin))
    },

    // ORDER BY ... WITH FILL FROM/TO (ASTOrderByElement.h fill clause)
    // through the translator, inside a derived table (recursion), with
    // the CH ifNull dialect name zeroing the filled rows — the axis is
    // densified to every day-of-month 1..31 (TO 32 exclusive).
    "c06_ch_with_fill" -> Q(
      """WITH q AS (
        |  SELECT CAST(date_part('day', o_orderdate) AS BIGINT) AS d, COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000
        |  GROUP BY 1),
        |s AS (SELECT unnest(generate_series(1, 31)) AS d)
        |SELECT COALESCE(s.d, q.d) AS d, CAST(COALESCE(q.n, 0) AS BIGINT) AS n
        |FROM s FULL JOIN q ON s.d = q.d
        |ORDER BY d""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """SELECT d, CAST(ifNull(n, 0) AS BIGINT) AS n FROM (
          |  SELECT CAST(toDayOfMonth(o_orderdate) AS BIGINT) AS d, COUNT(*) AS n
          |  FROM orders
          |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000
          |  GROUP BY d
          |  ORDER BY d WITH FILL FROM 1 TO 32
          |) ORDER BY d""".stripMargin))
    },

    // WITH FILL on MULTIPLE sort keys (ASTOrderByElement.h:21-24 —
    // with_fill is per ORDER BY element): each filled key contributes
    // its own spine (FROM/TO/STEP independently), the filled axis is
    // their cross join (a dimension grid — never fact-sized), original
    // off-grid rows survive the FULL JOIN.
    "c17_ch_fill_multi" -> Q(
      """WITH q AS (
        |  SELECT CAST(date_part('month', o_orderdate) AS BIGINT) AS m,
        |         CAST(date_part('day', o_orderdate) AS BIGINT) AS d, COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 430000
        |  GROUP BY 1, 2),
        |s AS (SELECT mm.m, dd.d FROM (SELECT unnest(generate_series(1, 12)) AS m) mm
        |      CROSS JOIN (SELECT unnest(generate_series(1, 31, 5)) AS d) dd)
        |SELECT COALESCE(s.m, q.m) AS m, COALESCE(s.d, q.d) AS d,
        |       CAST(COALESCE(q.n, 0) AS BIGINT) AS n
        |FROM s FULL JOIN q ON s.m = q.m AND s.d = q.d
        |ORDER BY m, d""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """SELECT m, d, CAST(ifNull(n, 0) AS BIGINT) AS n FROM (
          |  SELECT CAST(toMonth(o_orderdate) AS BIGINT) AS m,
          |         CAST(toDayOfMonth(o_orderdate) AS BIGINT) AS d, COUNT(*) AS n
          |  FROM orders
          |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 430000
          |  GROUP BY m, d
          |  ORDER BY m WITH FILL FROM 1 TO 13, d WITH FILL FROM 1 TO 32 STEP 5
          |) ORDER BY m, d""".stripMargin))
    },

    // dictGet (ASTDictionary.h:1): the nation dimension registered as
    // a dictionary, looked up per row from verbatim CH SQL — a
    // broadcast-map ElementAt in the plan, no join, no shuffle. The
    // oracle is the equivalent dimension join.
    "c07_dictget" -> Q(
      """SELECT n.n_name AS nation, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      val t = Tables(s, dir)
      graft.functions.ChDictionaries.register(
        "nation", t.nation, "n_nationkey", Seq("n_name"))
      t.customer.createOrReplaceTempView("customer")
      s.sql(
        """SELECT dictGet('nation', 'n_name', c_nationkey) AS nation,
          |  COUNT(*) AS n_cust,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
          |FROM customer GROUP BY nation ORDER BY nation""".stripMargin)
    },

    // ASOF JOIN as verbatim CH SQL through execute(): planned
    // schema-aware onto the operators.AsOfJoin union+last-value plan
    // (one shuffle, no range cross-join). Oracle is DuckDB's native
    // ASOF LEFT JOIN — the j09 semantics, now reachable from SQL.
    "c13_ch_asof_join" -> Q(
      """SELECT c.event_id AS event_id, c.user_id AS user_id, e.event_id AS err_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      val ev = Tables(s, dir).events
      ev.filter(col("event_type") === "click").createOrReplaceTempView("clicks")
      ev.filter(col("event_type") === "error").createOrReplaceTempView("errors")
      graft.functions.ChDdl.execute(s,
        """SELECT c.event_id AS event_id, c.user_id AS user_id, e.event_id AS err_event_id
          |FROM clicks c
          |ASOF LEFT JOIN errors e ON c.user_id = e.user_id AND c.ts >= e.ts
          |ORDER BY event_id""".stripMargin)
    },

    // SETTINGS mapped onto Spark confs (ASTSetQuery.h:12-17): the
    // reference's users steer the engine with a trailing SETTINGS
    // clause; through execute() the mapped knobs take effect
    // query-scoped — max_threads becomes the shuffle fan-out, proved
    // on the PLAN (a 7-partition exchange in a 4-partition session),
    // while no-op knobs (max_block_size) drop without changing
    // results: the oracle is the plain aggregate.
    "c14_ch_settings" -> Q(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      val q = graft.functions.ChDdl.execute(s,
        """SELECT o_orderstatus, count() AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
          |SETTINGS max_threads = 7, max_block_size = 65536""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert("(?:hash|range)partitioning\\([^)]*, 7\\)".r.findFirstIn(plan).isDefined,
        s"SETTINGS max_threads = 7 did not reach the physical plan:\n$plan")
      q
    },

    // COLUMNS('regex') APPLY(f) (ASTColumnsMatcher.h:1,
    // ASTColumnsTransformers.h:1): the matcher resolves against the
    // FROM relation's schema behind the execute() front door, the
    // transformer wraps each matched column and names the output
    // `f(col)` exactly as the reference does — the oracle states the
    // expansion literally with the same names.
    "c15_ch_columns_apply" -> Q(
      """SELECT l_returnflag,
        |  MAX(l_orderkey) AS "max(l_orderkey)",
        |  MAX(l_partkey) AS "max(l_partkey)",
        |  MAX(l_suppkey) AS "max(l_suppkey)"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem")
      graft.functions.ChDdl.execute(s,
        """SELECT l_returnflag, COLUMNS('^l_.*key$') APPLY(max)
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // STRICT INNER ASOF with subquery sides (ASTTablesInSelectQuery.h:
    // 76-99 — Strictness::Asof admits `>` as well as `>=`, and either
    // side may be a derived table): bare `ASOF JOIN` drops unmatched
    // left rows, `c.ts > e.ts` excludes equal-timestamp matches, and
    // both sides are parenthesized subqueries translated recursively.
    // DuckDB's native ASOF is inclusive-left-only, so the oracle
    // inlines the same union+carry window SQL; the right side is
    // pre-deduped to one row per (user, ts) so tie-breaks can't differ.
    "c16_ch_asof_strict" -> Q(
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts AS ets, max(event_id) AS err_event_id
        |      FROM events WHERE event_type = 'error' GROUP BY user_id, ts),
        |u AS (
        |  SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS p, 1 AS side FROM c
        |  UNION ALL
        |  SELECT user_id, ets, CAST(NULL AS BIGINT), err_event_id, 0 FROM e),
        |w AS (
        |  SELECT user_id, ts, event_id, side,
        |    last_value(p IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, side DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS err_event_id
        |  FROM u)
        |SELECT event_id, user_id, err_event_id FROM w
        |WHERE side = 1 AND err_event_id IS NOT NULL
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).events.createOrReplaceTempView("events")
      graft.functions.ChDdl.execute(s,
        """SELECT c.event_id AS event_id, c.user_id AS user_id, e.err_event_id AS err_event_id
          |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
          |ASOF JOIN (SELECT user_id, ts AS ets, max(event_id) AS err_event_id
          |           FROM events WHERE event_type = 'error' GROUP BY user_id, ts) e
          |  ON c.user_id = e.user_id AND c.ts > e.ets
          |ORDER BY event_id""".stripMargin)
    },

    // ASOF JOIN USING shorthand (ASTTablesInSelectQuery.h
    // using_expression_list): shared column names, every column but
    // the last an equality key, the last the `>=` inequality. Oracled
    // against DuckDB's native ASOF USING (same inclusive contract).
    "j13_asof_using" -> Q(
      """SELECT l.event_id AS event_id, r.err_event_id AS err_event_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS err_event_id
        |                FROM events WHERE event_type = 'error'
        |                GROUP BY user_id, ts) r
        |USING (user_id, ts)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      val ev = Tables(s, dir).events
      ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
        .createOrReplaceTempView("asof_u_clicks")
      ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts")
        .agg(org.apache.spark.sql.functions.max("event_id").as("err_event_id"))
        .createOrReplaceTempView("asof_u_errors")
      graft.functions.ChDdl.execute(s,
        """SELECT l.event_id AS event_id, r.err_event_id AS err_event_id
          |FROM asof_u_clicks l
          |ASOF LEFT JOIN asof_u_errors r USING (user_id, ts)
          |ORDER BY event_id""".stripMargin)
    },

    // String search/replace registry names around the reference's
    // LIKE machinery (likePatternToRegexp.h): notLike, first-
    // occurrence replaceOne, replaceRegexpAll, CH-rule extract /
    // extractAll (whole match without a capturing group, else group
    // 1), bitTest — all composed from codegen'd builtins, oracled.
    "c21_ch_strings2" -> Q(
      """SELECT p_partkey,
        |  p_name NOT LIKE '%green%' AS nl,
        |  regexp_replace(p_name, 'a', '_') AS r1,
        |  regexp_replace(p_name, '[aeiou]', '.', 'g') AS ra,
        |  regexp_extract(p_type, '[A-Z]+') AS ex0,
        |  regexp_extract(p_type, '^([A-Z]+) ', 1) AS ex1,
        |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), ',') AS exa,
        |  (p_partkey >> 3) & 1 AS bt
        |FROM part ORDER BY p_partkey""".stripMargin)(
      chSql(Seq("part_v"),
        """SELECT p_partkey,
          |  notLike(p_name, '%green%') AS nl,
          |  replaceOne(p_name, 'a', '_') AS r1,
          |  replaceRegexpAll(p_name, '[aeiou]', '.') AS ra,
          |  extract(p_type, '[A-Z]+') AS ex0,
          |  extract(p_type, '^([A-Z]+) ') AS ex1,
          |  arrayStringConcat(extractAll(p_name, '[a-z]+'), ',') AS exa,
          |  bitTest(p_partkey, 3) AS bt
          |FROM part_v ORDER BY p_partkey""".stripMargin)),

    // Multi-needle search + array containment: multiSearchAny /
    // hasAny / hasAll — higher-order ArrayExists/ArrayForAll lambdas
    // (needles may be any array expression, not just literals);
    // CH array literals pass through rewriteBrackets. Oracled.
    "c22_ch_multisearch" -> Q(
      """SELECT p_partkey,
        |  contains(p_name, 'green') OR contains(p_name, 'red') AS msa,
        |  list_has_any(string_split(p_name, ' '), ['green', 'red']) AS ha,
        |  list_has_all(string_split(p_name, ' '), ['lemon', 'blue']) AS hall
        |FROM part ORDER BY p_partkey""".stripMargin)(
      chSql(Seq("part_v"),
        """SELECT p_partkey,
          |  multiSearchAny(p_name, ['green', 'red']) AS msa,
          |  hasAny(splitByChar(' ', p_name), ['green', 'red']) AS ha,
          |  hasAll(splitByChar(' ', p_name), ['lemon', 'blue']) AS hall
          |FROM part_v ORDER BY p_partkey""".stripMargin)),

    // LIMIT o, n BY cols — the offset form (ASTSelectQuery.h:30,60-61
    // limitByOffset, parsed at ParserSelectQuery.cpp:427): rows
    // o+1 … o+n of each group under the query's ORDER BY. Realized as
    // a per-group row_number window BETWEEN filter; the oracle states
    // the same window directly.
    "c23_ch_limit_by_offset" -> Q(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_custkey, o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn BETWEEN 2 AND 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
          |LIMIT 1, 2 BY o_custkey""".stripMargin)),

    // SQL-standard OFFSET … FETCH (ParserSelectQuery.cpp:306-327):
    // the ONLY form maps to Spark's LIMIT/OFFSET verbatim.
    "c24_ch_offset_fetch" -> Q(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 25 OFFSET 10""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderkey, o_totalprice FROM orders
          |ORDER BY o_orderkey
          |OFFSET 10 ROWS FETCH NEXT 25 ROWS ONLY""".stripMargin)),

    // FETCH FIRST … WITH TIES: the q17 threshold plan (distributed
    // top-m boundary broadcast back as a filter — no global rank
    // window). The subquery carries the FETCH; the outer ORDER BY
    // makes the output total for the hash compare.
    "c25_ch_fetch_ties" -> Q(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice <= (
        |  SELECT o_totalprice FROM orders ORDER BY o_totalprice LIMIT 1 OFFSET 99)
        |ORDER BY o_totalprice, o_orderkey""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderkey, o_totalprice FROM (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  ORDER BY o_totalprice
          |  FETCH FIRST 100 ROWS WITH TIES)
          |ORDER BY o_totalprice, o_orderkey""".stripMargin)),

    // IPv4 domain conversions (DataTypeCustomIPv4AndIPv6.cpp — IPv4
    // is a UInt32 with dotted-quad presentation): the corpus has no IP
    // column, so a deterministic UInt32 derives from doc_id (mirrored
    // in the oracle); rendering, parsing roundtrip, and validation all
    // pinned. Shift-and-mask arithmetic — pure codegen, no UDF.
    "c20_ch_ipv4" -> Q(
      """SELECT doc_id,
        |  CAST((n // 16777216) % 256 AS VARCHAR) || '.' ||
        |  CAST((n // 65536) % 256 AS VARCHAR) || '.' ||
        |  CAST((n // 256) % 256 AS VARCHAR) || '.' ||
        |  CAST(n % 256 AS VARCHAR) AS ip,
        |  n AS back, TRUE AS valid
        |FROM (SELECT doc_id,
        |        (doc_id * 2654435761) % 4294967296 AS n FROM documents)
        |ORDER BY doc_id""".stripMargin)(
      chSql(Seq("documents"),
        """SELECT doc_id,
          |  IPv4NumToString(modulo(doc_id * 2654435761, 4294967296)) AS ip,
          |  IPv4StringToNum(
          |    IPv4NumToString(modulo(doc_id * 2654435761, 4294967296))) AS back,
          |  isIPv4String(
          |    IPv4NumToString(modulo(doc_id * 2654435761, 4294967296))) AS valid
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Aggregate-combinator names (AggregateFunctionCombinatorFactory
    // in ClickHouse; the reference resolves suffix chains off the base
    // name): -Distinct, -Array, -If, -OrNull and their stacks, all as
    // generated FunctionRegistry entries (functions/ChCombinators) —
    // verbatim CH aggregate calls through spark.sql.
    "c19_ch_combinators" -> Q(
      """SELECT o_orderstatus,
        |  CAST(SUM(DISTINCT year(o_orderdate)) AS BIGINT) AS sd,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_totalprice > 400000) AS DOUBLE) AS s4,
        |  NULLIF(COUNT(*) FILTER (WHERE o_totalprice > 450000), 0) AS c4,
        |  CAST(SUM(CASE WHEN o_orderpriority != '5-LOW' THEN (o_orderkey % 10) + (o_orderkey % 7) END) AS BIGINT) AS sa,
        |  MAX(GREATEST(o_orderkey % 1000, o_custkey % 1000)) AS ma,
        |  COUNT(DISTINCT CASE WHEN o_totalprice > 200000 THEN o_custkey END) AS ue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderstatus,
          |  CAST(sumDistinct(toYear(o_orderdate)) AS BIGINT) AS sd,
          |  CAST(sumIfOrNull(CAST(o_totalprice AS DECIMAL(18,2)), o_totalprice > 400000) AS DOUBLE) AS s4,
          |  countIfOrNull(o_totalprice > 450000) AS c4,
          |  CAST(sumArrayIf(array(o_orderkey % 10, o_orderkey % 7), o_orderpriority != '5-LOW') AS BIGINT) AS sa,
          |  maxArray(array(o_orderkey % 1000, o_custkey % 1000)) AS ma,
          |  uniqExactIf(o_custkey, o_totalprice > 200000) AS ue
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // -State / -Merge combinators (functions/ChStateMerge) — the
    // AggregatingMergeTree two-level contract: partial states at a
    // FINE key (status × priority, the MV grain), merged to the
    // COARSE key. The oracle is the ONE-LEVEL aggregate — equality
    // proves the state encodings merge losslessly. DECIMAL sums keep
    // the merge addition-order independent (the double cast happens
    // once, after the exact merge); uniq (HLL) is spec-covered in
    // ChCombinatorSpec instead (sketch estimates have no DuckDB twin).
    "c33_ch_state_merge" -> Q(
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS cnt,
        |  MIN(o_orderdate) AS mnd,
        |  MAX(o_orderdate) AS mxd,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(o_totalprice) AS avgp,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS uc,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS chot
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderstatus,
          |  CAST(sumMerge(ts) AS DOUBLE) AS total,
          |  countMerge(cs) AS cnt,
          |  minMerge(mns) AS mnd,
          |  maxMerge(mxs) AS mxd,
          |  avgMerge(avs) AS avgp,
          |  uniqExactMerge(ues) AS uc,
          |  countMerge(chs) AS chot
          |FROM (
          |  SELECT o_orderstatus, o_orderpriority,
          |    sumState(CAST(o_totalprice AS DECIMAL(18,2))) AS ts,
          |    countState() AS cs,
          |    minState(o_orderdate) AS mns,
          |    maxState(o_orderdate) AS mxs,
          |    avgState(CAST(o_totalprice AS DECIMAL(18,2))) AS avs,
          |    uniqExactState(o_custkey) AS ues,
          |    countIfState(o_totalprice > 200000) AS chs
          |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Round-9 aggregate extras: weighted top-k (native keyed-map
    // state), exact quantile bounds (floor/ceil of q·(n−1) on the
    // sorted group), interval union length (covered-frontier sweep,
    // the DuckDB twin spells the same sweep with a running-max
    // window). Integral weights/lengths keep every cell exact.
    "c34_ch_agg_extras2" -> Q(
      """WITH w AS (
        |  SELECT o_orderstatus, o_orderpriority AS p,
        |    SUM(o_orderkey % 100) AS s
        |  FROM orders GROUP BY 1, 2),
        |tk AS (
        |  SELECT o_orderstatus,
        |    string_agg(p, ',' ORDER BY s DESC, p) FILTER (WHERE rk <= 3) AS topw
        |  FROM (SELECT o_orderstatus, p, s,
        |          ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |            ORDER BY s DESC, p) AS rk FROM w)
        |  GROUP BY 1),
        |qs AS (
        |  SELECT o_orderstatus,
        |    (list_sort(list(CAST(o_totalprice AS DECIMAL(18,2)))))
        |      [CAST(FLOOR(0.3 * (COUNT(*) - 1)) AS INT) + 1]::DOUBLE AS qlo,
        |    (list_sort(list(CAST(o_totalprice AS DECIMAL(18,2)))))
        |      [CAST(CEIL(0.3 * (COUNT(*) - 1)) AS INT) + 1] AS qhi
        |  FROM orders GROUP BY 1),
        |iv AS (
        |  SELECT o_orderstatus,
        |    CAST(o_orderkey % 50 AS DOUBLE) AS s,
        |    CAST(o_orderkey % 50 + o_custkey % 7 AS DOUBLE) AS e
        |  FROM orders),
        |sw AS (
        |  SELECT o_orderstatus, s, e,
        |    MAX(e) OVER (PARTITION BY o_orderstatus ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cov
        |  FROM iv),
        |il AS (
        |  SELECT o_orderstatus,
        |    SUM(GREATEST(0, e - GREATEST(s, COALESCE(cov, -1e300)))) AS ilen
        |  FROM sw GROUP BY 1)
        |SELECT tk.o_orderstatus, tk.topw, qs.qlo, qs.qhi, il.ilen
        |FROM tk JOIN qs ON tk.o_orderstatus = qs.o_orderstatus
        |        JOIN il ON tk.o_orderstatus = il.o_orderstatus
        |ORDER BY tk.o_orderstatus""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderstatus,
          |  arrayStringConcat(
          |    topKWeighted(3)(o_orderpriority, o_orderkey % 100), ',') AS topw,
          |  toFloat64(quantileExactLow(0.3)(CAST(o_totalprice AS DECIMAL(18,2)))) AS qlo,
          |  toFloat64(quantileExactHigh(0.3)(CAST(o_totalprice AS DECIMAL(18,2)))) AS qhi,
          |  intervalLengthSum(CAST(o_orderkey % 50 AS DOUBLE),
          |    CAST(o_orderkey % 50 + o_custkey % 7 AS DOUBLE)) AS ilen
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // exponentialTimeDecayed{Sum,Count,Avg,Max} — each event decayed
    // by exp(−Δt/x) to the group's latest time. The aggregate keeps
    // its sums normalized to its latest time (stable at epoch scale);
    // the oracle spells the mathematically-equal closed form
    // Σ v·exp((t−tmax)/x); round(6) absorbs the last-ulp
    // addition-order difference.
    "c35_ch_time_decay" -> Q(
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |    epoch_us(ts) / 1e6 AS t
        |  FROM events),
        |m AS (SELECT event_type, MAX(t) AS tmax FROM e GROUP BY 1)
        |SELECT e.event_type,
        |  ROUND(SUM(v * EXP((t - tmax) / 86400)), 6) AS dsum,
        |  ROUND(SUM(EXP((t - tmax) / 86400)), 6) AS dcnt,
        |  ROUND(SUM(v * EXP((t - tmax) / 86400))
        |    / SUM(EXP((t - tmax) / 86400)), 6) AS davg,
        |  ROUND(MAX(v * EXP((t - tmax) / 86400)), 6) AS dmax
        |FROM e JOIN m ON e.event_type = m.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).events.createOrReplaceTempView("events")
      s.sql(graft.functions.ChSql.translate(
        """SELECT event_type,
          |  round(exponentialTimeDecayedSum(86400)(
          |    toFloat64(value), toUnixTimestamp64Micro(ts) / 1e6), 6) AS dsum,
          |  round(exponentialTimeDecayedCount(86400)(
          |    toUnixTimestamp64Micro(ts) / 1e6), 6) AS dcnt,
          |  round(exponentialTimeDecayedAvg(86400)(
          |    toFloat64(value), toUnixTimestamp64Micro(ts) / 1e6), 6) AS davg,
          |  round(exponentialTimeDecayedMax(86400)(
          |    toFloat64(value), toUnixTimestamp64Micro(ts) / 1e6), 6) AS dmax
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))
    },

    // Query parameters through the front door (ASTQueryParameter.h:1):
    // {name:Type} placeholders render as TYPED literals — the oracle
    // states the substituted statement.
    "c18_ch_query_params" -> Q(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_totalprice > 150000 AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderdate >= DATE '1993-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      graft.functions.ChDdl.execute(s,
        """SELECT o_orderstatus, count() AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders
          |WHERE o_totalprice > {cut:Float64} AND has({ps:Array(String)}, o_orderpriority)
          |  AND o_orderdate >= {d:Date}
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
        Map("cut" -> "150000", "ps" -> "['1-URGENT', '2-HIGH']", "d" -> "1993-01-01"))
    },

    // Scalar WITH (ASTWithAlias.h): `WITH expr AS name` binds names to
    // expressions — including a scalar subquery — substituted at use
    // sites. Verbatim CH through the translator, oracled by inlining.
    "c12_ch_scalar_with" -> Q(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders) * (1 + 0.2)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """WITH 0.2 AS cut, (SELECT AVG(o_totalprice) FROM orders) AS m
          |SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > m * (1 + cut)
          |ORDER BY o_orderkey""".stripMargin))
    },

    // GROUP BY ... WITH TOTALS verbatim (ASTSelectQuery
    // group_by_with_totals): per-group rows plus one all-NULL-keyed
    // totals row, single pass via GROUPING SETS.
    "c11_ch_totals" -> Q(
      """SELECT o_orderpriority AS priority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderpriority), ())
        |ORDER BY priority ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """SELECT o_orderpriority AS priority, count() AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderpriority WITH TOTALS
          |ORDER BY priority ASC NULLS FIRST""".stripMargin))
    },

    // ANY JOIN strictness as SQL (ASTTablesInSelectQuery.h:82): the
    // right side collapses to one row per join key before the join.
    // Oracled with a unique-keyed dimension (where ANY ≡ plain join —
    // the at-most-one contract itself, with duplicate keys, is pinned
    // deterministically in ChSqlSpec).
    "c10_ch_any_join" -> Q(
      """SELECT c.c_custkey, n.n_name AS nation FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY c.c_custkey""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      val t = Tables(s, dir)
      t.customer.createOrReplaceTempView("customer")
      t.nation.createOrReplaceTempView("nation")
      s.sql(graft.functions.ChSql.translate(
        """SELECT c.c_custkey, n.n_name AS nation FROM customer c
          |ANY LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
          |ORDER BY c.c_custkey""".stripMargin))
    },

    // WITH FILL … INTERPOLATE through the translator: the filled axis
    // carries the last seen total forward, realized as the bucketed
    // two-level carry (no global window) — verbatim CH, oracled
    // against DuckDB's IGNORE NULLS carry.
    "c09_ch_interpolate" -> Q(
      """WITH q AS (
        |  SELECT CAST(date_part('day', o_orderdate) AS BIGINT) AS d,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS t0
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000
        |  GROUP BY 1),
        |s AS (SELECT unnest(generate_series(1, 31)) AS d),
        |j AS (SELECT COALESCE(s.d, q.d) AS d, q.t0 FROM s FULL JOIN q ON s.d = q.d)
        |SELECT d, COALESCE(last_value(t0 IGNORE NULLS) OVER (ORDER BY d
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS t
        |FROM j ORDER BY d""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """SELECT d, ifNull(t, 0) AS t FROM (
          |  SELECT CAST(toDayOfMonth(o_orderdate) AS BIGINT) AS d,
          |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS t
          |  FROM orders
          |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000
          |  GROUP BY d
          |  ORDER BY d WITH FILL FROM 1 TO 32 INTERPOLATE (t)
          |) ORDER BY d""".stripMargin))
    },

    // Parametric aggregate syntax (ASTFunction.h parameters):
    // quantile(0.9)(x) and bare count() — the forms every real CH
    // query uses — folded by the translator into the registered
    // single-call dialect names.
    // The behavioral parametric aggregates through the SQL front door
    // (ChBehavioral): the reference user's spelling —
    // windowFunnel(w)(ts, conds…) — against the same oracles the
    // operator keys use (a16's funnel CTEs; a17's min<max plus a19's
    // closed-form transition count).
    "c27_ch_funnel_sql" -> Q(
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
        |FROM u ORDER BY user_id""".stripMargin)(
      chSql(Seq("events"),
        """SELECT user_id, windowFunnel(259200)(ts,
          |    event_type = 'view', event_type = 'click',
          |    event_type = 'purchase') AS level
          |FROM events
          |WHERE event_type IN ('view', 'click', 'purchase')
          |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "c28_ch_seq_sql" -> Q(
      """WITH e AS (SELECT user_id, ts, event_type, epoch_us(ts) AS t
        |           FROM events
        |           WHERE event_type IN ('signup', 'purchase')),
        |o AS (SELECT user_id, event_type, t,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |      FROM e)
        |SELECT user_id,
        |  CASE WHEN MIN(CASE WHEN event_type = 'signup' THEN t END)
        |          < MAX(CASE WHEN event_type = 'purchase' THEN t END)
        |       THEN 1 ELSE 0 END AS matched,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase'
        |                          AND prev = 'signup') AS INTEGER) AS n_chains
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin)(
      chSql(Seq("events"),
        """SELECT user_id,
          |  sequenceMatch('(?1).*(?2)')(ts,
          |    event_type = 'signup', event_type = 'purchase') AS matched,
          |  sequenceCount('(?1).*(?2)')(ts,
          |    event_type = 'signup', event_type = 'purchase') AS n_chains
          |FROM events
          |WHERE event_type IN ('signup', 'purchase')
          |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // retention through the SQL front door — flag array serialized to
    // a "1,0,1" string (the a15 idiom) so the hash compare never sees
    // an array cell. arrayStringConcat(arrayMap(toString…)) collapses
    // to codegen'd casts via CastTransformRewrite.
    "c29_ch_retention_sql" -> Q(
      """SELECT user_id,
        |  mv || ',' || (mv*mc) || ',' || (mv*mp) AS r FROM (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS mv,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS mc,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS mp
        |  FROM events GROUP BY user_id)
        |ORDER BY user_id""".stripMargin)(
      chSql(Seq("events"),
        """SELECT user_id,
          |  arrayStringConcat(arrayMap(x -> toString(x),
          |    retention(event_type = 'view', event_type = 'click',
          |              event_type = 'purchase')), ',') AS r
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // The A/B statistical-test aggregates (StatFns): studentTTest /
    // welchTTest / mannWhitneyUTest per event_type, cohort = parity of
    // user_id. Statistics are exact distributed arithmetic (rounded 6
    // to bridge summation order); p-values use the SAME published
    // closed-form approximations on both engines (t→z transform +
    // A&S 7.1.26 erfc — see FnBuilders), so the hash compare is exact.
    "c30_ch_stats" -> Q {
      def erfcChain(n: String, t: String, df: String): String =
        s"""    abs($t) * (1.0 - 1.0/(4.0*$df)) / sqrt(1.0 + $t*$t/(2.0*$df)) AS ${n}_zz,
          |    ${n}_zz / sqrt(2.0) AS ${n}_x,
          |    1.0/(1.0 + 0.3275911*${n}_x) AS ${n}_u,
          |    ${n}_u*(0.254829592 + ${n}_u*(-0.284496736 + ${n}_u*(1.421413741 +
          |      ${n}_u*(-1.453152027 + ${n}_u*1.061405429)))) * exp(-(${n}_x*${n}_x)) AS ${n}_p""".stripMargin
      s"""WITH e AS (
        |  SELECT event_type AS et, value AS v, CAST(user_id % 2 AS INT) AS g
        |  FROM events),
        |s AS (
        |  SELECT et,
        |    CAST(COUNT(*) FILTER (WHERE g = 0) AS DOUBLE) AS n1,
        |    CAST(COUNT(*) FILTER (WHERE g <> 0) AS DOUBLE) AS n2,
        |    SUM(v) FILTER (WHERE g = 0) AS s1,
        |    SUM(v*v) FILTER (WHERE g = 0) AS q1,
        |    SUM(v) FILTER (WHERE g <> 0) AS s2,
        |    SUM(v*v) FILTER (WHERE g <> 0) AS q2
        |  FROM e GROUP BY et),
        |tt AS (
        |  SELECT et, n1, n2,
        |    n1 + n2 - 2.0 AS st_df,
        |    (q1 - s1*s1/n1)/(n1 - 1.0) AS va1,
        |    (q2 - s2*s2/n2)/(n2 - 1.0) AS va2,
        |    s1/n1 - s2/n2 AS md,
        |    ((q1 - s1*s1/n1) + (q2 - s2*s2/n2)) / (n1 + n2 - 2.0) AS sp2
        |  FROM s),
        |tv AS (
        |  SELECT et, n1, n2, st_df,
        |    md / sqrt(sp2 * (1.0/n1 + 1.0/n2)) AS st_t,
        |    md / sqrt(va1/n1 + va2/n2) AS wt_t,
        |    (va1/n1 + va2/n2)*(va1/n1 + va2/n2) /
        |      ((va1/n1)*(va1/n1)/(n1 - 1.0) + (va2/n2)*(va2/n2)/(n2 - 1.0)) AS wt_df
        |  FROM tt),
        |rk AS (
        |  SELECT et, v, g,
        |    rank() OVER (PARTITION BY et ORDER BY v) AS rmin,
        |    COUNT(*) OVER (PARTITION BY et, v) AS ceq
        |  FROM e),
        |r1 AS (
        |  SELECT et,
        |    SUM(CASE WHEN g = 0 THEN rmin + (ceq - 1)/2.0 ELSE 0 END) AS r1
        |  FROM rk GROUP BY et),
        |tie AS (
        |  SELECT et, SUM(CAST(ceq AS DOUBLE)*ceq*ceq - ceq) AS ties
        |  FROM (SELECT DISTINCT et, v, ceq FROM rk) GROUP BY et),
        |mw AS (
        |  SELECT tv.et, st_t, st_df, wt_t, wt_df,
        |    r1.r1 - n1*(n1 + 1.0)/2.0 AS mw_u,
        |    n1*n2/2.0 AS mw_mu,
        |    (n1*n2/12.0) * ((n1 + n2 + 1.0) - tie.ties/((n1 + n2)*(n1 + n2 - 1.0))) AS mw_var
        |  FROM tv JOIN r1 ON tv.et = r1.et JOIN tie ON tv.et = tie.et),
        |pz AS (
        |  SELECT et, st_t, wt_t, mw_u,
        |${erfcChain("st", "st_t", "st_df")},
        |${erfcChain("wt", "wt_t", "wt_df")},
        |    GREATEST(abs(mw_u - mw_mu) - 0.5, 0.0) / sqrt(mw_var) AS mw_z,
        |    mw_z / sqrt(2.0) AS mw_x,
        |    1.0/(1.0 + 0.3275911*mw_x) AS mw_uu,
        |    CASE WHEN mw_var <= 0 THEN 1.0 ELSE
        |      mw_uu*(0.254829592 + mw_uu*(-0.284496736 + mw_uu*(1.421413741 +
        |        mw_uu*(-1.453152027 + mw_uu*1.061405429)))) * exp(-(mw_x*mw_x))
        |    END AS mw_p
        |  FROM mw)
        |SELECT et AS event_type,
        |  round(st_t, 6) AS st_t, round(st_p, 6) AS st_p,
        |  round(wt_t, 6) AS wt_t, round(wt_p, 6) AS wt_p,
        |  mw_u, round(mw_p, 6) AS mw_p
        |FROM pz ORDER BY event_type""".stripMargin } (c30Fn),

    // Scalar-surface sweep: integer arithmetic (gcd/lcm as a bounded
    // Euclid fold), the CH rounding ladders, finiteness clamp, the
    // contiguous-subsequence test, arrayReduce. The oracle spells
    // gcd natively (DuckDB has it), lcm via a·b/gcd, ladders as CASE,
    // hasSubstr as the explicit 3-position disjunction. Like c42, the
    // scan is a filtered ~1/64 key slice in both engines: the key
    // demonstrates name coverage (several interpreted-lambda kernels),
    // which the design keeps off hot scan paths.
    "c40_ch_scalar_extras" -> Q(
      """SELECT o_orderkey AS k,
        |  gcd(o_orderkey, o_custkey) AS g,
        |  (o_orderkey % 12 + 1) * (o_custkey % 8 + 1)
        |    // gcd(o_orderkey % 12 + 1, o_custkey % 8 + 1) AS l,
        |  CASE WHEN o_custkey % 90 < 1 THEN 0
        |       WHEN o_custkey % 90 < 18 THEN 17
        |       WHEN o_custkey % 90 < 25 THEN 18
        |       WHEN o_custkey % 90 < 35 THEN 25
        |       WHEN o_custkey % 90 < 45 THEN 35
        |       WHEN o_custkey % 90 < 55 THEN 45 ELSE 55 END AS ra,
        |  CASE WHEN o_orderkey % 40000 >= 36000 THEN 36000
        |       WHEN o_orderkey % 40000 >= 18000 THEN 18000
        |       WHEN o_orderkey % 40000 >= 7200 THEN 7200
        |       WHEN o_orderkey % 40000 >= 3600 THEN 3600
        |       WHEN o_orderkey % 40000 >= 1800 THEN 1800
        |       WHEN o_orderkey % 40000 >= 1200 THEN 1200
        |       WHEN o_orderkey % 40000 >= 600 THEN 600
        |       WHEN o_orderkey % 40000 >= 300 THEN 300
        |       WHEN o_orderkey % 40000 >= 240 THEN 240
        |       WHEN o_orderkey % 40000 >= 180 THEN 180
        |       WHEN o_orderkey % 40000 >= 120 THEN 120
        |       WHEN o_orderkey % 40000 >= 60 THEN 60
        |       WHEN o_orderkey % 40000 >= 30 THEN 30
        |       WHEN o_orderkey % 40000 >= 10 THEN 10
        |       WHEN o_orderkey % 40000 >= 1 THEN 1 ELSE 0 END AS rd,
        |  CAST(CASE WHEN o_orderkey % 1000 + 1 < 1 THEN 0
        |       ELSE POWER(2, FLOOR(LN(o_orderkey % 1000 + 1)/LN(2)))
        |       END AS BIGINT) AS re2,
        |  CAST(LEAST(GREATEST(CAST(o_totalprice AS DOUBLE), 50000),
        |    200000) AS DOUBLE) AS cl,
        |  ((o_orderkey % 5 = 3 AND o_custkey % 5 = o_orderkey % 5)
        |   OR (o_custkey % 5 = 3 AND 3 = o_orderkey % 5)
        |   OR (o_orderkey % 7 = o_orderkey % 5)) AS hs,
        |  CAST(o_orderkey % 10 + o_custkey % 10 AS DOUBLE) AS ar
        |FROM orders WHERE o_orderkey % 64 = 0
        |ORDER BY k LIMIT 2000""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderkey AS k,
          |  gcd(o_orderkey, o_custkey) AS g,
          |  lcm(modulo(o_orderkey, 12) + 1, modulo(o_custkey, 8) + 1) AS l,
          |  roundAge(modulo(o_custkey, 90)) AS ra,
          |  roundDuration(modulo(o_orderkey, 40000)) AS rd,
          |  roundToExp2(modulo(o_orderkey, 1000) + 1) AS re2,
          |  clamp(toFloat64(o_totalprice), 50000, 200000) AS cl,
          |  hasSubstr(
          |    array(modulo(o_orderkey, 5), modulo(o_custkey, 5), 3,
          |          modulo(o_orderkey, 7)),
          |    array(3, modulo(o_orderkey, 5))) AS hs,
          |  arrayReduce('sum',
          |    array(modulo(o_orderkey, 10), modulo(o_custkey, 10))) AS ar
          |FROM orders WHERE modulo(o_orderkey, 64) = 0
          |ORDER BY k LIMIT 2000""".stripMargin)),

    // Weighted quantiles: quantileInterpolatedWeighted interpolates
    // between the cumulative-weight midpoints p_i = (cum−w/2)/W of
    // the sorted sample (p_i strictly increasing since w > 0, so the
    // fold's "previous point" is exactly argmax(p_i < q) — the oracle
    // reconstructs the same two bracketing points with windows);
    // quantileTimingWeighted = the repeat-w-times interpolated
    // percentile, oracled by materializing the repeats.
    "c39_ch_weighted_quantiles" -> Q {
      def interp(q: String, tag: String): String =
        s"""i$tag AS (
           |  SELECT p.et,
           |    MAX(CASE WHEN pi < $q THEN pi END) AS pl,
           |    MIN(CASE WHEN pi >= $q THEN pi END) AS ph
           |  FROM p GROUP BY et),
           |r$tag AS (
           |  SELECT i$tag.et,
           |    CASE
           |      WHEN ph IS NULL THEN
           |        (SELECT MAX(v) FROM p WHERE p.et = i$tag.et)
           |      WHEN pl IS NULL THEN
           |        (SELECT v FROM p WHERE p.et = i$tag.et AND p.pi = i$tag.ph)
           |      ELSE
           |        (SELECT v FROM p WHERE p.et = i$tag.et AND p.pi = i$tag.pl)
           |        + ((SELECT v FROM p WHERE p.et = i$tag.et AND p.pi = i$tag.ph)
           |           - (SELECT v FROM p WHERE p.et = i$tag.et AND p.pi = i$tag.pl))
           |          * ($q - pl) / (ph - pl)
           |    END AS r
           |  FROM i$tag)""".stripMargin
      s"""WITH e AS (
        |  SELECT event_type AS et, CAST(value AS DOUBLE) v,
        |    user_id % 5 + 1 AS w
        |  FROM events),
        |c AS (
        |  SELECT et, v, w,
        |    SUM(w) OVER (PARTITION BY et ORDER BY v, w
        |      ROWS UNBOUNDED PRECEDING) cum,
        |    SUM(w) OVER (PARTITION BY et) tw
        |  FROM e),
        |p AS (SELECT et, v, (cum - w/2.0)/tw AS pi FROM c),
        |${interp("0.5", "a")},
        |${interp("0.9", "b")},
        |rep AS (
        |  SELECT e.et, e.v FROM e, generate_series(1, 5) g(i)
        |  WHERE g.i <= e.w),
        |qt AS (SELECT et, quantile_cont(v, 0.5) AS qt5 FROM rep GROUP BY et)
        |SELECT ra.et AS event_type,
        |  ROUND(ra.r, 6) AS qi5, ROUND(rb.r, 6) AS qi9,
        |  ROUND(qt.qt5, 6) AS qt5
        |FROM ra JOIN rb ON ra.et = rb.et JOIN qt ON ra.et = qt.et
        |ORDER BY event_type""".stripMargin } (
      chSqlFan(Seq("events"), Set("events"),
        """SELECT event_type,
          |  round(quantileInterpolatedWeighted(0.5)(toFloat64(value),
          |    modulo(user_id, 5) + 1), 6) AS qi5,
          |  round(quantileInterpolatedWeighted(0.9)(toFloat64(value),
          |    modulo(user_id, 5) + 1), 6) AS qi9,
          |  round(quantileTimingWeighted(0.5)(toFloat64(value),
          |    modulo(user_id, 5) + 1), 6) AS qt5
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // deltaSumTimestamp (declared-order positive-delta sum),
    // groupArrayInsertAt (positional insert over the keyed-map state,
    // MIN tie refinement, NULL slot padding), sparkbar (8-level
    // unicode bar of per-bucket sums; state = the x→sum map, CH's own
    // shape), exponentialMovingAverage (≡ decayed mean at hl/ln 2).
    // Integral-valued doubles keep bucket sums exact so the ceil
    // level can't flake at bucket boundaries.
    "c38_ch_agg_extras3" -> Q(
      """WITH e AS (
        |  SELECT event_type AS et, CAST(value AS DOUBLE) v,
        |    CAST(event_id % 100 AS DOUBLE) AS y,
        |    hour(ts) AS hk, user_id % 7 AS p,
        |    CAST(event_id % 1000 AS VARCHAR) AS sv,
        |    epoch_us(ts) AS tu, epoch_us(ts) / 1e6 AS tsec
        |  FROM events),
        |l AS (
        |  SELECT et, v - lag(v) OVER (PARTITION BY et ORDER BY tu, v) AS dv
        |  FROM e),
        |ds AS (
        |  SELECT et, ROUND(SUM(CASE WHEN dv > 0 THEN dv ELSE 0 END), 6) AS dsum
        |  FROM l GROUP BY et),
        |m AS (SELECT et, MAX(tsec) AS tmax FROM e GROUP BY 1),
        |ema AS (
        |  SELECT e.et,
        |    ROUND(SUM(v * EXP((tsec - tmax) * LN(2) / 3600))
        |      / SUM(EXP((tsec - tmax) * LN(2) / 3600)), 6) AS ema
        |  FROM e JOIN m ON e.et = m.et GROUP BY e.et),
        |h AS (SELECT et, hk, SUM(y) s FROM e GROUP BY 1, 2),
        |ext AS (SELECT et, MIN(hk) mn, MAX(hk) mx FROM h GROUP BY 1),
        |bk AS (
        |  SELECT h.et,
        |    LEAST(9, CAST(FLOOR((hk - mn) * 10.0 / (mx - mn + 1)) AS INT)) b,
        |    SUM(s) bs
        |  FROM h JOIN ext ON h.et = ext.et GROUP BY 1, 2),
        |gs AS (SELECT ext.et, g.b FROM ext, generate_series(0, 9) g(b)),
        |fullb AS (
        |  SELECT gs.et, gs.b, COALESCE(bk.bs, 0) bs
        |  FROM gs LEFT JOIN bk ON gs.et = bk.et AND gs.b = bk.b),
        |mxs AS (SELECT et, MAX(bs) mbs FROM fullb GROUP BY 1),
        |bar AS (
        |  SELECT fullb.et,
        |    string_agg(CASE WHEN bs <= 0 THEN ' '
        |      ELSE substr('▁▂▃▄▅▆▇█', CAST(CEIL(bs * 8.0 / mbs) AS INT), 1)
        |      END, '' ORDER BY b) AS bar
        |  FROM fullb JOIN mxs ON fullb.et = mxs.et GROUP BY fullb.et),
        |ga AS (SELECT et, p, MIN(sv) mv FROM e GROUP BY 1, 2),
        |mp AS (SELECT et, MAX(p) m FROM ga GROUP BY 1),
        |slots AS (SELECT mp.et, g.p
        |          FROM mp, generate_series(0, 6) g(p) WHERE g.p <= mp.m),
        |gaj AS (
        |  SELECT slots.et,
        |    string_agg(COALESCE(ga.mv, 'NULL'), ',' ORDER BY slots.p) AS ins
        |  FROM slots LEFT JOIN ga ON slots.et = ga.et AND slots.p = ga.p
        |  GROUP BY slots.et)
        |SELECT ds.et AS event_type, ds.dsum, ema.ema, bar.bar, gaj.ins
        |FROM ds JOIN ema ON ds.et = ema.et JOIN bar ON ds.et = bar.et
        |        JOIN gaj ON ds.et = gaj.et
        |ORDER BY event_type""".stripMargin)(
      chSqlFan(Seq("events"), Set("events"),
        """SELECT event_type,
          |  round(deltaSumTimestamp(toFloat64(value),
          |    toUnixTimestamp64Micro(ts)), 6) AS dsum,
          |  round(exponentialMovingAverage(3600)(toFloat64(value),
          |    toUnixTimestamp64Micro(ts) / 1e6), 6) AS ema,
          |  sparkbar(10)(toHour(ts), toFloat64(modulo(event_id, 100))) AS bar,
          |  arrayStringConcat(arrayMap(v -> ifNull(v, 'NULL'),
          |    groupArrayInsertAt(toString(modulo(event_id, 1000)),
          |      modulo(user_id, 7))), ',') AS ins
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Categorical-association family over the native contingency-map
    // aggregate (StatFns): χ² from the joint map via Σn²/e − N (empty
    // cells need no enumeration), Cramér's V (plain + Bergsma
    // bias-corrected), Pearson's contingency coefficient, Theil's U
    // uncertainty coefficient, and the scorecard information value.
    // The oracle rebuilds the same contingency table with GROUP BY
    // CTEs and spells the identical formulas.
    "c36_ch_contingency" -> Q(
      """WITH base AS (
        |  SELECT year(o_orderdate) AS y, o_orderpriority AS a,
        |    o_orderstatus AS b, (o_totalprice > 150000) AS tag
        |  FROM orders),
        |j  AS (SELECT y, a, b, CAST(COUNT(*) AS DOUBLE) c
        |       FROM base GROUP BY 1, 2, 3),
        |ma AS (SELECT y, a, SUM(c) ca FROM j GROUP BY 1, 2),
        |mb AS (SELECT y, b, SUM(c) cb FROM j GROUP BY 1, 2),
        |rc AS (SELECT y, CAST(COUNT(DISTINCT a) AS DOUBLE) r,
        |         CAST(COUNT(DISTINCT b) AS DOUBLE) c,
        |         CAST(COUNT(*) AS DOUBLE) n
        |       FROM base GROUP BY 1),
        |chi AS (
        |  SELECT j.y, SUM(j.c*j.c/(ma.ca*mb.cb/rc.n)) - MAX(rc.n) AS chi2
        |  FROM j JOIN ma ON j.y = ma.y AND j.a = ma.a
        |         JOIN mb ON j.y = mb.y AND j.b = mb.b
        |         JOIN rc ON j.y = rc.y
        |  GROUP BY j.y),
        |hx AS (
        |  SELECT ma.y, -SUM((ca/rc.n)*LN(ca/rc.n)) AS hx
        |  FROM ma JOIN rc ON ma.y = rc.y GROUP BY ma.y),
        |hxy AS (
        |  SELECT j.y, -SUM((j.c/rc.n)*LN(j.c/mb.cb)) AS hxy
        |  FROM j JOIN mb ON j.y = mb.y AND j.b = mb.b
        |         JOIN rc ON j.y = rc.y
        |  GROUP BY j.y),
        |i1 AS (SELECT y, a, CAST(COUNT(*) AS DOUBLE) c1 FROM base
        |       WHERE tag GROUP BY 1, 2),
        |i0 AS (SELECT y, a, CAST(COUNT(*) AS DOUBLE) c0 FROM base
        |       WHERE NOT tag GROUP BY 1, 2),
        |nt AS (SELECT y,
        |         CAST(SUM(CASE WHEN tag THEN 1 ELSE 0 END) AS DOUBLE) n1,
        |         CAST(SUM(CASE WHEN tag THEN 0 ELSE 1 END) AS DOUBLE) n0
        |       FROM base GROUP BY 1),
        |iv AS (
        |  SELECT i1.y,
        |    SUM((c1/n1 - c0/n0) * LN((c1/n1)/(c0/n0))) AS iv
        |  FROM i1 JOIN i0 ON i1.y = i0.y AND i1.a = i0.a
        |          JOIN nt ON i1.y = nt.y
        |  GROUP BY i1.y)
        |SELECT rc.y,
        |  ROUND(SQRT(chi2/(n*(LEAST(r, c) - 1))), 6) AS cv,
        |  ROUND(SQRT(GREATEST(0, chi2/n - (r-1)*(c-1)/(n-1)) /
        |    (LEAST(r - (r-1)*(r-1)/(n-1), c - (c-1)*(c-1)/(n-1)) - 1)), 6) AS cvb,
        |  ROUND(SQRT(chi2/(chi2 + n)), 6) AS cg,
        |  ROUND((hx.hx - hxy.hxy)/hx.hx, 6) AS tu,
        |  ROUND(iv.iv, 6) AS iv
        |FROM rc JOIN chi ON rc.y = chi.y JOIN hx ON rc.y = hx.y
        |        JOIN hxy ON rc.y = hxy.y JOIN iv ON rc.y = iv.y
        |ORDER BY rc.y""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT toYear(o_orderdate) AS y,
          |  round(cramersV(o_orderpriority, o_orderstatus), 6) AS cv,
          |  round(cramersVBiasCorrected(o_orderpriority, o_orderstatus), 6) AS cvb,
          |  round(contingency(o_orderpriority, o_orderstatus), 6) AS cg,
          |  round(theilsU(o_orderpriority, o_orderstatus), 6) AS tu,
          |  round(arrayElement(
          |    categoricalInformationValue(o_orderpriority,
          |      o_totalprice > 150000), 1), 6) AS iv
          |FROM orders GROUP BY y ORDER BY y""".stripMargin)),

    // rankCorr (Spearman with average-rank ties — two sorted folds +
    // Pearson over rank pairs) and meanZTest (known-variance z test
    // with Winitzki-erfinv confidence bounds). The oracle ranks with
    // window functions (rank + (ties−1)/2 = the same average rank)
    // and spells the identical z/p/erfinv arithmetic.
    "c37_ch_rank_corr" -> Q(
      """WITH e AS (
        |  SELECT event_type AS et, CAST(value AS DOUBLE) v,
        |    CAST(user_id % 2 AS INT) AS g,
        |    CAST(user_id % 97 AS DOUBLE) AS u
        |  FROM events),
        |r AS (
        |  SELECT et,
        |    rank() OVER (PARTITION BY et ORDER BY v)
        |      + (COUNT(*) OVER (PARTITION BY et, v) - 1)/2.0 AS rx,
        |    rank() OVER (PARTITION BY et ORDER BY u)
        |      + (COUNT(*) OVER (PARTITION BY et, u) - 1)/2.0 AS ry
        |  FROM e),
        |rc AS (SELECT et, CORR(rx, ry) AS rc FROM r GROUP BY et),
        |s AS (
        |  SELECT et,
        |    CAST(COUNT(*) FILTER (WHERE g = 0) AS DOUBLE) AS n1,
        |    CAST(COUNT(*) FILTER (WHERE g <> 0) AS DOUBLE) AS n2,
        |    SUM(v) FILTER (WHERE g = 0) AS s1,
        |    SUM(v) FILTER (WHERE g <> 0) AS s2
        |  FROM e GROUP BY et),
        |z AS (
        |  SELECT et, n1, n2,
        |    s1/n1 - s2/n2 AS md,
        |    SQRT(2.0/n1 + 2.0/n2) AS se,
        |    (s1/n1 - s2/n2) / SQRT(2.0/n1 + 2.0/n2) AS zs
        |  FROM s),
        |p AS (
        |  SELECT et, zs, md, se,
        |    ABS(zs)/SQRT(2.0) AS x,
        |    1.0/(1.0 + 0.3275911*(ABS(zs)/SQRT(2.0))) AS uu,
        |    2.0/(PI()*0.147) + LN(1.0 - 0.95*0.95)/2.0 AS t0
        |  FROM z),
        |f AS (
        |  SELECT et, zs, md, se,
        |    GREATEST(0.0, uu*(0.254829592 + uu*(-0.284496736 +
        |      uu*(1.421413741 + uu*(-1.453152027 + uu*1.061405429))))
        |      * EXP(-(x*x))) AS pv,
        |    SQRT(2.0) * SQRT(SQRT(t0*t0 - LN(1.0 - 0.95*0.95)/0.147) - t0) AS zc
        |  FROM p)
        |SELECT f.et AS event_type,
        |  ROUND(rc.rc, 6) AS rcorr,
        |  ROUND(f.zs, 6) AS z_stat, ROUND(f.pv, 6) AS z_p,
        |  ROUND(f.md - f.zc*f.se, 6) AS ci_lo,
        |  ROUND(f.md + f.zc*f.se, 6) AS ci_hi
        |FROM f JOIN rc ON f.et = rc.et ORDER BY event_type""".stripMargin)(
      chSql(Seq("events"),
        """SELECT event_type,
          |  round(rankCorr(value, toFloat64(modulo(user_id, 97))), 6) AS rcorr,
          |  round(tupleElement(meanZTest(2.0, 2.0, 0.95)(
          |    value, modulo(user_id, 2)), 1), 6) AS z_stat,
          |  round(tupleElement(meanZTest(2.0, 2.0, 0.95)(
          |    value, modulo(user_id, 2)), 2), 6) AS z_p,
          |  round(tupleElement(meanZTest(2.0, 2.0, 0.95)(
          |    value, modulo(user_id, 2)), 3), 6) AS ci_lo,
          |  round(tupleElement(meanZTest(2.0, 2.0, 0.95)(
          |    value, modulo(user_id, 2)), 4), 6) AS ci_hi
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // boundingRatio + the interval-sweep aggregates per event_type.
    // Intervals are [value, value + 10): the oracle's +1/-1 running
    // sum over sorted boundaries is the same sweep StatFns folds;
    // "first point reaching the max" = min p with cur = max because p
    // is nondecreasing in sweep order.
    "c31_ch_agg_extras" -> Q(
      """WITH e AS (
        |  SELECT event_type AS et, CAST(event_id AS DOUBLE) AS x, value AS v
        |  FROM events),
        |br AS (
        |  SELECT et,
        |    round((arg_max(v, x) - arg_min(v, x)) / (max(x) - min(x)), 6) AS br
        |  FROM e GROUP BY et),
        |b AS (
        |  SELECT et, v AS p, 1 AS d FROM e
        |  UNION ALL SELECT et, v + 10 AS p, -1 AS d FROM e),
        |w AS (
        |  SELECT et, p,
        |    SUM(d) OVER (PARTITION BY et ORDER BY p, d
        |                 ROWS UNBOUNDED PRECEDING) AS cur
        |  FROM b),
        |m AS (SELECT et, MAX(cur) AS mx FROM w GROUP BY et),
        |pos AS (
        |  SELECT w.et, MIN(w.p) AS mip
        |  FROM w JOIN m ON w.et = m.et AND w.cur = m.mx GROUP BY w.et)
        |SELECT br.et AS event_type, br.br,
        |  CAST(m.mx AS BIGINT) AS mi, pos.mip
        |FROM br JOIN m ON br.et = m.et JOIN pos ON br.et = pos.et
        |ORDER BY event_type""".stripMargin)(
      chSql(Seq("events"),
        """SELECT event_type,
          |  round(boundingRatio(event_id, value), 6) AS br,
          |  maxIntersections(value, value + 10) AS mi,
          |  maxIntersectionsPosition(value, value + 10) AS mip
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // KS test + least-squares regression per event_type. The oracle's
    // cumulative-count window evaluates |F1−F2| at the same pooled
    // distinct-value boundaries the StatFns fold uses; the p series
    // and the Stephens effective-n correction are spelled identically.
    "c32_ch_stats2" -> Q(
      """WITH e AS (
        |  SELECT event_type AS et, value AS v,
        |    CAST(event_id AS DOUBLE) AS x,
        |    CAST(user_id % 2 AS INT) AS g
        |  FROM events),
        |n AS (
        |  SELECT et,
        |    CAST(COUNT(*) FILTER (WHERE g = 0) AS DOUBLE) AS n1,
        |    CAST(COUNT(*) FILTER (WHERE g <> 0) AS DOUBLE) AS n2,
        |    CAST(COUNT(*) AS DOUBLE) AS nn,
        |    SUM(x) AS sx, SUM(v) AS sy, SUM(x*v) AS sxy, SUM(x*x) AS sxx
        |  FROM e GROUP BY et),
        |b AS (
        |  SELECT et, v,
        |    SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS a1,
        |    SUM(CASE WHEN g <> 0 THEN 1 ELSE 0 END) AS a2
        |  FROM e GROUP BY et, v),
        |cum AS (
        |  SELECT et, v,
        |    SUM(a1) OVER (PARTITION BY et ORDER BY v) AS c1,
        |    SUM(a2) OVER (PARTITION BY et ORDER BY v) AS c2
        |  FROM b),
        |d AS (
        |  SELECT cum.et, MAX(ABS(c1/n.n1 - c2/n.n2)) AS dstat
        |  FROM cum JOIN n ON cum.et = n.et GROUP BY cum.et),
        |pz AS (
        |  SELECT n.et, d.dstat,
        |    n.n1*n.n2/(n.n1 + n.n2) AS ne,
        |    (sqrt(ne) + 0.12 + 0.11/sqrt(ne)) * d.dstat AS lam,
        |    lam*lam AS l2,
        |    2.0*(exp(-2.0*l2) - exp(-8.0*l2) + exp(-18.0*l2)) AS q,
        |    LEAST(GREATEST(q, 0.0), 1.0) AS p,
        |    (nn*sxy - sx*sy) / (nn*sxx - sx*sx) AS k,
        |    (sy - ((nn*sxy - sx*sy) / (nn*sxx - sx*sx)) * sx) / nn AS bb
        |  FROM n JOIN d ON n.et = d.et)
        |SELECT et AS event_type,
        |  round(dstat, 6) AS ks_d, round(p, 6) AS ks_p,
        |  round(k, 9) AS lr_k, round(bb, 6) AS lr_b
        |FROM pz ORDER BY event_type""".stripMargin)(
      chSql(Seq("events"),
        """SELECT event_type,
          |  round(tupleElement(kolmogorovSmirnovTest(value, modulo(user_id, 2)), 1), 6) AS ks_d,
          |  round(tupleElement(kolmogorovSmirnovTest(value, modulo(user_id, 2)), 2), 6) AS ks_p,
          |  round(tupleElement(simpleLinearRegression(event_id, value), 1), 9) AS lr_k,
          |  round(tupleElement(simpleLinearRegression(event_id, value), 2), 6) AS lr_b
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // scalar widening (StringFns, HashFns): URL cuts, hash exactness
    // (halfMD5), string metrics, date names, bit ops, simpleJSON scan,
    // readable formatting — each vs a hand-spelled DuckDB twin. The
    // c42 slice discipline applies (1/64 key filter in both engines):
    // levenshtein/punycode/IDN kernels are name coverage, not scan-path
    // work.
    "c41_ch_scalar_extras2" -> Q(
      """WITH o AS (SELECT *,
        |  'https://u:p@sub.example.' ||
        |    (CASE WHEN o_orderkey % 2 = 0 THEN 'com' ELSE 'org' END) ||
        |    '/p/' || o_orderkey || '?q=' || o_custkey || '#f' AS u,
        |  (CASE WHEN o_orderkey % 2 = 0 THEN 'com' ELSE 'org' END) AS tld2
        |  FROM orders WHERE o_orderkey % 64 = 0)
        |SELECT o_orderkey AS k,
        |  CAST(concat('0x', substr(md5(o_orderpriority), 1, 16))
        |    AS UBIGINT) AS hm,
        |  levenshtein(o_orderpriority, o_orderstatus) AS ed,
        |  len(regexp_extract_all(o_orderpriority, '[A-Z]+')) AS cm,
        |  array_to_string(regexp_extract_all(o_orderpriority,
        |    '[a-zA-Z]+'), '+') AS nat,
        |  jaccard(o_orderpriority, o_orderstatus) AS sj,
        |  tld2 AS tld,
        |  'https://u:p@sub.example.' || tld2 || '/p/' || o_orderkey AS cqf,
        |  'example' AS fss,
        |  'u:p@sub.example.' || tld2 AS nl,
        |  '/p/' || o_orderkey || '?q=' || o_custkey AS pf,
        |  monthname(o_orderdate) AS dn,
        |  dayname(o_orderdate) AS dw,
        |  datediff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS rd,
        |  year(o_orderdate) * 12 + month(o_orderdate) AS rm,
        |  CAST(o_orderdate
        |    + (o_orderkey % 24) * INTERVAL 1 HOUR AS VARCHAR) AS ah,
        |  CAST(CAST(CAST(o_orderdate AS DATE)
        |    - (o_orderkey % 12 + 1) * INTERVAL 1 MONTH AS DATE)
        |    AS VARCHAR) AS sm,
        |  ((o_orderkey % 1000)::BIGINT << 3)
        |    | ((o_orderkey % 1000)::BIGINT >> 61) AS rot,
        |  (o_orderkey & 3) = 3 AS bta,
        |  bit_count(xor(o_orderkey::BIGINT, o_custkey::BIGINT)) AS bh,
        |  regexp_extract('{"a":{"k":' || o_custkey || '}}',
        |    '"k"\s*:\s*(-?\d+)', 1)::BIGINT AS sji,
        |  array_to_string(json_keys('{"a":1,"b":' || o_custkey || '}'),
        |    ',') AS jk,
        |  printf('%.2f KB',
        |    CAST(o_totalprice % 900000 + 1000 AS DOUBLE) / 1000) AS frd
        |FROM o ORDER BY k LIMIT 2000""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderkey AS k,
          |  halfMD5(o_orderpriority) AS hm,
          |  editDistance(o_orderpriority, o_orderstatus) AS ed,
          |  countMatches(o_orderpriority, '[A-Z]+') AS cm,
          |  arrayStringConcat(alphaTokens(o_orderpriority), '+') AS nat,
          |  stringJaccardIndex(o_orderpriority, o_orderstatus) AS sj,
          |  topLevelDomain(u) AS tld,
          |  cutQueryStringAndFragment(u) AS cqf,
          |  firstSignificantSubdomain(u) AS fss,
          |  netloc(u) AS nl,
          |  pathFull(u) AS pf,
          |  dateName('month', o_orderdate) AS dn,
          |  dateName('weekday', o_orderdate) AS dw,
          |  toRelativeDayNum(o_orderdate) AS rd,
          |  toRelativeMonthNum(o_orderdate) AS rm,
          |  toString(addHours(toDateTime(o_orderdate),
          |    modulo(o_orderkey, 24))) AS ah,
          |  toString(subtractMonths(toDate(o_orderdate),
          |    modulo(o_orderkey, 12) + 1)) AS sm,
          |  bitRotateLeft(modulo(o_orderkey, 1000), 3) AS rot,
          |  bitTestAll(o_orderkey, 0, 1) AS bta,
          |  bitHammingDistance(o_orderkey, o_custkey) AS bh,
          |  simpleJSONExtractInt(
          |    concat('{"a":{"k":', toString(o_custkey), '}}'), 'k') AS sji,
          |  arrayStringConcat(JSONExtractKeys(
          |    concat('{"a":1,"b":', toString(o_custkey), '}')), ',') AS jk,
          |  formatReadableDecimalSize(
          |    modulo(o_totalprice, 900000) + 1000) AS frd
          |FROM (SELECT *,
          |  concat('https://u:p@sub.example.',
          |    if(modulo(o_orderkey, 2) = 0, 'com', 'org'),
          |    '/p/', toString(o_orderkey),
          |    '?q=', toString(o_custkey), '#f') AS u
          |  FROM orders WHERE modulo(o_orderkey, 64) = 0)
          |ORDER BY k LIMIT 2000""".stripMargin)),

    // array search HOFs (CollectionFns), WKT geometry (NetGeoFns),
    // reinterpret, proportion z-test + sample sizing — the statistical
    // twins spell the identical Winitzki-erfinv / A&S-erfc polynomials
    "c42_ch_scalar_extras3" -> Q(
      """WITH ct AS (SELECT
        |    2/(pi()*0.147) + ln(1-0.95*0.95)/2 AS ta,
        |    ln(1-0.95*0.95) AS la,
        |    2/(pi()*0.147) + ln(1-0.6*0.6)/2 AS tb,
        |    ln(1-0.6*0.6) AS lb),
        |consts AS (SELECT
        |  sqrt(sqrt(ta*ta - la/0.147) - ta) * sqrt(2) AS za,
        |  sqrt(sqrt(tb*tb - lb/0.147) - tb) * sqrt(2) AS zb FROM ct)
        |SELECT o_orderkey AS k,
        |  list_filter([o_orderkey % 4, o_custkey % 7, 5],
        |    x -> x > 5)[1] AS af,
        |  coalesce(list_position(
        |    list_transform([o_orderkey % 4, o_custkey % 7, 5],
        |      x -> x > 5), true), 0) AS afi,
        |  len(list_filter([o_orderkey, o_custkey, 3],
        |    x -> x % 2 = 0)) AS ac,
        |  array_to_string(regexp_extract_all(o_orderpriority,
        |    '[a-zA-Z0-9]+'), '+') AS sna,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS ld,
        |  ord(substr(o_orderstatus, 1, 1)) AS r32,
        |  CAST((o_orderkey % 10 + 1) * (o_custkey % 10 + 1)
        |    AS DOUBLE) AS area,
        |  ROUND(((o_orderkey % 50 + 10)/100.0 - (o_custkey % 50 + 10)/100.0)
        |    / sqrt((o_orderkey % 50 + 10)/100.0
        |        * (1 - (o_orderkey % 50 + 10)/100.0) / 100
        |      + (o_custkey % 50 + 10)/100.0
        |        * (1 - (o_custkey % 50 + 10)/100.0) / 100), 6) AS z,
        |  ROUND((SELECT (za + zb) * (za + zb) FROM consts)
        |    * ((0.05 + (o_orderkey % 10)/100.0)
        |        * (1 - (0.05 + (o_orderkey % 10)/100.0))
        |      + (0.07 + (o_orderkey % 10)/100.0)
        |        * (1 - (0.07 + (o_orderkey % 10)/100.0)))
        |    / (0.02 * 0.02), 6) AS mss
        |FROM orders WHERE o_orderkey % 64 = 0
        |ORDER BY k LIMIT 2000""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderkey AS k,
          |  arrayFirst(x -> x > 5,
          |    array(modulo(o_orderkey, 4), modulo(o_custkey, 7), 5)) AS af,
          |  arrayFirstIndex(x -> x > 5,
          |    array(modulo(o_orderkey, 4), modulo(o_custkey, 7), 5)) AS afi,
          |  arrayCount(x -> modulo(x, 2) = 0,
          |    array(o_orderkey, o_custkey, 3)) AS ac,
          |  arrayStringConcat(splitByNonAlpha(o_orderpriority), '+') AS sna,
          |  toString(toLastDayOfMonth(toDate(o_orderdate))) AS ld,
          |  reinterpretAsUInt32(substring(o_orderstatus, 1, 1)) AS r32,
          |  polygonAreaCartesian(readWKTRing(concat('POLYGON ((0 0, ',
          |    toString(modulo(o_orderkey, 10) + 1), ' 0, ',
          |    toString(modulo(o_orderkey, 10) + 1), ' ',
          |    toString(modulo(o_custkey, 10) + 1), ', 0 ',
          |    toString(modulo(o_custkey, 10) + 1), ', 0 0))'))) AS area,
          |  round(tupleElement(proportionsZTest(
          |    modulo(o_orderkey, 50) + 10, modulo(o_custkey, 50) + 10,
          |    100, 100, 0.95, 'unpooled'), 1), 6) AS z,
          |  round(tupleElement(minSampleSizeConversion(
          |    0.05 + modulo(o_orderkey, 10) / 100.0,
          |    0.02, 0.8, 0.05), 1), 6) AS mss
          |FROM orders WHERE modulo(o_orderkey, 64) = 0
          |ORDER BY k LIMIT 2000""".stripMargin)),

    // The in-engine ML family (ChMl): stochasticLinearRegression /
    // stochasticLogisticRegression / evalMLMethod through the CH
    // parametric front door. Realized as the deterministic closed
    // form (ridge normal equations; logistic = one Newton step from
    // w=0) — CH's own SGD is block-order-dependent, meaningless to
    // oracle. The DuckDB twin spells the SAME sums and the SAME
    // Cramer determinant expansion (ChMl.cramer3), so the weights
    // hash-compare exactly at 6 dp. l2 rides the weight diagonal
    // only (never the bias), matching CH.
    "c43_ch_ml" -> Q {
      // shared Cramer-3 solve over sums s11,s12,s1o,s22,s2o,soo and
      // rhs b0,b1,b2 — token-for-token the ChMl.cramer3 expansion
      def cramer(p: String): String =
        s"""    ${p}s11*(${p}s22*${p}soo - ${p}s2o*${p}s2o)
           |      - ${p}s12*(${p}s12*${p}soo - ${p}s2o*${p}s1o)
           |      + ${p}s1o*(${p}s12*${p}s2o - ${p}s22*${p}s1o) AS ${p}det,
           |    ${p}b0*(${p}s22*${p}soo - ${p}s2o*${p}s2o)
           |      - ${p}s12*(${p}b1*${p}soo - ${p}s2o*${p}b2)
           |      + ${p}s1o*(${p}b1*${p}s2o - ${p}s22*${p}b2) AS ${p}n1,
           |    ${p}s11*(${p}b1*${p}soo - ${p}s2o*${p}b2)
           |      - ${p}b0*(${p}s12*${p}soo - ${p}s2o*${p}s1o)
           |      + ${p}s1o*(${p}s12*${p}b2 - ${p}b1*${p}s1o) AS ${p}n2,
           |    ${p}s11*(${p}s22*${p}b2 - ${p}b1*${p}s2o)
           |      - ${p}s12*(${p}s12*${p}b2 - ${p}b1*${p}s1o)
           |      + ${p}b0*(${p}s12*${p}s2o - ${p}s22*${p}s1o) AS ${p}n3""".stripMargin
      s"""WITH sums AS (
        |  SELECT l_linestatus,
        |    SUM(l_quantity*l_quantity) + 0.5 AS ls11,
        |    SUM(l_quantity*l_discount) AS ls12,
        |    SUM(l_quantity) AS ls1o,
        |    SUM(l_discount*l_discount) + 0.5 AS ls22,
        |    SUM(l_discount) AS ls2o,
        |    SUM(1.0) AS lsoo,
        |    SUM(l_quantity*l_extendedprice) AS lb0,
        |    SUM(l_discount*l_extendedprice) AS lb1,
        |    SUM(l_extendedprice) AS lb2,
        |    SUM(l_quantity*l_quantity)*0.25 + 0.25 AS gs11,
        |    SUM(l_quantity*l_discount)*0.25 AS gs12,
        |    SUM(l_quantity)*0.25 AS gs1o,
        |    SUM(l_discount*l_discount)*0.25 + 0.25 AS gs22,
        |    SUM(l_discount)*0.25 AS gs2o,
        |    SUM(1.0)*0.25 AS gsoo,
        |    SUM(l_quantity*((CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END) - 0.5)) AS gb0,
        |    SUM(l_discount*((CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END) - 0.5)) AS gb1,
        |    SUM((CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END) - 0.5) AS gb2
        |  FROM lineitem GROUP BY l_linestatus),
        |solved AS (
        |  SELECT l_linestatus,
        |${cramer("l")},
        |${cramer("g")}
        |  FROM sums),
        |w AS (
        |  SELECT l_linestatus,
        |    ln1/ldet AS w1u, ln2/ldet AS w2u, ln3/ldet AS wbu,
        |    gn1/gdet AS g1u, gn2/gdet AS g2u, gn3/gdet AS gbu
        |  FROM solved)
        |SELECT l_linestatus,
        |  round(w1u, 6) AS w1, round(w2u, 6) AS w2, round(wbu, 6) AS wb,
        |  round(g1u, 6) AS g1, round(g2u, 6) AS g2, round(gbu, 6) AS gb,
        |  round((wbu + w1u*25.0) + w2u*0.05, 6) AS pred
        |FROM w ORDER BY l_linestatus""".stripMargin } (
      chSql(Seq("lineitem"),
        """SELECT l_linestatus,
          |  round(arrayElement(tupleElement(stochasticLinearRegression(1.0, 0.5, 10, 'SGD')(
          |    l_extendedprice, l_quantity, l_discount), 2), 1), 6) AS w1,
          |  round(arrayElement(tupleElement(stochasticLinearRegression(1.0, 0.5, 10, 'SGD')(
          |    l_extendedprice, l_quantity, l_discount), 2), 2), 6) AS w2,
          |  round(arrayElement(tupleElement(stochasticLinearRegression(1.0, 0.5, 10, 'SGD')(
          |    l_extendedprice, l_quantity, l_discount), 2), 3), 6) AS wb,
          |  round(arrayElement(tupleElement(stochasticLogisticRegression(1.0, 0.25, 10, 'SGD')(
          |    if(l_returnflag = 'A', 1.0, 0.0), l_quantity, l_discount), 2), 1), 6) AS g1,
          |  round(arrayElement(tupleElement(stochasticLogisticRegression(1.0, 0.25, 10, 'SGD')(
          |    if(l_returnflag = 'A', 1.0, 0.0), l_quantity, l_discount), 2), 2), 6) AS g2,
          |  round(arrayElement(tupleElement(stochasticLogisticRegression(1.0, 0.25, 10, 'SGD')(
          |    if(l_returnflag = 'A', 1.0, 0.0), l_quantity, l_discount), 2), 3), 6) AS gb,
          |  round(evalMLMethod(stochasticLinearRegression(1.0, 0.5, 10, 'SGD')(
          |    l_extendedprice, l_quantity, l_discount), 25.0, 0.05), 6) AS pred
          |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // sequenceNextNode (public CH parametric aggregate): the event
    // value right after a matched consecutive-event chain. The
    // oracle replays the same semantics with per-user row_number +
    // lead windows (events have per-user-unique timestamps at every
    // SF, so the (ts, event_type) sort is total on both engines).
    "c44_ch_seq_next" -> Q(
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS ev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_type) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |le AS (
        |  SELECT u, ev, rn, n,
        |    lead(ev, 1) OVER (PARTITION BY u ORDER BY rn) AS e1
        |  FROM e),
        |fm AS (
        |  SELECT u, min(rn) AS a FROM le
        |  WHERE ev = 'view' AND e1 = 'click' GROUP BY u),
        |users AS (SELECT DISTINCT u FROM e)
        |SELECT users.u AS user_id,
        |  nx.ev AS nxt,
        |  hd.hd AS hd,
        |  bk.bk AS bk
        |FROM users
        |LEFT JOIN fm ON users.u = fm.u
        |LEFT JOIN e nx ON nx.u = fm.u AND nx.rn = fm.a + 2
        |LEFT JOIN (
        |  SELECT u,
        |    CASE WHEN min(CASE WHEN rn = 1 THEN ev END) = 'view'
        |         THEN min(CASE WHEN rn = 2 THEN ev END) END AS hd
        |  FROM e GROUP BY u) hd ON users.u = hd.u
        |LEFT JOIN (
        |  SELECT u,
        |    CASE WHEN min(CASE WHEN rn = n THEN ev END) = 'purchase'
        |         THEN min(CASE WHEN rn = n - 1 THEN ev END) END AS bk
        |  FROM e GROUP BY u) bk ON users.u = bk.u
        |ORDER BY user_id""".stripMargin)(
      chSql(Seq("events"),
        """SELECT user_id,
          |  sequenceNextNode('forward', 'first_match')(ts, event_type,
          |    event_type != '', event_type = 'view', event_type = 'click') AS nxt,
          |  sequenceNextNode('forward', 'head')(ts, event_type,
          |    event_type != '', event_type = 'view') AS hd,
          |  sequenceNextNode('backward', 'tail')(ts, event_type,
          |    event_type != '', event_type = 'purchase') AS bk
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // deterministic surface (NetGeoFns, NumberFns): Z-order codes (the
    // oracle spells the 16-bit interleave as an unrolled bit sum),
    // Julian-day anchors, date constructors, MySQL-format parsing
    // (DuckDB's strptime speaks C tokens natively), value-mapping
    // transform, tuple arithmetic, CIDR membership (v4 via octet
    // arithmetic), full month names, Interval makers. The
    // rand/AES/shuffle/hilbert/jump names are nondeterministic or
    // loop-shaped — ChDialect4Spec covers those.
    "c45_ch_sweep3" -> Q {
      val morton = (0 until 16).map(b =>
        s"(((o_orderkey % 65536 >> $b) & 1) << ${2 * b}) + " +
          s"(((o_custkey % 65536 >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""SELECT o_orderkey AS k,
        |  $morton AS mz,
        |  datediff('day', DATE '1858-11-17', CAST(o_orderdate AS DATE)) AS mjd,
        |  CAST(DATE '1858-11-17' + CAST(40000 + o_orderkey % 20000 AS INT) AS VARCHAR) AS fmj,
        |  CAST(make_date(CAST(2000 + o_orderkey % 20 AS INT),
        |    CAST(o_custkey % 12 + 1 AS INT),
        |    CAST(o_orderkey % 28 + 1 AS INT)) AS VARCHAR) AS mkd,
        |  monthname(CAST(o_orderdate AS DATE)) AS mn,
        |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS dz,
        |  CAST(strptime('2021-' || lpad(CAST(o_custkey % 12 + 1 AS VARCHAR), 2, '0')
        |    || '-15 08:30:00', '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS pdt,
        |  CASE o_orderkey % 5 WHEN 0 THEN 'zero' WHEN 1 THEN 'one'
        |    WHEN 2 THEN 'two' ELSE 'many' END AS tv,
        |  o_orderkey % 100 + 10 AS tp1,
        |  o_custkey % 100 + 20 AS tp2,
        |  regexp_extract(o_orderpriority, '(\\d)-', 1) AS re,
        |  o_custkey % 256 = 37 AS ipr,
        |  CAST(CAST(DATE '2024-01-01' + INTERVAL (o_custkey % 12) MONTH AS DATE) AS VARCHAR) AS im
        |FROM orders ORDER BY k LIMIT 2000""".stripMargin } (
      chSqlFan(Seq("orders"), Set("orders"),
        """SELECT o_orderkey AS k,
          |  mortonEncode(o_orderkey % 65536, o_custkey % 65536) AS mz,
          |  toModifiedJulianDay(toDate(o_orderdate)) AS mjd,
          |  toString(fromModifiedJulianDay(40000 + o_orderkey % 20000)) AS fmj,
          |  toString(makeDate(2000 + o_orderkey % 20, o_custkey % 12 + 1,
          |    o_orderkey % 28 + 1)) AS mkd,
          |  monthName(toDate(o_orderdate)) AS mn,
          |  toDaysSinceYearZero(toDate(o_orderdate)) AS dz,
          |  toString(parseDateTime(concat('2021-',
          |    lpad(toString(o_custkey % 12 + 1), 2, '0'), '-15 08:30:00'),
          |    '%Y-%m-%d %H:%i:%s')) AS pdt,
          |  transform(o_orderkey % 5, [0, 1, 2], ['zero', 'one', 'two'],
          |    'many') AS tv,
          |  tupleElement(tuplePlus(tuple(o_orderkey % 100, o_custkey % 100),
          |    tuple(10, 20)), 1) AS tp1,
          |  tupleElement(tuplePlus(tuple(o_orderkey % 100, o_custkey % 100),
          |    tuple(10, 20)), 2) AS tp2,
          |  regexpExtract(o_orderpriority, '(\\d)-') AS re,
          |  isIPAddressInRange(concat('10.', toString(o_custkey % 256),
          |    '.0.1'), '10.37.0.0/16') AS ipr,
          |  toString(toDate('2024-01-01') + toIntervalMonth(o_custkey % 12)) AS im
          |FROM orders ORDER BY k LIMIT 2000""".stripMargin)),

    // aggregate-surface extras (StatFns): one-way ANOVA (keyed-map
    // cohort sums + Paulson F-tail normal approximation, spelled
    // identically in the oracle), singleValueOrNull, sorted
    // groupConcat, sample skewness/kurtosis from power sums,
    // sumMapFiltered (entries drop per row pre-aggregate). Rounds
    // bridge summation order (the c30 discipline).
    "c46_ch_agg_extras4" -> Q(
      """WITH e AS (
        |  SELECT event_type AS et, value AS v, user_id % 3 AS g,
        |    user_id % 2 AS h, CAST(user_id % 10 AS VARCHAR) AS d
        |  FROM events WHERE event_id < 300),
        |cg AS (
        |  SELECT et, g, CAST(COUNT(*) AS DOUBLE) AS n, SUM(v) AS s,
        |    SUM(v*v) AS q
        |  FROM e GROUP BY et, g),
        |an AS (
        |  SELECT et, CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS bign,
        |    SUM(s) AS bigs, SUM(q) AS bigq, SUM(s*s/n) AS ssbp
        |  FROM cg GROUP BY et),
        |af AS (
        |  SELECT et, k, bign,
        |    (ssbp - bigs*bigs/bign) AS ssb, (bigq - ssbp) AS ssw
        |  FROM an),
        |ff AS (
        |  SELECT et,
        |    (ssb/(k - 1.0)) / (ssw/(bign - k)) AS f,
        |    2.0/(9.0*(k - 1.0)) AS a1, 2.0/(9.0*(bign - k)) AS a2
        |  FROM af),
        |pz AS (
        |  SELECT et, f,
        |    ((1.0 - a2)*pow(f, 1.0/3.0) - (1.0 - a1))
        |      / sqrt(a1 + pow(f, 1.0/3.0)*pow(f, 1.0/3.0)*a2) AS z
        |  FROM ff),
        |pv AS (
        |  SELECT et, f, z / sqrt(2.0) AS x FROM pz),
        |pe AS (
        |  SELECT et, f, 1.0/(1.0 + 0.3275911*x) AS u, x FROM pv),
        |pp AS (
        |  SELECT et, f,
        |    LEAST(1.0, GREATEST(0.0, 0.5 * (u*(0.254829592 +
        |      u*(-0.284496736 + u*(1.421413741 + u*(-1.453152027 +
        |      u*1.061405429)))) * exp(-(x*x))))) AS p
        |  FROM pe),
        |base AS (
        |  SELECT et,
        |    CASE WHEN COUNT(DISTINCT et) = 1 THEN MIN(et) END AS sv,
        |    CASE WHEN COUNT(DISTINCT h) = 1 THEN MIN(h) END AS svn,
        |    string_agg(d, ',' ORDER BY d) AS gc,
        |    CAST(COUNT(*) AS DOUBLE) AS n, SUM(v) AS s1, SUM(v*v) AS s2,
        |    SUM(v*v*v) AS s3, SUM(v*v*v*v) AS s4,
        |    SUM(v/2) AS fb
        |  FROM e GROUP BY et),
        |mo AS (
        |  SELECT et, sv, svn, gc, fb, s1/n AS mu,
        |    (s2 - s1*(s1/n))/(n - 1.0) AS vs, n, s1, s2, s3, s4
        |  FROM base)
        |SELECT pp.et AS event_type,
        |  round(pp.f, 6) AS af, round(pp.p, 6) AS ap,
        |  mo.sv AS sv, mo.svn AS svn, mo.gc AS gc,
        |  round(((s3 - 3.0*mu*s2 + 2.0*n*mu*mu*mu)/(n - 1.0))
        |    / pow(vs, 1.5), 6) AS sk,
        |  round(((s4 - 4.0*mu*s3 + 6.0*mu*mu*s2 - 3.0*n*mu*mu*mu*mu)
        |    /(n - 1.0)) / (vs*vs), 6) AS ku,
        |  'b:' || CAST(round(fb, 4) AS VARCHAR) AS smf
        |FROM pp JOIN mo ON pp.et = mo.et
        |ORDER BY event_type""".stripMargin)(
      // fan-out reverted in r20: the clean same-batch A/B reads the
      // fanned form at x1.11 (dev/c46_d24_adjudicate_r20.txt) — the
      // exchange costs more than the kernel parallelism pays here
      chSql(Seq("events"),
        """SELECT event_type,
          |  round(tupleElement(anova(value, user_id % 3), 1), 6) AS af,
          |  round(tupleElement(anova(value, user_id % 3), 2), 6) AS ap,
          |  singleValueOrNull(event_type) AS sv,
          |  singleValueOrNull(user_id % 2) AS svn,
          |  groupConcat(',')(toString(user_id % 10)) AS gc,
          |  round(skewSamp(value), 6) AS sk,
          |  round(kurtSamp(value), 6) AS ku,
          |  concat(arrayStringConcat(mapKeys(
          |    sumMapFiltered(['b'])(['a', 'b'], [value, value / 2])), '|'),
          |    ':', arrayStringConcat(arrayMap(x -> toString(round(x, 4)),
          |      mapValues(sumMapFiltered(['b'])(['a', 'b'],
          |        [value, value / 2]))), '|')) AS smf
          |FROM events WHERE event_id < 300
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // misc scalar sweep: CH format() (DuckDB
    // speaks the same fmt-lib '{}' syntax natively), erf/erfc via the
    // A&S polynomial (spelled identically in the oracle — DuckDB has
    // no erf), Lanczos lgamma/tgamma vs DuckDB's native ones at
    // round-4 (agreement ~1e-11), exact integer powers, epoch-64
    // constructors, identity/ignore/concatAssumeInjective.
    "c47_ch_misc" -> Q {
      def poly(y: String): String =
        s"""(1.0/(1.0 + 0.3275911*$y)) * (0.254829592 +
           |  (1.0/(1.0 + 0.3275911*$y))*(-0.284496736 +
           |  (1.0/(1.0 + 0.3275911*$y))*(1.421413741 +
           |  (1.0/(1.0 + 0.3275911*$y))*(-1.453152027 +
           |  (1.0/(1.0 + 0.3275911*$y))*1.061405429)))) * exp(-($y*$y))""".stripMargin
      s"""SELECT o_orderkey AS k,
        |  format('{}-{}', CAST(o_orderkey % 100 AS VARCHAR), o_orderstatus) AS f,
        |  round(1.0 - (${poly("((o_custkey % 30) / 10.0)")}), 6) AS ef,
        |  round(2.0 - (${poly("((o_custkey % 20) / 10.0)")}), 6) AS ec,
        |  round(lgamma(o_custkey % 50 + 1.5), 4) AS lg,
        |  round(gamma(o_custkey % 8 + 1.5), 4) AS tg,
        |  (CAST(1 AS BIGINT) << (o_orderkey % 30)) AS p2,
        |  CAST(pow(10, o_custkey % 15) AS BIGINT) AS p10,
        |  o_orderkey % 7 AS idn,
        |  CAST(0 AS INT) AS ign,
        |  o_orderstatus || CAST(o_orderkey % 10 AS VARCHAR) AS ci,
        |  CAST(epoch_ms(1600000000000 + o_orderkey) AS VARCHAR) AS ms,
        |  CAST(make_timestamp(1600000000000000 + o_orderkey * 1000) AS VARCHAR) AS us
        |FROM orders ORDER BY k LIMIT 2000""".stripMargin } (
      chSqlFan(Seq("orders"), Set("orders"),
        """SELECT o_orderkey AS k,
          |  format('{}-{}', toString(o_orderkey % 100), o_orderstatus) AS f,
          |  round(erf(modulo(o_custkey, 30) / 10.0), 6) AS ef,
          |  round(erfc(-(modulo(o_custkey, 20) / 10.0)), 6) AS ec,
          |  round(lgamma(modulo(o_custkey, 50) + 1.5), 4) AS lg,
          |  round(tgamma(modulo(o_custkey, 8) + 1.5), 4) AS tg,
          |  intExp2(modulo(o_orderkey, 30)) AS p2,
          |  intExp10(modulo(o_custkey, 15)) AS p10,
          |  identity(modulo(o_orderkey, 7)) AS idn,
          |  ignore(o_orderstatus) AS ign,
          |  concatAssumeInjective(o_orderstatus, toString(o_orderkey % 10)) AS ci,
          |  toString(fromUnixTimestamp64Milli(1600000000000 + o_orderkey)) AS ms,
          |  toString(fromUnixTimestamp64Micro(1600000000000000 + o_orderkey * 1000)) AS us
          |FROM orders ORDER BY k LIMIT 2000""".stripMargin)),

    // The -Resample combinator (c48): per-bucket FILTER-aggregate
    // battery — bucket count is literal-known so every bucket stays a
    // partial agg; arrays rendered as strings (round-2 bridges
    // summation order, the c30 discipline).
    "c48_ch_resample" -> Q {
      def b(i: Int): String = s"(user_id % 50 >= ${i * 10} AND user_id % 50 < ${(i + 1) * 10})"
      val s = (0 until 5).map(i =>
        s"CAST(round(COALESCE(SUM(value) FILTER ${b(i)}, 0), 2) AS VARCHAR)")
        .mkString(" || ',' || ")
      val c = (0 until 5).map(i =>
        s"CAST(COUNT(value) FILTER ${b(i)} AS VARCHAR)")
        .mkString(" || ',' || ")
      // COALESCE(…, 0) = CH's default-value rendering for an empty
      // bucket — and keeps the key scale-robust (at tiny SFs some
      // buckets ARE empty; a bare NULL would nuke the whole || chain)
      val m = (0 until 5).map(i =>
        s"CAST(round(COALESCE(MAX(value) FILTER ${b(i)}, 0), 2) AS VARCHAR)")
        .mkString(" || ',' || ")
      s"""SELECT event_type, $s AS s, $c AS c, $m AS m
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin } (
      chSql(Seq("events"),
        """SELECT event_type,
          |  arrayStringConcat(arrayMap(x -> toString(round(x, 2)),
          |    sumResample(0, 50, 10)(value, user_id % 50)), ',') AS s,
          |  arrayStringConcat(arrayMap(x -> toString(x),
          |    countResample(0, 50, 10)(value, user_id % 50)), ',') AS c,
          |  arrayStringConcat(arrayMap(x -> toString(round(ifNull(x, 0), 2)),
          |    maxResample(0, 50, 10)(value, user_id % 50)), ',') AS m
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // toWeek/toYearWeek MySQL-mode arithmetic (c49): the oracle
    // re-derives each mode from first principles in DuckDB (dayofweek
    // there is Sunday=0), so the driver hash-checks the week numbering
    // itself, not a library lookup.
    "c49_ch_week_modes" -> Q(
      // DuckDB reads the parquet date back as TIMESTAMP and has no
      // +(TIMESTAMP, int) / +(DATE, BIGINT) overloads, so the oracle
      // casts to DATE up front and every day-offset term to INT.
      """WITH d AS (
        |  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
        |    CAST(date_trunc('year', o_orderdate) AS DATE) AS j1
        |  FROM orders),
        |a AS (
        |  SELECT k, d,
        |    j1 + CAST((7 - dayofweek(j1)) % 7 AS INT) AS fs,
        |    (j1 + 3) - CAST((dayofweek(j1 + 3) + 6) % 7 AS INT) AS w1s,
        |    d - CAST(dayofweek(d) AS INT) AS sun,
        |    (d - CAST((dayofweek(d) + 6) % 7 AS INT)) + 3 AS thu
        |  FROM d),
        |b AS (
        |  SELECT k, d, fs, w1s, sun, thu,
        |    CAST(date_trunc('year', sun) AS DATE) AS j1s
        |  FROM a)
        |SELECT k,
        |  CAST(CASE WHEN d < fs THEN 0
        |       ELSE datediff('day', fs, d) // 7 + 1 END AS INT) AS w0,
        |  CAST(CASE WHEN d < w1s THEN 0
        |       ELSE datediff('day', w1s, d) // 7 + 1 END AS INT) AS w1,
        |  CAST(weekofyear(d) AS INT) AS w3,
        |  CAST(year(sun) * 100 +
        |    datediff('day', j1s + CAST((7 - dayofweek(j1s)) % 7 AS INT), sun) // 7 + 1
        |    AS INT) AS yw0,
        |  CAST(year(thu) * 100 + weekofyear(d) AS INT) AS yw3
        |FROM b ORDER BY k LIMIT 2000""".stripMargin)(
      chSql(Seq("orders"),
        """SELECT o_orderkey AS k,
          |  toWeek(o_orderdate) AS w0,
          |  toWeek(o_orderdate, 1) AS w1,
          |  toWeek(o_orderdate, 3) AS w3,
          |  toYearWeek(o_orderdate) AS yw0,
          |  toYearWeek(o_orderdate, 3) AS yw3
          |FROM orders ORDER BY k LIMIT 2000""".stripMargin)),

    // series* through SQL (c50): Tukey outlier scores over a
    // deterministic heavy-tail series (pure rational arithmetic —
    // bit-identical cross-engine, unlike exp/log). Count and max
    // deviation are ORDER-INVARIANT, so groupArray's collection order
    // cannot flake the hash; the oracle re-derives the fences with
    // quantile_cont (the same type-7 interpolation the kernel uses).
    "c50_ch_series_sql" -> Q(
      """WITH s AS (
        |  SELECT event_type,
        |    1.0 / (1.001 - (event_id % 1000) / CAST(1000 AS DOUBLE)) AS v
        |  FROM events),
        |q AS (
        |  SELECT event_type,
        |    quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3
        |  FROM s GROUP BY event_type),
        |f AS (
        |  SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo,
        |    q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q)
        |SELECT s.event_type,
        |  CAST(COUNT(*) FILTER (s.v < f.lo OR s.v > f.hi) AS INT) AS n_out,
        |  round(COALESCE(MAX(CASE WHEN s.v < f.lo THEN f.lo - s.v
        |    WHEN s.v > f.hi THEN s.v - f.hi END), 0), 4) AS max_dev
        |FROM s JOIN f USING (event_type)
        |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin)(
      chSql(Seq("events"),
        """SELECT event_type,
          |  arrayCount(x -> x != 0, seriesOutliersDetectTukey(
          |    groupArray(1.0 / (1.001 - (event_id % 1000) / CAST(1000 AS DOUBLE))))) AS n_out,
          |  round(arrayMax(arrayMap(x -> abs(x), seriesOutliersDetectTukey(
          |    groupArray(1.0 / (1.001 - (event_id % 1000) / CAST(1000 AS DOUBLE)))))), 4) AS max_dev
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // registry tail: typed dictGet spellings,
    // the to*OrNull/to*OrZero dirty-string conversion family, the
    // deterministic-seed groupArraySample, translateUTF8 and
    // bitmaskToList — each exercised once, all DuckDB-oracled (the
    // sample replays the md5(value:seed) ordering; the bitmask list is
    // rebuilt by a correlated bit probe).
    "c51_ch_typed_tail" -> Q(
      """WITH s AS (
        |  SELECT c.*, n.n_name AS nation, n.n_regionkey,
        |    md5(CAST(c_custkey AS VARCHAR) || ':7') AS h
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |g AS (
        |  SELECT nation,
        |    COUNT(*) AS n_cust,
        |    CAST(SUM(COALESCE(TRY_CAST(substring(c_name, 10, 9) AS BIGINT), 0)) AS BIGINT) AS key_sum,
        |    CAST(SUM(CASE WHEN TRY_CAST(c_name AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unparsed,
        |    array_to_string(list(c_custkey ORDER BY h, c_custkey)[1:3], ',') AS sample_ids,
        |    MIN(translate(substring(c_mktsegment, 1, 3), 'AEIOU', 'aeiou')) AS seg3,
        |    MIN(c_custkey) % 13 AS mask,
        |    MIN(n_regionkey) AS regionkey,
        |    'none' AS miss,
        |    '1970-01-01' AS zero_date,
        |    '18446744073709551615' AS u64max
        |  FROM s GROUP BY nation)
        |SELECT nation, n_cust, key_sum, unparsed, sample_ids, seg3,
        |  (SELECT COALESCE(string_agg(CAST((CAST(1 AS BIGINT) << b) AS VARCHAR), ',' ORDER BY b), '')
        |   FROM range(0, 63) t(b)
        |   WHERE (g.mask & (CAST(1 AS BIGINT) << b)) != 0) AS mask_list,
        |  regionkey, miss, zero_date, u64max
        |FROM g ORDER BY nation""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      val t = Tables(s, dir)
      graft.functions.ChDictionaries.register(
        "nation", t.nation, "n_nationkey", Seq("n_name", "n_regionkey"))
      t.customer.createOrReplaceTempView("customer")
      s.sql(graft.functions.ChSql.translate(
        """SELECT dictGetString('nation', 'n_name', c_nationkey) AS nation,
          |  count() AS n_cust,
          |  sum(toInt64OrZero(substring(c_name, 10, 9))) AS key_sum,
          |  sum(if(toFloat64OrNull(c_name) IS NULL, 1, 0)) AS unparsed,
          |  groupArraySample(3, 7)(c_custkey) AS sample_arr,
          |  min(translateUTF8(substring(c_mktsegment, 1, 3), 'AEIOU', 'aeiou')) AS seg3,
          |  bitmaskToList(min(c_custkey) % 13) AS mask_list,
          |  min(dictGetInt64OrDefault('nation', 'n_regionkey', c_nationkey, -1)) AS regionkey,
          |  min(dictGetStringOrDefault('nation', 'n_name', 9999, 'none')) AS miss,
          |  min(toString(toDateOrZero('nope'))) AS zero_date,
          |  min(toString(toUInt64OrNull('18446744073709551615'))) AS u64max
          |FROM customer
          |GROUP BY nation ORDER BY nation""".stripMargin))
        .withColumn("sample_ids", concat_ws(",", col("sample_arr")))
        .drop("sample_arr")
    },

    // Round-13 graduation of the r11 post-gate probe-tail sweeps
    // (commits 53d00d1..83a0a49): URL tail (port/cutURLParameter/
    // queryStringAndFragment/decodeURLFormComponent), SQL/JSON trio
    // (JSON_VALUE/QUERY/EXISTS + isValidJSON/JSONArrayLength),
    // exact-quantile variants (H-F type 6/7), groupArrayIntersect,
    // date tail (addQuarters/dateSub/age/formatDateTimeInJodaSyntax/
    // snowflake), string distances, URL-safe base64, math one-liners,
    // map HOFs, array union/symmetric-difference, and the r12
    // unsigned to*OrNull widening (a toUInt32OrNull('3000000000'-ish)
    // column) — every name deterministic, one scan of customer, all
    // DuckDB-oracled. Decimal(18,6) per-row rounding makes the float
    // sums associative (exact), cast back to DOUBLE for the compare.
    "c52_ch_sweep4" -> Q(
      """WITH b AS (
        |  SELECT c_custkey AS k, c_name, c_mktsegment AS seg,
        |    CAST(c_acctbal AS DOUBLE) AS bal,
        |    substring(lpad(CAST(c_custkey AS VARCHAR), 9, '0'), 1, 2) || '-' ||
        |      substring(lpad(CAST(c_custkey AS VARCHAR), 9, '0'), 3, 3) || '-' ||
        |      substring(lpad(CAST(c_custkey AS VARCHAR), 9, '0'), 6, 4) AS ph,
        |    'http://ex.com:' || CAST(8000 + c_custkey % 1000 AS VARCHAR) || '/p?a=' ||
        |      CAST(c_custkey AS VARCHAR) || '&b=2&c=3#f5' AS url,
        |    '{"k": ' || CAST(c_custkey AS VARCHAR) || ', "s": "' || c_mktsegment || '"}' AS doc,
        |    TIMESTAMP '2024-03-15 13:45:00.999' - (c_custkey % 900) * INTERVAL 1 MILLISECOND AS ts
        |  FROM customer),
        |cnt AS (SELECT seg, COUNT(*) AS n FROM b GROUP BY seg),
        |elq AS (
        |  SELECT seg, elem, COUNT(DISTINCT k) AS c FROM (
        |    SELECT seg, k, UNNEST([k % 2 + 10, 11, 3]) AS elem FROM b) q
        |  GROUP BY seg, elem),
        |giq AS (
        |  SELECT elq.seg, string_agg(elem::VARCHAR, ',' ORDER BY elem) AS gi
        |  FROM elq JOIN cnt USING (seg) WHERE elq.c = cnt.n GROUP BY elq.seg),
        |agg AS (
        |  SELECT seg,
        |    COUNT(*) AS n_rows,
        |    CAST(MAX(CAST(DATE '2024-01-15' + (k % 4) * 3 * INTERVAL 1 MONTH AS DATE)) AS VARCHAR) AS aq_max,
        |    CAST(SUM((epoch_ms(TIMESTAMP '2024-03-20 00:00:00') - epoch_ms(ts)) // 86400000) AS BIGINT) AS age_day_sum,
        |    CAST(SUM(levenshtein(substring(c_name, 1, 8), substring(seg, 1, 8))) AS BIGINT) AS lev_sum,
        |    CAST(SUM(hamming(substring(ph, 1, 7), substring(c_name, 1, 7))) AS BIGINT) AS ham_sum,
        |    MIN(array_to_string(string_split(ph, '-')[1:2], '-')) AS sidx_min,
        |    CAST(SUM(CAST(regexp_extract(url, '^\w+://[^/?#]*:(\d+)', 1) AS INT)) AS BIGINT) AS port_sum,
        |    MIN(regexp_replace(url, '&b=[^&#]*', '')) AS cut_min,
        |    MAX(regexp_extract(url, '\?([^\s]*)', 1)) AS qf_max,
        |    MIN('x ' || CAST(k % 10 AS VARCHAR) || '!') AS dec_min,
        |    CAST(SUM(CAST(round(1.0 / (1.0 + exp(-((k % 21 - 10) / 5.0))), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sig_sum,
        |    CAST(SUM(CAST(round(ln(((k % 9 + 1) / 10.0) / (1.0 - (k % 9 + 1) / 10.0)), 6) AS DECIMAL(18,6))) AS DOUBLE) AS lg_sum,
        |    CAST(SUM(((k - 700) % 13 + 13) % 13) AS BIGINT) AS pm_sum,
        |    CAST(SUM((k - 700) % 13) AS BIGINT) AS nm_sum,
        |    CAST(SUM(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nan_nulls,
        |    MIN(translate(to_base64(c_name::BLOB), '+/=', '-_')) AS b64_min,
        |    COUNT(*) AS rt_ok,
        |    CAST(SUM(CASE WHEN seg NOT ILIKE '%build%' THEN 1 ELSE 0 END) AS BIGINT) AS nil_n,
        |    CAST(SUM(CASE WHEN starts_with(c_name, 'Customer#0') THEN 1 ELSE 0 END) AS BIGINT) AS sw_n,
        |    CAST(SUM(CASE WHEN ends_with(ph, '7') THEN 1 ELSE 0 END) AS BIGINT) AS ew_n,
        |    CAST(SUM(CAST(json_extract_string(doc, '$.k') AS BIGINT)) AS BIGINT) AS jv_sum,
        |    MIN('[' || json_extract(doc, '$.s')::VARCHAR || ']') AS jq_min,
        |    CAST(SUM(CASE WHEN json_extract(doc, '$.s') IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS je_n,
        |    COUNT(*) AS vj_n,
        |    CAST(SUM(json_array_length('[' || repeat('1,', k % 4) || '1]')) AS BIGINT) AS jal_sum,
        |    CAST(SUM(CASE WHEN regexp_matches(ph, 'x{2}') OR regexp_matches(ph, '97$') THEN 1 ELSE 0 END) AS BIGINT) AS mma_sum,
        |    CAST(SUM(epoch_ms(ts) % 1000) AS BIGINT) AS tms_sum,
        |    CAST(SUM(epoch_ms(TIMESTAMP '2024-03-16 00:00:00') // 1000 - epoch_ms(ts) // 1000) AS BIGINT) AS td_sum,
        |    list(bal ORDER BY bal) AS arr,
        |    CAST(SUM(2999999000 + k) AS BIGINT) AS u32_sum,
        |    COUNT(*) AS u64_nulls,
        |    CAST(SUM(CASE WHEN k % 300 < 256 THEN k % 300 ELSE 0 END) AS BIGINT) AS u8_sum,
        |    CAST(SUM(CAST(ceiling(CAST(CAST(k % 97 AS VARCHAR) || '.' || CAST(k % 7 AS VARCHAR) AS DOUBLE) * 1024) AS BIGINT)) AS BIGINT) AS prs_sum,
        |    MIN(strftime(ts, '%Y-%m-%d %H:%M')) AS joda_min,
        |    CAST(MIN((epoch_ms(ts) - 1288834974657) * 4194304) AS BIGINT) AS snow_min,
        |    CAST(SUM(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS izn_n,
        |    CAST(SUM(CASE WHEN k % 5 > 3 OR k % 11 > 3 THEN 1 ELSE 0 END) AS BIGINT) AS me_n,
        |    CAST(SUM(CASE WHEN k % 5 > 3 AND k % 11 > 3 THEN 1 ELSE 0 END) AS BIGINT) AS ma_n,
        |    MIN(array_to_string(list_sort(list_distinct([k % 3, k % 4, 7])), ',')) AS au_min,
        |    MIN(array_to_string(list_sort(list_filter(list_distinct(list_concat([k % 3, 20], [21, k % 4])),
        |      x -> NOT (list_contains([k % 3, 20], x) AND list_contains([21, k % 4], x)))), ',')) AS asd_min
        |  FROM b GROUP BY seg)
        |SELECT agg.seg AS seg, n_rows, aq_max, age_day_sum, lev_sum, ham_sum, sidx_min, port_sum,
        |  cut_min, qf_max, dec_min, sig_sum, lg_sum, pm_sum, nm_sum, nan_nulls, b64_min, rt_ok,
        |  nil_n, sw_n, ew_n, jv_sum, jq_min, je_n, vj_n, jal_sum, mma_sum, tms_sum, td_sum,
        |  round(CASE WHEN LEAST(GREATEST((n_rows + 1) * 0.25, 1.0), CAST(n_rows AS DOUBLE)) = CAST(n_rows AS DOUBLE)
        |    THEN arr[n_rows]
        |    ELSE arr[CAST(trunc(LEAST(GREATEST((n_rows + 1) * 0.25, 1.0), CAST(n_rows AS DOUBLE))) AS INT)]
        |      + (LEAST(GREATEST((n_rows + 1) * 0.25, 1.0), CAST(n_rows AS DOUBLE)) - trunc(LEAST(GREATEST((n_rows + 1) * 0.25, 1.0), CAST(n_rows AS DOUBLE))))
        |      * (arr[LEAST(CAST(trunc(LEAST(GREATEST((n_rows + 1) * 0.25, 1.0), CAST(n_rows AS DOUBLE))) AS INT) + 1, n_rows)]
        |         - arr[CAST(trunc(LEAST(GREATEST((n_rows + 1) * 0.25, 1.0), CAST(n_rows AS DOUBLE))) AS INT)]) END, 4) AS qe,
        |  round(CASE WHEN floor((n_rows - 1) * 0.25) = ceiling((n_rows - 1) * 0.25)
        |    THEN arr[CAST(floor((n_rows - 1) * 0.25) AS INT) + 1]
        |    ELSE arr[CAST(floor((n_rows - 1) * 0.25) AS INT) + 1] * (ceiling((n_rows - 1) * 0.25) - (n_rows - 1) * 0.25)
        |       + arr[CAST(ceiling((n_rows - 1) * 0.25) AS INT) + 1] * ((n_rows - 1) * 0.25 - floor((n_rows - 1) * 0.25)) END, 4) AS qi,
        |  round(CASE WHEN LEAST(GREATEST((n_rows + 1) * 0.5, 1.0), CAST(n_rows AS DOUBLE)) = CAST(n_rows AS DOUBLE)
        |    THEN arr[n_rows]
        |    ELSE arr[CAST(trunc(LEAST(GREATEST((n_rows + 1) * 0.5, 1.0), CAST(n_rows AS DOUBLE))) AS INT)]
        |      + (LEAST(GREATEST((n_rows + 1) * 0.5, 1.0), CAST(n_rows AS DOUBLE)) - trunc(LEAST(GREATEST((n_rows + 1) * 0.5, 1.0), CAST(n_rows AS DOUBLE))))
        |      * (arr[LEAST(CAST(trunc(LEAST(GREATEST((n_rows + 1) * 0.5, 1.0), CAST(n_rows AS DOUBLE))) AS INT) + 1, n_rows)]
        |         - arr[CAST(trunc(LEAST(GREATEST((n_rows + 1) * 0.5, 1.0), CAST(n_rows AS DOUBLE))) AS INT)]) END, 4) AS med_excl,
        |  giq.gi AS gi, u32_sum, u64_nulls, u8_sum, prs_sum, joda_min, snow_min, izn_n, me_n, ma_n, au_min, asd_min
        |FROM agg JOIN giq ON agg.seg = giq.seg
        |ORDER BY seg""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).customer.createOrReplaceTempView("customer")
      s.sql(graft.functions.ChSql.translate(
        """WITH b AS (
          |  SELECT c_custkey AS k, c_name, c_mktsegment AS seg,
          |    CAST(c_acctbal AS DOUBLE) AS bal,
          |    concat(substring(lpad(toString(c_custkey), 9, '0'), 1, 2), '-',
          |      substring(lpad(toString(c_custkey), 9, '0'), 3, 3), '-',
          |      substring(lpad(toString(c_custkey), 9, '0'), 6, 4)) AS ph,
          |    concat('http://ex.com:', toString(8000 + c_custkey % 1000), '/p?a=',
          |      toString(c_custkey), '&b=2&c=3#f5') AS url,
          |    concat('{"k": ', toString(c_custkey), ', "s": "', c_mktsegment, '"}') AS doc,
          |    dateSub('millisecond', c_custkey % 900, TIMESTAMP '2024-03-15 13:45:00.999') AS ts
          |  FROM customer)
          |SELECT seg,
          |  count() AS n_rows,
          |  toString(max(addQuarters(DATE '2024-01-15', k % 4))) AS aq_max,
          |  sum(age('day', ts, TIMESTAMP '2024-03-20 00:00:00')) AS age_day_sum,
          |  sum(levenshteinDistance(substring(c_name, 1, 8), substring(seg, 1, 8))) AS lev_sum,
          |  sum(byteHammingDistance(substring(ph, 1, 7), substring(c_name, 1, 7))) AS ham_sum,
          |  min(substringIndex(ph, '-', 2)) AS sidx_min,
          |  sum(port(url)) AS port_sum,
          |  min(cutURLParameter(url, 'b')) AS cut_min,
          |  max(queryStringAndFragment(url)) AS qf_max,
          |  min(decodeURLFormComponent(concat('x+', toString(k % 10), '%21'))) AS dec_min,
          |  CAST(sum(CAST(round(sigmoid((k % 21 - 10) / 5.0), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sig_sum,
          |  CAST(sum(CAST(round(logit((k % 9 + 1) / 10.0), 6) AS DECIMAL(18,6))) AS DOUBLE) AS lg_sum,
          |  sum(positiveModulo(k - 700, 13)) AS pm_sum,
          |  sum(negativeModulo(k - 700, 13)) AS nm_sum,
          |  sum(if(nanToNull(if(k % 3 = 0, CAST('NaN' AS DOUBLE), 1.0)) IS NULL, 1, 0)) AS nan_nulls,
          |  min(base64URLEncode(c_name)) AS b64_min,
          |  sum(if(CAST(base64URLDecode(base64URLEncode(c_name)) AS STRING) = c_name, 1, 0)) AS rt_ok,
          |  sum(if(notILike(seg, '%build%'), 1, 0)) AS nil_n,
          |  sum(if(startsWithUTF8(c_name, 'Customer#0'), 1, 0)) AS sw_n,
          |  sum(if(endsWithUTF8(ph, '7'), 1, 0)) AS ew_n,
          |  sum(CAST(JSON_VALUE(doc, '$.k') AS BIGINT)) AS jv_sum,
          |  min(JSON_QUERY(doc, '$.s')) AS jq_min,
          |  sum(if(JSON_EXISTS(doc, '$.s'), 1, 0)) AS je_n,
          |  sum(if(isValidJSON(doc), 1, 0)) AS vj_n,
          |  sum(JSONArrayLength(concat('[', repeat('1,', k % 4), '1]'))) AS jal_sum,
          |  sum(multiMatchAny(ph, array('x{2}', '97$'))) AS mma_sum,
          |  sum(toMillisecond(ts)) AS tms_sum,
          |  sum(timeDiff(ts, TIMESTAMP '2024-03-16 00:00:00')) AS td_sum,
          |  round(quantileExactExclusive(0.25)(bal), 4) AS qe,
          |  round(quantileExactInclusive(0.25)(bal), 4) AS qi,
          |  quantilesExactExclusive(0.25, 0.5)(bal) AS qs_arr,
          |  concat_ws(',', groupArrayIntersect(array(k % 2 + 10, 11, 3))) AS gi,
          |  sum(toUInt32OrNull(toString(2999999000 + k))) AS u32_sum,
          |  sum(if(toUInt64OrNull(toString(0 - k - 1)) IS NULL, 1, 0)) AS u64_nulls,
          |  sum(CAST(toUInt8OrZero(toString(k % 300)) AS BIGINT)) AS u8_sum,
          |  sum(parseReadableSize(concat(toString(k % 97), '.', toString(k % 7), ' KiB'))) AS prs_sum,
          |  min(formatDateTimeInJodaSyntax(ts, 'yyyy-MM-dd HH:mm')) AS joda_min,
          |  min(dateTimeToSnowflakeID(ts)) AS snow_min,
          |  sum(if(isZeroOrNull(k % 7), 1, 0)) AS izn_n,
          |  sum(if(mapExists((mk, mv) -> mv > 3, map('a', k % 5, 'b', k % 11)), 1, 0)) AS me_n,
          |  sum(if(mapAll((mk, mv) -> mv > 3, map('a', k % 5, 'b', k % 11)), 1, 0)) AS ma_n,
          |  min(concat_ws(',', array_sort(arrayUnion(array(k % 3), array(k % 4), array(7))))) AS au_min,
          |  min(concat_ws(',', array_sort(arraySymmetricDifference(array(k % 3, 20), array(21, k % 4))))) AS asd_min
          |FROM b GROUP BY seg ORDER BY seg""".stripMargin))
        .withColumn("med_excl", round(element_at(col("qs_arr"), 2), 4))
        .drop("qs_arr")
    },

    // registry tail: detectLanguage as the GROUP
    // key (the t01 argmax over the one-pass signal kernel, 'un' when
    // no stopword hits), arrayShingles, the Joda datetime spellings,
    // UUIDv7 epoch extraction, the IPv4/IPv6/MAC conversion tails
    // (Or* forms, v4-mapped v6, cutIPv6 anonymization, MAC
    // round-trips) and H3 resolution — one documents scan, every
    // kernel mirrored in DuckDB.
    "c53_ch_sweep5" -> Q(
      s"""WITH b AS (
        |  SELECT doc_id AS k, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws,
        |    [CAST(doc_id % 5 AS INT), CAST(doc_id % 7 AS INT),
        |     CAST(doc_id % 3 AS INT), CAST(7 AS INT)] AS arr,
        |    (doc_id % 256) * 16777216 + ((doc_id * 7) % 256) * 65536
        |      + ((doc_id * 13) % 256) * 256 + (doc_id % 250) AS ipnum,
        |    doc_id * 7919 AS macn
        |  FROM documents),
        |s1 AS (
        |  SELECT *,
        |    len(list_filter(ws, x -> x IN (${TextQueries.dictSqlPub("de")}))) AS s_de,
        |    len(list_filter(ws, x -> x IN (${TextQueries.dictSqlPub("en")}))) AS s_en,
        |    len(list_filter(ws, x -> x IN (${TextQueries.dictSqlPub("es")}))) AS s_es,
        |    len(list_filter(ws, x -> x IN (${TextQueries.dictSqlPub("fr")}))) AS s_fr,
        |    len(list_filter(ws, x -> x IN (${TextQueries.dictSqlPub("zh")}))) AS s_zh
        |  FROM b),
        |s2 AS (
        |  SELECT *,
        |    CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_zh = 0 THEN 'un'
        |         WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
        |         WHEN s_fr >= s_zh AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |         WHEN s_es >= s_zh AND s_es >= s_fr AND s_es >= s_en AND s_es >= s_de THEN 'es'
        |         WHEN s_en >= s_zh AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS lang
        |  FROM s1)
        |SELECT lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(arr) - 1) AS BIGINT) AS shn,
        |  MIN(array_to_string(list_transform(
        |    [arr[i:i+1] for i in range(1, len(arr))],
        |    w -> array_to_string(w, ',')), ';')) AS sh_str,
        |  MIN('UTC') AS tz,
        |  MIN(strftime(to_timestamp(k * 1000), '%Y-%m-%d %H:%M:%S')) AS fu,
        |  COUNT(*) AS pj_ok,
        |  CAST(SUM(1700000000000 + k) AS BIGINT) AS u7_sum,
        |  CAST(SUM(ipnum) AS BIGINT) AS ipsum,
        |  COUNT(*) AS ipbad,
        |  MIN('00000000000000000000FFFF' || lpad(upper(to_hex(ipnum)), 8, '0')) AS v6hex,
        |  MIN('::ffff:' || CAST(k % 256 AS VARCHAR) || '.' ||
        |    CAST((k * 7) % 256 AS VARCHAR) || '.' ||
        |    CAST((k * 13) % 256 AS VARCHAR) || '.0') AS v6cut,
        |  MIN(lpad(upper(to_hex((macn // 1099511627776) % 256)), 2, '0') || ':' ||
        |      lpad(upper(to_hex((macn // 4294967296) % 256)), 2, '0') || ':' ||
        |      lpad(upper(to_hex((macn // 16777216) % 256)), 2, '0') || ':' ||
        |      lpad(upper(to_hex((macn // 65536) % 256)), 2, '0') || ':' ||
        |      lpad(upper(to_hex((macn // 256) % 256)), 2, '0') || ':' ||
        |      lpad(upper(to_hex(macn % 256)), 2, '0')) AS mac_min,
        |  CAST(SUM(macn) AS BIGINT) AS mac_rt,
        |  CAST(SUM(macn // 16777216) AS BIGINT) AS oui_sum,
        |  CAST(SUM(k % 16) AS BIGINT) AS h3r
        |FROM s2 GROUP BY lang ORDER BY lang""".stripMargin)(
      chSql(Seq("documents"),
        """WITH b AS (
          |  SELECT doc_id AS k, text,
          |    detectLanguage(text) AS lang,
          |    array(CAST(doc_id % 5 AS INT), CAST(doc_id % 7 AS INT),
          |      CAST(doc_id % 3 AS INT), CAST(7 AS INT)) AS arr,
          |    (doc_id % 256) * 16777216 + ((doc_id * 7) % 256) * 65536
          |      + ((doc_id * 13) % 256) * 256 + (doc_id % 250) AS ipnum,
          |    concat(toString(doc_id % 256), '.', toString((doc_id * 7) % 256),
          |      '.', toString((doc_id * 13) % 256), '.', toString(doc_id % 250)) AS ip,
          |    doc_id * 7919 AS macn
          |  FROM documents)
          |SELECT lang,
          |  count() AS n_docs,
          |  sum(size(arrayShingles(arr, 2))) AS shn,
          |  min(concat_ws(';', transform(arrayShingles(arr, 2),
          |    w -> concat_ws(',', w)))) AS sh_str,
          |  min(timezoneOf(now())) AS tz,
          |  min(fromUnixTimestampInJodaSyntax(k * 1000, 'yyyy-MM-dd HH:mm:ss')) AS fu,
          |  sum(if(parseDateTimeInJodaSyntax(concat('2024-03-',
          |    lpad(toString(k % 27 + 1), 2, '0')), 'yyyy-MM-dd') IS NOT NULL, 1, 0)) AS pj_ok,
          |  sum(unix_millis(UUIDv7ToDateTime(concat(
          |    substring(lpad(hex(1700000000000 + k), 12, '0'), 1, 8), '-',
          |    substring(lpad(hex(1700000000000 + k), 12, '0'), 9, 4),
          |    '-7000-8000-000000000000')))) AS u7_sum,
          |  sum(IPv4StringToNumOrNull(ip)) AS ipsum,
          |  sum(if(IPv4StringToNumOrNull(concat(ip, '.9')) IS NULL, 1, 0)) AS ipbad,
          |  min(hex(IPv4ToIPv6(IPv4StringToNumOrNull(ip)))) AS v6hex,
          |  min(cutIPv6(IPv4ToIPv6(IPv4StringToNumOrNull(ip)), 2, 1)) AS v6cut,
          |  min(MACNumToString(macn)) AS mac_min,
          |  sum(MACStringToNum(MACNumToString(macn))) AS mac_rt,
          |  sum(MACStringToOUI(MACNumToString(macn))) AS oui_sum,
          |  sum(h3GetResolution(shiftLeft(CAST(k % 16 AS BIGINT), 52))) AS h3r
          |FROM b GROUP BY lang ORDER BY lang""".stripMargin)),

    "c08_parametric" -> Q(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS med,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  LEAST(COUNT(DISTINCT o_custkey), 51) AS cust_upto
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      GraftFunctions.ensureRegistered(s)
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(graft.functions.ChSql.translate(
        """SELECT o_orderstatus, count() AS n,
          |  round(quantile(0.5)(o_totalprice), 6) AS med,
          |  round(quantile(0.9)(o_totalprice), 6) AS p90,
          |  uniqUpTo(50)(o_custkey) AS cust_upto
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
    },

    // Round-14 graduation of the bitmap/geohash/vector-distance/geo
    // spec families into a DuckDB-oracled key (r13 verdict ask #6).
    // One customer scan, GROUP BY segment. Oracle discipline:
    //  - bitmaps ARE sorted distinct arrays (the bitmapBuild
    //    contract) — DuckDB mirrors with list(DISTINCT)/list ops;
    //  - geohashEncode's bisection fold has a closed form the oracle
    //    uses: k bits of lon = top bits of floor((lon+180)/360*2^k)
    //    (midpoints are exact dyadic doubles; the synthetic 10°+0.5
    //    grid provably never lands on a cell edge at p=5, so the
    //    float floor matches the fold bit-for-bit); decode of a fixed
    //    literal is pinned to its hand-derived exact cell center;
    //  - great-circle columns round(…,3/6): sin/cos/asin are libm on
    //    both engines (≤1 ulp apart, ~1e-8 m on a 1e7 m value —
    //    far inside the rounding guard band);
    //  - vector distances over 3-element synthesized vectors are
    //    written in the oracle with the EXACT fold parenthesization
    //    of vecFold/CosineSim ((t1+t2)+t3, dot/(sqrt(na)*sqrt(nb))),
    //    so doubles match bit-for-bit with no rounding.
    "c54_ch_bitmap_geo" -> Q(
      """WITH ref AS (SELECT list_sort(list(DISTINCT CAST(n * 3 % 64 AS INTEGER))) AS ref FROM range(32) t(n)),
        |per AS (SELECT c_mktsegment AS seg, CAST(c_custkey % 64 AS INTEGER) AS bit,
        |    (c_custkey % 36) * 10 - 179.5 AS lon, (c_custkey % 18) * 10 - 89.5 AS lat,
        |    CAST(c_acctbal AS DOUBLE) AS x1, CAST(c_custkey % 97 AS DOUBLE) AS x2,
        |    CAST(c_nationkey AS DOUBLE) AS x3
        |  FROM customer),
        |gh AS (SELECT *, CAST(floor((lon + 180) / 360 * 8192) AS BIGINT) AS li,
        |    CAST(floor((lat + 90) / 180 * 4096) AS BIGINT) AS ai FROM per),
        |ghv AS (SELECT *,
        |    (SELECT SUM(((li >> CAST(12 - j AS INTEGER)) & 1) << CAST(24 - 2 * j AS INTEGER)) FROM range(13) s(j))
        |  + (SELECT SUM(((ai >> CAST(11 - j AS INTEGER)) & 1) << CAST(23 - 2 * j AS INTEGER)) FROM range(12) s(j)) AS v
        |  FROM gh),
        |rows_ AS (SELECT seg, bit,
        |    (SELECT string_agg(substr('0123456789bcdefghjkmnpqrstuvwxyz',
        |        CAST(1 + ((v >> CAST(5 * (4 - ci) AS INTEGER)) & 31) AS INTEGER), 1), '' ORDER BY ci)
        |     FROM range(5) t(ci)) AS ghash,
        |    round(2 * 6372797.560856 * asin(sqrt(
        |      pow(sin((radians(0.5) - radians(lat)) / 2), 2)
        |      + (cos(radians(lat)) * cos(radians(0.5)))
        |        * pow(sin((radians(0.5) - radians(lon)) / 2), 2))), 3) AS gcd,
        |    round(degrees(2.0 * asin(sqrt(
        |      pow(sin((radians(0.5) - radians(lat)) / 2), 2)
        |      + (cos(radians(lat)) * cos(radians(0.5)))
        |        * pow(sin((radians(0.5) - radians(lon)) / 2), 2)))), 6) AS gca,
        |    (abs(x1 - 1000.5) + abs(x2 - 50.0)) + abs(x3 - 12.0) AS l1,
        |    sqrt(((x1 - 1000.5) * (x1 - 1000.5) + (x2 - 50.0) * (x2 - 50.0)) + (x3 - 12.0) * (x3 - 12.0)) AS l2,
        |    greatest(abs(x1 - 1000.5), abs(x2 - 50.0), abs(x3 - 12.0)) AS linf,
        |    (x1 * 1000.5 + x2 * 50.0) + x3 * 12.0 AS dot,
        |    1.0 - (((x1 * 1000.5 + x2 * 50.0) + x3 * 12.0) /
        |      (sqrt((x1 * x1 + x2 * x2) + x3 * x3)
        |       * sqrt((1000.5 * 1000.5 + 50.0 * 50.0) + 12.0 * 12.0))) AS cosd
        |  FROM ghv),
        |g AS (SELECT seg, list_sort(list(DISTINCT bit)) AS bm,
        |    min(ghash) AS gh_min, count(DISTINCT ghash) AS gh_n,
        |    min(gcd) AS gcd_min, max(gcd) AS gcd_max, min(gca) AS gca_min,
        |    min(l1) AS l1_min, max(l2) AS l2_max, min(linf) AS linf_min,
        |    max(dot) AS dot_max, min(cosd) AS cos_min
        |  FROM rows_ GROUP BY seg)
        |SELECT seg, CAST(len(bm) AS INTEGER) AS card,
        |  CAST(list_aggregate(bm, 'min') AS INTEGER) AS bmin,
        |  CAST(list_aggregate(bm, 'max') AS INTEGER) AS bmax,
        |  list_contains(bm, 7) AS has7,
        |  len(list_intersect(bm, ref)) > 0 AS hasany,
        |  len(list_filter(ref, x -> NOT list_contains(bm, x))) = 0 AS hasall,
        |  CAST(len(list_intersect(bm, ref)) AS INTEGER) AS andc,
        |  CAST(len(list_distinct(list_concat(bm, ref))) AS INTEGER) AS orc,
        |  CAST(len(list_distinct(list_concat(bm, ref))) - len(list_intersect(bm, ref)) AS INTEGER) AS xorc,
        |  CAST(len(bm) - len(list_intersect(bm, ref)) AS INTEGER) AS andnotc,
        |  array_to_string(list_sort(list_intersect(bm, ref)), ',') AS and_list,
        |  gh_min, gh_n, gcd_min, gcd_max, gca_min,
        |  l1_min, l2_max, linf_min, dot_max, cos_min,
        |  '-5.60302734' AS dec_lon, '42.60498047' AS dec_lat
        |FROM g CROSS JOIN ref ORDER BY seg""".stripMargin)(
      chSql(Seq("customer"),
        // per-row signals in a pre-projection, aggregates over them:
        // the geohash bisection fold is an interpreted HOF — spliced
        // into two agg expressions it would run TWICE per row (the
        // c44 no-CSE trap, here dodged structurally)
        """WITH r AS (SELECT bitmapBuild(toInt32(number * 3 % 64)) AS ref FROM numbers(32)),
          |p AS (SELECT c_mktsegment AS seg, toInt32(c_custkey % 64) AS bit,
          |    geohashEncode((c_custkey % 36) * 10 - 179.5, (c_custkey % 18) * 10 - 89.5, 5) AS gh,
          |    round(greatCircleDistance((c_custkey % 36) * 10 - 179.5, (c_custkey % 18) * 10 - 89.5, 0.5, 0.5), 3) AS gcd,
          |    round(geoDistance((c_custkey % 36) * 10 - 179.5, (c_custkey % 18) * 10 - 89.5, 0.5, 0.5), 3) AS gd,
          |    round(greatCircleAngle((c_custkey % 36) * 10 - 179.5, (c_custkey % 18) * 10 - 89.5, 0.5, 0.5), 6) AS gca,
          |    L1Distance(array(toFloat64(c_acctbal), toFloat64(c_custkey % 97), toFloat64(c_nationkey)), array(1000.5, 50.0, 12.0)) AS l1,
          |    L2Distance(array(toFloat64(c_acctbal), toFloat64(c_custkey % 97), toFloat64(c_nationkey)), array(1000.5, 50.0, 12.0)) AS l2,
          |    LinfDistance(array(toFloat64(c_acctbal), toFloat64(c_custkey % 97), toFloat64(c_nationkey)), array(1000.5, 50.0, 12.0)) AS linf,
          |    dotProduct(array(toFloat64(c_acctbal), toFloat64(c_custkey % 97), toFloat64(c_nationkey)), array(1000.5, 50.0, 12.0)) AS dot,
          |    cosineDistance(array(toFloat64(c_acctbal), toFloat64(c_custkey % 97), toFloat64(c_nationkey)), array(1000.5, 50.0, 12.0)) AS cosd
          |  FROM customer),
          |b AS (SELECT seg, bitmapBuild(bit) AS bm,
          |    min(gh) AS gh_min, uniqExact(gh) AS gh_n,
          |    min(gcd) AS gcd_min, max(gd) AS gcd_max, min(gca) AS gca_min,
          |    min(l1) AS l1_min, max(l2) AS l2_max, min(linf) AS linf_min,
          |    max(dot) AS dot_max, min(cosd) AS cos_min
          |  FROM p GROUP BY seg)
          |SELECT seg, bitmapCardinality(bm) AS card,
          |  bitmapMin(bm) AS bmin, bitmapMax(bm) AS bmax,
          |  bitmapContains(bm, 7) AS has7,
          |  bitmapHasAny(bm, ref) AS hasany, bitmapHasAll(bm, ref) AS hasall,
          |  bitmapAndCardinality(bm, ref) AS andc,
          |  bitmapOrCardinality(bm, ref) AS orc,
          |  bitmapXorCardinality(bm, ref) AS xorc,
          |  bitmapAndnotCardinality(bm, ref) AS andnotc,
          |  arrayStringConcat(arrayMap(x -> toString(x), bitmapToArray(bitmapAnd(bm, ref))), ',') AS and_list,
          |  gh_min, gh_n, gcd_min, gcd_max, gca_min,
          |  l1_min, l2_max, linf_min, dot_max, cos_min,
          |  toString(round(tupleElement(geohashDecode('ezs42'), 1), 8)) AS dec_lon,
          |  toString(round(tupleElement(geohashDecode('ezs42'), 2), 8)) AS dec_lat
          |FROM b CROSS JOIN r ORDER BY seg""".stripMargin)),

    // Native file interchange (the reference's own flagship format —
    // NativeWriter.cpp block framing, sources/NativeFormat): a real
    // orders subset rides INTO OUTFILE … FORMAT Native to disk and is
    // adopted back by file(…, 'Native'); the aggregate downstream of
    // the round trip must match DuckDB's aggregate over the ORIGINAL
    // parquet — proving every value codec (Int64, Nullable(String),
    // Float64, DateTime, full-range UInt64-as-DECIMAL(20,0)) is
    // lossless. The OUTFILE write is the reference's client-side
    // export (driver-side single file by contract) — the subset is
    // filtered BEFORE the collect, and at 100 TB this op is what
    // parquet is for (the FORMAT guidance says so).
    "c55_native_roundtrip" -> Q(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_orderdate) AS dmin, max(o_orderdate) AS dmax,
        |  CAST(sum(length(o_orderpriority)) AS BIGINT) AS clen,
        |  CAST(CAST(min(CAST('18446744073709551615' AS DECIMAL(21,0)) - o_orderkey)
        |    AS DECIMAL(20,0)) AS VARCHAR) AS umin
        |FROM orders WHERE o_orderkey % 100 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions._
      GraftFunctions.ensureRegistered(s)
      val src = Tables(s, dir).orders
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
          (lit("18446744073709551615").cast("decimal(21,0)")
            - col("o_orderkey")).cast("decimal(20,0)").as("u"))
      withScratchDir("graft_c55") { dir0 =>
        val path = dir0.resolve("orders.native").toString
        src.createOrReplaceTempView("graft_c55_src")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM graft_c55_src INTO OUTFILE '$path' FORMAT Native")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM file('$path', 'Native')")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"),
            min(col("o_orderdate")).as("dmin"),
            max(col("o_orderdate")).as("dmax"),
            sum(length(col("o_orderpriority"))).as("clen"),
            min(col("u")).cast("string").as("umin"))
          .orderBy("o_orderstatus")
      }
    },

    // Protobuf file interchange (ProtobufReader/Writer.cpp wire format,
    // registerFormats.cpp:37-38; schema via the reference's
    // format_schema setting): a real orders subset rides INTO OUTFILE …
    // FORMAT Protobuf through a proto3 schema covering the signed /
    // unsigned / zigzag / bool / string codecs and is adopted back by
    // file(…, 'Protobuf'); the aggregate downstream of the round trip
    // must match DuckDB over the ORIGINAL parquet — proving every
    // varint and length-delimited codec is lossless. Same client-side
    // contract as c55: filtered before the (streamed) driver write.
    "c56_protobuf_roundtrip" -> Q(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS total,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_even,
        |  min(-o_orderkey) AS negmin,
        |  CAST(CAST(min(CAST('18446744073709551615' AS DECIMAL(21,0)) - o_orderkey)
        |    AS DECIMAL(20,0)) AS VARCHAR) AS umin,
        |  CAST(sum(length(o_orderpriority)) AS BIGINT) AS prio_sum
        |FROM orders WHERE o_orderkey % 100 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions._
      GraftFunctions.ensureRegistered(s)
      val src = Tables(s, dir).orders
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("price"),
          (col("o_orderkey") % 2 === 0).as("even"),
          (-col("o_orderkey")).as("neg"),
          (lit("18446744073709551615").cast("decimal(21,0)")
            - col("o_orderkey")).cast("decimal(20,0)").as("u"),
          length(col("o_orderpriority")).as("prio"))
      withScratchDir("graft_c56") { dir0 =>
        val proto = dir0.resolve("order.proto")
        java.nio.file.Files.write(proto,
          """syntax = "proto3";
            |message Order {
            |  int64 o_orderkey = 1;
            |  string o_orderstatus = 2;
            |  double price = 3;
            |  bool even = 4;
            |  sint64 neg = 5;
            |  uint64 u = 6;
            |  int32 prio = 7;
            |}""".stripMargin.getBytes("UTF-8"))
        val path = dir0.resolve("orders.pb").toString
        src.createOrReplaceTempView("graft_c56_src")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM graft_c56_src INTO OUTFILE '$path' FORMAT " +
            s"Protobuf SETTINGS format_schema = '$proto:Order'")
        s.conf.set("spark.graft.format_schema", s"$proto:Order")
        try {
          graft.functions.ChDdl.execute(s,
            s"SELECT * FROM file('$path', 'Protobuf')")
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"),
              sum(col("price").cast("decimal(18,2)"))
                .cast("double").as("total"),
              sum(when(col("even"), 1L).otherwise(0L)).as("n_even"),
              min(col("neg")).as("negmin"),
              min(col("u")).cast("string").as("umin"),
              sum(col("prio")).cast("long").as("prio_sum"))
            .orderBy("o_orderstatus")
        } finally s.conf.unset("spark.graft.format_schema")
      }
    },

    // MsgPack file interchange (registerFormats.cpp:41-42, the public
    // MessagePack wire spec; MsgPackRowOutputFormat framing — one
    // value per column, rows back-to-back): same round-trip-vs-the-
    // original discipline as c55/c56, additionally proving NULL
    // fidelity (MessagePack nil is first-class, unlike proto3) and
    // the positional structure-argument adoption path
    // (file(path, 'MsgPack', 'a Int64, …'), the reference signature).
    "c57_msgpack_roundtrip" -> Q(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN o_orderkey % 3 <> 0
        |    THEN length(o_orderpriority) ELSE 0 END) AS BIGINT) AS plen,
        |  CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS total,
        |  CAST(CAST(min(CAST('18446744073709551615' AS DECIMAL(21,0)) - o_orderkey)
        |    AS DECIMAL(20,0)) AS VARCHAR) AS umin
        |FROM orders WHERE o_orderkey % 100 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions._
      GraftFunctions.ensureRegistered(s)
      val src = Tables(s, dir).orders
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, lit(null))
            .otherwise(col("o_orderpriority")).as("prio"),
          col("o_totalprice").cast("double").as("price"),
          (lit("18446744073709551615").cast("decimal(21,0)")
            - col("o_orderkey")).cast("decimal(20,0)").as("u"))
      withScratchDir("graft_c57") { dir0 =>
        val path = dir0.resolve("orders.msgpack").toString
        src.createOrReplaceTempView("graft_c57_src")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM graft_c57_src INTO OUTFILE '$path' FORMAT MsgPack")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM file('$path', 'MsgPack', 'o_orderkey Int64, " +
            "o_orderstatus String, prio Nullable(String), " +
            "price Float64, u UInt64')")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("prio").isNull, 1L).otherwise(0L)).as("n_null"),
            sum(coalesce(length(col("prio")), lit(0))).cast("long").as("plen"),
            sum(col("price").cast("decimal(18,2)"))
              .cast("double").as("total"),
            min(col("u")).cast("string").as("umin"))
          .orderBy("o_orderstatus")
      }
    },

    // ZSTD compressed frames (CompressionCodecZSTD.cpp, method byte
    // 0x90 per CompressionInfo.h:40): the same Native interchange as
    // c55 but the stream rides ZSTD+CityHash frames — INTO OUTFILE …
    // COMPRESSION 'zstd' writes them, file() adoption auto-detects by
    // the first-frame checksum probe. The key REQUIRES the zstd method
    // byte on disk (the p12 measured-requirement discipline), so a
    // silent fallback to lz4/plain cannot pass; the aggregate after
    // the round trip must match DuckDB over the ORIGINAL parquet.
    "c58_zstd_roundtrip" -> Q(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_orderdate) AS dmin, max(o_orderdate) AS dmax,
        |  CAST(sum(length(o_orderpriority)) AS BIGINT) AS clen
        |FROM orders WHERE o_orderkey % 50 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions._
      GraftFunctions.ensureRegistered(s)
      val src = Tables(s, dir).orders
        .filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      withScratchDir("graft_c58") { dir0 =>
        val path = dir0.resolve("orders.native").toString
        src.createOrReplaceTempView("graft_c58_src")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM graft_c58_src INTO OUTFILE '$path' " +
            "COMPRESSION 'zstd' FORMAT Native")
        val in = java.nio.file.Files.newInputStream(
          java.nio.file.Paths.get(path))
        val mb = try { in.skip(16); in.read() } finally in.close()
        require(mb == 0x90,
          f"c58: expected ZSTD frames (method 0x90) on disk, found 0x$mb%02x")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM file('$path', 'Native')")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"),
            min(col("o_orderdate")).as("dmin"),
            max(col("o_orderdate")).as("dmax"),
            sum(length(col("o_orderpriority"))).as("clen"))
          .orderBy("o_orderstatus")
      }
    },

    // CODEC chains as frame methods (CompressionCodecMultiple.cpp
    // 0x91 + CompressionCodecDelta.cpp 0x92, the CODEC(Delta, ZSTD)
    // pattern a reference user's clickhouse-compressor writes): the
    // same Native interchange with COMPRESSION 'delta(8), zstd' —
    // Delta transform then ZSTD, one nested framed block per layer.
    // The key REQUIRES the Multiple method byte on disk and matches
    // DuckDB over the ORIGINAL parquet after the round trip.
    "c59_codec_chain" -> Q(
      """SELECT l_linestatus, count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qsum,
        |  min(l_shipdate) AS dmin, max(l_shipdate) AS dmax
        |FROM lineitem WHERE l_orderkey % 64 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions._
      GraftFunctions.ensureRegistered(s)
      val src = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 64 === 0)
        .select(col("l_orderkey"), col("l_linestatus"),
          col("l_quantity"), col("l_shipdate"))
      withScratchDir("graft_c59") { dir0 =>
        val path = dir0.resolve("lineitem.native").toString
        src.createOrReplaceTempView("graft_c59_src")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM graft_c59_src INTO OUTFILE '$path' " +
            "COMPRESSION 'delta(8), zstd' FORMAT Native")
        val in = java.nio.file.Files.newInputStream(
          java.nio.file.Paths.get(path))
        val mb = try { in.skip(16); in.read() } finally in.close()
        require(mb == 0x91,
          f"c59: expected a CODEC chain (Multiple, 0x91) on disk, found 0x$mb%02x")
        graft.functions.ChDdl.execute(s,
          s"SELECT * FROM file('$path', 'Native')")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_orderkey")).cast("long").as("ksum"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("qsum"),
            min(col("l_shipdate")).as("dmin"),
            max(col("l_shipdate")).as("dmax"))
          .orderBy("l_linestatus")
      }
    }
  )
}
