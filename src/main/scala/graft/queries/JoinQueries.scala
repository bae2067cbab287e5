package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.{AsOfJoin, RangeJoin}

/** Join kinds (SURVEY §2; reference
  * src/Parsers/ASTTablesInSelectQuery.h:76-99 — Kind × Strictness:
  * INNER/LEFT/RIGHT/FULL/CROSS × ALL/ANY/ASOF/SEMI/ANTI).
  *
  * Scale notes: dimension sides are always broadcast() — at 100 TB the
  * fact side never moves for a dim join. Fact-fact joins shuffle on
  * the key and rely on AQE for skew splitting.
  */
object JoinQueries {

  val defs: Map[String, Q] = Map(

    "j01_inner" -> Q(
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("n_name")
    },

    "j02_left" -> Q(
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },

    "j03_right" -> Q(
      """SELECT c_custkey, c_acctbal, o_orderkey FROM orders
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal < -900
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.orders.join(t.customer, col("o_custkey") === col("c_custkey"), "right")
        .filter(col("c_acctbal") < -900)
        .select("c_custkey", "c_acctbal", "o_orderkey")
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    },

    "j04_full" -> Q(
      """SELECT COALESCE(c.nk, s.nk) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        |  ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val c = t.customer.groupBy(col("c_nationkey").as("c_nk")).agg(count(lit(1)).as("n_cust"))
      val su = t.supplier.groupBy(col("s_nationkey").as("s_nk")).agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nk") === col("s_nk"), "full")
        .select(coalesce(col("c_nk"), col("s_nk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },

    "j05_cross" -> Q(
      """SELECT r_name, st, COUNT(*) AS n FROM region
        |CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders)
        |GROUP BY r_name, st ORDER BY r_name, st""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.region.crossJoin(t.orders.select(col("o_orderstatus").as("st")).distinct())
        .groupBy("r_name", "st").agg(count(lit(1)).as("n"))
        .orderBy("r_name", "st")
    },

    // SEMI (Strictness::Semi): customers having at least one open order.
    "j06_semi" -> Q(
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.join(t.orders.filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ANTI (Strictness::Anti): customers with no pending order.
    "j07_anti" -> Q(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.join(t.orders.filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ANY (Strictness::Any): join each order to ONE lineitem — the
    // right side is deduped to its first row per key before the join,
    // exactly ClickHouse's any-join contract (deterministic variant:
    // first = lowest linenumber).
    "j08_any" -> Q(
      """SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity FROM orders
        |JOIN (SELECT * FROM (
        |        SELECT l_orderkey, l_linenumber, l_quantity,
        |          row_number() OVER (PARTITION BY l_orderkey
        |            ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
        |        FROM lineitem) WHERE rn = 1) li
        |  ON o_orderkey = li.l_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // l_linenumber alone is not unique in the synthetic data — the
      // extra keys make "first row per key" a total order. "First row"
      // = lexicographic min(struct(order keys)): an AGGREGATE, not a
      // row_number window, so the partial agg collapses each key's
      // rows map-side before the shuffle — the window plan would
      // shuffle every lineitem row to sort it.
      val anyLi = t.lineitem.groupBy("l_orderkey")
        .agg(min(struct(col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))).as("__m"))
        .select(col("l_orderkey"), col("__m.l_linenumber").as("l_linenumber"),
          col("__m.l_quantity").as("l_quantity"))
      t.orders.join(anyLi, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity")
        .orderBy("o_orderkey")
    },

    // ASOF (Strictness::Asof): for every click event, the most recent
    // preceding error of the same user. Union+last-value plan — ONE
    // shuffle, no range cross-join (see operators.AsOfJoin).
    "j09_asof" -> Q(
      """SELECT c.event_id, c.user_id, e.event_id AS err_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |ORDER BY c.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_event_id"), col("user_id"), col("ts"))
      AsOfJoin(clicks, errors, key = "user_id",
          leftTime = "ts", rightTime = "ts", rightCols = Seq("err_event_id"))
        .select("event_id", "user_id", "err_event_id")
        .orderBy("event_id")
    },

    // Forward ASOF (ClickHouse `ON ... c.ts <= e.ts`): the EARLIEST
    // error at-or-after each click — same single-shuffle plan, time
    // traversed descending.
    "j11_asof_forward" -> Q(
      """SELECT c.event_id, c.user_id, e.event_id AS err_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts <= e.ts
        |ORDER BY c.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_event_id"), col("user_id"), col("ts"))
      AsOfJoin(clicks, errors, key = "user_id",
          leftTime = "ts", rightTime = "ts", rightCols = Seq("err_event_id"),
          forward = true)
        .select("event_id", "user_id", "err_event_id")
        .orderBy("event_id")
    },

    // Range (point-in-interval) join: overlapping irregular value
    // bands matched to event values through the binned equi-join plan
    // (operators.RangeJoin) — the oracle is DuckDB's plain non-equi
    // join, proving the binning rewrite is exact.
    "j12_range_join" -> Q(
      """SELECT e.event_id, b.band_id, b.lo, b.hi
        |FROM (SELECT event_id, value FROM events WHERE event_id < 3000) e
        |JOIN (SELECT i AS band_id,
        |             CAST((i * i * 37) % 97 AS DOUBLE) AS lo,
        |             CAST((i * i * 37) % 97 + (i % 7) + 1 AS DOUBLE) AS hi
        |      FROM range(30) t(i)) b
        |  ON e.value >= b.lo AND e.value < b.hi
        |ORDER BY e.event_id, b.band_id""".stripMargin) { (s, dir) =>
      val points = Tables(s, dir).events.filter(col("event_id") < 3000)
        .select("event_id", "value")
      val bands = s.range(30).select(
        col("id").as("band_id"),
        ((col("id") * col("id") * 37) % 97).cast("double").as("lo"),
        ((col("id") * col("id") * 37) % 97 + col("id") % 7 + 1).cast("double").as("hi"))
      RangeJoin.pointInInterval(points, "value", bands, "lo", "hi", binSize = 4.0)
        .select("event_id", "band_id", "lo", "hi")
        .orderBy("event_id", "band_id")
    },

    // Range-join edge case: EMPTY and INVERTED intervals (hi == lo,
    // hi < lo) interleaved with valid ones. [lo, hi) semantics says
    // they match nothing; the binned plan must drop them BEFORE
    // exploding bins (an inverted interval would otherwise explode a
    // descending sequence()). Oracle is the plain non-equi join, which
    // never matches them by arithmetic alone.
    "j14_range_empty" -> Q(
      """SELECT e.event_id, b.band_id, b.lo, b.hi
        |FROM (SELECT event_id, value FROM events WHERE event_id < 3000) e
        |JOIN (SELECT i AS band_id,
        |             CAST((i * i * 37) % 97 AS DOUBLE) AS lo,
        |             CAST((i * i * 37) % 97 + (i % 5) - 2 AS DOUBLE) AS hi
        |      FROM range(40) t(i)) b
        |  ON e.value >= b.lo AND e.value < b.hi
        |ORDER BY e.event_id, b.band_id""".stripMargin) { (s, dir) =>
      val points = Tables(s, dir).events.filter(col("event_id") < 3000)
        .select("event_id", "value")
      // i%5-2 ∈ {-2,-1,0,1,2}: inverted, inverted, empty, valid, valid
      val bands = s.range(40).select(
        col("id").as("band_id"),
        ((col("id") * col("id") * 37) % 97).cast("double").as("lo"),
        ((col("id") * col("id") * 37) % 97 + col("id") % 5 - 2)
          .cast("double").as("hi"))
      RangeJoin.pointInInterval(points, "value", bands, "lo", "hi", binSize = 4.0)
        .select("event_id", "band_id", "lo", "hi")
        .orderBy("event_id", "band_id")
    },

    // ASOF edge case: DUPLICATE timestamps. Error timestamps truncated
    // to the minute collide heavily (same user, same truncated ts), and
    // clicks equal the truncated boundary often — exercising (a) the
    // inclusive `>=` at ts equality and (b) well-defined tie handling:
    // the right side is deduped to (user, ts) → max(event_id) BEFORE
    // the asof join, so "latest error at-or-before, ties by max id" is
    // deterministic on both engines.
    "j15_asof_ties" -> Q(
      """WITH e AS (SELECT user_id, date_trunc('minute', ts) AS ts,
        |                  max(event_id) AS err_event_id
        |           FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |     c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id,
        |  (SELECT e.err_event_id FROM e
        |   WHERE e.user_id = c.user_id AND e.ts <= c.ts
        |   ORDER BY e.ts DESC LIMIT 1) AS err_event_id
        |FROM c ORDER BY c.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("ts"))
        .agg(max(col("event_id")).as("err_event_id"))
      AsOfJoin(clicks, errors, key = "user_id",
          leftTime = "ts", rightTime = "ts", rightCols = Seq("err_event_id"))
        .select("event_id", "user_id", "err_event_id")
        .orderBy("event_id")
    },

    // 4-table star: Catalyst reorders; both dims broadcast.
    "j10_multiway" -> Q(
      """SELECT r_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // Pre-aggregate lineitem BY ORDER KEY before the fact-fact join
      // (guide §2.3 "aggregate before you shuffle"): count and the
      // exact-decimal revenue are associative, so collapsing the ~4
      // lines per order map-side shuffles ~4x fewer rows into the
      // join, and the join's probe side shrinks the same way. The
      // decimal arithmetic keeps the sums exact — the regrouped total
      // per region is bit-identical to the flat aggregation.
      val perOrder = t.lineitem
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("__n"),
          sum(dec(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
            .as("__rev"))
      perOrder
        .join(t.orders.select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(sum(col("__n")).as("n_items"),
          sum(col("__rev")).cast("double").as("revenue"))
        .orderBy("r_name")
    }
  )
}
