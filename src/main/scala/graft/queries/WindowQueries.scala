package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Ntile, WithFill}

/** Window functions (SURVEY §2 w01-w05; reference: the WINDOW clause,
  * src/Parsers/ASTSelectQuery.h:28) plus ORDER BY ... WITH FILL.
  * Every window has a total ordering so row_number/ntile/frames are
  * deterministic.
  */
object WindowQueries {

  val defs: Map[String, Q] = Map(

    "w01_ranking" -> Q(
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir).orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"), rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .orderBy("o_custkey", "rn")
    },

    "w02_lead_lag" -> Q(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables(s, dir).orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Running totals + moving average frames. Frame sums go through
    // decimal so segment-tree vs incremental evaluation can't differ.
    "w03_running" -> Q(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables(s, dir).orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          sum(dec(col("o_totalprice"))).over(w.rowsBetween(-2, Window.currentRow))
            .cast("double").as("moving_sum3"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ntile over a GLOBAL order — realized by the distributed Ntile
    // operator (range shuffle + offset histogram), not a
    // single-partition window; see operators.Ntile.
    "w04_ntile" -> Q(
      """SELECT o_orderkey, ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Ntile(Tables(s, dir).orders.filter(col("o_custkey") < 100),
          4, Seq(col("o_totalprice"), col("o_orderkey")), out = "quartile")
        .select(col("o_orderkey"), col("quartile").cast("int").as("quartile"))
        .orderBy("o_orderkey")
    },

    // Window VALUE functions: first/last/nth + distribution ranks.
    // last_value needs the full-partition frame spelled out on both
    // sides (the SQL default frame stops at CURRENT ROW).
    "w06_value_fns" -> Q(
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey)  OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok,
        |  ROUND(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey), 6) AS pr,
        |  ROUND(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey), 6) AS cd
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val base = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
      val full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir).orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          first("o_orderkey").over(full).as("first_ok"),
          last("o_orderkey").over(full).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_ok"),
          round(percent_rank().over(base), 6).as("pr"),
          round(cume_dist().over(base), 6).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // RANGE frame (value-based, not row-based): peers within ±1000 of
    // each order's totalprice. Deterministic even under order ties —
    // the frame depends only on values.
    "w07_range_frame" -> Q(
      """SELECT o_custkey, o_orderkey,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |                 RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS n_near,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |          RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS DOUBLE) AS near_total
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
      Tables(s, dir).orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_near"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("near_total"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // WITH FILL FROM ... TO ... STEP (ASTOrderByElement fill clause):
    // explicit bounds and a 2-day stride — the spine is pure
    // sequence() arithmetic, no window at all.
    "w08_with_fill_step" -> Q(
      """WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, COUNT(*) AS n
        |           FROM orders GROUP BY 1),
        |s AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
        |                                    TIMESTAMP '1995-03-31',
        |                                    INTERVAL 2 DAY)) AS day)
        |SELECT s.day AS day, COALESCE(d.n, 0) AS n
        |FROM s LEFT JOIN d ON s.day = d.day
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables(s, dir).orders
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = s.range(1).select(explode(sequence(
        lit("1995-01-01").cast("timestamp"),
        lit("1995-03-31").cast("timestamp"),
        expr("interval 2 days"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("day")
    },

    // Hopping (sliding) event-time windows, batch form: 1-hour
    // windows every 30 minutes — each event lands in two windows via
    // Spark's window() table-valued generator; the oracle derives the
    // same two window starts arithmetically.
    "w10_hopping_window" -> Q(
      """SELECT win_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT make_timestamp(epoch_us(ts) // 1800000000 * 1800000000 - off) AS win_start,
        |         event_type, value
        |  FROM events, (SELECT unnest([0, 1800000000]) AS off) o
        |  WHERE epoch_us(ts) // 1800000000 * 1800000000 - off
        |        > epoch_us(ts) - 3600000000)
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("win_start", "event_type")
    },

    // WITH FILL ... INTERPOLATE: gaps carry the last seen value
    // forward. Spark plan is the partitioned month-window + tiny
    // carry-join (operators.WithFill.interpolated — no global window);
    // the oracle is DuckDB's straightforward IGNORE NULLS carry.
    "w09_interpolate" -> Q(
      """WITH d AS (
        |  SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |s AS (SELECT unnest(generate_series((SELECT MIN(day) FROM d),
        |                                    (SELECT MAX(day) FROM d),
        |                                    INTERVAL 1 DAY)) AS day),
        |j AS (SELECT s.day AS day, d.total FROM s LEFT JOIN d ON s.day = d.day)
        |SELECT day, COALESCE(total, 0) AS total,
        |  last_value(total IGNORE NULLS) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |FROM j ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables(s, dir).orders
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderdate").as("day"))
        .agg(moneySum(col("o_totalprice")).as("total"))
      WithFill.interpolated(WithFill.fillDays(daily, "day"), "day", "total", "carried")
        .select(col("day"), coalesce(col("total"), lit(0.0)).as("total"), col("carried"))
        .orderBy("day")
    },

    // ORDER BY ... WITH FILL: densify the daily order axis; missing
    // days appear with n=0. Spine = 1-row min/max agg × sequence().
    "w05_with_fill" -> Q(
      """WITH d AS (SELECT o_orderdate AS day, COUNT(*) AS n FROM orders GROUP BY 1),
        |s AS (SELECT unnest(generate_series((SELECT MIN(day) FROM d),
        |                                    (SELECT MAX(day) FROM d),
        |                                    INTERVAL 1 DAY)) AS day)
        |SELECT s.day AS day, COALESCE(d.n, 0) AS n
        |FROM s LEFT JOIN d ON s.day = d.day
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables(s, dir).orders
        .groupBy(col("o_orderdate").as("day")).agg(count(lit(1)).as("n"))
      WithFill.fillDays(daily, "day")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("day")
    }
  )
}
