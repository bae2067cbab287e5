package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.functions.{ChSql, GraftFunctions}
import graft.sources.Tables

/** exponentialTimeDecayed{Sum,Count,Avg,Max} on the mergeable
  * TimeDecayed aggregate: the same values as the time-sorted fold it
  * replaced, independent of partitioning, NULL arguments skipped. */
class TimeDecayedSpec extends SparkSpec {

  /** A scale factor's directory beside the suite's own. */
  private def sf(name: String): String = new java.io.File(sfDir).getParent + "/" + name

  /** The four functions per group of `view`(g, v, t). */
  private def decayed(view: String, x: Double): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    spark.sql(ChSql.translate(
      s"""SELECT g, exponentialTimeDecayedSum($x)(v, t) AS s,
         |  exponentialTimeDecayedCount($x)(t) AS c,
         |  exponentialTimeDecayedAvg($x)(v, t) AS a,
         |  exponentialTimeDecayedMax($x)(v, t) AS m
         |FROM $view GROUP BY g""".stripMargin))
  }

  /** The replaced composition: collect each group's (t, v) pairs, sort
    * them by time, and fold with renormalization at every step. */
  private def sortedFold(view: String, x: Double): DataFrame = {
    def fold(v: String) =
      s"""aggregate(sort_array(collect_list(named_struct('t', t, 'v', $v))),
         |  named_struct('lt', CAST(NULL AS DOUBLE), 's', 0D, 'c', 0D, 'm', 0D),
         |  (a, e) -> IF(a.lt IS NULL,
         |    named_struct('lt', e.t, 's', e.v, 'c', 1D, 'm', e.v),
         |    named_struct('lt', e.t,
         |      's', a.s * exp((a.lt - e.t) / $x) + e.v,
         |      'c', a.c * exp((a.lt - e.t) / $x) + 1D,
         |      'm', greatest(a.m * exp((a.lt - e.t) / $x), e.v))))""".stripMargin
    spark.sql(
      s"""SELECT g, f.s AS s, k.c AS c, f.s / f.c AS a, f.m AS m FROM (
         |  SELECT g, ${fold("v")} AS f, ${fold("1D")} AS k FROM $view GROUP BY g)""".stripMargin)
  }

  private def byGroup(df: DataFrame): Map[Any, Row] =
    df.collect().map(r => r.get(0) -> r).toMap

  private def assertClose(got: Map[Any, Row], want: Map[Any, Row], rel: Double): Unit = {
    assert(got.keySet == want.keySet)
    for ((g, w) <- want; i <- 1 to 4) {
      val (a, b) = (got(g).getDouble(i), w.getDouble(i))
      assert(math.abs(a - b) <= rel * math.max(math.abs(b), 1e-300),
        s"group $g field $i: $a vs $b")
    }
  }

  private def eventsView(dir: String, parts: Option[Int] = None): String = {
    val e = Tables(spark, dir).events.selectExpr("event_type AS g",
      "CAST(value AS DOUBLE) AS v", "CAST(unix_micros(ts) AS DOUBLE) / 1e6 AS t")
    parts.fold(e)(e.repartition(_)).createOrReplaceTempView("td_events")
    "td_events"
  }

  test("matches the sorted fold within 1e-9 relative on sf0.001 and sf0.01 events") {
    for (scale <- Seq("sf0.001", "sf0.01"); x <- Seq(86400.0, 3600.0)) {
      val v = eventsView(sf(scale))
      val got = byGroup(decayed(v, x))
      assert(got.nonEmpty)
      assertClose(got, byGroup(sortedFold(v, x)), 1e-9)
    }
  }

  test("results are the same at 1 and 16 input partitions") {
    val one = byGroup(decayed(eventsView(sf("sf0.01"), Some(1)), 86400.0))
    val sixteen = byGroup(decayed(eventsView(sf("sf0.01"), Some(16)), 86400.0))
    // summation order differs between the two; only the last ulps may
    assertClose(sixteen, one, 1e-12)
  }

  test("equal timestamps, one-row groups, NULL value or time skipped, all-NULL group") {
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, 4.0D, 0.0D), (1, 2.0D, 10.0D), (1, 3.0D, 10.0D),
        |  (2, 5.0D, 7.0D),
        |  (3, 4.0D, 0.0D), (3, 2.0D, 10.0D), (3, NULL, 20.0D), (3, 9.0D, NULL),
        |  (4, NULL, 1.0D), (4, 6.0D, NULL)
        |  AS t(g, v, t)""".stripMargin).repartition(3).createOrReplaceTempView("td_small")
    val r = byGroup(decayed("td_small", 10.0))
    val e1 = math.exp(-1.0)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.abs(b)
    // two rows at t=10 each count in full at the latest time
    val g1 = r(1)
    assert(close(g1.getDouble(1), 4 * e1 + 5) && close(g1.getDouble(2), e1 + 2), g1.toString)
    assert(close(g1.getDouble(3), (4 * e1 + 5) / (e1 + 2)) && g1.getDouble(4) == 3.0, g1.toString)
    // one row: itself, undecayed
    assert(r(2) == Row(2, 5.0, 1.0, 5.0, 5.0))
    // NULL v or t rows are skipped: group 3 equals group 1 without its
    // third row; count counts only rows whose time is set
    val g3 = r(3)
    assert(close(g3.getDouble(1), 4 * e1 + 2) && g3.getDouble(4) == 2.0, g3.toString)
    assert(close(g3.getDouble(2), math.exp(-2.0) + math.exp(-1.0) + 1), g3.toString)
    // every row has a NULL argument: NULL, not 0
    val g4 = r(4)
    assert(g4.isNullAt(1) && g4.isNullAt(3) && g4.isNullAt(4), g4.toString)
    assert(g4.getDouble(2) == 1.0, "count reads only t; t=1.0 is set")
  }
}
