package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import graft.functions.{ChDdl, ChSql}
import graft.plans.SortOnOnePartition
import graft.sources.Tables

/** SortOnOnePartition: a total order over at most one minimum
  * partition of materialized input is sorted in that partition, with
  * no range exchange. Every reference is the same statement with the
  * rule in `spark.sql.adaptive.optimizer.excludedRules`, and asserts
  * that its final plan still holds the range exchange. */
class SortOnOnePartitionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val excluded = "spark.sql.adaptive.optimizer.excludedRules" -> SortOnOnePartition.ruleName
  private val minPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private lazy val views: Unit = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("sop_lineitem")
    t.orders.createOrReplaceTempView("sop_orders")
    // NULL keys in both columns, and ties in `a` broken by `b`
    spark.range(0, 2000, 1, 4).selectExpr(
      "CASE WHEN id % 11 = 0 THEN NULL ELSE id % 7 END AS a",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 5 AS STRING) END AS b",
      "id", "CAST(id % 97 AS DOUBLE) AS v").createOrReplaceTempView("sop_nulls")
  }

  private def plan(df: DataFrame): SparkPlan = {
    val p = df.queryExecution.executedPlan
    p match {
      case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan, s"not run:\n$p")
      case _ =>
    }
    p
  }

  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = collect(p) {
    case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
  }

  private def coalesces(p: SparkPlan): Seq[CoalesceExec] = collect(p) { case c: CoalesceExec => c }

  /** The rule fired, once: one one-partition coalesce, no range exchange. */
  private def fired(p: SparkPlan): Boolean =
    rangeExchanges(p).isEmpty && coalesces(p).map(_.numPartitions) == Seq(1)

  /** The statement's rows with the rule excluded; its plan holds the
    * range exchange the rule would have removed. */
  private def reference(df: => DataFrame): Seq[Row] = withConf(excluded) {
    val r = df
    val rows = r.collect().toSeq
    assert(rangeExchanges(plan(r)).nonEmpty, s"reference holds no range exchange:\n${plan(r)}")
    rows
  }

  /** The rule fires on `df`, and the rows, in order, are the reference's. */
  private def assertFiresSameRows(df: => DataFrame): Seq[Row] = {
    val got = df
    val rows = got.collect().toSeq
    assert(fired(plan(got)), s"rule did not fire:\n${plan(got)}")
    assert(rows == reference(df), s"rows differ from the reference")
    rows
  }

  /** The rule leaves `df`'s range exchange in place. */
  private def assertDoesNotFire(df: DataFrame): Unit = {
    df.collect()
    assert(rangeExchanges(plan(df)).nonEmpty && coalesces(plan(df)).isEmpty, s"rule fired:\n${plan(df)}")
  }

  private val groupByOrderBy =
    """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q
      |FROM sop_lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  test("a GROUP BY … ORDER BY over Tables runs 2 jobs instead of 4, with no range exchange") {
    views
    val (got, jobs) = jobsDuring {
      val df = spark.sql(groupByOrderBy)
      (df.collect().toSeq, plan(df))
    }
    val (ref, refJobs) = jobsDuring(reference(spark.sql(groupByOrderBy)))
    assert(fired(got._2), s"rule did not fire:\n${got._2}")
    assert(got._1.nonEmpty && got._1 == ref)
    assert(jobs == 2, s"with the rule: $jobs jobs")
    assert(refJobs == 4, s"without the rule: $refJobs jobs")
  }

  test("fires through spark.sql, ChSql, ChDdl.execute and DataFrame orderBy") {
    views
    val rows = assertFiresSameRows(spark.sql(groupByOrderBy))
    assert(assertFiresSameRows(spark.sql(ChSql.translate(groupByOrderBy))) == rows)
    assert(assertFiresSameRows(ChDdl.execute(spark, groupByOrderBy)) == rows)
    assertFiresSameRows(spark.table("sop_lineitem").groupBy("l_returnflag", "l_linestatus")
      .count().orderBy(col("l_returnflag").desc, col("l_linestatus").desc))
  }

  test("same rows as the reference: ASC, DESC, NULLS FIRST and LAST, multi-column ties") {
    views
    for (order <- Seq(
        "a ASC NULLS FIRST, b ASC NULLS FIRST",
        "a ASC NULLS LAST, b DESC NULLS LAST",
        "a DESC NULLS FIRST, b DESC NULLS FIRST",
        "a DESC NULLS LAST, b ASC NULLS LAST",
        "n DESC, a, b NULLS LAST")) {
      val rows = assertFiresSameRows(spark.sql(
        s"SELECT a, b, count(*) AS n, sum(v) AS s FROM sop_nulls GROUP BY a, b ORDER BY $order"))
      assert(rows.exists(_.isNullAt(0)) && rows.exists(_.isNullAt(1)), order)
    }
  }

  test("same rows as the reference on empty input") {
    views
    // the stage has rows, the sort's input has none; the reference's
    // range stage runs empty and AQE then drops it from the final plan,
    // so the job count shows the exchange it paid for
    val q = "SELECT a, count(*) AS n FROM sop_nulls GROUP BY a HAVING count(*) > 1000000 ORDER BY a"
    val ((rows, p), jobs) = jobsDuring {
      val df = spark.sql(q)
      (df.collect().toSeq, plan(df))
    }
    val (ref, refJobs) = withConf(excluded)(jobsDuring(spark.sql(q).collect().toSeq))
    assert(fired(p), s"rule did not fire:\n$p")
    assert(rows.isEmpty && ref.isEmpty)
    assert(jobs < refJobs, s"$jobs jobs with the rule, $refJobs without")
    // no rows anywhere: AQE plans an empty relation, with or without the rule
    val empty = "SELECT a, count(*) AS n FROM sop_nulls WHERE id < 0 GROUP BY a ORDER BY a"
    val none = spark.sql(empty).collect().toSeq
    assert(none.isEmpty && none == withConf(excluded)(spark.sql(empty).collect().toSeq))
  }

  test("same rows as the reference: a window followed by a filter (the LIMIT … BY shape)") {
    views
    val rows = assertFiresSameRows(spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_custkey, o_totalprice DESC, o_orderkey) AS rn
        |  FROM sop_orders)
        |WHERE rn BETWEEN 2 AND 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin))
    assert(rows.nonEmpty)
  }

  test("ORDER BY … LIMIT stays TakeOrderedAndProject") {
    views
    val q = "SELECT a, b, count(*) AS n FROM sop_nulls GROUP BY a, b ORDER BY n DESC, a, b LIMIT 5"
    val df = spark.sql(q)
    val rows = df.collect().toSeq
    val p = plan(df)
    assert(collect(p) { case t: TakeOrderedAndProjectExec => t }.nonEmpty, s"$p")
    assert(coalesces(p).isEmpty, s"$p")
    assert(rows.size == 5 && rows == withConf(excluded)(spark.sql(q).collect().toSeq))
  }

  test("does not fire on input above minPartitionSize") {
    views
    withConf(minPartitionSize -> "1") {
      assertDoesNotFire(spark.sql(groupByOrderBy))
    }
  }

  test("does not fire when the sort's input estimate is above advisoryPartitionSizeInBytes") {
    views
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16") {
      assertDoesNotFire(spark.sql(groupByOrderBy))
    }
  }

  test("does not fire over a repartition(n) or fanOut stage") {
    views
    assertDoesNotFire(spark.range(0, 1000).repartition(4)
      .selectExpr("id % 10 AS k", "id").orderBy("k", "id"))
    assertDoesNotFire(queries.fanOut(spark.table("sop_lineitem"))
      .selectExpr("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber"))
  }

  test("curation keys keep their fanOut parallelism: t15 and d12 are not collapsed") {
    for (key <- Seq("t15_gopher_rules", "d12_dup_clusters"))
      assertDoesNotFire(SparkEntry.queries(key)(spark, sfDir))
  }

  test("does not fire on a sort whose own range stage has already materialized") {
    views
    val q = "SELECT id % 500 AS k, count(*) AS n FROM range(0, 20000, 1, 4) GROUP BY 1 ORDER BY 1"
    // shuffle bytes of the aggregate's hash stage and of the sort's range stage
    val (hashBytes, rangeBytes) = withConf(excluded) {
      val df = spark.sql(q)
      df.collect()
      val stages = collect(plan(df)) { case s: ShuffleQueryStageExec => s }
      def bytes(range: Boolean) = stages
        .filter(_.shuffle.outputPartitioning.isInstanceOf[RangePartitioning] == range)
        .map(_.mapStats.get.bytesByPartitionId.sum).sum
      (bytes(range = false), bytes(range = true))
    }
    // the range stage's bytes grow with its map tasks, so leave room
    assert(hashBytes > 2 * rangeBytes && rangeBytes > 0, s"hash $hashBytes, range $rangeBytes")
    // too big for the rule before the range stage runs, small enough after
    withConf(minPartitionSize -> ((hashBytes + rangeBytes) / 2).toString) {
      assertDoesNotFire(spark.sql(q))
    }
  }

  test("does not fire with AQE off") {
    views
    val (rows, p) = withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(groupByOrderBy)
      (df.collect().toSeq, df.queryExecution.executedPlan)
    }
    assert(rangeExchanges(p).nonEmpty && coalesces(p).isEmpty, s"rule fired:\n$p")
    assert(rows == reference(spark.sql(groupByOrderBy)))
  }
}
