package graft

import org.apache.spark.sql.functions._
import graft.functions.{ChDdl, GraftFunctions}
import graft.sources.Tables

/** Projection declarations end-to-end: DDL parse → materialization →
  * the ProjectionRewrite optimizer rule routing matching aggregates
  * onto the summary table, exactly answer-preserving, and refusing
  * anything it can't preserve. */
class ProjectionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ct = {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      """CREATE TABLE graft_proj_spec (
        |  o_orderkey Int64,
        |  o_orderstatus FixedString(1),
        |  o_orderpriority String,
        |  o_totalprice Float64,
        |  PROJECTION by_status (
        |    SELECT o_orderstatus, o_orderpriority, sum(o_totalprice),
        |           min(o_orderkey), max(o_orderkey), count()
        |    GROUP BY o_orderstatus, o_orderpriority)
        |) ENGINE = MergeTree() ORDER BY (o_orderkey)""".stripMargin)
    ct.create(spark)
    ct.insertSelect(spark, Tables(spark, sfDir).orders
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"))
    ct
  }

  test("DDL parses the PROJECTION declaration") {
    assert(ct.projections.map(_.name) == Seq("by_status"))
    val p = ct.projections.head
    assert(p.keys == Seq("o_orderstatus", "o_orderpriority"))
    assert(p.sums == Seq("o_totalprice") && p.hasCount)
    assert(p.mins == Seq("o_orderkey") && p.maxs == Seq("o_orderkey"))
  }

  test("a table with several projections routes each aggregate to the matching one") {
    GraftFunctions.ensureRegistered(spark)
    val multi = ChDdl.parse(
      """CREATE TABLE graft_proj_multi (
        |  k Int64, s String, p String, v Int64,
        |  PROJECTION by_s (SELECT s, sum(v), count() GROUP BY s),
        |  PROJECTION by_p (SELECT p, max(k), count() GROUP BY p)
        |) ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    multi.create(spark)
    multi.insertSelect(spark, spark.range(1, 101).select(
      $"id".as("k"), concat(lit("s"), $"id" % 3).as("s"),
      concat(lit("p"), $"id" % 4).as("p"), ($"id" * 2).as("v")))
    val qs = spark.table("graft_proj_multi").groupBy("s").agg(sum($"v").as("sv"))
    assert(qs.queryExecution.optimizedPlan.toString.contains("__proj_by_s"),
      "sum-by-s not routed to by_s")
    val qp = spark.table("graft_proj_multi").groupBy("p").agg(max($"k").as("mk"))
    assert(qp.queryExecution.optimizedPlan.toString.contains("__proj_by_p"),
      "max-by-p not routed to by_p")
    // results stay exact through both routes
    assert(qs.orderBy("s").as[(String, Long)].collect().toSeq ==
      Seq(("s0", 3366L), ("s1", 3434L), ("s2", 3300L)))
    assert(qp.orderBy("p").as[(String, Long)].collect().toSeq ==
      Seq(("p0", 100L), ("p1", 97L), ("p2", 98L), ("p3", 99L)))
  }

  test("matching aggregate reads the projection table and keeps exact results") {
    val q = spark.table("graft_proj_spec")
      .groupBy("o_orderstatus")
      .agg(sum("o_totalprice").as("total"), count(lit(1)).as("n"),
        min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
    assert(q.queryExecution.optimizedPlan.toString.contains("__proj_by_status"),
      s"aggregate not routed to the projection:\n${q.queryExecution.optimizedPlan}")
    val got = q.orderBy("o_orderstatus")
      .as[(String, Double, Long, Long, Long)].collect().toSeq
    val expect = Tables(spark, sfDir).orders
      .groupBy("o_orderstatus")
      .agg(sum("o_totalprice").as("total"), count(lit(1)).as("n"),
        min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .orderBy("o_orderstatus")
      .as[(String, Double, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty && got.size == expect.size)
    // counts/min/max exact; the double sum re-aggregates partials, so
    // only summation ORDER differs — ulp-level tolerance (decimal sums
    // are exactly associative and hash-verified in p05 instead)
    got.zip(expect).foreach { case ((s1, t1, n1, lo1, hi1), (s2, t2, n2, lo2, hi2)) =>
      assert(s1 == s2 && n1 == n2 && lo1 == lo2 && hi1 == hi2)
      assert(math.abs(t1 - t2) / math.max(math.abs(t2), 1.0) < 1e-12, s"$t1 vs $t2")
    }
  }

  test("a decimal(12,2) SUM still reads its projection (DecSumRewrite runs after it)") {
    GraftFunctions.ensureRegistered(spark)
    val dct = ChDdl.parse(
      """CREATE TABLE proj_dec_t (k Int64, s String, price Decimal(12, 2),
        |  PROJECTION by_s (SELECT s, sum(price), count() GROUP BY s)
        |) ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    dct.create(spark)
    dct.insertSelect(spark, spark.range(1, 1001).select($"id".as("k"),
      concat(lit("s"), $"id" % 3).as("s"),
      (($"id" * 7919) % 100000 / 100.0).cast("decimal(12,2)").as("price")))
    val q = spark.table("proj_dec_t").groupBy("s").agg(sum($"price").as("total"))
    val plan = q.queryExecution.optimizedPlan
    assert(plan.toString.contains("__proj_by_s"), s"decimal sum not routed:\n$plan")
    val got = q.orderBy("s").collect().toSeq
    val expect = spark.range(1, 1001).select(concat(lit("s"), $"id" % 3).as("s"),
      (($"id" * 7919) % 100000 / 100.0).cast("decimal(12,2)").as("price"))
      .groupBy("s").agg(sum($"price").as("total")).orderBy("s").collect().toSeq
    assert(got == expect && got.size == 3, s"$got vs $expect")
    spark.sql("DROP TABLE proj_dec_t")
    spark.sql("DROP TABLE IF EXISTS proj_dec_t__proj_by_s")
  }

  test("subset grouping keys re-aggregate the rollup correctly") {
    val q = spark.table("graft_proj_spec")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.optimizedPlan.toString.contains("__proj_by_status"))
    val got = q.as[(String, Long)].collect().toMap
    val expect = Tables(spark, sfDir).orders
      .groupBy("o_orderstatus").count().as[(String, Long)].collect().toMap
    assert(got == expect)
  }

  test("non-preserving shapes are NOT rewritten") {
    ct // force materialization
    // a filter between scan and aggregate blocks the rewrite
    val filtered = spark.table("graft_proj_spec")
      .filter($"o_totalprice" > 1000)
      .groupBy("o_orderstatus").agg(count(lit(1)))
    assert(!filtered.queryExecution.optimizedPlan.toString.contains("__proj_"))
    // an aggregate the projection doesn't carry blocks the rewrite
    val avgQ = spark.table("graft_proj_spec")
      .groupBy("o_orderstatus").agg(avg("o_totalprice"))
    assert(!avgQ.queryExecution.optimizedPlan.toString.contains("__proj_"))
    // grouping outside the projection keys blocks the rewrite
    val byKey = spark.table("graft_proj_spec")
      .groupBy("o_orderkey").agg(count(lit(1)))
    assert(!byKey.queryExecution.optimizedPlan.toString.contains("__proj_"))
  }

  test("avg on the base routes through the MV's sum/count pair, exactly") {
    import graft.functions.ChDdl
    ChDdl.execute(spark,
      """CREATE TABLE avg_rt (k String, v Int64, w Float64)
        |ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    ChDdl.execute(spark,
      """CREATE MATERIALIZED VIEW avg_rt_mv ENGINE = SummingMergeTree() POPULATE AS
        |SELECT k, sum(v) AS sv, count(v) AS nv, avg(v) AS av,
        |       sum(w) AS sw, count() AS n
        |FROM avg_rt GROUP BY k""".stripMargin)
    ChDdl.execute(spark,
      "INSERT INTO avg_rt VALUES ('a', 1, 0.5), ('a', 2, 1.5), ('b', 10, 2.0)")
    ChDdl.execute(spark, "INSERT INTO avg_rt VALUES ('a', NULL, 3.0), ('b', 30, 4.0)")
    val q = spark.table("avg_rt").groupBy("k")
      .agg(avg(col("v")).as("av"), count(col("v")).as("nv"))
    assert(q.queryExecution.optimizedPlan.toString.contains("avg_rt_mv"),
      s"avg/count(col) not routed:\n${q.queryExecution.optimizedPlan}")
    val got = q.orderBy("k").as[(String, Double, Long)].collect().toSeq
    // the null v: avg divides by count(v), never count(*)
    assert(got == Seq(("a", 1.5, 2L), ("b", 20.0, 2L)), got)
    // avg of a column whose count(col) is NOT in the view must not route
    val q2 = spark.table("avg_rt").groupBy("k").agg(avg(col("w")).as("aw"))
    assert(!q2.queryExecution.optimizedPlan.toString.contains("avg_rt_mv"),
      "avg(w) routed without a non-null count to divide by")
    Seq("avg_rt", "avg_rt_mv").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("front-door DROP TABLE invalidates projection routing for a recreated name") {
    GraftFunctions.ensureRegistered(spark)
    val dct = ChDdl.parse(
      """CREATE TABLE proj_drop_t (s String, v Int64,
        |  PROJECTION by_s (SELECT s, sum(v), count() GROUP BY s)
        |) ENGINE = MergeTree() ORDER BY (v)""".stripMargin)
    dct.create(spark)
    dct.insertSelect(spark, Seq(("a", 1L), ("b", 2L)).toDF("s", "v"))
    val q0 = spark.table("proj_drop_t").groupBy("s").agg(sum($"v").as("sv"))
    assert(q0.queryExecution.optimizedPlan.toString.contains("__proj_by_s"),
      "projection must route before the drop")
    ChDdl.execute(spark, "DROP TABLE proj_drop_t")
    // recreate the same name OUTSIDE ChDdl.parse with different data —
    // a stale registration would silently serve the OLD summary
    Seq(("a", 10L), ("b", 20L)).toDF("s", "v")
      .write.format("parquet").saveAsTable("proj_drop_t")
    val q = spark.table("proj_drop_t").groupBy("s").agg(sum($"v").as("sv"))
    assert(!q.queryExecution.optimizedPlan.toString.contains("__proj_by_s"),
      "stale projection still routed after DROP + recreate")
    assert(q.orderBy("s").as[(String, Long)].collect().toSeq ==
      Seq(("a", 10L), ("b", 20L)))
    spark.sql("DROP TABLE proj_drop_t")
    spark.sql("DROP TABLE IF EXISTS proj_drop_t__proj_by_s")
  }

  test("ALTER mutation invalidates the projection routing") {
    ct // force materialization
    ChDdl.alter(spark, "ALTER TABLE graft_proj_spec DELETE WHERE o_orderkey < 0") // no-op delete
    val q = spark.table("graft_proj_spec")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(!q.queryExecution.optimizedPlan.toString.contains("__proj_"),
      "stale projection still routed after a mutation")
    // results still correct from the base table
    val got = q.as[(String, Long)].collect().toMap
    val expect = Tables(spark, sfDir).orders
      .groupBy("o_orderstatus").count().as[(String, Long)].collect().toMap
    assert(got == expect)
  }
}
