package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.EvalMode
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import graft.functions.{ChDdl, ChSql, DecSumExact}
import graft.plans.DecSumRewrite

/** DecSumExact (decimal_sum_exact) parity oracle: bit-identical to
  * Spark's Sum on real data, nulls, empty groups — and on inputs that
  * force the long tier to ESCAPE into the decimal tier, in both the
  * update and the merge path. Then DecSumRewrite, which routes every
  * grouped long-backed decimal sum() to the kernel.
  *
  * Every reference runs with DecSumRewrite excluded and asserts that
  * its optimized plan still holds Spark's Sum: with the rule on, a
  * sum() reference would itself become the kernel under test. */
class DecSumSpec extends SparkSpec {

  private def register(): Unit =
    graft.functions.GraftFunctions.ensureRegistered(spark)

  private def withoutRewrite[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, DecSumRewrite.ruleName)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def holds(df: DataFrame)(pf: PartialFunction[Any, Boolean]): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(e =>
      pf.applyOrElse(e, (_: Any) => false))))
  private def hasKernel(df: DataFrame): Boolean = holds(df) { case _: DecSumExact => true }
  private def hasSparkSum(df: DataFrame): Boolean = holds(df) { case _: Sum => true }

  /** Spark's Sum as the reference: `df` built and collected with the
    * rule excluded, its plan checked to hold Sum. */
  private def reference(df: => DataFrame): Seq[Row] = withoutRewrite {
    val r = df
    assert(hasSparkSum(r) && !hasKernel(r),
      s"reference is not Spark's Sum:\n${r.queryExecution.optimizedPlan}")
    r.collect().toSeq
  }

  /** The same statement with the rule on (kernel) and off (Sum). */
  private def assertParity(df: => DataFrame): Unit = {
    val got = df
    assert(hasKernel(got), s"not rewritten:\n${got.queryExecution.optimizedPlan}")
    val g = got.collect().toSeq.map(_.toString).sorted
    val r = reference(df).map(_.toString).sorted
    assert(g == r, s"kernel $g\nSum    $r")
  }

  test("matches sum() bit-exactly on real lineitem money columns") {
    register()
    val l = graft.sources.Tables(spark, "/root/testdata/sf0.01").lineitem
      .withColumn("q", col("l_quantity").cast("decimal(12,2)"))
      .withColumn("pr", col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(4,2)")))
    val got = l.groupBy("l_returnflag")
      .agg(expr("decimal_sum_exact(q)").as("a"), expr("decimal_sum_exact(pr)").as("c"))
      .collect().map(r => r.getString(0) -> r).toMap
    val ref = reference(l.groupBy("l_returnflag").agg(sum("q").as("b"), sum("pr").as("d")))
    assert(got.nonEmpty && got.size == ref.size)
    ref.foreach { r =>
      val k = got(r.getString(0))
      assert(k.getDecimal(1) == r.getDecimal(1), s"q sum differs: $k vs $r")
      assert(k.getDecimal(2) == r.getDecimal(2), s"pr sum differs: $k vs $r")
    }
  }

  test("nulls and empty groups behave like sum()") {
    register()
    val rows =
      """VALUES (0, CAST(1.25 AS DECIMAL(12,2))), (0, NULL), (1, NULL),
        |  (2, CAST(-7.50 AS DECIMAL(12,2))) AS t(g, v)""".stripMargin
    val df = spark.sql(
      s"SELECT g, decimal_sum_exact(v) AS a FROM $rows GROUP BY g ORDER BY g").collect()
    val ref = reference(spark.sql(s"SELECT g, sum(v) AS b FROM $rows GROUP BY g ORDER BY g"))
    df.zip(ref).foreach { case (r, s) =>
      assert(r.isNullAt(1) == s.isNullAt(1), s"nullness differs: $r vs $s")
      if (!r.isNullAt(1)) assert(r.getDecimal(1) == s.getDecimal(1), s"$r vs $s")
    }
    assert(df(1).isNullAt(1), "all-null group must sum to NULL")
  }

  test("long-tier overflow escapes exactly (update and merge paths)") {
    register()
    // 40 values of 9.0e17 (unscaled 9e17 at scale 0): the long tier
    // overflows past 10 of them; total 3.6e19 > Long.MaxValue, exactly
    // representable in decimal. 8 slices force merge-path escapes too.
    def big = spark.range(0, 40, 1, 8)
      .select(lit("900000000000000000").cast("decimal(18,0)").as("v"))
    val r = big.agg(expr("decimal_sum_exact(v)").as("a")).collect().head
    assert(r.getDecimal(0).toString == "36000000000000000000", r.toString)
    assert(r.getDecimal(0) == reference(big.agg(sum("v"))).head.getDecimal(0), r.toString)
    // mixed signs around the boundary: escape then come back down
    def mixed = spark.range(0, 40, 1, 4).select(
      when(col("id") % 2 === 0, lit("900000000000000000"))
        .otherwise(lit("-899999999999999999")).cast("decimal(18,0)").as("v"))
    val m = mixed.agg(expr("decimal_sum_exact(v)").as("a")).collect().head
    assert(m.getDecimal(0) == reference(mixed.agg(sum("v"))).head.getDecimal(0), m.toString)
    assert(m.getDecimal(0).toString == "20", m.toString)
  }

  /** decimal(12,2) values with NULLs, group 4 all NULL; 8 slices so
    * partial sums merge. */
  private def view(): Unit = spark.range(0, 2000, 1, 8).selectExpr(
    "id", "id % 5 AS g", "id % 3 AS h",
    "CASE WHEN id % 7 = 0 OR id % 5 = 4 THEN NULL ELSE " +
      "CAST(((id * 7919) % 100000 - 50000) / 100.0 AS DECIMAL(12,2)) END AS v",
    "CAST(id % 13 AS DECIMAL(10,0)) AS w").createOrReplaceTempView("dec_sum_t")

  test("sum() over a decimal of precision 9-18 runs the kernel through every front door") {
    register()
    view()
    val sql = "SELECT g, sum(v) AS s FROM dec_sum_t GROUP BY g"
    assert(hasKernel(spark.sql(sql)))
    assert(hasKernel(spark.sql(ChSql.translate(sql))))
    assert(hasKernel(ChDdl.execute(spark, sql)))
    assert(hasKernel(spark.table("dec_sum_t").groupBy("g").agg(sum("v"))))
  }

  test("window SUM, try_sum, precision <= 8 and precision > 18 stay untouched") {
    register()
    view()
    def untouched(sql: String)(check: PartialFunction[Any, Boolean]): Unit = {
      val df = spark.sql(sql)
      assert(!hasKernel(df) && holds(df)(check), s"$sql:\n${df.queryExecution.optimizedPlan}")
      df.collect()
    }
    untouched("SELECT g, sum(v) OVER (PARTITION BY g) AS s FROM dec_sum_t") {
      case s: Sum => s.child.dataType.simpleString == "decimal(12,2)"
    }
    untouched("SELECT g, try_sum(v) AS s FROM dec_sum_t GROUP BY g") {
      case s: Sum => s.evalContext.evalMode == EvalMode.TRY
    }
    // Spark's DecimalAggregates sums the unscaled long itself
    untouched("SELECT g, sum(CAST(v AS DECIMAL(8,2))) AS s FROM dec_sum_t GROUP BY g") {
      case s: Sum => s.child.dataType.simpleString == "bigint"
    }
    untouched("SELECT g, sum(CAST(v AS DECIMAL(20,2))) AS s FROM dec_sum_t GROUP BY g") {
      case s: Sum => s.child.dataType.simpleString == "decimal(20,2)"
    }
  }

  test("rewritten sums equal Spark's Sum: NULLs, empty groups, GROUPING SETS, DISTINCT, FILTER, sumIf") {
    register()
    view()
    Seq(
      "SELECT g, sum(v) AS s FROM dec_sum_t GROUP BY g",
      "SELECT sum(v) AS s FROM dec_sum_t WHERE id < 0",
      "SELECT g, sum(v) AS s FROM dec_sum_t WHERE id < 0 GROUP BY g",
      "SELECT g, h, grouping_id() AS gid, sum(v) AS s FROM dec_sum_t " +
        "GROUP BY GROUPING SETS ((g), (h), ())",
      "SELECT g, sum(DISTINCT w) AS s FROM dec_sum_t GROUP BY g",
      "SELECT g, sum(DISTINCT w) AS a, sum(DISTINCT v) AS b, sum(v) AS c " +
        "FROM dec_sum_t GROUP BY g",
      "SELECT g, sum(v) FILTER (WHERE h > 0) AS s, sum(v) AS t FROM dec_sum_t GROUP BY g",
      ChSql.translate("SELECT g, sumIf(v, h > 0) AS s FROM dec_sum_t GROUP BY g")
    ).foreach(sql => assertParity(spark.sql(sql)))
  }
}
