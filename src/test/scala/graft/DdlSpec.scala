package graft

import org.apache.spark.sql.functions._
import graft.functions.{ChDdl, ChDictionaries, GraftFunctions}
import graft.sources.Tables

/** ChDdl parser + catalog round-trip + the MergeTree-analog layout
  * properties (sampling-hash pushdown), and the dictGet surface. */
class DdlSpec extends SparkSpec {
  import spark.implicits._

  /** The rewrite stages left under the warehouse's `__graft_stage__`. */
  private def stageEntries: Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "__graft_stage__")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).map(_.getPath.getName).toSeq
    else Nil
  }

  test("type mapping covers the DataTypeFactory names") {
    val ct = ChDdl.parse(
      """CREATE TABLE IF NOT EXISTS db.t (
        |  a Int8, b UInt8, c Int32, d UInt32, e Int64, f UInt64,
        |  g Float32, h Float64, i String, j FixedString(4),
        |  k Date, l Date32, m DateTime, n DateTime64(3),
        |  o Decimal(12, 2), p Decimal64(4),
        |  q Nullable(Int64), r LowCardinality(String),
        |  s Array(Nullable(String)), t Map(String, Int64),
        |  u Tuple(x Int64, y String), v Tuple(Float64, Float64),
        |  w Enum8('lo' = 1, 'hi' = 2), x UUID, y Bool
        |) ENGINE = MergeTree() ORDER BY (e, k) SETTINGS index_granularity = 8192""".stripMargin)
    val m = ct.cols.map(c => c.name -> c.sparkType).toMap
    assert(m("a") == "TINYINT" && m("b") == "SMALLINT" && m("d") == "BIGINT")
    // UInt64 stores full-range via the DECIMAL(20,0) carrier (same as
    // toUInt64's result type) — r14 "what's wrong" #1
    assert(m("f") == "DECIMAL(20, 0)" && m("g") == "FLOAT" && m("j") == "VARCHAR(4)")
    assert(m("l") == "DATE" && m("m") == "TIMESTAMP" && m("n") == "TIMESTAMP_NTZ")
    assert(m("o") == "DECIMAL(12, 2)" && m("p") == "DECIMAL(18, 4)")
    assert(m("q") == "BIGINT" && m("r") == "STRING")
    assert(m("s") == "ARRAY<STRING>" && m("t") == "MAP<STRING, BIGINT>")
    assert(m("u") == "STRUCT<x: BIGINT, y: STRING>")
    assert(m("v") == "STRUCT<_1: DOUBLE, _2: DOUBLE>")
    assert(m("w") == "TINYINT" && m("x") == "STRING" && m("y") == "BOOLEAN")
    assert(ct.enumOf("w") == Seq(("lo", 1), ("hi", 2)))
    assert(ct.table == "db_t" && ct.orderBy == Seq("e", "k"))
  }

  test("Nested(…) maps to the reference's Array(Tuple) shape; both read idioms work") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      """CREATE TABLE graft_nested_spec (
        |  id Int64, ev Nested(name String, val Int64)
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    assert(ct.cols.find(_.name == "ev").get.sparkType ==
      "ARRAY<STRUCT<name: STRING, val: BIGINT>>")
    ct.create(spark)
    // the tuple-value insert form: [('a', 10), ('b', 20)]
    ChDdl.execute(spark,
      "INSERT INTO graft_nested_spec VALUES (1, [('a', 10), ('b', 20)]), (2, [('c', 30)])")
    // unexploded read: ev.name IS the flattened parallel array
    val arrs = spark.sql("SELECT id, ev.name AS names FROM graft_nested_spec ORDER BY id")
      .as[(Long, Seq[String])].collect().toSeq
    assert(arrs == Seq((1L, Seq("a", "b")), (2L, Seq("c"))), arrs)
    // the flattened-subcolumn insert form zips back (NestedUtils flatten)
    ChDdl.execute(spark,
      "INSERT INTO graft_nested_spec (id, ev.name, ev.val) VALUES (3, ['d', 'e'], [40, 50])")
    // ARRAY JOIN iterates the group in lockstep, element fields scalar
    val rows = ChDdl.execute(spark,
      """SELECT id, ev.name AS n, ev.val AS v
        |FROM graft_nested_spec ARRAY JOIN ev ORDER BY id, n""".stripMargin)
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "c", 30L),
      (3L, "d", 40L), (3L, "e", 50L)), rows)
    // subscripts are NOT array literals: ev.val[1] stays a subscript
    val sub = ChDdl.execute(spark,
      "SELECT id, ev.val[1] AS first_v FROM graft_nested_spec WHERE id = 3")
      .as[(Long, Long)].collect().toSeq
    assert(sub == Seq((3L, 50L)), sub) // Spark subscript is 0-based on arrays
  }

  test("enum encode/decode round-trips names through codes") {
    val ct = ChDdl.parse(
      "CREATE TABLE e (v Enum8('a' = 1, 'b' = 5)) ENGINE = Memory")
    val got = Seq("a", "b", "a").toDF("v")
      .select(ct.enumDecode("v", ct.enumEncode("v", $"v")).as("back"))
      .as[String].collect().toSeq
    assert(got == Seq("a", "b", "a"))
  }

  test("DDL table: insertSelect round-trips and the sampling hash predicate pushes down") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      """CREATE TABLE graft_ddl_spec (
        |  o_orderkey Int64, o_totalprice Float64
        |) ENGINE = MergeTree()
        |ORDER BY (o_orderkey)
        |SAMPLE BY intHash32(o_orderkey)""".stripMargin)
    ct.create(spark)
    val src = Tables(spark, sfDir).orders.select("o_orderkey", "o_totalprice")
    ct.insertSelect(spark, src)
    val back = spark.table("graft_ddl_spec")
    // exact row round-trip
    assert(back.count() == src.count())
    assert(back.agg(sum($"o_orderkey")).as[Long].head() ==
      src.agg(sum($"o_orderkey")).as[Long].head())
    // the declared SAMPLE BY layout serves an IO-pruned sample: plain
    // range predicate on the persisted hash, pushed to the scan
    val sampled = graft.operators.Sample.byStoredHashRange(back, "__sample_hash", 0.1)
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(__sample_hash), LessThanOrEqual(__sample_hash"),
      s"sampling predicate not pushed:\n$plan")
    val frac = sampled.count().toDouble / back.count()
    assert(frac > 0.05 && frac < 0.15, s"sampled fraction $frac")
  }

  test("partitioned DDL table prunes partitions on the partition key") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      """CREATE TABLE graft_ddl_part (
        |  o_orderkey Int64, o_totalprice Float64, o_orderstatus FixedString(1)
        |) ENGINE = MergeTree()
        |PARTITION BY o_orderstatus
        |ORDER BY (o_orderkey)""".stripMargin)
    ct.create(spark)
    ct.insertSelect(spark,
      Tables(spark, sfDir).orders.select("o_orderkey", "o_totalprice", "o_orderstatus"))
    val q = spark.table("graft_ddl_part").filter($"o_orderstatus" === "F")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty, "partition filter not applied at scan")
    assert(q.count() > 0)
  }

  test("bare SAMPLE f against a DDL table uses the declared stored-hash layout, pushed down") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      """CREATE TABLE graft_sample_ddl (
        |  o_orderkey Int64, o_totalprice Float64
        |) ENGINE = MergeTree()
        |ORDER BY (o_orderkey) SAMPLE BY intHash32(o_orderkey)""".stripMargin)
    ct.create(spark)
    ct.insertSelect(spark, Tables(spark, sfDir).orders.select("o_orderkey", "o_totalprice"))
    // the reference's own syntax — no BY clause; the key is in the DDL
    val df = spark.sql(graft.functions.ChSql.translate(
      "SELECT o_orderkey FROM graft_sample_ddl SAMPLE 0.1 ORDER BY o_orderkey"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(__sample_hash), LessThanOrEqual(__sample_hash"),
      s"bare SAMPLE predicate not pushed:\n$plan")
    val frac = df.count().toDouble / spark.table("graft_sample_ddl").count()
    assert(frac > 0.05 && frac < 0.15, s"sampled fraction $frac")
  }

  test("ALTER DELETE and UPDATE mutate the table like the reference's mutations") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      "CREATE TABLE graft_alter_spec (k Int64, v Float64) ENGINE = MergeTree() ORDER BY (k)")
    ct.create(spark)
    ct.insertSelect(spark,
      spark.range(1, 11).select($"id".as("k"), ($"id" * 10.0).as("v")))
    ChDdl.alter(spark, "ALTER TABLE graft_alter_spec DELETE WHERE k % 2 = 0")
    ChDdl.alter(spark, "ALTER TABLE graft_alter_spec UPDATE v = v + 1 WHERE k > 5")
    val got = spark.table("graft_alter_spec").orderBy("k")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (3L, 30.0), (5L, 50.0), (7L, 71.0), (9L, 91.0)), got)
  }

  test("partition-restricted mutation leaves untouched partitions byte-identical") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      """CREATE TABLE graft_mut_part (
        |  k Int64, grp String, v Float64
        |) ENGINE = MergeTree()
        |PARTITION BY grp
        |ORDER BY (k)""".stripMargin)
    ct.create(spark)
    ct.insertSelect(spark, spark.range(1, 101).select(
      $"id".as("k"),
      concat(lit("g"), ($"id" % 4).cast("string")).as("grp"),
      ($"id" * 1.0).as("v")))
    def partFiles(grp: String): Map[String, (Long, Long)] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val dir = new org.apache.hadoop.fs.Path(s"$wh/graft_mut_part/grp=$grp")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).filter(_.isFile).map { st =>
        st.getPath.getName -> (st.getLen, st.getModificationTime)
      }.toMap
    }
    val before = Seq("g0", "g1", "g3").map(g => g -> partFiles(g)).toMap
    // the predicate pins partition g2: only that directory may change
    // (g2 holds k ≡ 2 mod 4: 2,6,…,98; k ≡ 2 mod 8 deletes 13 of 25)
    ChDdl.alter(spark, "ALTER TABLE graft_mut_part DELETE WHERE grp = 'g2' AND k % 8 = 2")
    Seq("g0", "g1", "g3").foreach { g =>
      assert(partFiles(g) == before(g),
        s"untouched partition $g was rewritten by a g2-only mutation")
    }
    val got = spark.table("graft_mut_part")
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(got == Map("g0" -> 25, "g1" -> 25, "g2" -> 12, "g3" -> 25), got)
    // a mutation that deletes a partition ENTIRELY drops it
    ChDdl.alter(spark, "ALTER TABLE graft_mut_part DELETE WHERE grp = 'g3'")
    val left = spark.table("graft_mut_part").select("grp").distinct()
      .as[String].collect().toSet
    assert(left == Set("g0", "g1", "g2"), left)
    // assigning a partition column is refused (the reference's "Cannot
    // UPDATE key column"): moved rows would land outside the affected
    // partition set and be silently dropped by the restricted rewrite
    val e = intercept[IllegalArgumentException] {
      ChDdl.alter(spark,
        "ALTER TABLE graft_mut_part UPDATE grp = 'g9' WHERE k % 2 = 0")
    }
    assert(e.getMessage.contains("partition key column"), e.getMessage)
    // non-partition updates still work on the partitioned table
    ChDdl.alter(spark,
      "ALTER TABLE graft_mut_part UPDATE v = v + 1000 WHERE grp = 'g0' AND k = 4")
    assert(spark.table("graft_mut_part").filter($"k" === 4)
      .select("v").as[Double].head() == 1004.0)
  }

  test("a partitioned mutation that fails at run time leaves nothing cached") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      """CREATE TABLE graft_mut_fail (k Int64, grp String, v Float64)
        |ENGINE = MergeTree() PARTITION BY grp ORDER BY (k)""".stripMargin)
    ct.create(spark)
    ct.insertSelect(spark, spark.range(1, 21).select($"id".as("k"),
      concat(lit("g"), ($"id" % 2).cast("string")).as("grp"), ($"id" * 1.0).as("v")))
    spark.catalog.clearCache()
    // the affected-partition pre-scan succeeds and is cached; the SET
    // expression then fails while the rewrite is staged
    val e = intercept[Exception] {
      ChDdl.alter(spark,
        "ALTER TABLE graft_mut_fail UPDATE v = raise_error('mutation boom') WHERE grp = 'g1'")
    }
    assert(e.getMessage.contains("mutation boom"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed mutation left its affected-partition pre-scan cached")
    assert(stageEntries.isEmpty, s"the failed mutation left a stage: $stageEntries")
    assert(spark.table("graft_mut_fail").count() == 20)
  }

  test("every table rewrite leaves no stage and no temp directory behind") {
    GraftFunctions.ensureRegistered(spark)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prefixes = Seq("graft_altercol", "graft_optimize", "graft_ttl_rollup")
    def tmpDirs = Option(tmp.list()).toSeq.flatten
      .filter(n => prefixes.exists(n.startsWith)).toSet
    val before = tmpDirs
    def rows(t: String) = spark.table(t).orderBy("k").collect().map(_.toSeq).toSeq
    // ALTER … ADD/DROP/RENAME/MODIFY COLUMN
    ChDdl.execute(spark,
      """CREATE TABLE graft_stage_col (k Int64, a Int32)
        |ENGINE = MergeTree() ORDER BY (k);
        |INSERT INTO graft_stage_col VALUES (1, 7), (2, 9);
        |ALTER TABLE graft_stage_col ADD COLUMN b Int64 DEFAULT a * 2;
        |ALTER TABLE graft_stage_col RENAME COLUMN a TO a2;
        |ALTER TABLE graft_stage_col MODIFY COLUMN a2 Int64;
        |ALTER TABLE graft_stage_col DROP COLUMN b""".stripMargin)
    assert(rows("graft_stage_col") == Seq(Seq(1L, 7L), Seq(2L, 9L)))
    // OPTIMIZE … DEDUPLICATE, and the TTL GROUP BY rollup it applies
    ChDdl.execute(spark,
      """CREATE TABLE graft_stage_opt (k Int64, d Date, v Float64)
        |ENGINE = MergeTree() ORDER BY (k, d)
        |TTL d + INTERVAL 30 DAY GROUP BY k SET v = sum(v);
        |INSERT INTO graft_stage_opt VALUES
        |  (1, '2000-01-01', 1.5), (1, '2000-02-01', 2.5),
        |  (1, '2000-02-01', 2.5), (2, '2100-01-01', 7.0);
        |OPTIMIZE TABLE graft_stage_opt FINAL DEDUPLICATE""".stripMargin)
    assert(spark.table("graft_stage_opt").orderBy("k").select("k", "v")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 4.0), (2L, 7.0)))
    // ALTER UPDATE/DELETE, unpartitioned and partitioned (the DELETE
    // empties partition g0, which is dropped, and thins g1)
    ChDdl.execute(spark,
      """CREATE TABLE graft_stage_mut (k Int64, v Int64)
        |ENGINE = MergeTree() ORDER BY (k);
        |INSERT INTO graft_stage_mut VALUES (1, 10), (2, 20), (3, 30);
        |ALTER TABLE graft_stage_mut UPDATE v = v + 1 WHERE k = 2;
        |ALTER TABLE graft_stage_mut DELETE WHERE k = 3;
        |CREATE TABLE graft_stage_pmut (k Int64, grp String, v Int64)
        |ENGINE = MergeTree() PARTITION BY grp ORDER BY (k);
        |INSERT INTO graft_stage_pmut VALUES (1, 'g0', 10), (2, 'g1', 20), (3, 'g1', 30);
        |ALTER TABLE graft_stage_pmut UPDATE v = v + 1 WHERE k = 3;
        |ALTER TABLE graft_stage_pmut DELETE WHERE grp = 'g0' OR k = 2""".stripMargin)
    assert(rows("graft_stage_mut") == Seq(Seq(1L, 10L), Seq(2L, 21L)))
    assert(spark.table("graft_stage_pmut").orderBy("k").select("k", "v")
      .as[(Long, Long)].collect().toSeq == Seq((3L, 31L)))
    assert(spark.sql("SHOW PARTITIONS graft_stage_pmut").as[String].collect()
      .toSeq == Seq("grp=g1"))
    assert(stageEntries.isEmpty, s"stages left behind: $stageEntries")
    assert(tmpDirs -- before == Set.empty, s"temp directories left: ${tmpDirs -- before}")
    Seq("graft_stage_col", "graft_stage_opt", "graft_stage_mut", "graft_stage_pmut")
      .foreach(t => ChDdl.execute(spark, s"DROP TABLE $t"))
  }

  test("a rewrite whose write fails keeps its stage, names it, and the stage holds every row") {
    val rows = spark.range(0, 100).select($"id".as("k"), ($"id" % 7).as("v"))
    val e = intercept[IllegalStateException] {
      ChDdl.stagedRewrite(spark, rows) { staged =>
        assert(staged.count() == 100)
        throw new IllegalStateException("overwrite boom")
      }
    }
    assert(e.getMessage == "overwrite boom", e.getMessage)
    val kept = stageEntries
    assert(kept.length == 1, s"expected the one kept stage: $kept")
    val named = e.getSuppressed.map(_.getMessage)
    assert(named.exists(_.contains(kept.head)), named.mkString("; "))
    val stage = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"__graft_stage__/${kept.head}")
    try {
      val back = spark.read.schema(rows.schema).parquet(stage.toString)
      assert(back.orderBy("k").as[(Long, Long)].collect().toSeq ==
        rows.as[(Long, Long)].collect().toSeq)
    } finally stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stage, true)
    assert(stageEntries.isEmpty)
  }

  test("ALTER UPDATE evaluates every SET and the predicate against the original row") {
    GraftFunctions.ensureRegistered(spark)
    val ct = ChDdl.parse(
      "CREATE TABLE graft_upd_snap (k Int64, a Int64, b Int64) ENGINE = MergeTree() ORDER BY (k)")
    ct.create(spark)
    ct.insertSelect(spark, spark.range(1, 4).select(
      $"id".as("k"), ($"id" * 10).as("a"), ($"id" * 100).as("b")))
    // the reference's mutation contract: a = b, b = a SWAPS (both
    // right-hand sides read the pre-update row)
    ChDdl.alter(spark, "ALTER TABLE graft_upd_snap UPDATE a = b, b = a WHERE k >= 2")
    val got = spark.table("graft_upd_snap").orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L, 100L), (2L, 200L, 20L), (3L, 300L, 30L)), got)
  }

  test("CREATE FUNCTION registers a SQL-lambda that inlines as Catalyst") {
    ChDdl.createFunction(spark,
      "CREATE FUNCTION graft_linear AS (x, k, b) -> k * x + b")
    ChDdl.createFunction(spark,
      "CREATE FUNCTION graft_double AS x -> x * 2")
    val r = spark.sql(
      "SELECT graft_linear(10, 2, 1) AS lin, graft_double(21) AS dbl").collect().head
    assert(r.getAs[Int]("lin") == 21 && r.getAs[Int]("dbl") == 42)
    // composes with columns and other functions
    val n = spark.range(5)
      .selectExpr("graft_linear(id, 3, 1) AS v").selectExpr("sum(v)")
      .collect().head.getLong(0)
    assert(n == 3 * (0 + 1 + 2 + 3 + 4) + 5)
    // OR REPLACE swaps the body; DROP FUNCTION unregisters it
    ChDdl.execute(spark, "CREATE OR REPLACE FUNCTION graft_double AS x -> x * 3")
    assert(spark.sql("SELECT graft_double(10) AS v").head().getInt(0) == 30)
    ChDdl.execute(spark, "DROP FUNCTION graft_double")
    intercept[Exception] { spark.sql("SELECT graft_double(10)").collect() }
  }

  test("execute() routes any CH statement to its realization") {
    ChDdl.execute(spark,
      "CREATE TABLE graft_exec_spec (k Int64, v Float64) ENGINE = MergeTree() ORDER BY (k)")
    ChDdl.parse(
      "CREATE TABLE graft_exec_spec (k Int64, v Float64) ENGINE = Memory")
      // (re-parse only to get insertSelect's layout helper on the same name)
      .insertSelect(spark, spark.range(1, 6).select($"id".as("k"), ($"id" * 1.5).as("v")))
    ChDdl.execute(spark, "ALTER TABLE graft_exec_spec DELETE WHERE k = 5")
    ChDdl.execute(spark, "OPTIMIZE TABLE graft_exec_spec FINAL") // no-op, parquet is merged
    ChDdl.execute(spark, "RENAME TABLE graft_exec_spec TO graft_exec_spec2")
    val got = ChDdl.execute(spark,
      "SELECT count() AS n FROM graft_exec_spec2 PREWHERE k < 10")
      .as[Long].collect().head
    assert(got == 4)
    ChDdl.execute(spark, "DROP TABLE graft_exec_spec2")
    assert(!spark.catalog.tableExists("graft_exec_spec2"))
  }

  test("ON CLUSTER is accepted verbatim on DDL and stripped (the Spark cluster IS the cluster)") {
    // real ClickHouse DDL dumps carry ON CLUSTER on nearly every
    // statement (ASTQueryWithOnCluster.h) — they must ingest verbatim
    ChDdl.execute(spark,
      """CREATE TABLE graft_onclu ON CLUSTER prod (k Int64, v Float64)
        |ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    assert(spark.catalog.tableExists("graft_onclu"))
    ChDdl.execute(spark,
      "INSERT INTO graft_onclu SELECT number AS k, number * 1.5 AS v FROM numbers(5)")
    ChDdl.execute(spark, "ALTER TABLE graft_onclu ON CLUSTER prod DELETE WHERE k = 4")
    ChDdl.execute(spark, "RENAME TABLE graft_onclu TO graft_onclu2 ON CLUSTER prod")
    // a CTAS body joining ON a column literally named `cluster` must
    // not trip the stripper (it only looks before the SELECT)
    ChDdl.execute(spark,
      """CREATE TABLE graft_onclu3 ON CLUSTER 'prod' ENGINE = MergeTree() ORDER BY (k) AS
        |SELECT a.k AS k FROM (SELECT k, k AS cluster FROM graft_onclu2) a
        |JOIN (SELECT k, k AS cluster FROM graft_onclu2) b ON a.cluster = b.cluster""".stripMargin)
    assert(ChDdl.execute(spark, "SELECT count() AS n FROM graft_onclu3")
      .collect().head.getLong(0) == 4L)
    ChDdl.execute(spark, "TRUNCATE TABLE graft_onclu3 ON CLUSTER prod")
    assert(ChDdl.execute(spark, "SELECT count() AS n FROM graft_onclu3")
      .collect().head.getLong(0) == 0L)
    ChDdl.execute(spark, "DROP TABLE graft_onclu2 ON CLUSTER prod")
    ChDdl.execute(spark, "DROP TABLE graft_onclu3 ON CLUSTER prod")
    assert(!spark.catalog.tableExists("graft_onclu2"))
  }

  test("execute() runs multi-statement scripts, returning the last result") {
    val got = ChDdl.execute(spark,
      """CREATE TABLE graft_multi (k Int64) ENGINE = MergeTree() ORDER BY (k);
        |CREATE FUNCTION graft_inc AS x -> x + 1;
        |SELECT graft_inc(41) AS answer""".stripMargin)
    assert(got.collect().head.getInt(0) == 42)
    assert(spark.catalog.tableExists("graft_multi"))
    ChDdl.execute(spark, "DROP TABLE graft_multi")
  }

  test("ASOF JOIN SQL plans the AsOfJoin operator, both directions") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 10), (1, 20), (2, 15) AS t(k, t)")
      .createOrReplaceTempView("asof_l")
    spark.sql("SELECT * FROM VALUES (1, 5, 'a'), (1, 12, 'b'), (2, 99, 'z') AS t(k2, t2, v)")
      .createOrReplaceTempView("asof_r")
    val back = ChDdl.execute(spark,
      """SELECT l.k AS k, l.t AS t, r.v AS v FROM asof_l l
        |ASOF LEFT JOIN asof_r r ON l.k = r.k2 AND l.t >= r.t2
        |ORDER BY k, t""".stripMargin)
      .as[(Int, Int, Option[String])].collect().toSeq
    // (1,10)→'a' (t2=5), (1,20)→'b' (t2=12), (2,15)→none (99 > 15)
    assert(back == Seq((1, 10, Some("a")), (1, 20, Some("b")), (2, 15, None)), back)
    val fwd = ChDdl.execute(spark,
      """SELECT l.k AS k, l.t AS t, r.v AS v FROM asof_l l
        |ASOF LEFT JOIN asof_r r ON l.k = r.k2 AND l.t <= r.t2
        |ORDER BY k, t""".stripMargin)
      .as[(Int, Int, Option[String])].collect().toSeq
    // forward: earliest t2 ≥ t — (1,10)→'b'(12), (1,20)→none, (2,15)→'z'(99)
    assert(fwd == Seq((1, 10, Some("b")), (1, 20, None), (2, 15, Some("z"))), fwd)
  }

  test("ASOF JOIN SQL: strict bounds, inner form, and subquery sides") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 10), (1, 20), (2, 15) AS t(k, t)")
      .createOrReplaceTempView("asof_sl")
    spark.sql("SELECT * FROM VALUES (1, 10, 'a'), (1, 12, 'b'), (2, 99, 'z') AS t(k2, t2, v)")
      .createOrReplaceTempView("asof_sr")
    // strict backward + INNER (bare ASOF JOIN) over subquery sides:
    // (1,10) has only the t2=10 tie → excluded AND dropped (inner);
    // (1,20)→'b'; (2,15) unmatched → dropped
    val got = ChDdl.execute(spark,
      """SELECT l.k AS k, l.t AS t, r.v AS v
        |FROM (SELECT k, t FROM asof_sl WHERE k < 9) l
        |ASOF JOIN (SELECT k2, t2, v FROM asof_sr PREWHERE v != '') r
        |  ON l.k = r.k2 AND l.t > r.t2
        |ORDER BY k, t""".stripMargin)
      .as[(Int, Int, String)].collect().toSeq
    assert(got == Seq((1, 20, "b")), got)
  }

  test("ASOF JOIN USING shorthand: equality on the head, >= on the last column") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 10), (1, 20), (2, 15) AS t(k, t)")
      .createOrReplaceTempView("asof_ul")
    spark.sql("SELECT * FROM VALUES (1, 5, 'a'), (1, 12, 'b'), (2, 99, 'z') AS t(k, t, v)")
      .createOrReplaceTempView("asof_ur")
    val got = ChDdl.execute(spark,
      """SELECT l.k AS k, l.t AS t, r.v AS v FROM asof_ul l
        |ASOF LEFT JOIN asof_ur r USING (k, t)
        |ORDER BY k, t""".stripMargin)
      .as[(Int, Int, Option[String])].collect().toSeq
    assert(got == Seq((1, 10, Some("a")), (1, 20, Some("b")), (2, 15, None)), got)
  }

  test("two concurrent execute() ASOF statements do not clobber each other") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 10), (1, 20) AS t(k, t)")
      .createOrReplaceTempView("asof_c1")
    spark.sql("SELECT * FROM VALUES (1, 5, 'p'), (1, 15, 'q') AS t(k2, t2, v)")
      .createOrReplaceTempView("asof_c2")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def run(n: Int): Seq[(Int, String)] = ChDdl.execute(spark,
      s"""SELECT l.k AS k, l.t AS t, r.v AS v FROM asof_c1 l
         |ASOF LEFT JOIN asof_c2 r ON l.k = r.k2 AND l.t >= r.t2
         |WHERE l.t >= $n ORDER BY t""".stripMargin)
      .as[(Int, Int, String)].collect().toSeq.map(r => (r._2, r._3))
    val futures = Seq(
      Future((1 to 5).map(_ => run(0))),
      Future((1 to 5).map(_ => run(20))))
    val Seq(a, b) = Await.result(Future.sequence(futures), 120.seconds)
    assert(a.forall(_ == Seq((10, "p"), (20, "q"))), a.head)
    assert(b.forall(_ == Seq((20, "q"))), b.head)
  }

  test("the README front-door script runs verbatim") {
    ChDdl.execute(spark,
      "CREATE TABLE t (id UInt64, s String) ENGINE = MergeTree() ORDER BY (id) SAMPLE BY intHash32(id)")
    ChDdl.parse(
      "CREATE TABLE t (id UInt64, s String) ENGINE = Memory")
      .copy(sampleBy = Some("intHash32(id)"))
      .insertSelect(spark, spark.range(1, 1001)
        .select($"id", concat(lit("v"), $"id").as("s")))
    ChDdl.execute(spark, "CREATE FUNCTION discounted AS (p, d) -> p * (1 - d)")
    ChDdl.execute(spark, "ALTER TABLE t DELETE WHERE id % 7 = 0")
    val n = ChDdl.execute(spark,
      "SELECT count() FROM t SAMPLE 0.1 PREWHERE s != ''")
      .as[Long].collect().head
    // ~10% of the 858 surviving rows
    assert(n > 40 && n < 140, s"sampled count $n")
    val d = spark.sql("SELECT CAST(discounted(200.0, 0.25) AS DOUBLE) AS v")
      .as[Double].collect().head
    assert(d == 150.0)
    ChDdl.execute(spark, "DROP TABLE t")
  }

  test("INSERT front door: VALUES, column subsets, and inline FORMAT data") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      "CREATE TABLE graft_ins (a Int64, b String, c Float64) ENGINE = MergeTree() ORDER BY (a)")
    // column-subset VALUES: unlisted c arrives NULL, order is (b, a)
    ChDdl.execute(spark, "INSERT INTO graft_ins (b, a) VALUES ('x', 1), ('y', 2)")
    // inline TSV against the catalog schema
    ChDdl.execute(spark, "INSERT INTO graft_ins FORMAT TSV\n3\tz\t3.5")
    val got = spark.table("graft_ins").orderBy("a")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "x", None), (2L, "y", None), (3L, "z", Some(3.5))), got)
  }

  test("materialized view: POPULATE backfills, inserts append per-block partials") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_mv_base (k Int64, g String, v Int64)
        |  ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO graft_mv_base VALUES (1, 'a', 10), (2, 'b', 20)")
    ChDdl.execute(spark,
      """CREATE MATERIALIZED VIEW graft_mv_sum ENGINE = SummingMergeTree() POPULATE AS
        |SELECT g, sum(v) AS sv, count() AS n FROM graft_mv_base GROUP BY g""".stripMargin)
    // POPULATE: one backfill row per key
    assert(spark.table("graft_mv_sum").count() == 2)
    ChDdl.execute(spark, "INSERT INTO graft_mv_base VALUES (3, 'a', 5), (4, 'c', 7)")
    // the trigger appended the BLOCK's partials (never recomputed):
    // 'a' now has two partial rows
    assert(spark.table("graft_mv_sum").count() == 4)
    val got = spark.sql(
      "SELECT g, sum(sv) AS sv, sum(n) AS n FROM graft_mv_sum GROUP BY g ORDER BY g")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 15L, 2L), ("b", 20L, 1L), ("c", 7L, 1L)), got)
    // matching aggregate on the BASE auto-routes to the target
    val routed = spark.table("graft_mv_base").groupBy("g")
      .agg(sum($"v").as("sv"))
    assert(routed.queryExecution.optimizedPlan.toString.contains("graft_mv_sum"),
      "aggregate on the base was not routed to the MV target")
    assert(routed.orderBy("g").as[(String, Long)].collect().toSeq ==
      Seq(("a", 15L), ("b", 20L), ("c", 7L)))
  }

  test("materialized views cascade: an MV over another MV's target sees each block") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_mv_c0 (k Int64, g String, v Int64)
        |  ENGINE = MergeTree() ORDER BY (k);
        |CREATE TABLE graft_mv_c1_t (k Int64, g String, v10 Int64)
        |  ENGINE = MergeTree() ORDER BY (k);
        |CREATE TABLE graft_mv_c2_t (g String, sv Int64, n Int64)
        |  ENGINE = MergeTree() ORDER BY (g);
        |CREATE MATERIALIZED VIEW graft_mv_c1 TO graft_mv_c1_t AS
        |  SELECT k, g, v * 10 AS v10 FROM graft_mv_c0 WHERE v > 1;
        |CREATE MATERIALIZED VIEW graft_mv_c2 TO graft_mv_c2_t AS
        |  SELECT g, sum(v10) AS sv, count() AS n FROM graft_mv_c1_t GROUP BY g;
        |INSERT INTO graft_mv_c0 VALUES (1, 'a', 1), (2, 'a', 2), (3, 'b', 3);
        |INSERT INTO graft_mv_c0 VALUES (4, 'a', 4)""".stripMargin)
    // first level: rows v>1 transformed
    assert(spark.table("graft_mv_c1_t").count() == 3)
    // second level: per-block partials of the TRANSFORMED blocks
    val got = spark.sql(
      "SELECT g, sum(sv) AS sv, sum(n) AS n FROM graft_mv_c2_t GROUP BY g ORDER BY g")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 60L, 2L), ("b", 30L, 1L)), got)
  }

  test("materialized view TO preserves the existing target's data; POPULATE with TO refused") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_mv_to_base (k Int64, v Int64) ENGINE = MergeTree() ORDER BY (k);
        |CREATE TABLE graft_mv_to_t (k Int64, v2 Int64) ENGINE = MergeTree() ORDER BY (k);
        |INSERT INTO graft_mv_to_t VALUES (100, 200)""".stripMargin)
    ChDdl.execute(spark,
      "CREATE MATERIALIZED VIEW graft_mv_to TO graft_mv_to_t AS SELECT k, v * 2 AS v2 FROM graft_mv_to_base")
    // the pre-existing row survived MV creation (reference: TO attaches
    // to an existing table; its data is preserved)
    assert(spark.table("graft_mv_to_t").count() == 1)
    ChDdl.execute(spark, "INSERT INTO graft_mv_to_base VALUES (1, 5)")
    assert(spark.table("graft_mv_to_t").orderBy("k").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (100L, 200L)))
    intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "CREATE MATERIALIZED VIEW graft_mv_to2 TO graft_mv_to_t POPULATE AS SELECT k, v * 2 AS v2 FROM graft_mv_to_base")
    }
    intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "CREATE MATERIALIZED VIEW graft_mv_to3 TO graft_mv_missing AS SELECT k, v * 2 AS v2 FROM graft_mv_to_base")
    }
  }

  test("materialized view TO refuses a same-named, wrong-typed target") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_mv_ty_base (k Int64, v Int64) ENGINE = MergeTree() ORDER BY (k);
        |CREATE TABLE graft_mv_ty_t (k Int64, v2 String) ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    // column NAMES match the SELECT output exactly — only v2's type
    // differs (String vs the SELECT's Int64); a name-only check passes
    // this and corrupts at the first insert-trigger append
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "CREATE MATERIALIZED VIEW graft_mv_ty TO graft_mv_ty_t AS SELECT k, v * 2 AS v2 FROM graft_mv_ty_base")
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    Seq("graft_mv_ty_base", "graft_mv_ty_t").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("DESCRIBE DATABASE / DESCRIBE QUERY pass through to Spark's grammar") {
    GraftFunctions.ensureRegistered(spark)
    assert(ChDdl.execute(spark, "DESCRIBE DATABASE default").count() > 0)
    assert(ChDdl.execute(spark, "DESCRIBE QUERY SELECT 1 AS x").count() > 0)
  }

  test("un-populated MV over a non-empty base never captures base-table aggregates") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_mv_np_base (g String, v Int64) ENGINE = MergeTree() ORDER BY (g);
        |INSERT INTO graft_mv_np_base VALUES ('a', 1), ('b', 2)""".stripMargin)
    ChDdl.execute(spark,
      "CREATE MATERIALIZED VIEW graft_np_target AS SELECT g, sum(v) AS sv FROM graft_mv_np_base GROUP BY g")
    // the target misses the 2 pre-existing rows — routing a base-table
    // aggregate onto it would silently lose them
    val agg = spark.table("graft_mv_np_base").groupBy("g").agg(sum($"v").as("sv"))
    assert(!agg.queryExecution.optimizedPlan.toString.contains("graft_np_target"),
      "base aggregate must not route onto the un-populated MV target")
    assert(agg.orderBy("g").as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 2L)))
  }

  test("non-aggregate materialized view appends the transformed rows of each block") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_mv_raw (k Int64, v Int64) ENGINE = MergeTree() ORDER BY (k);
        |CREATE TABLE graft_mv_big_t (k Int64, v2 Int64) ENGINE = MergeTree() ORDER BY (k);
        |CREATE MATERIALIZED VIEW graft_mv_big TO graft_mv_big_t AS
        |  SELECT k, v * 2 AS v2 FROM graft_mv_raw WHERE v >= 10;
        |INSERT INTO graft_mv_raw VALUES (1, 5), (2, 10);
        |INSERT INTO graft_mv_raw VALUES (3, 30)""".stripMargin)
    val got = spark.table("graft_mv_big_t").orderBy("k")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 20L), (3L, 60L)), got)
  }

  test("INTO OUTFILE writes the FORMAT-rendered file; an existing file refuses") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 'a'), (2, CAST(NULL AS STRING)) AS t(id, s)")
      .createOrReplaceTempView("graft_of_t")
    val tmp = scratchDir("graft_outfile")
    val p = tmp.resolve("out.csv")
    ChDdl.execute(spark,
      s"SELECT id, s FROM graft_of_t ORDER BY id INTO OUTFILE '$p' FORMAT CSV")
    assert(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      == "1,a\n2,\\N\n")
    // reference behavior: an existing file refuses, never overwrites
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"SELECT 1 AS x INTO OUTFILE '$p'")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // without FORMAT the default rendering is TSV
    val p2 = tmp.resolve("out.tsv")
    ChDdl.execute(spark,
      s"SELECT id, s FROM graft_of_t ORDER BY id INTO OUTFILE '$p2'")
    assert(new String(java.nio.file.Files.readAllBytes(p2), "UTF-8")
      == "1\ta\n2\t\\N\n")
  }

  test("SELECT … FORMAT renders JSONEachRow / CSV / TSV rows; other formats strip") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 'a,x', 1.5), (2, CAST(NULL AS STRING), 2.5) AS t(id, s, v)")
      .createOrReplaceTempView("graft_fmt_t")
    val js = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_t ORDER BY id FORMAT JSONEachRow")
      .as[String].collect().toSeq
    assert(js == Seq("""{"id":1,"s":"a,x","v":1.5}""", """{"id":2,"s":null,"v":2.5}"""), js)
    val csv = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_t ORDER BY id FORMAT CSV")
      .as[String].collect().toSeq
    assert(csv == Seq("1,\"a,x\",1.5", "2,\\N,2.5"), csv)
    val tsv = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_t ORDER BY id FORMAT TabSeparated")
      .as[String].collect().toSeq
    assert(tsv == Seq("1\ta,x\t1.5", "2\t\\N\t2.5"), tsv)
    // Values: insert-format tuples, strings quoted + escaped, NULL bare
    val vals = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_t ORDER BY id FORMAT Values")
      .as[String].collect().toSeq
    assert(vals == Seq("(1,'a,x',1.5)", "(2,NULL,2.5)"), vals)
    val esc = Seq(Tuple1("a'b\\c")).toDF("s")
    esc.createOrReplaceTempView("graft_fmt_esc")
    val escOut = ChDdl.execute(spark,
      "SELECT s FROM graft_fmt_esc FORMAT Values")
      .as[String].collect().toSeq
    assert(escOut == Seq("('a\\'b\\\\c')"), escOut)
    // Pretty: full box table, numerics right-aligned
    val pretty = ChDdl.execute(spark,
      "SELECT id FROM graft_fmt_t ORDER BY id FORMAT Pretty")
      .as[String].collect().toSeq
    assert(pretty == Seq(
      "┏━━━━┓", "┃ id ┃", "┡━━━━┩", "│  1 │", "│  2 │", "└────┘"), pretty)
    // PrettyCompact: header woven into the top border, NULL as ᴺᵁᴸᴸ
    val pc = ChDdl.execute(spark,
      "SELECT id, s FROM graft_fmt_t ORDER BY id FORMAT PrettyCompact")
      .as[String].collect().toSeq
    assert(pc == Seq(
      "┌─id─┬─s────┐", "│  1 │ a,x  │", "│  2 │ ᴺᵁᴸᴸ │", "└────┴──────┘"), pc)
    // WithNames variants lead with the header line; TSKV labels cells
    val csvN = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_t ORDER BY id FORMAT CSVWithNames")
      .as[String].collect().toSeq
    assert(csvN == Seq("\"id\",\"s\",\"v\"", "1,\"a,x\",1.5", "2,\\N,2.5"), csvN)
    val tsvN = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_t ORDER BY id FORMAT TabSeparatedWithNames")
      .as[String].collect().toSeq
    assert(tsvN == Seq("id\ts\tv", "1\ta,x\t1.5", "2\t\\N\t2.5"), tsvN)
    val tskv = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_t ORDER BY id FORMAT TSKV")
      .as[String].collect().toSeq
    assert(tskv == Seq("id=1\ts=a,x\tv=1.5", "id=2\ts=\\N\tv=2.5"), tskv)
    // non-renderable formats keep the old strip behavior: plain rows
    val plain = ChDdl.execute(spark,
      "SELECT id FROM graft_fmt_t ORDER BY id FORMAT Vertical")
      .as[Int].collect().toSeq
    assert(plain == Seq(1, 2))
    // FORMAT composes with a trailing SETTINGS clause
    val withSettings = ChDdl.execute(spark,
      "SELECT id FROM graft_fmt_t ORDER BY id FORMAT JSONEachRow SETTINGS max_threads = 4")
      .as[String].collect().toSeq
    assert(withSettings == Seq("""{"id":1}""", """{"id":2}"""), withSettings)
  }

  test("FORMAT JSON/JSONCompact envelope + JSONCompactEachRow; wire formats refuse with guidance") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 'a,x', 1.5), (2, CAST(NULL AS STRING), 2.5) AS t(id, s, v)")
      .createOrReplaceTempView("graft_fmt_j")
    val j = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_j ORDER BY id FORMAT JSON")
      .as[String].collect().toSeq
    assert(j == Seq(
      "{", "\t\"meta\":", "\t[",
      "\t\t{", "\t\t\t\"name\": \"id\",", "\t\t\t\"type\": \"Int32\"", "\t\t},",
      "\t\t{", "\t\t\t\"name\": \"s\",", "\t\t\t\"type\": \"Nullable(String)\"", "\t\t},",
      "\t\t{", "\t\t\t\"name\": \"v\",", "\t\t\t\"type\": \"Decimal(2, 1)\"", "\t\t}",
      "\t],", "",
      "\t\"data\":", "\t[",
      "\t\t{", "\t\t\t\"id\": 1,", "\t\t\t\"s\": \"a,x\",", "\t\t\t\"v\": 1.5", "\t\t},",
      "\t\t{", "\t\t\t\"id\": 2,", "\t\t\t\"s\": null,", "\t\t\t\"v\": 2.5", "\t\t}",
      "\t],", "",
      "\t\"rows\": 2", "}"), j.map(l => l.replace("\t", "»")).mkString("\n"))
    val jc = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_j ORDER BY id FORMAT JSONCompact")
      .as[String].collect().toSeq
    assert(jc.containsSlice(Seq(
      "\t\t[1, \"a,x\", 1.5],", "\t\t[2, null, 2.5]")), jc.mkString("\n"))
    val jcer = ChDdl.execute(spark,
      "SELECT id, s, v FROM graft_fmt_j ORDER BY id FORMAT JSONCompactEachRow")
      .as[String].collect().toSeq
    assert(jcer == Seq("[1, \"a,x\", 1.5]", "[2, null, 2.5]"), jcer)
    // 64-bit integers quote (output_format_json_quote_64bit_integers=1)
    spark.range(2).createOrReplaceTempView("graft_fmt_j64")
    val q64 = ChDdl.execute(spark,
      "SELECT id FROM graft_fmt_j64 ORDER BY id FORMAT JSONCompactEachRow")
      .as[String].collect().toSeq
    assert(q64 == Seq("[\"0\"]", "[\"1\"]"), q64)
    // wire-protocol formats refuse and NAME the parquet path
    Seq("Native", "RowBinary", "Protobuf", "MsgPack").foreach { f =>
      val e = intercept[UnsupportedOperationException] {
        ChDdl.execute(spark, s"SELECT id FROM graft_fmt_j FORMAT $f")
      }
      assert(e.getMessage.contains("parquet"), s"$f refusal must guide to parquet")
    }
    // a result past the render cap truncates LOUDLY: the envelope
    // carries the reference's rows_before_limit_at_least lower bound
    spark.range(10500).createOrReplaceTempView("graft_fmt_big")
    val big = ChDdl.execute(spark,
      "SELECT id FROM graft_fmt_big ORDER BY id FORMAT JSON")
      .as[String].collect().toSeq
    assert(big.contains("\t\"rows\": 10000,"), big.takeRight(3))
    assert(big.contains("\t\"rows_before_limit_at_least\": 10001"),
      big.takeRight(3))
    // an under-cap result keeps the plain rows field (no marker)
    assert(j.contains("\t\"rows\": 2") &&
      !j.exists(_.contains("rows_before_limit")), j.takeRight(3))
  }

  test("FORMAT XML / JSONEachRowWithProgress / Template render the reference shapes") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 'a<b&c'), (2, CAST(NULL AS STRING)) AS t(id, s)")
      .createOrReplaceTempView("graft_fmt_x")
    // XML envelope: meta columns, escaped cell text, rows count
    val x = ChDdl.execute(spark,
      "SELECT id, s FROM graft_fmt_x ORDER BY id FORMAT XML")
      .as[String].collect().toSeq
    assert(x.head == "<?xml version='1.0' encoding='UTF-8' ?>" &&
      x(1) == "<result>", x.take(2))
    assert(x.contains("\t\t\t\t<name>id</name>") &&
      x.contains("\t\t\t\t<type>Nullable(String)</type>"), x.mkString("\n"))
    assert(x.contains("\t\t\t<s>a&lt;b&amp;c</s>"), x.mkString("\n"))
    assert(x.contains("\t\t\t<s>\\N</s>"), x.mkString("\n")) // NULL text form
    assert(x.contains("\t<rows>2</rows>") && x.last == "</result>", x.takeRight(2))
    // JSONEachRowWithProgress: {"row":{…}} events + one final progress
    val p = ChDdl.execute(spark,
      "SELECT id, s FROM graft_fmt_x ORDER BY id FORMAT JSONEachRowWithProgress")
      .as[String].collect().toSeq
    assert(p.take(2) == Seq(
      "{\"row\":{\"id\":1,\"s\":\"a<b&c\"}}",
      "{\"row\":{\"id\":2,\"s\":null}}"), p)
    assert(p.last == "{\"progress\":{\"read_rows\":\"2\"}}", p.last)
    // single-pass proof (r16 "what's wrong" #3): the child plan
    // executes ONCE — an accumulator planted in the child counts how
    // many rows flow through it during the render
    val acc = spark.sparkContext.longAccumulator("graft_wp_exec")
    import spark.implicits._
    val counted = spark.range(0, 7).map { i => acc.add(1); i }.toDF("id")
    val p2 = graft.functions.ChFormat.render(counted, "JSONEachRowWithProgress")
      .as[String].collect().toSeq
    assert(p2.last == "{\"progress\":{\"read_rows\":\"7\"}}", p2.last)
    assert(acc.value == 7L,
      s"child executed ${acc.value / 7.0} times — WithProgress must be single-pass")
    // empty input still emits the final progress event
    val p3 = graft.functions.ChFormat.render(
      spark.range(0, 7).filter(col("id") < -1).toDF("id"),
      "JSONEachRowWithProgress").as[String].collect().toSeq
    assert(p3 == Seq("{\"progress\":{\"read_rows\":\"0\"}}"), p3)
    // OPTIMIZER-emptied input too: WHERE false folds to an empty
    // LocalRelation whose RDD has ZERO partitions, so the
    // mapPartitions stage never runs (r17 review) — the render layer
    // must still emit the progress event
    val p4 = ChDdl.execute(spark,
      "SELECT id FROM graft_fmt_x WHERE 1 = 0 FORMAT JSONEachRowWithProgress")
      .as[String].collect().toSeq
    assert(p4 == Seq("{\"progress\":{\"read_rows\":\"0\"}}"), p4)
    // Template: row template file with ${col:Escaping} placeholders,
    // resultset file with header/footer around ${data}
    val dir = scratchDir("graft_tpl")
    val rowF = dir.resolve("row.tpl")
    java.nio.file.Files.write(rowF,
      "id=${id:Raw} s=${s:JSON} q=${s:Quoted}\n".getBytes("UTF-8"))
    val rsF = dir.resolve("rs.tpl")
    java.nio.file.Files.write(rsF,
      "== header ==\n${data}\n== footer ==\n".getBytes("UTF-8"))
    val t = ChDdl.execute(spark,
      "SELECT id, s FROM graft_fmt_x ORDER BY id FORMAT Template " +
        s"SETTINGS format_template_row = '$rowF', " +
        s"format_template_resultset = '$rsF'")
      .as[String].collect().toSeq
    assert(t == Seq(
      "== header ==",
      "id=1 s=\"a<b&c\" q='a<b&c'",
      "id=2 s=null q=NULL",
      "== footer =="), t)
    // refusals: missing row template; unknown column; exotic delimiter
    val e1 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "SELECT id FROM graft_fmt_x FORMAT Template")
    }
    assert(e1.getMessage.contains("format_template_row"), e1.getMessage)
    java.nio.file.Files.write(rowF, "${nope:Raw}".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "SELECT id FROM graft_fmt_x FORMAT Template " +
        s"SETTINGS format_template_row = '$rowF'")
    }
    assert(e2.getMessage.contains("no column"), e2.getMessage)
  }

  test("FORMAT Markdown / PrettySpace / Null render; client-protocol formats refuse") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 'ab'), (2, CAST(NULL AS STRING)) AS t(id, s)")
      .createOrReplaceTempView("graft_fmt_md")
    val md = ChDdl.execute(spark,
      "SELECT id, s FROM graft_fmt_md ORDER BY id FORMAT Markdown")
      .as[String].collect().toSeq
    assert(md == Seq(
      "| id | s |",
      "|-:|:-|",
      "| 1 | ab |",
      "| 2 | \\N |"), md)
    val ps = ChDdl.execute(spark,
      "SELECT id, s FROM graft_fmt_md ORDER BY id FORMAT PrettySpace")
      .as[String].collect().toSeq
    assert(ps == Seq("id   s", "", " 1   ab", " 2   ᴺᵁᴸᴸ"), ps)
    // cell text escapes the table metacharacters
    spark.sql("SELECT 'a|b' AS s").createOrReplaceTempView("graft_fmt_pipe")
    val mdPipe = ChDdl.execute(spark,
      "SELECT s FROM graft_fmt_pipe FORMAT Markdown")
      .as[String].collect().toSeq
    assert(mdPipe.last == "| a\\|b |", mdPipe)
    // a failed streamed OUTFILE leaves no partial file, so the retry
    // is not blocked by the exists-check
    val dirF = scratchDir("graft_ofail")
    val pf = dirF.resolve("fail.tsv")
    Seq(pf -> "TSV", dirF.resolve("fail.native") -> "Native").foreach {
      case (p, f) =>
        intercept[Exception] {
          ChDdl.execute(spark,
            "SELECT CASE WHEN id < 5 THEN id ELSE CAST(raise_error('boom') " +
              s"AS BIGINT) END AS v FROM range(10) INTO OUTFILE '$p' FORMAT $f")
        }
        assert(!java.nio.file.Files.exists(p),
          s"partial $f OUTFILE survived the failure")
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$p.idx")),
          s"partial $f OUTFILE index survived the failure")
    }
    ChDdl.execute(spark,
      s"SELECT id AS v FROM range(3) INTO OUTFILE '$pf' FORMAT TSV")
    assert(java.nio.file.Files.exists(pf), "retry after cleanup must work")
    // Null: zero lines out, but the query still runs (plan retained)
    val nul = ChDdl.execute(spark,
      "SELECT id, s FROM graft_fmt_md FORMAT Null")
    assert(nul.collect().isEmpty)
    assert(nul.queryExecution.analyzed.toString.contains("graft_fmt_md") ||
      nul.queryExecution.optimizedPlan.toString.nonEmpty)
    Seq("MySQLWire", "PostgreSQLWire", "ODBCDriver2").foreach { f =>
      val e = intercept[UnsupportedOperationException] {
        ChDdl.execute(spark, s"SELECT id FROM graft_fmt_md FORMAT $f")
      }
      assert(e.getMessage.contains("wire"), s"$f must refuse as wire")
    }
  }

  test("query-scoped SETTINGS bake into the plan and restore the session conf") {
    GraftFunctions.ensureRegistered(spark)
    spark.range(100).selectExpr("id", "id % 5 AS g")
      .createOrReplaceTempView("settings_t")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val q = ChDdl.execute(spark,
      "SELECT g, count() AS n FROM settings_t GROUP BY g SETTINGS max_threads = 9")
    assert("hashpartitioning\\([^)]*, 9\\)".r
      .findFirstIn(q.queryExecution.executedPlan.toString).isDefined,
      "max_threads = 9 not in the plan")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "session conf not restored after the query-scoped SETTINGS")
    assert(q.count() == 5)
    // unmapped knobs drop without failing or changing results
    val n = ChDdl.execute(spark,
      "SELECT count() AS n FROM settings_t SETTINGS max_block_size = 65536, optimize_read_in_order = 1")
      .as[Long].head()
    assert(n == 100)
  }

  test("SET statement is session-scoped; join_algorithm steers the join strategy") {
    GraftFunctions.ensureRegistered(spark)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    ChDdl.execute(spark, "SET max_threads = 6")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "6")
    ChDdl.execute(spark, s"SET max_threads = $before")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // join_algorithm = 'partial_merge' forces sort-merge where the
    // 25-row dimension would otherwise broadcast
    val t = Tables(spark, sfDir)
    t.customer.createOrReplaceTempView("jcust")
    t.nation.createOrReplaceTempView("jnat")
    val sql = """SELECT count() AS n FROM jcust c
                |JOIN jnat n ON c.c_nationkey = n.n_nationkey""".stripMargin
    val smj = ChDdl.execute(spark, sql + " SETTINGS join_algorithm = 'partial_merge'")
    assert(smj.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "join_algorithm = 'partial_merge' did not force a sort-merge join")
    val bhj = ChDdl.execute(spark, sql)
    assert(bhj.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(smj.as[Long].head() == bhj.as[Long].head())
  }

  test("COLUMNS matcher and * transformers expand schema-aware") {
    GraftFunctions.ensureRegistered(spark)
    spark.sql("SELECT * FROM VALUES (1, 2, CAST(3.0 AS DOUBLE), 'x') AS t(a_key, b_key, val, tag)")
      .createOrReplaceTempView("cols_t")
    // COLUMNS('re') APPLY chain
    val m = ChDdl.execute(spark,
      "SELECT COLUMNS('_key$') APPLY(sum) FROM cols_t")
    assert(m.columns.toSeq == Seq("sum(a_key)", "sum(b_key)"))
    assert(m.as[(Long, Long)].head() == ((1L, 2L)))
    // * EXCEPT + APPLY: every remaining column wrapped
    val e = ChDdl.execute(spark,
      "SELECT * EXCEPT(tag) APPLY(max) FROM cols_t")
    assert(e.columns.toSeq == Seq("max(a_key)", "max(b_key)", "max(val)"))
    // * REPLACE keeps position and name
    val r = ChDdl.execute(spark,
      "SELECT * REPLACE(val * 10 AS val) FROM cols_t")
    assert(r.columns.toSeq == Seq("a_key", "b_key", "val", "tag"))
    assert(r.select("val").as[Double].head() == 30.0)
    // chained: matcher → EXCEPT → APPLY, single-ident forms
    val c = ChDdl.execute(spark,
      "SELECT COLUMNS('key') EXCEPT b_key APPLY min FROM cols_t")
    assert(c.columns.toSeq == Seq("min(a_key)"))
    // matchers inside a SUBQUERY expand against the subquery's FROM
    val sub = ChDdl.execute(spark,
      "SELECT `sum(a_key)` FROM (SELECT COLUMNS('_key$') APPLY(sum) FROM cols_t)")
    assert(sub.columns.toSeq == Seq("sum(a_key)"))
    assert(sub.as[Long].head() == 1L)
  }

  test("OPTIMIZE DEDUPLICATE drops duplicate rows; EXCHANGE TABLES swaps") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_opt (k Int64, v Int64) ENGINE = MergeTree() ORDER BY (k);
        |INSERT INTO graft_opt VALUES (1, 10), (1, 10), (2, 20), (2, 21);
        |OPTIMIZE TABLE graft_opt FINAL DEDUPLICATE""".stripMargin)
    assert(spark.table("graft_opt").count() == 3) // exact dup collapsed
    ChDdl.execute(spark, "OPTIMIZE TABLE graft_opt FINAL DEDUPLICATE BY k")
    assert(spark.table("graft_opt").count() == 2) // one row per k
    // EXCHANGE TABLES: contents swap
    ChDdl.execute(spark,
      """CREATE TABLE graft_xa (k Int64) ENGINE = MergeTree() ORDER BY (k);
        |CREATE TABLE graft_xb (k Int64) ENGINE = MergeTree() ORDER BY (k);
        |INSERT INTO graft_xa VALUES (1);
        |INSERT INTO graft_xb VALUES (2), (3);
        |EXCHANGE TABLES graft_xa AND graft_xb""".stripMargin)
    assert(spark.table("graft_xa").count() == 2)
    assert(spark.table("graft_xb").count() == 1)
  }

  test("LIVE VIEW is always-current; WATCH returns the current result") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_lv_base (k Int64, v Int64) ENGINE = MergeTree() ORDER BY (k);
        |INSERT INTO graft_lv_base VALUES (1, 10);
        |CREATE LIVE VIEW graft_lv WITH REFRESH 5 AS
        |  SELECT count() AS n, sum(v) AS sv FROM graft_lv_base""".stripMargin)
    val first = ChDdl.execute(spark, "WATCH graft_lv LIMIT 1")
      .as[(Long, Long)].head()
    assert(first == ((1L, 10L)), first)
    // new rows are visible on the next WATCH — no refresh statement needed
    ChDdl.execute(spark, "INSERT INTO graft_lv_base VALUES (2, 20)")
    val second = ChDdl.execute(spark, "WATCH graft_lv")
      .as[(Long, Long)].head()
    assert(second == ((2L, 30L)), second)
    assert(ChDdl.execute(spark, "WATCH graft_lv EVENTS").columns.toSeq == Seq("version"))
  }

  test("CREATE DICTIONARY wires a table into dictGet end-to-end") {
    GraftFunctions.ensureRegistered(spark)
    Tables(spark, sfDir).nation.createOrReplaceTempView("nation_src")
    ChDdl.execute(spark,
      """CREATE DICTIONARY nation_dict (
        |  n_nationkey UInt64, n_name String
        |) PRIMARY KEY n_nationkey
        |SOURCE(CLICKHOUSE(TABLE 'nation_src'))
        |LAYOUT(FLAT()) LIFETIME(300)""".stripMargin)
    val got = spark.sql(
      "SELECT dictGet('nation_dict', 'n_name', CAST(0 AS BIGINT)) AS n")
      .as[String].collect().head
    val expect = Tables(spark, sfDir).nation
      .filter($"n_nationkey" === 0).select("n_name").as[String].collect().head
    assert(got == expect)
  }

  test("CHECK TABLE scans and answers 1; EXISTS answers 0/1; cluster ops refuse") {
    spark.sql("DROP TABLE IF EXISTS chk_t")
    ChDdl.execute(spark,
      "CREATE TABLE chk_t (id UInt64, s String) ENGINE = MergeTree() ORDER BY (id)")
    ChDdl.execute(spark, "INSERT INTO chk_t VALUES (1, 'a'), (2, 'b')")
    val chk = ChDdl.execute(spark, "CHECK TABLE chk_t").collect()
    assert(chk.map(_.getByte(0)).toSeq == Seq(1.toByte))
    assert(ChDdl.execute(spark, "EXISTS TABLE chk_t").head().getByte(0) == 1)
    assert(ChDdl.execute(spark, "EXISTS chk_t").head().getByte(0) == 1)
    assert(ChDdl.execute(spark, "EXISTS TABLE chk_t_no_such").head().getByte(0) == 0)
    assert(ChDdl.execute(spark, "EXISTS DATABASE default").head().getByte(0) == 1)
    for (bad <- Seq("KILL QUERY WHERE query_id = 'x'", "SYSTEM FLUSH LOGS",
        "BACKUP ALL DATABASES TO File('/tmp/x')"))
      intercept[UnsupportedOperationException] { ChDdl.execute(spark, bad) }
    // BACKUP TABLE is real now; the Disk destination maps under the
    // warehouse's __disks__ tree (cleared first — the on-disk
    // warehouse outlives test runs and re-backup refuses)
    val diskP = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "__disks__/d/p")
    diskP.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(diskP, true)
    val b = ChDdl.execute(spark, "BACKUP TABLE chk_t TO Disk('d', 'p')")
    assert(b.select("status").head().getString(0) == "BACKUP_CREATED")
    spark.sql("DROP TABLE chk_t")
  }

  test("SHOW CREATE TABLE emits CH DDL that ChDdl.parse re-ingests equivalently") {
    ChDdl.execute(spark,
      """CREATE TABLE sct_t (
        |  id UInt64, region Int32, note Nullable(String),
        |  tags Array(String), ev Nested(name String, val Int64),
        |  d Decimal(12, 2)
        |) ENGINE = MergeTree()
        |PARTITION BY region ORDER BY (id) SAMPLE BY intHash32(id)""".stripMargin)
    ChDdl.execute(spark,
      "INSERT INTO sct_t (id, region, note, tags, d) VALUES (1, 10, 'x', ['a'], 1.50)")
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE sct_t").head().getString(0)
    assert(stmt.contains("`note` Nullable(String)") && stmt.contains("ENGINE = MergeTree")
      && stmt.contains("`ev` Nested(name String, val Int64)"), stmt)
    // the round-trip: parse the rendered DDL, re-create under a new name
    val back = ChDdl.parse(stmt.replaceFirst("CREATE TABLE sct_t", "CREATE TABLE sct_t2"))
    val orig = ChDdl.parse(stmt)
    assert(back.cols.map(c => (c.name, c.sparkType)) ==
      orig.cols.map(c => (c.name, c.sparkType)))
    assert(back.partitionBy == Seq("region") && back.orderBy == Seq("id")
      && back.sampleBy.nonEmpty)
    back.create(spark)
    back.insertSelect(spark, spark.table("sct_t").drop("__sample_hash"))
    assert(spark.table("sct_t2").count() == 1)
    // a table NOT created through ChDdl answers via the inverse type map
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").saveAsTable("sct_plain")
    val plain = ChDdl.execute(spark, "SHOW CREATE TABLE sct_plain").head().getString(0)
    assert(plain.contains("`k` Nullable(Int64)") && plain.contains("ORDER BY tuple()"),
      plain)
    Seq("sct_t", "sct_t2", "sct_plain").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("column CODEC declarations survive the SHOW CREATE re-ingest round trip") {
    // ParserCreateQuery.h:220-258 / ASTColumnDeclaration.h:20 — the
    // declaration is absorbed (parquet encodings are the layout
    // analog) but must round-trip, like TTL/INDEX/CONSTRAINT
    ChDdl.execute(spark,
      """CREATE TABLE codec_t (
        |  id UInt64 CODEC(Delta(4), ZSTD(1)),
        |  ts DateTime CODEC(DoubleDelta),
        |  v Float64 CODEC(Gorilla),
        |  note Nullable(String)
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE codec_t").head().getString(0)
    assert(stmt.contains("`id` UInt64 CODEC(Delta(4), ZSTD(1))"), stmt)
    assert(stmt.contains("`ts` DateTime CODEC(DoubleDelta)"), stmt)
    assert(stmt.contains("`v` Float64 CODEC(Gorilla)"), stmt)
    assert(stmt.contains("`note` Nullable(String)\n") ||
      stmt.contains("`note` Nullable(String),"), stmt)
    // the p08 re-ingest path: execute the emitted DDL under a new
    // name, insert through it, and the codec survives a SECOND render
    ChDdl.execute(spark,
      stmt.replaceFirst("CREATE TABLE codec_t", "CREATE TABLE codec_t2"))
    ChDdl.execute(spark, "INSERT INTO codec_t2 VALUES (1, now(), 1.5, 'x')")
    val again = ChDdl.execute(spark, "SHOW CREATE TABLE codec_t2").head().getString(0)
    assert(again.contains("`id` UInt64 CODEC(Delta(4), ZSTD(1))"), again)
    assert(spark.table("codec_t2").count() == 1)
    // DESCRIBE fills codec_expression from the layout
    val d = ChDdl.execute(spark, "DESCRIBE TABLE codec_t")
      .select("name", "codec_expression").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("id") == "CODEC(Delta(4), ZSTD(1))" && d("note") == "", d.toString)
    // a typo'd codec refuses at CREATE time, naming the registry
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "CREATE TABLE codec_bad (x Int64 CODEC(Deltta)) " +
          "ENGINE = MergeTree ORDER BY tuple()")
    }
    assert(e.getMessage.contains("unknown codec"), e.getMessage)
    Seq("codec_t", "codec_t2").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("column TTL round-trips AND enforces: expired values reset to the type default on OPTIMIZE") {
    // ParserCreateQuery.h ttl_expression on a column: the reference
    // resets expired values to the column default when parts merge
    ChDdl.execute(spark,
      """CREATE TABLE cttl_t (
        |  id Int64,
        |  ts DateTime,
        |  note Nullable(String) TTL ts + INTERVAL 1 DAY,
        |  score Int64 TTL ts + INTERVAL 1 DAY CODEC(ZSTD)
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    // one row long expired, one row fresh
    ChDdl.execute(spark,
      "INSERT INTO cttl_t VALUES " +
        "(1, toDateTime('2000-01-01 00:00:00'), 'old', 17), " +
        "(2, now(), 'new', 23)")
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE cttl_t").head().getString(0)
    assert(stmt.contains("`note` Nullable(String) TTL ts + INTERVAL 1 DAY"), stmt)
    assert(stmt.contains("`score` Int64 CODEC(ZSTD) TTL ts + INTERVAL 1 DAY"), stmt)
    val d = ChDdl.execute(spark, "DESCRIBE TABLE cttl_t")
      .select("name", "ttl_expression").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("note") == "ts + INTERVAL 1 DAY" && d("id") == "", d.toString)
    ChDdl.execute(spark, "OPTIMIZE TABLE cttl_t")
    val rows = spark.table("cttl_t").selectExpr("id", "note", "score")
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getLong(2))).sortBy(_._1)
    // expired row: Nullable note -> NULL, non-null score -> 0; the
    // row itself and the fresh row survive untouched otherwise
    assert(rows.toSeq == Seq((1L, None, 0L), (2L, Some("new"), 23L)),
      rows.toSeq.toString)
    // the emitted DDL re-ingests (the p08 path) with the TTL intact
    ChDdl.execute(spark,
      stmt.replaceFirst("CREATE TABLE cttl_t", "CREATE TABLE cttl_t2"))
    val again = ChDdl.execute(spark, "SHOW CREATE TABLE cttl_t2").head().getString(0)
    assert(again.contains("TTL ts + INTERVAL 1 DAY"), again)
    Seq("cttl_t", "cttl_t2").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("DEFAULT fills omitted insert columns; MATERIALIZED always computes and never binds") {
    ChDdl.execute(spark,
      """CREATE TABLE dflt_t (
        |  id Int64,
        |  s String DEFAULT upper(concat('x', toString(id))),
        |  m Int64 MATERIALIZED id * 2,
        |  note Nullable(String)
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    // omitted DEFAULT column computes from the expression; the
    // MATERIALIZED column always does; unlisted plain column -> NULL
    ChDdl.execute(spark, "INSERT INTO dflt_t (id) VALUES (1), (2)")
    // explicit value wins over DEFAULT; m still computes
    ChDdl.execute(spark,
      "INSERT INTO dflt_t (id, s, note) VALUES (3, 'given', 'n3')")
    // bare VALUES binds the INSERTABLE columns only (id, s, note)
    ChDdl.execute(spark, "INSERT INTO dflt_t VALUES (4, 's4', 'n4')")
    val rows = spark.table("dflt_t")
      .selectExpr("id", "s", "m", "note").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "X1", 2L, None), (2L, "X2", 4L, None),
      (3L, "given", 6L, Some("n3")), (4L, "s4", 8L, Some("n4"))),
      rows.toSeq.toString)
    // listing a MATERIALIZED column refuses (the reference's rule)
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "INSERT INTO dflt_t (id, m) VALUES (9, 9)")
    }
    assert(e.getMessage.contains("MATERIALIZED"), e.getMessage)
    // SHOW CREATE round-trips both declarations; DESCRIBE fills the
    // default_type/default_expression columns
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE dflt_t").head().getString(0)
    assert(stmt.contains("`s` String DEFAULT upper(concat('x', toString(id)))"), stmt)
    assert(stmt.contains("`m` Int64 MATERIALIZED id * 2"), stmt)
    ChDdl.execute(spark,
      stmt.replaceFirst("CREATE TABLE dflt_t", "CREATE TABLE dflt_t2"))
    ChDdl.execute(spark, "INSERT INTO dflt_t2 (id) VALUES (7)")
    val r2 = spark.table("dflt_t2").selectExpr("s", "m").head()
    assert(r2.getString(0) == "X7" && r2.getLong(1) == 14L, r2)
    val d = ChDdl.execute(spark, "DESCRIBE TABLE dflt_t")
      .select("name", "default_type", "default_expression").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(d("m") == ("MATERIALIZED", "id * 2") && d("id") == ("", ""),
      d.toString)
    Seq("dflt_t", "dflt_t2").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("ALIAS columns: virtual read-time expressions, hidden from *, never insertable") {
    ChDdl.execute(spark,
      """CREATE TABLE alias_t (
        |  id Int64,
        |  price Float64,
        |  band Int64 ALIAS toInt64(floor(price / 100)),
        |  band2 Int64 ALIAS band + 1,
        |  tag String ALIAS concat('b', toString(band2))
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    ChDdl.execute(spark,
      "INSERT INTO alias_t VALUES (1, 50.0), (2, 150.0), (3, 250.0), (4, 251.0)")
    // the physical schema has no alias columns…
    assert(spark.table("alias_t").columns.toSeq == Seq("id", "price"))
    // …and SELECT * through the front door hides them too
    assert(ChDdl.execute(spark, "SELECT * FROM alias_t ORDER BY id")
      .columns.toSeq == Seq("id", "price"))
    // reading by name computes the expression and keeps the name;
    // chained aliases (band2 -> band, tag -> band2) resolve
    val r = ChDdl.execute(spark,
      "SELECT id, band, band2, tag FROM alias_t ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq((1L, 0L, 1L, "b1"), (2L, 1L, 2L, "b2"),
      (3L, 2L, 3L, "b3"), (4L, 2L, 3L, "b3")), r.toSeq.toString)
    // alias references work in WHERE / GROUP BY / ORDER BY and
    // qualified by the table or its alias
    val g = ChDdl.execute(spark,
      """SELECT band, count() AS n FROM alias_t AS a
        |WHERE a.band >= 1 GROUP BY band ORDER BY band""".stripMargin)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(g.toSeq == Seq((1L, 1L), (2L, 2L)), g.toSeq.toString)
    // SHOW CREATE / DESCRIBE round-trip the declarations
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE alias_t")
      .head().getString(0)
    assert(stmt.contains("`band` Int64 ALIAS toInt64(floor(price / 100))"), stmt)
    assert(stmt.contains("`band2` Int64 ALIAS band + 1"), stmt)
    ChDdl.execute(spark,
      stmt.replaceFirst("CREATE TABLE alias_t", "CREATE TABLE alias_t2"))
    ChDdl.execute(spark, "INSERT INTO alias_t2 VALUES (9, 930.0)")
    val r2 = ChDdl.execute(spark, "SELECT tag FROM alias_t2").head().getString(0)
    assert(r2 == "b10", r2)
    val d = ChDdl.execute(spark, "DESCRIBE TABLE alias_t")
      .select("name", "default_type", "default_expression").collect()
      .map(x => x.getString(0) -> (x.getString(1), x.getString(2))).toMap
    assert(d("band") == ("ALIAS", "toInt64(floor(price / 100))"), d.toString)
    // listing an ALIAS column in INSERT refuses
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "INSERT INTO alias_t (id, price, band) VALUES (5, 1.0, 7)")
    }
    assert(e.getMessage.contains("ALIAS"), e.getMessage)
    // storage decorations on a virtual column refuse at CREATE
    val e2 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "CREATE TABLE alias_bad (x Int64, y Int64 ALIAS x + 1 CODEC(ZSTD)) " +
          "ENGINE = MergeTree ORDER BY tuple()")
    }
    assert(e2.getMessage.contains("CODEC"), e2.getMessage)
    // a cyclic alias chain refuses at CREATE
    val e3 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "CREATE TABLE alias_cyc (x Int64, a Int64 ALIAS b + 1, b Int64 ALIAS a + 1) " +
          "ENGINE = MergeTree ORDER BY tuple()")
    }
    assert(e3.getMessage.contains("cyclic"), e3.getMessage)
    // an alias cannot be a layout key (no stored value to sort on)
    val e4 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "CREATE TABLE alias_key (x Int64, y Int64 ALIAS x + 1) " +
          "ENGINE = MergeTree ORDER BY (y)")
    }
    assert(e4.getMessage.contains("virtual"), e4.getMessage)
    // ALTER ADD COLUMN … ALIAS refuses with guidance
    val e5 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "ALTER TABLE alias_t ADD COLUMN z Int64 ALIAS id + 1")
    }
    assert(e5.getMessage.contains("CREATE TABLE"), e5.getMessage)
    Seq("alias_t", "alias_t2").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("ALIAS references inside expressions, subqueries, and ORDER BY inline correctly") {
    ChDdl.execute(spark,
      """CREATE TABLE alias_x (
        |  id Int64, v Int64,
        |  dbl Int64 ALIAS v * 2
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO alias_x VALUES (1, 5), (2, 3), (3, 9)")
    // inside a larger expression (not a whole select item)
    val r1 = ChDdl.execute(spark,
      "SELECT id, dbl + 1 AS d1 FROM alias_x ORDER BY dbl DESC")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r1.toSeq == Seq((3L, 19L), (1L, 11L), (2L, 7L)), r1.toSeq.toString)
    // in an aggregate over a subquery-free GROUP BY and HAVING
    val r2 = ChDdl.execute(spark,
      """SELECT sum(dbl) AS s FROM alias_x HAVING sum(dbl) > 0""")
      .head().getLong(0)
    assert(r2 == 34L, r2.toString)
    // inside a parenthesized subquery (depth-first expansion)
    val r3 = ChDdl.execute(spark,
      "SELECT max(d) AS m FROM (SELECT dbl AS d FROM alias_x WHERE dbl >= 10)")
      .head().getLong(0)
    assert(r3 == 18L, r3.toString)
    // a name that matches an alias but is a FUNCTION call is left alone
    ChDdl.execute(spark,
      "CREATE OR REPLACE FUNCTION dbl AS (x) -> x * 10")
    val r4 = ChDdl.execute(spark, "SELECT dbl(v) AS f FROM alias_x WHERE id = 1")
      .head().getLong(0)
    assert(r4 == 50L, r4.toString)
    spark.sql("DROP TABLE alias_x")
  }

  test("EPHEMERAL columns: insertable only when listed, feed defaults, never stored") {
    ChDdl.execute(spark,
      """CREATE TABLE eph_t (
        |  id Int64,
        |  raw String EPHEMERAL,
        |  name String DEFAULT upper(raw),
        |  n_chars Int64 MATERIALIZED length(raw)
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    // listed EPHEMERAL feeds the DEFAULT and MATERIALIZED expressions
    ChDdl.execute(spark,
      "INSERT INTO eph_t (id, raw) VALUES (1, 'alpha'), (2, 'be')")
    // an explicit value for the DEFAULT column wins; MATERIALIZED
    // still computes from the ephemeral
    ChDdl.execute(spark,
      "INSERT INTO eph_t (id, raw, name) VALUES (3, 'xyz', 'given')")
    // unlisted EPHEMERAL (bare INSERT binds insertable stored columns
    // only): its type default ('') feeds the expressions
    ChDdl.execute(spark, "INSERT INTO eph_t (id) VALUES (4)")
    val rows = spark.table("eph_t")
      .selectExpr("id", "name", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "ALPHA", 5L), (2L, "BE", 2L),
      (3L, "given", 3L), (4L, "", 0L)), rows.toSeq.toString)
    // never stored, hidden from the physical schema and from *
    assert(spark.table("eph_t").columns.toSeq == Seq("id", "name", "n_chars"))
    assert(ChDdl.execute(spark, "SELECT * FROM eph_t WHERE id = 1")
      .columns.toSeq == Seq("id", "name", "n_chars"))
    // SHOW CREATE round-trips the bare EPHEMERAL; DESCRIBE shows it
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE eph_t")
      .head().getString(0)
    assert(stmt.contains("`raw` String EPHEMERAL"), stmt)
    ChDdl.execute(spark,
      stmt.replaceFirst("CREATE TABLE eph_t", "CREATE TABLE eph_t2"))
    ChDdl.execute(spark, "INSERT INTO eph_t2 (id, raw) VALUES (7, 'seven')")
    val r2 = spark.table("eph_t2").selectExpr("name", "n_chars").head()
    assert(r2.getString(0) == "SEVEN" && r2.getLong(1) == 5L, r2)
    val d = ChDdl.execute(spark, "DESCRIBE TABLE eph_t")
      .select("name", "default_type", "default_expression").collect()
      .map(x => x.getString(0) -> (x.getString(1), x.getString(2))).toMap
    assert(d("raw") == ("EPHEMERAL", ""), d.toString)
    // an EPHEMERAL with its own default expression feeds it when
    // unlisted; FORMAT inserts bind listed ephemerals too
    ChDdl.execute(spark,
      """CREATE TABLE eph_d (
        |  id Int64,
        |  k String EPHEMERAL concat('k', toString(id)),
        |  v String DEFAULT upper(k)
        |) ENGINE = MergeTree() ORDER BY (id);
        |INSERT INTO eph_d (id) VALUES (5);
        |INSERT INTO eph_d (id, k) FORMAT JSONEachRow
        |{"id": 6, "k": "zed"}""".stripMargin)
    val dv = spark.table("eph_d").selectExpr("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(dv.toSeq == Seq((5L, "K5"), (6L, "ZED")), dv.toSeq.toString)
    Seq("eph_t", "eph_t2", "eph_d").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("DESCRIBE answers with CH type names from the declared layout") {
    ChDdl.execute(spark,
      """CREATE TABLE desc_t (
        |  id UInt64, note Nullable(String), w Enum8('lo' = 1, 'hi' = 2),
        |  ts DateTime64(3)
        |) ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    val d = ChDdl.execute(spark, "DESCRIBE TABLE desc_t")
    assert(d.columns.take(2).toSeq == Seq("name", "type"))
    val m = d.select("name", "type").as[(String, String)].collect().toMap
    assert(m("note") == "Nullable(String)" && m("w") == "Enum8('lo' = 1, 'hi' = 2)"
      && m("ts") == "DateTime64(3)", m)
    // DESC shorthand, and the inverse map for a plain table
    Seq((1, java.sql.Date.valueOf("2024-01-01"))).toDF("k", "d")
      .write.mode("overwrite").saveAsTable("desc_plain")
    val p = ChDdl.execute(spark, "DESC desc_plain")
      .select("name", "type").as[(String, String)].collect().toMap
    assert(p("k") == "Nullable(Int32)" && p("d") == "Nullable(Date)", p)
    spark.sql("DROP TABLE desc_t"); spark.sql("DROP TABLE desc_plain")
  }

  test("DETACH keeps the data; ATTACH restores it; queries fail in between") {
    ChDdl.execute(spark,
      """CREATE TABLE det_t (id UInt64, region Int32, v Float64)
        |ENGINE = MergeTree() PARTITION BY region ORDER BY (id)""".stripMargin)
    ChDdl.execute(spark,
      "INSERT INTO det_t VALUES (1, 10, 1.5), (2, 10, 2.5), (3, 20, 3.5)")
    def contentHash(): String = spark.table("det_t")
      .select($"id", $"region", $"v").orderBy("id").collect().mkString("|")
    val before = contentHash()
    ChDdl.execute(spark, "DETACH TABLE det_t")
    intercept[Exception] { spark.table("det_t").count() }
    ChDdl.execute(spark, "ATTACH TABLE det_t")
    assert(contentHash() == before)
    assert(spark.table("det_t").where($"region" === 10).count() == 2)
    // the declared layout survived the detach cycle
    assert(ChDdl.execute(spark, "SHOW CREATE TABLE det_t").head().getString(0)
      .contains("PARTITION BY (region)"))
    // an ATTACHed table is external: DROP leaves the adopted data, and
    // the full-DDL ATTACH form re-registers over it
    ChDdl.execute(spark, "DETACH TABLE det_t")
    ChDdl.execute(spark,
      """ATTACH TABLE det_t (id UInt64, region Int32, v Float64)
        |ENGINE = MergeTree() PARTITION BY region ORDER BY (id)""".stripMargin)
    assert(contentHash() == before)
    spark.sql("DROP TABLE det_t")
  }

  test("declared UInt64 columns store the full range through the front door") {
    // r14 "what's wrong" #1: a user can compute toUInt64(2^64−1) but
    // could not STORE it — the DDL carrier is now DECIMAL(20,0) like
    // the conversion's result type
    ChDdl.execute(spark,
      "CREATE TABLE u64_t (id UInt64, tag String) ENGINE = MergeTree() ORDER BY (id)")
    ChDdl.execute(spark,
      "INSERT INTO u64_t VALUES (18446744073709551615, 'max'), (0, 'min'), (7, 'mid')")
    val got = ChDdl.execute(spark, "SELECT id, tag FROM u64_t ORDER BY id")
      .collect().map(r => (r.getDecimal(0).toPlainString, r.getString(1))).toSeq
    assert(got == Seq(("0", "min"), ("7", "mid"),
      ("18446744073709551615", "max")), got)
    // SHOW CREATE reports the declared CH type, not the carrier
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE u64_t")
      .as[String].head()
    assert(stmt.contains("`id` UInt64"), stmt)
    // RowBinary round trip: 2^64−1 survives the 8-byte codec both ways
    val dir = scratchDir("graft_u64")
    val rb = dir.resolve("u.bin").toString
    ChDdl.execute(spark,
      s"SELECT id, tag FROM u64_t INTO OUTFILE '$rb' FORMAT RowBinaryWithNamesAndTypes")
    val back = ChDdl.execute(spark,
      s"SELECT * FROM file('$rb', 'RowBinaryWithNamesAndTypes') ORDER BY id")
    assert(back.schema("id").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0))
    assert(back.collect().map(_.getDecimal(0).toPlainString).toSeq ==
      Seq("0", "7", "18446744073709551615"))
    // Native round trip too (the other binary file codec)
    val nat = dir.resolve("u.native").toString
    ChDdl.execute(spark,
      s"SELECT id, tag FROM u64_t INTO OUTFILE '$nat' FORMAT Native")
    assert(ChDdl.execute(spark,
      s"SELECT max(id) AS m FROM file('$nat', 'Native')")
      .head().getDecimal(0).toPlainString == "18446744073709551615")
    spark.sql("DROP TABLE u64_t")
  }

  test("front-door SELECT * sees the DECLARED column order, never __sample_hash") {
    ChDdl.execute(spark,
      """CREATE TABLE star_t (id UInt64, region Int32, v Float64)
        |ENGINE = MergeTree() PARTITION BY region ORDER BY (id) SAMPLE BY intHash32(id)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO star_t VALUES (1, 10, 1.5), (2, 20, 2.5)")
    // catalog order is (id, v, region, __sample_hash); CH contract is
    // the declared (id, region, v)
    val df = ChDdl.execute(spark, "SELECT * FROM star_t ORDER BY id")
    assert(df.columns.toSeq == Seq("id", "region", "v"), df.columns.toSeq)
    assert(df.selectExpr("CAST(id AS BIGINT)", "region", "v")
      .as[(Long, Int, Double)].collect().toSeq ==
      Seq((1L, 10, 1.5), (2L, 20, 2.5)))
    // INSERT … SELECT * between created tables respects declared order
    ChDdl.execute(spark,
      """CREATE TABLE star_t2 (id UInt64, region Int32, v Float64)
        |ENGINE = MergeTree() PARTITION BY region ORDER BY (id)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO star_t2 SELECT * FROM star_t")
    assert(ChDdl.execute(spark, "SELECT * FROM star_t2 ORDER BY id")
      .selectExpr("CAST(id AS BIGINT)", "region", "v")
      .as[(Long, Int, Double)].collect().toSeq ==
      Seq((1L, 10, 1.5), (2L, 20, 2.5)))
    // a join's * is untouched (spans both sides)
    assert(ChDdl.execute(spark,
      "SELECT * FROM star_t AS a INNER JOIN star_t2 AS b ON a.id = b.id").count() == 2)
    Seq("star_t", "star_t2").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("declared layouts follow DROP/RENAME/EXCHANGE; re-created tables rebind") {
    ChDdl.execute(spark,
      """CREATE TABLE lc_t (a UInt64, b Int32, c Float64)
        |ENGINE = MergeTree() PARTITION BY b ORDER BY (a)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO lc_t VALUES (1, 10, 1.5)")
    // DROP through the front door must forget the declared layout…
    ChDdl.execute(spark, "DROP TABLE lc_t")
    // …so a re-created same-name table with DIFFERENT column order
    // binds the NEW order, not the stale one
    ChDdl.execute(spark,
      """CREATE TABLE lc_t (c Float64, a UInt64, b Int32)
        |ENGINE = MergeTree() PARTITION BY b ORDER BY (a)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO lc_t VALUES (9.5, 7, 70)")
    assert(ChDdl.execute(spark, "SELECT * FROM lc_t").columns.toSeq ==
      Seq("c", "a", "b"))
    assert(ChDdl.execute(spark, "SELECT * FROM lc_t")
      .selectExpr("c", "CAST(a AS BIGINT)", "b")
      .as[(Double, Long, Int)].collect().toSeq == Seq((9.5, 7L, 70)))
    // RENAME carries the layout to the new name
    ChDdl.execute(spark, "RENAME TABLE lc_t TO lc_r")
    assert(ChDdl.execute(spark, "SELECT * FROM lc_r").columns.toSeq ==
      Seq("c", "a", "b"))
    // EXCHANGE swaps layouts with the data
    ChDdl.execute(spark,
      """CREATE TABLE lc_s (x UInt64, y Int32)
        |ENGINE = MergeTree() PARTITION BY y ORDER BY (x)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO lc_s VALUES (5, 50)")
    ChDdl.execute(spark, "EXCHANGE TABLES lc_r AND lc_s")
    assert(ChDdl.execute(spark, "SELECT * FROM lc_s").columns.toSeq ==
      Seq("c", "a", "b"))
    assert(ChDdl.execute(spark, "SELECT * FROM lc_r").columns.toSeq ==
      Seq("x", "y"))
    // DESCRIBE EXTENDED passes through to Spark's own grammar
    assert(ChDdl.execute(spark, "DESCRIBE TABLE EXTENDED lc_s").count() > 0)
    Seq("lc_r", "lc_s").foreach(t => ChDdl.execute(spark, s"DROP TABLE $t"))
  }

  test("ORDER BY tuple() round-trips as an empty sort key") {
    val ct = ChDdl.parse(
      "CREATE TABLE nt_t (a UInt64, b String) ENGINE = MergeTree() ORDER BY tuple()")
    assert(ct.orderBy.isEmpty)
    ChDdl.execute(spark,
      "CREATE TABLE nt_t (a UInt64, b String) ENGINE = MergeTree() ORDER BY tuple()")
    ChDdl.execute(spark, "INSERT INTO nt_t VALUES (1, 'x')")
    // SHOW CREATE emits ORDER BY tuple(); re-ingesting must not
    // invent a sort column named "tuple()"
    val shown = ChDdl.execute(spark, "SHOW CREATE TABLE nt_t")
      .collect().head.getString(0)
    assert(shown.contains("ORDER BY tuple()"), shown)
    assert(ChDdl.parse(shown).orderBy.isEmpty)
    ChDdl.execute(spark, "DROP TABLE nt_t")
  }

  test("Nested INSERT refuses ragged parallel arrays (CH contract)") {
    ChDdl.execute(spark,
      """CREATE TABLE rg_t (id UInt64, ev Nested(name String, val Int32))
        |ENGINE = MergeTree() ORDER BY (id)""".stripMargin)
    ChDdl.execute(spark,
      "INSERT INTO rg_t (id, ev.name, ev.val) VALUES (1, ['a','b'], [10, 20])")
    assert(ChDdl.execute(spark, "SELECT id, ev.name, ev.val FROM rg_t")
      .count() == 1)
    val e = intercept[Exception] {
      ChDdl.execute(spark,
        "INSERT INTO rg_t (id, ev.name, ev.val) VALUES (2, ['a','b','c'], [10])")
    }
    assert(e.getMessage.contains("equal array lengths")
      || Option(e.getCause).exists(_.getMessage.contains("equal array lengths")),
      e.getMessage)
    ChDdl.execute(spark, "DROP TABLE rg_t")
  }

  test("bare * binds declared order through aliases and lowercase attach works") {
    ChDdl.execute(spark,
      """CREATE TABLE al_t (id UInt64, region Int32, v Float64)
        |ENGINE = MergeTree() PARTITION BY region ORDER BY (id) SAMPLE BY intHash32(id)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO al_t VALUES (1, 10, 1.5)")
    // an aliased single relation still binds the declared order and
    // hides __sample_hash
    val df = ChDdl.execute(spark, "SELECT * FROM al_t AS z ORDER BY id")
    assert(df.columns.toSeq == Seq("id", "region", "v"), df.columns.toSeq)
    // lowercase full-DDL attach round-trip
    ChDdl.execute(spark, "DETACH TABLE al_t")
    ChDdl.execute(spark,
      """attach table al_t (id UInt64, region Int32, v Float64)
        |ENGINE = MergeTree() PARTITION BY region ORDER BY (id) SAMPLE BY intHash32(id)""".stripMargin)
    assert(ChDdl.execute(spark, "SELECT * FROM al_t").columns.toSeq ==
      Seq("id", "region", "v"))
    ChDdl.execute(spark, "DROP TABLE al_t")
  }

  test("dictGet resolves through the broadcast map with no join in the plan") {
    GraftFunctions.ensureRegistered(spark)
    val t = Tables(spark, sfDir)
    ChDictionaries.register("nation_spec", t.nation, "n_nationkey", Seq("n_name"))
    t.customer.createOrReplaceTempView("customer_spec")
    val df = spark.sql(
      "SELECT dictGet('nation_spec', 'n_name', c_nationkey) AS nation FROM customer_spec")
    assert(!df.queryExecution.executedPlan.toString.contains("Join"),
      "dictGet must not plan a join")
    val got = df.groupBy("nation").count()
      .as[(String, Long)].collect().toMap
    val expect = t.customer.join(t.nation, $"c_nationkey" === $"n_nationkey")
      .groupBy("n_name").count().as[(String, Long)].collect().toMap
    assert(got == expect && got.nonEmpty)
  }

  test("dictHas and dictGetOrDefault complete the lookup family") {
    GraftFunctions.ensureRegistered(spark)
    val t = Tables(spark, sfDir)
    ChDictionaries.register("nation_has", t.nation, "n_nationkey", Seq("n_name"))
    val r = spark.sql(
      """SELECT dictHas('nation_has', CAST(0 AS BIGINT)) AS h0,
        |  dictHas('nation_has', CAST(-1 AS BIGINT)) AS hmiss,
        |  dictGetOrDefault('nation_has', 'n_name', CAST(-1 AS BIGINT), 'unknown') AS dflt,
        |  dictGetOrDefault('nation_has', 'n_name', CAST(0 AS BIGINT), 'unknown') AS hit
        |""".stripMargin).collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getString(2) == "unknown")
    assert(r.getString(3) != "unknown" && r.getString(3).nonEmpty)
  }

  test("Geo type domains parse as their storage shapes and round-trip SHOW CREATE") {
    val ct = ChDdl.parse(
      """CREATE TABLE geo_t (
        |  id Int64, p Point, r Ring, poly Polygon, mp MultiPolygon,
        |  span IntervalDay, beat IntervalSecond
        |) ENGINE = MergeTree() ORDER BY id""".stripMargin)
    val m = ct.cols.map(c => c.name -> c.sparkType).toMap
    assert(m("p") == "STRUCT<_1: DOUBLE, _2: DOUBLE>")
    assert(m("r") == "ARRAY<STRUCT<_1: DOUBLE, _2: DOUBLE>>")
    assert(m("poly") == "ARRAY<ARRAY<STRUCT<_1: DOUBLE, _2: DOUBLE>>>")
    assert(m("mp") == "ARRAY<ARRAY<ARRAY<STRUCT<_1: DOUBLE, _2: DOUBLE>>>>")
    assert(m("span") == "INTERVAL DAY" && m("beat") == "INTERVAL SECOND")
    // the DECLARED names survive to SHOW CREATE, as the reference's
    // custom-name machinery keeps them over the storage types
    ct.create(spark)
    val shown = ChDdl.execute(spark, "SHOW CREATE TABLE geo_t")
      .collect().head.getString(0)
    for (t <- Seq("Point", "Ring", "Polygon", "MultiPolygon",
        "IntervalDay", "IntervalSecond"))
      assert(shown.contains(t), s"SHOW CREATE lost $t:\n$shown")
    ChDdl.execute(spark, "DROP TABLE geo_t")
    // a declared Point column flows through f11's distance math from SQL
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      "CREATE TABLE pts (id Int64, p Point) ENGINE = MergeTree() ORDER BY id")
    ChDdl.execute(spark,
      "INSERT INTO pts SELECT 1 AS id, named_struct('_1', 2.3522, '_2', 48.8566) AS p")
    val d = ChDdl.execute(spark,
      """SELECT round(greatCircleDistance(p._1, p._2, 2.2945, 48.8584), 0) AS m
        |FROM pts""".stripMargin).collect().head.getDouble(0)
    // Paris city hall-ish → Eiffel Tower: ~4.4 km
    assert(d > 3000 && d < 6000, s"unexpected distance $d")
    ChDdl.execute(spark, "DROP TABLE pts")
  }

  test("EXPLAIN kinds each answer one result set in the reference's shape") {
    GraftFunctions.ensureRegistered(spark)
    Tables(spark, sfDir).orders.createOrReplaceTempView("orders")
    val q = "SELECT o_orderstatus, count() FROM orders " +
      "PREWHERE o_totalprice > 1000 GROUP BY o_orderstatus"
    // AST → parsed plan lines; the unresolved aggregate is visible
    val ast = ChDdl.execute(spark, s"EXPLAIN AST $q")
    assert(ast.columns.toSeq == Seq("explain"))
    assert(ast.as[String].collect().exists(_.contains("Aggregate")), "AST")
    // plain EXPLAIN and EXPLAIN PLAN → optimized logical plan, with
    // the PREWHERE filter still pushed inside
    for (form <- Seq(s"EXPLAIN $q", s"EXPLAIN PLAN $q")) {
      val plan = ChDdl.execute(spark, form)
      assert(plan.columns.toSeq == Seq("explain"))
      val txt = plan.as[String].collect().mkString("\n")
      assert(txt.contains("Aggregate") && txt.contains("Filter"), form)
    }
    // PIPELINE → physical plan (scan node present)
    val pipe = ChDdl.execute(spark, s"EXPLAIN PIPELINE $q")
      .as[String].collect().mkString("\n")
    assert(pipe.contains("FileScan") || pipe.contains("Scan"), pipe)
    // ESTIMATE → one row per scan leaf with a size estimate
    val est = ChDdl.execute(spark, s"EXPLAIN ESTIMATE $q")
    assert(est.columns.toSeq == Seq("table", "rows", "bytes"))
    val r = est.collect()
    assert(r.length == 1 && r.head.getLong(2) > 0L, r.mkString(","))
  }
}
