package graft

import graft.functions.{ChDdl, GraftFunctions}

/** CREATE-list extras (ASTIndexDeclaration.h, ASTConstraintDeclaration.h)
  * and SHOW PROCESSLIST (ASTShowProcesslistQuery.h). */
class DdlExtrasSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("INDEX declarations parse and drop; CHECK constraints enforce on insert") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_cons (
        |  k Int64,
        |  v Float64,
        |  INDEX iv v TYPE minmax GRANULARITY 4,
        |  CONSTRAINT c_pos CHECK v >= 0
        |) ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    // the skip index is absorbed by the parquet layout — the table has
    // exactly the declared data columns
    assert(spark.table("graft_cons").schema.fieldNames.toSeq == Seq("k", "v"))
    // a clean batch inserts through both front doors
    ChDdl.execute(spark, "INSERT INTO graft_cons VALUES (1, 2.5), (2, 0.0)")
    assert(spark.table("graft_cons").count() == 2)
    // a violating batch is rejected whole, like the reference's
    // per-block constraint check
    val e = intercept[Exception] {
      ChDdl.execute(spark, "INSERT INTO graft_cons VALUES (3, -1.0)")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("c_pos")), e.toString)
    assert(spark.table("graft_cons").count() == 2, "rejected batch must not land")
    // INSERT ... SELECT path enforces too
    val e2 = intercept[Exception] {
      ChDdl.parse(
        """CREATE TABLE graft_cons2 (k Int64, v Float64,
          |  CONSTRAINT c CHECK v < 10) ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
        .tap(_.create(spark))
        .insertSelect(spark, Seq((1L, 50.0)).toDF("k", "v"))
    }
    assert(msgs(e2).exists(_.contains("constraint c violated")), e2.toString)
  }

  test("TTL DELETE: declared, merged out by OPTIMIZE, MODIFY/REMOVE swap it") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_ttl (d Date, k Int64)
        |ENGINE = MergeTree() ORDER BY (k)
        |TTL d + INTERVAL 30 DAY""".stripMargin)
    ChDdl.execute(spark,
      "INSERT INTO graft_ttl VALUES ('2000-01-01', 1), ('2100-01-01', 2)")
    // expired rows stay visible until a merge — the reference's
    // materialize-on-merge TTL behavior
    assert(spark.table("graft_ttl").count() == 2)
    // SHOW CREATE emits the clause and it round-trips through parse
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_ttl")
      .collect().head.getString(0)
    assert(stmt.contains("TTL d + INTERVAL 30 DAY"), stmt)
    assert(ChDdl.parse(stmt).ttl.map(_.expr) == Seq("d + INTERVAL 30 DAY"))
    ChDdl.execute(spark, "OPTIMIZE TABLE graft_ttl FINAL")
    assert(spark.table("graft_ttl").select("k").as[Long].collect().toSeq == Seq(2L))
    // MODIFY TTL with a WHERE guard: only matching rows expire
    ChDdl.execute(spark,
      "ALTER TABLE graft_ttl MODIFY TTL d + INTERVAL 30 DAY DELETE WHERE k < 0")
    ChDdl.execute(spark,
      "INSERT INTO graft_ttl VALUES ('2000-01-01', -1), ('2000-01-01', 7)")
    ChDdl.execute(spark, "OPTIMIZE TABLE graft_ttl")
    assert(spark.table("graft_ttl").select("k").as[Long].collect().sorted.toSeq
      == Seq(2L, 7L))
    // REMOVE TTL: nothing expires any more
    ChDdl.execute(spark, "ALTER TABLE graft_ttl REMOVE TTL")
    ChDdl.execute(spark, "OPTIMIZE TABLE graft_ttl FINAL")
    assert(spark.table("graft_ttl").count() == 2)
    // storage-tier TTL modes refuse loudly
    val e = intercept[UnsupportedOperationException] {
      ChDdl.parse(
        """CREATE TABLE graft_ttl2 (d Date, k Int64) ENGINE = MergeTree()
          |ORDER BY (k) TTL d + INTERVAL 1 DAY TO DISK 'cold'""".stripMargin)
    }
    assert(e.getMessage.contains("storage tiers"))
    ChDdl.execute(spark, "DROP TABLE graft_ttl")
  }

  test("TTL GROUP BY rolls expired rows up to the key; alive rows untouched") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_ttlg (k Int64, d Date, v Float64)
        |ENGINE = MergeTree() ORDER BY (k, d)
        |TTL d + INTERVAL 30 DAY GROUP BY k SET v = sum(v)""".stripMargin)
    // the clause round-trips through SHOW CREATE
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_ttlg")
      .collect().head.getString(0)
    assert(stmt.contains("TTL d + INTERVAL 30 DAY GROUP BY k SET v = sum(v)"), stmt)
    ChDdl.execute(spark,
      """INSERT INTO graft_ttlg VALUES
        |  (1, '2000-01-01', 1.5), (1, '2000-02-01', 2.5),
        |  (1, '2100-01-01', 4.0), (2, '2000-03-01', 7.0)""".stripMargin)
    ChDdl.execute(spark, "OPTIMIZE TABLE graft_ttlg FINAL")
    val got = spark.table("graft_ttlg").orderBy("k", "d")
      .select("k", "d", "v")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2)))
      .toSeq
    // k=1's two expired rows collapse to (min d, summed v); the 2100
    // row is alive and untouched; k=2's lone expired row rolls to
    // itself
    assert(got == Seq(
      (1L, "2000-01-01", 4.0), (1L, "2100-01-01", 4.0),
      (2L, "2000-03-01", 7.0)))
    // the group key must be an ORDER BY prefix (the reference's rule)
    ChDdl.execute(spark,
      """CREATE TABLE graft_ttlg2 (k Int64, d Date, v Float64)
        |ENGINE = MergeTree() ORDER BY (k, d)
        |TTL d + INTERVAL 30 DAY GROUP BY d SET v = sum(v)""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "OPTIMIZE TABLE graft_ttlg2 FINAL")
    }
    assert(e.getMessage.contains("prefix"))
    Seq("graft_ttlg", "graft_ttlg2")
      .foreach(t => ChDdl.execute(spark, s"DROP TABLE $t"))
  }

  test("BACKUP TABLE / RESTORE round-trips layout and partitioned content") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_bak (p Int32, k Int64, v String)
        |ENGINE = MergeTree() PARTITION BY p ORDER BY (k)
        |SAMPLE BY intHash32(k)""".stripMargin)
    ChDdl.execute(spark,
      "INSERT INTO graft_bak VALUES (1, 10, 'a'), (1, 11, 'b'), (2, 20, 'c')")
    val before = spark.table("graft_bak")
      .select("p", "k", "v").collect().map(_.toString).sorted.toSeq
    val dest = scratchDir("graft_backup").toString
    val r = ChDdl.execute(spark, s"BACKUP TABLE graft_bak TO File('$dest')")
    assert(r.select("status").as[String].collect().toSeq == Seq("BACKUP_CREATED"))
    // the same entry can't be backed up twice into one location
    intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"BACKUP TABLE graft_bak TO File('$dest')")
    }
    // destroy the original, restore it bare
    ChDdl.execute(spark, "DROP TABLE graft_bak")
    ChDdl.execute(spark, s"RESTORE TABLE graft_bak FROM File('$dest')")
    assert(spark.table("graft_bak")
      .select("p", "k", "v").collect().map(_.toString).sorted.toSeq == before)
    // the declared layout came back with it: SHOW CREATE answers CH DDL
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_bak")
      .collect().head.getString(0)
    assert(stmt.contains("PARTITION BY (p)") && stmt.contains("SAMPLE BY"), stmt)
    // RESTORE … INTO a different name coexists with the original
    ChDdl.execute(spark, s"RESTORE TABLE graft_bak INTO graft_bak2 FROM File('$dest')")
    assert(spark.table("graft_bak2")
      .select("p", "k", "v").collect().map(_.toString).sorted.toSeq == before)
    // AS renames the entry inside the backup
    ChDdl.execute(spark, s"BACKUP TABLE graft_bak AS snap1 TO File('$dest')")
    ChDdl.execute(spark, s"RESTORE TABLE snap1 INTO graft_bak3 FROM File('$dest')")
    assert(spark.table("graft_bak3").count() == 3)
    // non-TABLE entries refuse with a pointer to the supported form
    val e = intercept[UnsupportedOperationException] {
      ChDdl.execute(spark, s"BACKUP DATABASE default TO File('$dest')")
    }
    assert(e.getMessage.contains("BACKUP TABLE"))
    // RESTORE refuses to land on a live table (the reference's
    // no-silent-overwrite default)
    val e2 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"RESTORE TABLE graft_bak FROM File('$dest')")
    }
    assert(e2.getMessage.contains("already exists"))
    // INSERT … SELECT FROM file(): the table function composes with
    // the write path (the rewrite runs before statement dispatch)
    val fdir = scratchDir("graft_filesrc").toString
    spark.table("graft_bak").write.mode("overwrite").parquet(fdir)
    ChDdl.execute(spark,
      s"INSERT INTO graft_bak2 SELECT p, k + 100, v FROM file('$fdir')")
    assert(spark.table("graft_bak2").count() == 6)
    Seq("graft_bak", "graft_bak2", "graft_bak3")
      .foreach(t => ChDdl.execute(spark, s"DROP TABLE $t"))
  }

  test("Join(ANY, LEFT, k) engine serves joinGet; map refreshes per insert") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_join (k Int64, v String, w Int64)
        |ENGINE = Join(ANY, LEFT, k) ORDER BY tuple()""".stripMargin)
    // the engine args round-trip through SHOW CREATE
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_join")
      .collect().head.getString(0)
    assert(stmt.contains("ENGINE = Join(ANY, LEFT, k)"), stmt)
    ChDdl.execute(spark,
      "INSERT INTO graft_join VALUES (1, 'a', 10), (2, 'b', 20)")
    val r = spark.sql(
      """SELECT joinGet('graft_join', 'v', 2) AS v,
        |  joinGet('graft_join', 'w', 1) AS w,
        |  joinGetOrNull('graft_join', 'v', 99) AS miss""".stripMargin)
      .collect().head
    assert(r.getString(0) == "b" && r.getLong(1) == 10L && r.isNullAt(2))
    // a later insert is visible to subsequent lookups
    ChDdl.execute(spark, "INSERT INTO graft_join VALUES (3, 'c', 30)")
    assert(spark.sql("SELECT joinGet('graft_join', 'v', 3) AS v")
      .head().getString(0) == "c")
    // ANY ties resolve deterministically (min attribute tuple)
    ChDdl.execute(spark, "INSERT INTO graft_join VALUES (1, 'Z', 5)")
    assert(spark.sql("SELECT joinGet('graft_join', 'v', 1) AS v")
      .head().getString(0) == "Z") // ('Z', 5) < ('a', 10) lexicographically
    // a non-ANY Join table is a plain table: joinGet refuses
    ChDdl.execute(spark,
      """CREATE TABLE graft_join_all (k Int64, v String)
        |ENGINE = Join(ALL, INNER, k) ORDER BY tuple()""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO graft_join_all VALUES (1, 'x')")
    val e = intercept[Exception] {
      spark.sql("SELECT joinGet('graft_join_all', 'v', 1)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not registered")), e.toString)
    Seq("graft_join", "graft_join_all")
      .foreach(t => ChDdl.execute(spark, s"DROP TABLE $t"))
  }

  test("SHOW PROCESSLIST answers the reference's column shape with zero rows") {
    GraftFunctions.ensureRegistered(spark)
    val r = ChDdl.execute(spark, "SHOW PROCESSLIST")
    assert(r.schema.fieldNames.toSeq ==
      Seq("query_id", "user", "address", "query", "elapsed"))
    assert(r.count() == 0)
  }

  private implicit class Tap[A](a: A) {
    def tap(f: A => Unit): A = { f(a); a }
  }
}
