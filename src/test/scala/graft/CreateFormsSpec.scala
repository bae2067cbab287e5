package graft

import graft.functions.{ChDdl, GraftFunctions}

/** CREATE TABLE AS SELECT / AS table, plain CREATE VIEW, and the
  * ALTER column commands (ASTCreateQuery.h as_select/as_table,
  * ASTAlterQuery column ops). */
class CreateFormsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("CTAS infers the column list and loads through the declared layout") {
    GraftFunctions.ensureRegistered(spark)
    Seq((1L, 2.0), (2L, 4.0)).toDF("k", "v").createOrReplaceTempView("cf_src")
    ChDdl.execute(spark,
      "CREATE TABLE graft_ctas ENGINE = MergeTree() ORDER BY k AS SELECT k, v * 2 AS v2 FROM cf_src")
    assert(spark.table("graft_ctas").orderBy("k").as[(Long, Double)].collect()
      .toSeq == Seq((1L, 4.0), (2L, 8.0)))
    // the inferred layout answers SHOW CREATE with CH types
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_ctas")
      .as[String].head()
    assert(stmt.contains("Int64") && stmt.contains("Float64"), stmt)
    // an explicit column list wins over inference
    ChDdl.execute(spark,
      "CREATE TABLE graft_ctas2 (k Int64, v2 Float32) ENGINE = MergeTree() ORDER BY k AS SELECT k, v AS v2 FROM cf_src")
    assert(spark.table("graft_ctas2").schema("v2").dataType ==
      org.apache.spark.sql.types.FloatType)
  }

  test("CREATE TABLE a AS b clones structure without data") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      "CREATE TABLE graft_clone_src (k Int64, s String) ENGINE = MergeTree() ORDER BY (k)")
    ChDdl.execute(spark, "INSERT INTO graft_clone_src VALUES (1, 'a')")
    ChDdl.execute(spark, "CREATE TABLE graft_clone_dst AS graft_clone_src")
    assert(spark.table("graft_clone_dst").schema.fieldNames.toSeq == Seq("k", "s"))
    assert(spark.table("graft_clone_dst").count() == 0, "clone copies structure, not data")
    // the clone inherits the declared layout (SHOW CREATE round-trips)
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_clone_dst")
      .as[String].head()
    assert(stmt.contains("ORDER BY (k)"), stmt)
  }

  test("plain CREATE VIEW is a stored query re-planned per read") {
    GraftFunctions.ensureRegistered(spark)
    Seq((1L, 10.0)).toDF("k", "v").createOrReplaceTempView("cf_vsrc")
    ChDdl.execute(spark, "CREATE VIEW graft_pview AS SELECT k, v FROM cf_vsrc WHERE v > 5")
    assert(spark.table("graft_pview").count() == 1)
    // re-planned per read: new source rows show up without a refresh
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").createOrReplaceTempView("cf_vsrc")
    assert(spark.table("graft_pview").count() == 2)
  }

  test("parameterized views inline their body at each v(p = …) call") {
    GraftFunctions.ensureRegistered(spark)
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "a"))
      .toDF("k", "v", "tag").createOrReplaceTempView("cf_psrc")
    ChDdl.execute(spark,
      """CREATE VIEW graft_parmv AS
        |SELECT k, v FROM cf_psrc
        |WHERE v > {minv:Float64} AND tag = {t:String}""".stripMargin)
    val r = ChDdl.execute(spark,
      "SELECT k FROM graft_parmv(minv = 15, t = 'a') ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(3L))
    // different arguments re-instantiate the body
    val r2 = ChDdl.execute(spark,
      "SELECT count() AS n FROM graft_parmv(minv = 5, t = 'a')")
      .collect().head.getLong(0)
    assert(r2 == 2L)
    // missing argument refuses loudly
    val e = intercept[Exception] {
      ChDdl.execute(spark, "SELECT * FROM graft_parmv(minv = 5)").collect()
    }
    assert(e.getMessage.contains("no value supplied") ||
      e.getCause != null)
  }

  test("ALTER DROP/RENAME/MODIFY COLUMN rewrite the snapshot and keep the layout coherent") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_altcol (k Int64, a Int32, b String)
        |ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO graft_altcol VALUES (1, 7, 'x'), (2, 9, 'y')")
    ChDdl.execute(spark, "ALTER TABLE graft_altcol RENAME COLUMN a TO a2")
    assert(spark.table("graft_altcol").schema.fieldNames.toSeq == Seq("k", "a2", "b"))
    ChDdl.execute(spark, "ALTER TABLE graft_altcol MODIFY COLUMN a2 Int64")
    assert(spark.table("graft_altcol").schema("a2").dataType ==
      org.apache.spark.sql.types.LongType)
    ChDdl.execute(spark, "ALTER TABLE graft_altcol DROP COLUMN b")
    assert(spark.table("graft_altcol").schema.fieldNames.toSeq == Seq("k", "a2"))
    // data survives every rewrite
    assert(spark.table("graft_altcol").orderBy("k").as[(Long, Long)].collect()
      .toSeq == Seq((1L, 7L), (2L, 9L)))
    // SHOW CREATE reflects the new shape (declared layout updated)
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_altcol")
      .as[String].head()
    assert(stmt.contains("a2") && stmt.contains("Int64") && !stmt.contains(" b "), stmt)
    // key columns refuse, like the reference
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "ALTER TABLE graft_altcol DROP COLUMN k")
    }
    assert(e.getMessage.contains("key column"), e.getMessage)
  }

  test("ALTER ADD COLUMN materializes defaults and honors FIRST/AFTER") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_addcol (k Int64, a Int32)
        |ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    ChDdl.execute(spark, "INSERT INTO graft_addcol VALUES (1, 7), (2, 9)")
    // plain add: appended at the end, NULL for existing rows
    ChDdl.execute(spark, "ALTER TABLE graft_addcol ADD COLUMN s String")
    assert(spark.table("graft_addcol").schema.fieldNames.toSeq == Seq("k", "a", "s"))
    assert(spark.table("graft_addcol").where("s IS NULL").count() == 2)
    // DEFAULT expr materializes for existing rows; AFTER positions it
    ChDdl.execute(spark,
      "ALTER TABLE graft_addcol ADD COLUMN a2 Int64 DEFAULT a * 2 AFTER a")
    assert(spark.table("graft_addcol").schema.fieldNames.toSeq ==
      Seq("k", "a", "a2", "s"))
    assert(spark.table("graft_addcol").orderBy("k")
      .selectExpr("a2").as[Long].collect().toSeq == Seq(14L, 18L))
    // FIRST puts the column in front
    ChDdl.execute(spark,
      "ALTER TABLE graft_addcol ADD COLUMN z Int32 DEFAULT 0 FIRST")
    assert(spark.table("graft_addcol").schema.fieldNames.head == "z")
    // IF NOT EXISTS no-ops on a duplicate; without it, refuses
    ChDdl.execute(spark,
      "ALTER TABLE graft_addcol ADD COLUMN IF NOT EXISTS z Int32")
    intercept[IllegalArgumentException] {
      ChDdl.execute(spark, "ALTER TABLE graft_addcol ADD COLUMN z Int32")
    }
    // SHOW CREATE reflects the declared layout with the new columns
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_addcol")
      .as[String].head()
    assert(stmt.contains("`a2` Int64") && stmt.indexOf("`z` Int32") <
      stmt.indexOf("`k` Int64"), stmt)
    // inserts through the front door carry the new shape
    ChDdl.execute(spark, "INSERT INTO graft_addcol VALUES (5, 3, 1, 2, 'w')")
    assert(spark.table("graft_addcol").count() == 3)
  }

  test("file() table function reads parquet/CSV/JSONEachRow through the front door") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_filefn")
    val pq = dir.resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.mode("overwrite").parquet(pq)
    val got = ChDdl.execute(spark,
      s"SELECT k, s FROM file('$pq', 'Parquet') ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    // CSVWithNames: header row read back with the declared names
    val csv = dir.resolve("t.csv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(csv),
      "k,s\n3,c\n4,d\n".getBytes)
    val gotCsv = ChDdl.execute(spark,
      s"SELECT k, s FROM file('$csv', 'CSVWithNames') ORDER BY k")
      .as[(Int, String)].collect().toSeq
    assert(gotCsv == Seq((3, "c"), (4, "d")))
    // JSONEachRow
    val jl = dir.resolve("t.jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(jl),
      "{\"k\": 5, \"s\": \"e\"}\n".getBytes)
    assert(ChDdl.execute(spark,
      s"SELECT k FROM file('$jl', 'JSONEachRow')").count() == 1)
    // a COLUMN named file never matches the rewrite
    Seq((1L, "x")).toDF("file", "v").createOrReplaceTempView("cf_filecol")
    assert(ChDdl.execute(spark,
      "SELECT file, v FROM cf_filecol WHERE file = 1").count() == 1)
  }

  test("s3()/hdfs()/url() are real table functions riding the file() adoption path") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_remotefn")
    val pq = dir.resolve("r.parquet")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.mode("overwrite").parquet(pq.toString)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.s3a.impl.disable.cache", "true")
    hc.set("fs.hdfs.impl", classOf[MockHdfsFileSystem].getName)
    hc.set("fs.hdfs.impl.disable.cache", "true")
    // s3:// maps to the hadoop connector scheme s3a:// and reads
    // DISTRIBUTED through the FS layer; format inferred from extension
    val gotS3 = ChDdl.execute(spark,
      s"SELECT k, s FROM s3('s3://graft-bucket$pq') ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(gotS3 == Seq((1L, "a"), (2L, "b")))
    // NOSIGN maps onto the anonymous-credentials provider conf
    ChDdl.execute(spark,
      s"SELECT count(*) AS n FROM s3('s3://graft-bucket$pq', NOSIGN, 'Parquet')")
    assert(hc.get("fs.s3a.aws.credentials.provider")
      .contains("Anonymous"))
    val gotHdfs = ChDdl.execute(spark,
      s"SELECT k FROM hdfs('hdfs://graft-nn$pq', 'Parquet') ORDER BY k")
      .as[Long].collect().toSeq
    assert(gotHdfs == Seq(1L, 2L))
    // url(): file:// passes straight to the reader; format from the
    // explicit arg or the URL's extension
    val csv = dir.resolve("u.csv")
    java.nio.file.Files.write(csv, "k,s\n3,c\n4,d\n".getBytes)
    val gotUrl = ChDdl.execute(spark,
      s"SELECT k, s FROM url('file://$csv', 'CSVWithNames') ORDER BY k")
      .as[(Int, String)].collect().toSeq
    assert(gotUrl == Seq((3, "c"), (4, "d")))
    assert(ChDdl.execute(spark,
      s"SELECT * FROM url('file://$csv')").count() == 3) // headerless CSV by extension
    // server-addressing functions still refuse with guidance
    Seq("remote('h:9000', db.t)", "remoteSecure('h:9440', db.t)",
        "cluster('c', db.t)").foreach { fn =>
      val e = intercept[UnsupportedOperationException] {
        ChDdl.execute(spark, s"SELECT * FROM ${fn.replace("db.t", "'db.t'")}")
      }
      assert(e.getMessage.contains("remote-source table function"),
        s"$fn: ${e.getMessage}")
    }
    // a bare translate() call has no session to bind a reader — the
    // refusal points at the execute front door
    val e = intercept[UnsupportedOperationException] {
      graft.functions.ChSql.translate("SELECT * FROM s3('s3://b/k.parquet')")
    }
    assert(e.getMessage.contains("front door"), e.getMessage)
  }

  test("INSERT INTO FUNCTION writes through file()/s3(), PARTITION BY maps to partition dirs") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_insfn")
    val out = dir.resolve("w.parquet").toString
    Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("k", "s", "part").createOrReplaceTempView("graft_wfn_src")
    ChDdl.execute(spark,
      s"INSERT INTO FUNCTION file('$out') SELECT k, s FROM graft_wfn_src")
    val back = ChDdl.execute(spark,
      s"SELECT k, s FROM file('$out', 'Parquet') ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(back == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // PARTITION BY an output column → partition directories the read
    // side prunes on
    val outP = dir.resolve("wp.parquet").toString
    ChDdl.execute(spark,
      s"INSERT INTO TABLE FUNCTION file('$outP', 'Parquet') PARTITION BY part " +
        "SELECT k, part FROM graft_wfn_src")
    val dirs = new java.io.File(outP).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("part=x", "part=y"), dirs)
    assert(ChDdl.execute(spark, s"SELECT count(*) AS n FROM file('$outP')")
      .head().getLong(0) == 3L)
    // s3-scheme write through the mock FS (the adoption machinery's
    // conf mapping), read back by the same function
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.s3a.impl.disable.cache", "true")
    val s3out = dir.resolve("s3w.parquet")
    ChDdl.execute(spark,
      s"INSERT INTO FUNCTION s3('s3://graft-bucket$s3out', 'Parquet') " +
        "SELECT k FROM graft_wfn_src")
    assert(ChDdl.execute(spark,
      s"SELECT count(*) AS n FROM s3('s3://graft-bucket$s3out')")
      .head().getLong(0) == 3L)
    // url has no PUT transport; existing target refuses
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "INSERT INTO FUNCTION url('http://x/y.csv', 'CSV') SELECT 1 AS a")
    }
    assert(e.getMessage.contains("PUT"), e.getMessage)
    intercept[Exception] {
      ChDdl.execute(spark,
        s"INSERT INTO FUNCTION file('$out') SELECT k, s FROM graft_wfn_src")
    }
  }

  test("RowBinaryWithNamesAndTypes round-trips through INTO OUTFILE and file()") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_rowbin")
    val out = dir.resolve("t.bin").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'alpha', CAST(1.5 AS DOUBLE), 7, DATE '2024-03-15',
        |   TIMESTAMP '2024-03-15 13:45:00', true),
        |  (2L, CAST(NULL AS STRING), CAST(-2.25 AS DOUBLE), -3,
        |   DATE '1970-01-02', TIMESTAMP '1970-01-01 00:00:01', false)
        |AS t(k, s, v, i, d, ts, b)""".stripMargin)
      .createOrReplaceTempView("graft_rb_src")
    ChDdl.execute(spark,
      s"SELECT k, s, v, i, d, ts, b FROM graft_rb_src ORDER BY k " +
        s"INTO OUTFILE '$out' FORMAT RowBinaryWithNamesAndTypes")
    val back = ChDdl.execute(spark,
      s"SELECT * FROM file('$out', 'RowBinaryWithNamesAndTypes') ORDER BY k")
    assert(back.schema.fieldNames.toSeq == Seq("k", "s", "v", "i", "d", "ts", "b"))
    val rows = back.collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
      rows(0).getDouble(2) == 1.5 && rows(0).getInt(3) == 7 &&
      rows(0).getDate(4).toString == "2024-03-15" &&
      rows(0).getTimestamp(5).toString.startsWith("2024-03-15 13:45:00") &&
      rows(0).getBoolean(6))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == -2.25 &&
      rows(1).getInt(3) == -3 && !rows(1).getBoolean(6))
    // out-of-range Date/DateTime clamp to the CH type range instead of
    // silently wrapping (the reference's saturating cast)
    val out3 = dir.resolve("t3.bin").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (DATE '2200-01-01', TIMESTAMP '1950-01-01 00:00:00'),
        |  (DATE '1950-01-01', TIMESTAMP '2200-01-01 00:00:00')
        |AS t(d, ts)""".stripMargin).createOrReplaceTempView("graft_rb_clamp")
    ChDdl.execute(spark,
      s"SELECT d, ts FROM graft_rb_clamp INTO OUTFILE '$out3' FORMAT RowBinaryWithNamesAndTypes")
    val clamped = ChDdl.execute(spark,
      s"SELECT * FROM file('$out3', 'RowBinaryWithNamesAndTypes') ORDER BY d")
      .collect()
    assert(clamped(0).getDate(0).toString == "1970-01-01")     // below range
    assert(clamped(1).getDate(0).toString == "2149-06-06")     // epoch day 65535
    assert(clamped(0).getTimestamp(1).getTime == 0xffffffffL * 1000L) // above range
    assert(clamped(1).getTimestamp(1).getTime == 0L)           // below range

    // headerless variants: writable, but adoption refuses with guidance
    val out2 = dir.resolve("t2.bin").toString
    ChDdl.execute(spark,
      s"SELECT k FROM graft_rb_src INTO OUTFILE '$out2' FORMAT RowBinary")
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(out2)) == 16) // 2 × Int64
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"SELECT * FROM file('$out2', 'RowBinary')")
    }
    assert(e.getMessage.contains("RowBinaryWithNamesAndTypes"), e.getMessage)
    // bare FORMAT RowBinary (no OUTFILE) still refuses, now naming the
    // file-interchange path
    val w = intercept[UnsupportedOperationException] {
      ChDdl.execute(spark, "SELECT k FROM graft_rb_src FORMAT RowBinary")
    }
    assert(w.getMessage.contains("INTO OUTFILE"), w.getMessage)
  }

  test("RowBinaryWithNamesAndTypes: byte-level layout pinned against the format spec") {
    // varuint column count, names, then type names (varint-length
    // strings); each row: little-endian fixed widths, varint-length
    // strings, UInt16 days, UInt32 seconds, and one 0/1 flag byte
    // before a Nullable value with nothing after a NULL
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("s", StringType, nullable = false),
      StructField("i64", LongType, nullable = false),
      StructField("i32", IntegerType, nullable = false),
      StructField("i16", ShortType, nullable = false),
      StructField("i8", ByteType, nullable = false),
      StructField("f64", DoubleType, nullable = false),
      StructField("f32", FloatType, nullable = false),
      StructField("b", BooleanType, nullable = false),
      StructField("d", DateType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("ntz", TimestampNTZType, nullable = false),
      StructField("u64", DecimalType(20, 0), nullable = false),
      StructField("n", LongType, nullable = true)))
    val row = Row("hé", -2L, 0x01020304, (-3).toShort, 7.toByte, 1.5d, -2.0f,
      true, java.sql.Date.valueOf("2024-03-15"),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-03-15T13:45:00Z")),
      java.time.LocalDateTime.parse("2000-01-02T03:04:05"),
      new java.math.BigDecimal("18446744073709551615"), null)
    val df = spark.createDataFrame(java.util.Arrays.asList(row), schema)
    val dir = scratchDir("graft_rowbin_pin")
    val out = dir.resolve("pin.bin")
    graft.sources.RowBinary.write(df, out.toString, "RowBinaryWithNamesAndTypes")
    val hex = java.nio.file.Files.readAllBytes(out)
      .map(b => f"${b & 0xff}%02x").mkString
    val expected =
      "0d" +                                           // 13 columns
        "0173" + "03693634" + "03693332" + "03693136" + "026938" +
        "03663634" + "03663332" + "0162" + "0164" + "027473" +
        "036e747a" + "03753634" + "016e" +             // names
        "06537472696e67" + "05496e743634" + "05496e743332" +
        "05496e743136" + "04496e7438" + "07466c6f61743634" +
        "07466c6f61743332" + "04426f6f6c" + "0444617465" +
        "084461746554696d65" + "084461746554696d65" +
        "0655496e743634" + "0f4e756c6c61626c6528496e74363429" + // types
        "0368c3a9" +                                   // "hé" (UTF-8)
        "feffffffffffffff" +                           // Int64 -2
        "04030201" +                                   // Int32 0x01020304
        "fdff" + "07" +                                // Int16 -3, Int8 7
        "000000000000f83f" + "000000c0" +              // 1.5, -2.0f
        "01" +                                         // true
        "554d" +                                       // Date: day 19797
        "dc50f465" +                                   // DateTime 1710510300
        "25c06e38" +                                   // NTZ as DateTime 946782245
        "ffffffffffffffff" +                           // UInt64 2^64-1
        "01"                                           // Nullable: NULL flag only
    assert(hex == expected, s"\n got $hex\nwant $expected")
  }

  test("LineAsString / JSONAsString / Regexp adopt text files as distributed scans") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_textfmt")
    val log = dir.resolve("app.log")
    java.nio.file.Files.write(log,
      "2024-01-01 INFO start up\n2024-01-02 WARN disk 93\n".getBytes("UTF-8"))
    // LineAsString: one row per line, single String column
    val las = ChDdl.execute(spark,
      s"SELECT * FROM file('$log', 'LineAsString') ORDER BY line")
      .collect().map(_.getString(0)).toSeq
    assert(las == Seq("2024-01-01 INFO start up", "2024-01-02 WARN disk 93"))
    // structure arg names the column; non-single-String refuses
    val named = ChDdl.execute(spark,
      s"SELECT raw FROM file('$log', 'LineAsString', 'raw String')")
    assert(named.columns.toSeq == Seq("raw") && named.count() == 2)
    val eS = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        s"SELECT * FROM file('$log', 'LineAsString', 'a Int64, b String')")
    }
    assert(eS.getMessage.contains("one String column"), eS.getMessage)
    // JSONAsString: objects arrive unparsed, blank lines drop
    val js = dir.resolve("objs.jsonl")
    java.nio.file.Files.write(js,
      "{\"a\": 1}\n\n{\"a\": 2, \"b\": \"x\"}\n".getBytes("UTF-8"))
    val jas = ChDdl.execute(spark,
      s"SELECT * FROM file('$js', 'JSONAsString') ORDER BY json")
      .collect().map(_.getString(0)).toSeq
    assert(jas == Seq("{\"a\": 1}", "{\"a\": 2, \"b\": \"x\"}"))
    // Regexp: capture group i feeds declared column i, distributed
    ChDdl.execute(spark,
      "SET format_regexp = '^([^ ]+) ([^ ]+) (.*)$'")
    try {
      val rx = ChDdl.execute(spark,
        s"SELECT * FROM file('$log', 'Regexp', " +
          "'day Date, level String, msg String') ORDER BY day").collect()
      assert(rx.length == 2)
      assert(rx(0).getDate(0).toString == "2024-01-01" &&
        rx(0).getString(1) == "INFO" && rx(0).getString(2) == "start up")
      // unmatched line: default throws; skip_unmatched=1 drops
      val bad = dir.resolve("bad.log")
      java.nio.file.Files.write(bad,
        "2024-01-01 INFO ok\nnope\n".getBytes("UTF-8"))
      val eR = intercept[Exception] {
        ChDdl.execute(spark,
          s"SELECT * FROM file('$bad', 'Regexp', 'day Date, level String, " +
            "msg String')").collect()
      }
      assert(eR.getMessage.contains("does not match"), eR.getMessage)
      ChDdl.execute(spark, "SET format_regexp_skip_unmatched = 1")
      val skipped = ChDdl.execute(spark,
        s"SELECT * FROM file('$bad', 'Regexp', 'day Date, level String, " +
          "msg String')").collect()
      assert(skipped.length == 1 && skipped(0).getString(1) == "INFO")
      // WHOLE-line matching (the reference's re2 full match): a line
      // that merely CONTAINS a match must not silently extract from
      // the middle
      spark.conf.set("spark.graft.format_regexp", "([0-9]+),([a-z]+)")
      val partial = dir.resolve("partial.log")
      java.nio.file.Files.write(partial,
        "junk 123,abc junk\n7,ok\n".getBytes("UTF-8"))
      val anchoredRows = ChDdl.execute(spark,
        s"SELECT * FROM file('$partial', 'Regexp', 'a Int64, b String')")
        .collect()
      assert(anchoredRows.length == 1 && anchoredRows(0).getLong(0) == 7L,
        s"substring match leaked: ${anchoredRows.toSeq}")
    } finally {
      spark.conf.unset("spark.graft.format_regexp")
      spark.conf.unset("spark.graft.format_regexp_skip_unmatched")
    }
    // the scans are DISTRIBUTED file scans, not driver materialization
    val plan = ChDdl.execute(spark,
      s"SELECT * FROM file('$log', 'LineAsString')")
      .queryExecution.executedPlan.toString
    assert(plan.contains("FileScan text"), plan)
  }

  test("Template INPUT round-trips what FORMAT Template wrote, reversing each escaping") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_tplin")
    val rowF = dir.resolve("row.tpl")
    java.nio.file.Files.write(rowF,
      "k=${k:Raw}; s=${s:Quoted}; j=${j:JSON}\n".getBytes("UTF-8"))
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'plain', 'x'),
        |  (2L, 'qu''ote\\slash', 'a"b'),
        |  (3L, CAST(NULL AS STRING), CAST(NULL AS STRING))
        |AS t(k, s, j)""".stripMargin).createOrReplaceTempView("graft_tpl_rt")
    val out = dir.resolve("rows.txt").toString
    ChDdl.execute(spark,
      s"SELECT k, s, j FROM graft_tpl_rt ORDER BY k INTO OUTFILE '$out' " +
        s"FORMAT Template SETTINGS format_template_row = '$rowF'")
    ChDdl.execute(spark, s"SET format_template_row = '$rowF'")
    try {
      val back = ChDdl.execute(spark,
        s"SELECT * FROM file('$out', 'Template', " +
          "'k Int64, s Nullable(String), j Nullable(String)') ORDER BY k")
        .collect()
      assert(back.length == 3)
      assert(back(0).getLong(0) == 1L && back(0).getString(1) == "plain" &&
        back(0).getString(2) == "x")
      assert(back(1).getString(1) == "qu'ote\\slash", back(1).getString(1))
      assert(back(1).getString(2) == "a\"b", back(1).getString(2))
      assert(back(2).isNullAt(1) && back(2).isNullAt(2))
      // a line that doesn't match the template raises loudly
      val rowK = dir.resolve("rowk.tpl")
      java.nio.file.Files.write(rowK, "k=${k:Raw}".getBytes("UTF-8"))
      val bad = dir.resolve("bad.txt")
      java.nio.file.Files.write(bad, "nope\n".getBytes("UTF-8"))
      spark.conf.set("spark.graft.format_template_row", rowK.toString)
      val e = intercept[Exception] {
        ChDdl.execute(spark,
          s"SELECT * FROM file('$bad', 'Template', 'k Int64')").collect()
      }
      assert(e.getMessage.contains("does not match"), e.getMessage)
      // unknown placeholder name refuses naming the structure
      val rowBad = dir.resolve("rowbad.tpl")
      java.nio.file.Files.write(rowBad, "${nope:Raw}".getBytes("UTF-8"))
      spark.conf.set("spark.graft.format_template_row", rowBad.toString)
      val e2 = intercept[IllegalArgumentException] {
        ChDdl.execute(spark,
          s"SELECT * FROM file('$out', 'Template', 'k Int64')")
      }
      assert(e2.getMessage.contains("no structure column"), e2.getMessage)
    } finally spark.conf.unset("spark.graft.format_template_row")
  }

  test("Template Escaped input reverses escapes in one pass (backslash+'n' is not a newline)") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_tplesc")
    val rowF = dir.resolve("row.tpl")
    java.nio.file.Files.write(rowF, "v=${s:Escaped}".getBytes("UTF-8"))
    // the r16 advice case: a literal backslash followed by 'n'
    // serializes as \\n and must come back as backslash+'n'; the
    // full writeEscapedString set (\b \f \n \r \t \0 \' \\)
    // round-trips (r17 review: the reader is also the adoption path
    // for reference-written files)
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'back\\nslash'),
        |  (2L, concat('a', char(9), 'b', char(10), 'c')),
        |  (3L, 'trailing\\'),
        |  (4L, concat('cr', char(13), 'q''q', char(8), char(12), 'end'))
        |AS t(k, s)""".stripMargin).createOrReplaceTempView("graft_esc_rt")
    val out = dir.resolve("rows.txt").toString
    ChDdl.execute(spark,
      s"SELECT s FROM graft_esc_rt ORDER BY k INTO OUTFILE '$out' " +
        s"FORMAT Template SETTINGS format_template_row = '$rowF'")
    spark.conf.set("spark.graft.format_template_row", rowF.toString)
    try {
      val back = ChDdl.execute(spark,
        s"SELECT * FROM file('$out', 'Template', 's String')").collect()
        .map(_.getString(0)).sorted
      assert(back.toSeq == Seq("a\tb\nc", "back\\nslash",
        "cr\rq'q\b\fend", "trailing\\"), back.toSeq.toString)
    } finally spark.conf.unset("spark.graft.format_template_row")
  }

  test("Values adoption refuses expression tokens in the data file") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_valsec")
    val f = dir.resolve("evil.values")
    java.nio.file.Files.write(f,
      "(1, version()), (2, 'b')".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        s"SELECT * FROM file('$f', 'Values', 'k Int64, s String')")
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
    // literal tuples — incl. arrays, negatives, NULL — still adopt
    val g = dir.resolve("fine.values")
    java.nio.file.Files.write(g,
      "(1, 'a', [1,2], -1.5), (2, NULL, [], 3e2)".getBytes("UTF-8"))
    val ok = ChDdl.execute(spark,
      s"SELECT * FROM file('$g', 'Values', " +
        "'k Int64, s Nullable(String), a Array(Int64), v Float64')")
      .collect().sortBy(_.getLong(0))
    assert(ok.length == 2 && ok(0).getString(1) == "a" && ok(1).isNullAt(1))
    assert(ok(0).getSeq[Long](2) == Seq(1L, 2L) && ok(1).getDouble(3) == 300.0)
  }

  test("TSKV / JSONCompactEachRow / Values adopt back what their renderers wrote") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_txtrt")
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'alpha', CAST(1.5 AS DOUBLE), true),
        |  (2L, CAST(NULL AS STRING), CAST(-2.25 AS DOUBLE), false)
        |AS t(k, s, v, b)""".stripMargin)
      .createOrReplaceTempView("graft_txt_rt")
    val st = "k Int64, s Nullable(String), v Float64, b Bool"
    def roundTrip(fmt: String, ext: String): Array[org.apache.spark.sql.Row] = {
      val p = dir.resolve(s"t.$ext").toString
      ChDdl.execute(spark,
        s"SELECT k, s, v, b FROM graft_txt_rt ORDER BY k " +
          s"INTO OUTFILE '$p' FORMAT $fmt")
      ChDdl.execute(spark,
        s"SELECT * FROM file('$p', '$fmt', '$st') ORDER BY k").collect()
    }
    for ((fmt, ext) <- Seq(("TSKV", "tskv"),
        ("JSONCompactEachRow", "jsonl"), ("Values", "values"))) {
      val rows = roundTrip(fmt, ext)
      assert(rows.length == 2, s"$fmt: ${rows.length} rows")
      assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
        rows(0).getDouble(2) == 1.5 && rows(0).getBoolean(3), s"$fmt ${rows(0)}")
      assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == -2.25 &&
        !rows(1).getBoolean(3), s"$fmt ${rows(1)}")
    }
    // positional adopters refuse without structure
    val eJ = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"SELECT * FROM file('${dir.resolve("t.jsonl")}', " +
        "'JSONCompactEachRow')")
    }
    assert(eJ.getMessage.contains("structure"), eJ.getMessage)
    // Values with a CH array literal goes through the bracket rewrite
    val arr = dir.resolve("arr.values")
    java.nio.file.Files.write(arr, "(1, [10, 20]), (2, [30])".getBytes("UTF-8"))
    val got = ChDdl.execute(spark,
      s"SELECT * FROM file('$arr', 'Values', 'id Int64, xs Array(Int64)') " +
        "ORDER BY id").collect()
    assert(got(0).getSeq[Long](1) == Seq(10L, 20L) &&
      got(1).getSeq[Long](1) == Seq(30L))
  }

  test("Native: byte-level framing pinned against NativeWriter.cpp") {
    // revision-0 block: varuint cols, varuint rows, per column
    // name/type strings + column-major bulk data — hand-derived from
    // /root/reference/src/Formats/NativeWriter.cpp:66-129 and the
    // Nullable null-map-then-nested order of
    // SerializationNullable.cpp:100-119
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a"), Row(2L, null)), schema)
    val dir = scratchDir("graft_native_pin")
    val out = dir.resolve("pin.native")
    graft.sources.NativeFormat.write(df, out.toString)
    val hex = java.nio.file.Files.readAllBytes(out)
      .map(b => f"${b & 0xff}%02x").mkString
    val expected =
      "0202" +                                   // 2 columns, 2 rows
        "016b" + "05" + "496e743634" +           // "k", "Int64"
        "0100000000000000" + "0200000000000000" + // k bulk: LE Int64 1, 2
        "0173" + "10" + "4e756c6c61626c6528537472696e6729" + // "s", "Nullable(String)"
        "0001" +                                 // null map: row0 set, row1 NULL
        "0161" + "00"                            // "a", then "" default in the null slot
    assert(hex == expected, s"\n got $hex\nwant $expected")
  }

  test("Native round-trips through INTO OUTFILE and file() (primitives, arrays, UInt64)") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_native")
    val out = dir.resolve("t.native").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'alpha', CAST(1.5 AS DOUBLE), 7, DATE '2024-03-15',
        |   TIMESTAMP '2024-03-15 13:45:00', true, array(1, 2, 3)),
        |  (2L, CAST(NULL AS STRING), CAST(-2.25 AS DOUBLE), -3,
        |   DATE '1970-01-02', TIMESTAMP '1970-01-01 00:00:01', false,
        |   array(CAST(NULL AS INT), 5))
        |AS t(k, s, v, i, d, ts, b, xs)""".stripMargin)
      .createOrReplaceTempView("graft_nat_src")
    ChDdl.execute(spark,
      s"SELECT k, s, v, i, d, ts, b, xs FROM graft_nat_src ORDER BY k " +
        s"INTO OUTFILE '$out' FORMAT Native")
    // .native extension is inferred when the format argument is omitted
    val back = ChDdl.execute(spark,
      s"SELECT * FROM file('$out') ORDER BY k")
    assert(back.schema.fieldNames.toSeq ==
      Seq("k", "s", "v", "i", "d", "ts", "b", "xs"))
    val rows = back.collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
      rows(0).getDouble(2) == 1.5 && rows(0).getInt(3) == 7 &&
      rows(0).getDate(4).toString == "2024-03-15" &&
      rows(0).getTimestamp(5).toString.startsWith("2024-03-15 13:45:00") &&
      rows(0).getBoolean(6) &&
      rows(0).getSeq[Int](7) == Seq(1, 2, 3))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == -2.25 &&
      rows(1).getSeq[Any](7) == Seq(null, 5))
    // UInt64 full range rides the DECIMAL(20,0) carrier both ways
    val outU = dir.resolve("u64.native").toString
    ChDdl.execute(spark,
      "SELECT toUInt64('18446744073709551615') AS umax, toUInt64(7) AS u7 " +
        s"INTO OUTFILE '$outU' FORMAT Native")
    val u = ChDdl.execute(spark, s"SELECT * FROM file('$outU', 'Native')").head()
    assert(u.getDecimal(0).toPlainString == "18446744073709551615", u)
    assert(u.getDecimal(1).toPlainString == "7")
    // multi-block: > DEFAULT_BLOCK_SIZE (65505) rows split across blocks
    val outB = dir.resolve("big.native").toString
    ChDdl.execute(spark,
      s"SELECT CAST(id AS BIGINT) AS k FROM range(70000) " +
        s"INTO OUTFILE '$outB' FORMAT Native")
    val big = ChDdl.execute(spark,
      s"SELECT count(*) AS n, sum(k) AS s FROM file('$outB', 'Native')").head()
    assert(big.getLong(0) == 70000L && big.getLong(1) == 70000L * 69999L / 2)
    // INSERT INTO FUNCTION file(…, 'Native') writes the same framing
    val outF = dir.resolve("fn.native").toString
    ChDdl.execute(spark,
      s"INSERT INTO FUNCTION file('$outF', 'Native') " +
        "SELECT k, s FROM graft_nat_src")
    assert(ChDdl.execute(spark,
      s"SELECT count(*) AS n FROM file('$outF')").head().getLong(0) == 2L)
    // bare FORMAT Native (no OUTFILE) refuses, naming the file path
    val w = intercept[UnsupportedOperationException] {
      ChDdl.execute(spark, "SELECT k FROM graft_nat_src FORMAT Native")
    }
    assert(w.getMessage.contains("INTO OUTFILE"), w.getMessage)
  }

  test("Native compressed frames: LZ4+CityHash round-trip, auto-detect, corruption check") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_native_lz4")
    // > 1 MiB of repetitive rows: multiple compressed frames AND a
    // real compression win to assert on
    spark.sql(
      "SELECT CAST(id AS BIGINT) AS k, repeat('boilerplate ', 10) AS s " +
        "FROM range(20000)").createOrReplaceTempView("graft_natc_src")
    val plain = dir.resolve("plain.native").toString
    val lz4 = dir.resolve("lz4.native").toString
    val zstd = dir.resolve("zstd.native").toString
    val none = dir.resolve("none.native").toString
    ChDdl.execute(spark,
      s"SELECT * FROM graft_natc_src INTO OUTFILE '$plain' FORMAT Native")
    ChDdl.execute(spark,
      s"SELECT * FROM graft_natc_src INTO OUTFILE '$lz4' COMPRESSION 'lz4' FORMAT Native")
    ChDdl.execute(spark,
      s"SELECT * FROM graft_natc_src INTO OUTFILE '$zstd' COMPRESSION 'zstd' FORMAT Native")
    ChDdl.execute(spark,
      s"SELECT * FROM graft_natc_src INTO OUTFILE '$none' COMPRESSION 'none' FORMAT Native")
    def sz(p: String) = java.nio.file.Files.size(java.nio.file.Paths.get(p))
    assert(sz(lz4) < sz(plain) / 4,
      s"lz4 ${sz(lz4)} vs plain ${sz(plain)} — no compression win")
    assert(sz(zstd) < sz(plain) / 4,
      s"zstd ${sz(zstd)} vs plain ${sz(plain)} — no compression win")
    assert(sz(none) > sz(plain), "NONE frames add headers, never shrink")
    // frame header shape: method byte at offset 16 (after the
    // CityHash128 checksum), 0x82 = LZ4 / 0x90 = ZSTD / 0x02 = NONE
    // (CompressionInfo.h:38-40)
    def methodByte(p: String): Int = {
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(p))
      try { in.skip(16); in.read() } finally in.close()
    }
    assert(methodByte(lz4) == 0x82 && methodByte(zstd) == 0x90 &&
      methodByte(none) == 0x02)
    // file() auto-detects all compressed framings — no format hint
    for (p <- Seq(lz4, zstd, none)) {
      val back = ChDdl.execute(spark,
        s"SELECT count(*) AS n, sum(k) AS t, min(length(s)) AS l FROM file('$p')")
        .head()
      assert(back.getLong(0) == 20000L &&
        back.getLong(1) == 20000L * 19999L / 2 && back.getInt(2) == 120, back)
    }
    // a flipped payload bit must fail the CityHash128 checksum loudly
    val corrupted = dir.resolve("bad.native")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lz4))
    bytes(40) = (bytes(40) ^ 0x01).toByte
    java.nio.file.Files.write(corrupted, bytes)
    // the header fields still parse sane, so the first-frame checksum
    // failure is diagnosed as CORRUPTION (the reference's
    // CHECKSUM_DOESNT_MATCH) — not a fall-through to the uncompressed
    // path dying on a misleading block-parse error (r15 advice)
    val ce = intercept[Exception] {
      ChDdl.execute(spark,
        s"SELECT count(*) AS n FROM file('$corrupted', 'Native')").head()
    }
    assert(ce.getMessage.contains("checksum mismatch"), ce.getMessage)
    // COMPRESSION on a non-Native format refuses with guidance
    val e2 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"SELECT 1 AS x INTO OUTFILE " +
        s"'${dir.resolve("x.tsv")}' COMPRESSION 'lz4' FORMAT TSV")
    }
    assert(e2.getMessage.contains("FORMAT Native"), e2.getMessage)
    // unsupported method names refuse too
    val e3 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"SELECT 1 AS x INTO OUTFILE " +
        s"'${dir.resolve("x.native")}' COMPRESSION 'gz' FORMAT Native")
    }
    assert(e3.getMessage.contains("lz4"), e3.getMessage)
    // the specialized column codecs + CODEC chains through the front
    // door: each writes its method byte (chain = Multiple 0x91) and
    // adopts back by auto-detect
    for ((spec, mb) <- Seq("delta(8)" -> 0x92, "doubledelta(8)" -> 0x94,
        "gorilla(8)" -> 0x95, "delta(8), zstd" -> 0x91,
        "gorilla(4), lz4" -> 0x91)) {
      val p = dir.resolve(s"c_${mb}_${spec.hashCode.abs}.native").toString
      ChDdl.execute(spark,
        s"SELECT k FROM graft_natc_src INTO OUTFILE '$p' " +
          s"COMPRESSION '$spec' FORMAT Native")
      assert(methodByte(p) == mb, f"$spec: 0x${methodByte(p)}%02x")
      val back = ChDdl.execute(spark,
        s"SELECT count(*) AS n, sum(k) AS t FROM file('$p')").head()
      assert(back.getLong(0) == 20000L &&
        back.getLong(1) == 20000L * 19999L / 2, s"$spec: $back")
    }
    // T64 refuses with guidance at write time
    val e4 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"SELECT 1 AS x INTO OUTFILE " +
        s"'${dir.resolve("t64.native")}' COMPRESSION 't64' FORMAT Native")
    }
    assert(e4.getMessage.contains("T64"), e4.getMessage)
    // a zstd frame built BY HAND from the published layout (checksum +
    // header + one raw ZSTD frame — what a reference-written file
    // carries) adopts through the same auto-detect path: proves we
    // read the wire format, not just our own writer's output
    val foreign = dir.resolve("foreign.native")
    // an uncompressed Native file IS the inner byte stream
    val innerF = dir.resolve("inner.native").toString
    ChDdl.execute(spark,
      s"SELECT * FROM graft_natc_src INTO OUTFILE '$innerF' FORMAT Native")
    val innerBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(innerF))
    val payload = com.github.luben.zstd.Zstd.compress(innerBytes, 3) // any level
    val framed = java.nio.ByteBuffer.allocate(9 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    framed.put(0x90.toByte)
    framed.putInt(9 + payload.length)
    framed.putInt(innerBytes.length)
    framed.put(payload)
    val fb = framed.array()
    val (lo, hi) = graft.sources.CityHash102.cityHash128(fb, 0, fb.length)
    val ck = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ck.putLong(lo); ck.putLong(hi)
    val outS = java.nio.file.Files.newOutputStream(foreign)
    outS.write(ck.array()); outS.write(fb); outS.close()
    val back2 = ChDdl.execute(spark,
      s"SELECT count(*) AS n, sum(k) AS t FROM file('$foreign')").head()
    assert(back2.getLong(0) == 20000L && back2.getLong(1) == 20000L * 19999L / 2)
    // a flipped bit in a zstd payload fails the checksum loudly too
    val zbytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(zstd))
    zbytes(40) = (zbytes(40) ^ 0x01).toByte
    val zbad = dir.resolve("zbad.native")
    java.nio.file.Files.write(zbad, zbytes)
    val ze = intercept[Exception] {
      ChDdl.execute(spark,
        s"SELECT count(*) AS n FROM file('$zbad', 'Native')").head()
    }
    assert(ze.getMessage.contains("checksum mismatch"), ze.getMessage)
  }

  test("file() reads ORC, Avro and Arrow (registerFormats.cpp adoption formats)") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_filefn2")
    // ORC — Spark's native distributed source
    val orc = dir.resolve("t.orc").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.mode("overwrite").orc(orc)
    assert(ChDdl.execute(spark,
      s"SELECT k, s FROM file('$orc', 'ORC') ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // Avro — container file written with the bundled avro lib
    val avroPath = dir.resolve("t.avro")
    locally {
      import org.apache.avro.{Schema, SchemaBuilder}
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val sch: Schema = SchemaBuilder.record("r").fields()
        .requiredLong("k").optionalString("s").endRecord()
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](sch))
      w.create(sch, avroPath.toFile)
      Seq(3L -> "c", 4L -> null).foreach { case (k, s) =>
        val rec = new GenericData.Record(sch)
        rec.put("k", k); rec.put("s", s)
        w.append(rec)
      }
      w.close()
    }
    val gotAvro = ChDdl.execute(spark,
      s"SELECT k, s FROM file('$avroPath', 'Avro') ORDER BY k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(gotAvro == Seq(3L -> Some("c"), 4L -> None))
    // Arrow IPC file written with the bundled arrow-vector lib
    val arrowPath = dir.resolve("t.arrow")
    locally {
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
      import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
      import scala.jdk.CollectionConverters._
      val alloc = new RootAllocator()
      val sch = new ASchema(Seq(
        new Field("k", FieldType.notNullable(new ArrowType.Int(64, true)), null),
        new Field("s", FieldType.nullable(ArrowType.Utf8.INSTANCE), null)).asJava)
      val root = VectorSchemaRoot.create(sch, alloc)
      val kv = root.getVector("k").asInstanceOf[BigIntVector]
      val sv = root.getVector("s").asInstanceOf[VarCharVector]
      kv.allocateNew(2); sv.allocateNew(2)
      kv.setSafe(0, 5L); sv.setSafe(0, "e".getBytes("UTF-8"))
      kv.setSafe(1, 6L); sv.setNull(1)
      root.setRowCount(2)
      val ch = java.nio.channels.FileChannel.open(arrowPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, ch)
      w.start(); w.writeBatch(); w.end(); w.close()
      ch.close(); root.close(); alloc.close()
    }
    val gotArrow = ChDdl.execute(spark,
      s"SELECT k, s FROM file('$arrowPath', 'Arrow') ORDER BY k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(gotArrow == Seq(5L -> Some("e"), 6L -> None))
  }

  test("Arrow adoption is a DISTRIBUTED DSv2 scan: batch splits + column pruning") {
    GraftFunctions.ensureRegistered(spark)
    val dir = scratchDir("graft_arrow_dist")
    val arrowPath = dir.resolve("multi.arrow")
    // 8 record batches of 100 rows each — the footer indexes them,
    // and each becomes its own input split
    locally {
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.{BigIntVector, Float8Vector, VarCharVector, VectorSchemaRoot}
      import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
      import org.apache.arrow.vector.types.FloatingPointPrecision
      import scala.jdk.CollectionConverters._
      val alloc = new RootAllocator()
      val sch = new ASchema(Seq(
        new Field("k", FieldType.notNullable(new ArrowType.Int(64, true)), null),
        new Field("v", FieldType.notNullable(
          new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), null),
        new Field("s", FieldType.nullable(ArrowType.Utf8.INSTANCE), null)).asJava)
      val root = VectorSchemaRoot.create(sch, alloc)
      val ch = java.nio.channels.FileChannel.open(arrowPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, ch)
      w.start()
      for (b <- 0 until 8) {
        val kv = root.getVector("k").asInstanceOf[BigIntVector]
        val vv = root.getVector("v").asInstanceOf[Float8Vector]
        val sv = root.getVector("s").asInstanceOf[VarCharVector]
        kv.allocateNew(100); vv.allocateNew(100); sv.allocateNew(100)
        for (i <- 0 until 100) {
          val id = b * 100L + i
          kv.setSafe(i, id); vv.setSafe(i, id * 0.5)
          if (id % 7 == 0) sv.setNull(i)
          else sv.setSafe(i, s"row$id".getBytes("UTF-8"))
        }
        root.setRowCount(100)
        w.writeBatch()
      }
      w.end(); w.close(); ch.close(); root.close(); alloc.close()
    }
    val df = ChDdl.execute(spark,
      s"SELECT k FROM file('$arrowPath', 'Arrow')")
    // distributed: one input partition per record batch
    assert(df.rdd.getNumPartitions == 8, s"${df.rdd.getNumPartitions} partitions")
    // values correct across all batches
    val agg = ChDdl.execute(spark,
      s"SELECT count(*) AS n, sum(k) AS t, " +
        s"sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS nulls " +
        s"FROM file('$arrowPath', 'Arrow')").head()
    assert(agg.getLong(0) == 800L && agg.getLong(1) == 800L * 799L / 2 &&
      agg.getLong(2) == (0L until 800L).count(_ % 7 == 0), agg)
    // column pruning pushes down: the scan's ReadSchema carries ONLY k
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ArrowIpc"), plan)
    assert(plan.contains("ReadSchema: struct<k:bigint>") ||
      plan.contains("ReadSchema: k"), plan)
    // Date32 / Timestamp columns adopt with Spark's physical types
    val dtPath = dir.resolve("dt.arrow")
    locally {
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.{DateDayVector, TimeStampMilliVector, VectorSchemaRoot}
      import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
      import org.apache.arrow.vector.types.{DateUnit, TimeUnit}
      import scala.jdk.CollectionConverters._
      val alloc = new RootAllocator()
      val sch = new ASchema(Seq(
        new Field("d", FieldType.notNullable(new ArrowType.Date(DateUnit.DAY)), null),
        new Field("t", FieldType.nullable(
          new ArrowType.Timestamp(TimeUnit.MILLISECOND, null)), null)).asJava)
      val root = VectorSchemaRoot.create(sch, alloc)
      val dv = root.getVector("d").asInstanceOf[DateDayVector]
      val tv = root.getVector("t").asInstanceOf[TimeStampMilliVector]
      dv.allocateNew(2); tv.allocateNew(2)
      dv.setSafe(0, 19000); tv.setSafe(0, 1700000000123L) // 2022-01-08, ms
      dv.setSafe(1, 0); tv.setNull(1)
      root.setRowCount(2)
      val ch = java.nio.channels.FileChannel.open(dtPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, ch)
      w.start(); w.writeBatch(); w.end(); w.close()
      ch.close(); root.close(); alloc.close()
    }
    val dtRows = ChDdl.execute(spark,
      s"SELECT CAST(d AS STRING) AS ds, CAST(t AS BIGINT) AS tu " +
        s"FROM file('$dtPath', 'Arrow') ORDER BY ds").collect()
    assert(dtRows(0).getString(0) == "1970-01-01" && dtRows(0).isNullAt(1),
      dtRows.toSeq.toString)
    assert(dtRows(1).getString(0) == "2022-01-08" &&
      dtRows(1).getLong(1) == 1700000000L, dtRows.toSeq.toString)
    // unsigned Arrow columns refuse with guidance (r17 review: their
    // boxed getObject types would corrupt/crash the InternalRow path)
    val unsPath = dir.resolve("uns.arrow")
    locally {
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.{UInt2Vector, VectorSchemaRoot}
      import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
      import scala.jdk.CollectionConverters._
      val alloc = new RootAllocator()
      val sch = new ASchema(Seq(new Field("u",
        FieldType.notNullable(new ArrowType.Int(16, false)), null)).asJava)
      val root = VectorSchemaRoot.create(sch, alloc)
      val uv = root.getVector("u").asInstanceOf[UInt2Vector]
      uv.allocateNew(2); uv.setSafe(0, 40000); uv.setSafe(1, 7)
      root.setRowCount(2)
      val ch = java.nio.channels.FileChannel.open(unsPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, ch)
      w.start(); w.writeBatch(); w.end(); w.close()
      ch.close(); root.close(); alloc.close()
    }
    val ue = intercept[Exception] {
      ChDdl.execute(spark,
        s"SELECT * FROM file('$unsPath', 'Arrow')").collect()
    }
    assert(ue.getMessage.contains("unsigned"), ue.getMessage)
  }

  test("SHOW CREATE re-emits CHECK constraints (full roundtrip)") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      """CREATE TABLE graft_conrt (k Int64, v Float64,
        |  CONSTRAINT pos CHECK v >= 0) ENGINE = MergeTree() ORDER BY (k)""".stripMargin)
    val stmt = ChDdl.execute(spark, "SHOW CREATE TABLE graft_conrt")
      .as[String].head()
    assert(stmt.contains("CONSTRAINT pos CHECK"), stmt)
    // the emitted DDL re-ingests with the constraint still enforced
    ChDdl.execute(spark, stmt.replace("graft_conrt", "graft_conrt2"))
    val e = intercept[Exception] {
      ChDdl.execute(spark, "INSERT INTO graft_conrt2 VALUES (1, -5.0)")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("pos")), e.toString)
  }
}
