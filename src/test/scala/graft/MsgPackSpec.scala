package graft

import graft.functions.{ChDdl, GraftFunctions}

/** MsgPack file interchange: wire bytes pinned against the public
  * MessagePack spec's canonical encodings, the INTO OUTFILE ⇄
  * file(path, 'MsgPack', structure) round-trip, NULL fidelity, and
  * the positional-format refusals. */
class MsgPackSpec extends SparkSpec {

  private lazy val dir = scratchDir("graft_mp")

  private def bytesOf(p: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

  test("wire bytes pinned: fixint/uint8/negfixint, fixstr, float64, nil, bool, fixarray") {
    GraftFunctions.ensureRegistered(spark)
    val out = dir.resolve("pin.msgpack").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (5L, 150L, -1L, 'hi', CAST(1.0 AS DOUBLE), true,
        |   CAST(NULL AS STRING), array(1L, 2L))
        |AS t(a, b, c, s, v, ok, nul, xs)""".stripMargin)
      .createOrReplaceTempView("graft_mp_pin")
    ChDdl.execute(spark,
      s"SELECT * FROM graft_mp_pin INTO OUTFILE '$out' FORMAT MsgPack")
    val want = Array[Int](
      0x05,             // 5 = positive fixint
      0xcc, 0x96,       // 150 = uint8
      0xff,             // -1 = negative fixint
      0xa2, 'h', 'i',   // fixstr len 2
      0xcb, 0x3f, 0xf0, 0, 0, 0, 0, 0, 0, // float64 1.0
      0xc3,             // true
      0xc0,             // nil
      0x92, 0x01, 0x02  // fixarray [1, 2]
    ).map(_.toByte)
    assert(bytesOf(out).toSeq == want.toSeq)
  }

  test("round-trip through file(path, 'MsgPack', structure): ints, uint64, NULLs, dates, arrays") {
    GraftFunctions.ensureRegistered(spark)
    val out = dir.resolve("rt.msgpack").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, CAST(NULL AS STRING), CAST(-2.25 AS DOUBLE),
        |   CAST('18446744073709551615' AS DECIMAL(20,0)),
        |   DATE '2024-03-15', TIMESTAMP '2024-03-15 13:45:00',
        |   array(7, -8, 300)),
        |  (2L, 'héllo', CAST(0.5 AS DOUBLE),
        |   CAST(0 AS DECIMAL(20,0)),
        |   DATE '1970-01-02', TIMESTAMP '1970-01-01 00:00:01',
        |   array(CAST(NULL AS INT)))
        |AS t(k, s, v, u, d, ts, xs)""".stripMargin)
      .createOrReplaceTempView("graft_mp_rt")
    ChDdl.execute(spark,
      s"SELECT * FROM graft_mp_rt ORDER BY k INTO OUTFILE '$out' FORMAT MsgPack")
    val back = ChDdl.execute(spark,
      s"SELECT * FROM file('$out', 'MsgPack', 'k Int64, " +
        "s Nullable(String), v Float64, u UInt64, d Date, " +
        "ts DateTime, xs Array(Nullable(Int32))') ORDER BY k").collect()
    assert(back.length == 2)
    val r0 = back(0)
    assert(r0.getLong(0) == 1L && r0.isNullAt(1) && r0.getDouble(2) == -2.25)
    assert(r0.getDecimal(3).toBigInteger.toString == "18446744073709551615")
    assert(r0.getDate(4).toString == "2024-03-15")
    assert(r0.getTimestamp(5).toString.startsWith("2024-03-15 13:45:00"))
    assert(r0.getSeq[Int](6) == Seq(7, -8, 300))
    val r1 = back(1)
    assert(r1.getString(1) == "héllo" &&
      r1.getDecimal(3).toBigInteger.intValue == 0)
    assert(r1.getSeq[Any](6) == Seq(null))
  }

  test("two adoptions of one file with different structures do not collide") {
    GraftFunctions.ensureRegistered(spark)
    val out = dir.resolve("twostruct.msgpack").toString
    spark.sql("SELECT 5L AS k").createOrReplaceTempView("graft_mp_2s")
    ChDdl.execute(spark,
      s"SELECT k FROM graft_mp_2s INTO OUTFILE '$out' FORMAT MsgPack")
    // same file, two structures in ONE query: the adoption views must
    // be distinct (the view name hashes the structure too) — a
    // collision would make the first branch resolve against the
    // second structure's column name and fail analysis
    val ok = ChDdl.execute(spark,
      s"SELECT a FROM file('$out', 'MsgPack', 'a Int64') " +
        s"UNION ALL SELECT b FROM file('$out', 'MsgPack', 'b Int64')")
      .collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(5L, 5L))
  }

  test("INSERT INTO FUNCTION file(...) writes MsgPack/RawBLOB single files too") {
    GraftFunctions.ensureRegistered(spark)
    val out = dir.resolve("insfn.msgpack")
    spark.sql("SELECT * FROM VALUES (1L, 'a'), (2L, CAST(NULL AS STRING)) AS t(k, s)")
      .createOrReplaceTempView("graft_mp_ifn")
    ChDdl.execute(spark,
      s"INSERT INTO FUNCTION file('$out', 'MsgPack') " +
        "SELECT k, s FROM graft_mp_ifn ORDER BY k")
    val back = ChDdl.execute(spark,
      s"SELECT * FROM file('$out', 'MsgPack', 'k Int64, s Nullable(String)') " +
        "ORDER BY k").collect()
    assert(back.length == 2 && back(0).getString(1) == "a" && back(1).isNullAt(1))
    // a failing write leaves no partial file behind
    val bad = dir.resolve("insfail.msgpack")
    intercept[Exception] {
      ChDdl.execute(spark,
        s"INSERT INTO FUNCTION file('$bad', 'MsgPack') " +
          "SELECT CASE WHEN id < 2 THEN id ELSE CAST(raise_error('boom') " +
          "AS BIGINT) END AS v FROM range(10)")
    }
    assert(!java.nio.file.Files.exists(bad), "partial file survived")
  }

  test("hostile str/bin lengths refuse with an IllegalArgumentException naming MsgPack") {
    GraftFunctions.ensureRegistered(spark)
    // hand-built files: str32 claiming 0xffffffff and 0x7fffffff bytes,
    // str8 claiming 5 with 2 present, bin32 claiming 0xffffffff, bin16
    // claiming 256 with 1 present
    val cases = Seq(
      "str32 -1" -> Seq(0xdb, 0xff, 0xff, 0xff, 0xff, 0x61, 0x62),
      "str32 2^31-1" -> Seq(0xdb, 0x7f, 0xff, 0xff, 0xff, 0x61, 0x62),
      "str8 short" -> Seq(0xd9, 0x05, 0x61, 0x62),
      "bin32 -1" -> Seq(0xc6, 0xff, 0xff, 0xff, 0xff),
      "bin16 short" -> Seq(0xc5, 0x01, 0x00, 0x00))
    cases.zipWithIndex.foreach { case ((label, bytes), k) =>
      val f = dir.resolve(s"hostile$k.msgpack")
      java.nio.file.Files.write(f, bytes.map(_.toByte).toArray)
      val e = intercept[IllegalArgumentException] {
        ChDdl.execute(spark, s"SELECT * FROM file('$f', 'MsgPack', 's String')")
      }
      assert(e.getMessage.contains("MsgPack"), s"$label: ${e.getMessage}")
    }
  }

  test("positional format: adoption without structure refuses with the signature") {
    GraftFunctions.ensureRegistered(spark)
    val out = dir.resolve("ns.msgpack").toString
    spark.sql("SELECT 1L AS k").createOrReplaceTempView("graft_mp_ns")
    ChDdl.execute(spark,
      s"SELECT k FROM graft_mp_ns INTO OUTFILE '$out' FORMAT MsgPack")
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark, s"SELECT * FROM file('$out', 'MsgPack')")
    }
    assert(e.getMessage.contains("structure"), e.getMessage)
    // declared/actual type mismatch is a clear message, not a cast blowup
    val e2 = intercept[Exception] {
      ChDdl.execute(spark,
        s"SELECT * FROM file('$out', 'MsgPack', 'k String')").collect()
    }
    assert(e2.getMessage.contains("declared"), e2.getMessage)
  }
}
