package graft

import graft.functions.{ChDdl, GraftFunctions}

/** Protobuf file interchange: byte-level framing pinned against the
  * wire format the reference reads/writes (ProtobufReader.cpp:17-25
  * wire types, varint/zigzag), the INTO OUTFILE ⇄ file() round-trip,
  * proto3 default-omission semantics, unknown-field skipping, and the
  * RawBLOB whole-file-as-one-value format. */
class ProtobufSpec extends SparkSpec {

  private lazy val dir = scratchDir("graft_pb")

  private def writeSchema(name: String, text: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  private def bytesOf(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  test("wire bytes pinned: varint tags, zigzag, LE doubles, length-delimited strings") {
    GraftFunctions.ensureRegistered(spark)
    val schema = writeSchema("pin.proto",
      """syntax = "proto3";
        |message Pin {
        |  int64 k = 1;       // varint
        |  string s = 2;      // length-delimited
        |  double v = 3;      // 64-bit LE
        |}
        |""".stripMargin)
    val out = dir.resolve("pin.pb").toString
    spark.sql("SELECT 150L AS k, 'testing' AS s, CAST(1.0 AS DOUBLE) AS v")
      .createOrReplaceTempView("graft_pb_pin")
    ChDdl.execute(spark,
      s"SELECT k, s, v FROM graft_pb_pin INTO OUTFILE '$out' " +
        s"FORMAT Protobuf SETTINGS format_schema = '$schema:Pin'")
    // hand-derived: len 21, then 08 96 01 (field 1 varint 150 — the
    // protobuf documentation's own canonical example), 12 07 "testing",
    // 19 + LE 1.0
    val want = Array[Int](0x15,
      0x08, 0x96, 0x01,
      0x12, 0x07, 't', 'e', 's', 't', 'i', 'n', 'g',
      0x19, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xf0, 0x3f
    ).map(_.toByte)
    assert(bytesOf(out).toSeq == want.toSeq)

    // zigzag pin: sint64 -1 encodes as varint 1, sint64 1 as 2
    val zs = writeSchema("zig.proto", "message Z { sint64 z = 1; }")
    val outZ = dir.resolve("zig.pb").toString
    spark.sql("SELECT -1L AS z").createOrReplaceTempView("graft_pb_zig")
    ChDdl.execute(spark,
      s"SELECT z FROM graft_pb_zig INTO OUTFILE '$outZ' " +
        s"FORMAT Protobuf SETTINGS format_schema = '$zs:Z'")
    assert(bytesOf(outZ).toSeq == Seq[Byte](0x02, 0x08, 0x01))
  }

  test("proto3 defaults and NULLs are omitted on write and read back as defaults") {
    GraftFunctions.ensureRegistered(spark)
    val schema = writeSchema("dflt.proto",
      """message D {
        |  int64 k = 1;
        |  string s = 2;
        |  bool b = 3;
        |}""".stripMargin)
    val out = dir.resolve("dflt.pb").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (0L, CAST(NULL AS STRING), false),
        |  (5L, '', true)
        |AS t(k, s, b)""".stripMargin).createOrReplaceTempView("graft_pb_dflt")
    ChDdl.execute(spark,
      s"SELECT k, s, b FROM graft_pb_dflt INTO OUTFILE '$out' " +
        s"FORMAT Protobuf SETTINGS format_schema = '$schema:D'")
    // row 1 is all defaults → empty message, bare 0x00 length;
    // row 2 writes k=5 and b=true, s='' still omitted
    assert(bytesOf(out).toSeq ==
      Seq[Byte](0x00, 0x04, 0x08, 0x05, 0x18, 0x01))
    spark.conf.set("spark.graft.format_schema", s"$schema:D")
    try {
      val back = ChDdl.execute(spark,
        s"SELECT * FROM file('$out', 'Protobuf') ORDER BY k").collect()
      assert(back.length == 2)
      assert(back(0).getLong(0) == 0L && back(0).getString(1) == "" &&
        !back(0).getBoolean(2))
      assert(back(1).getLong(0) == 5L && back(1).getString(1) == "" &&
        back(1).getBoolean(2))
    } finally spark.conf.unset("spark.graft.format_schema")
  }

  test("full scalar surface round-trips: signed/unsigned/zigzag/fixed, bytes, repeated") {
    GraftFunctions.ensureRegistered(spark)
    val schema = writeSchema("all.proto",
      """syntax = "proto3";
        |// the whole supported scalar surface
        |message All {
        |  int32 a = 1;
        |  int64 b = 2;
        |  uint32 c = 3;
        |  uint64 d = 4;
        |  sint32 e = 5;
        |  sint64 f = 6;
        |  fixed32 g = 7;
        |  fixed64 h = 8;
        |  sfixed32 i = 9;
        |  sfixed64 j = 10;
        |  float x = 11;
        |  double y = 12;
        |  bool ok = 13;
        |  string s = 14;
        |  bytes raw = 15;
        |  repeated int64 xs = 16;
        |  repeated string ss = 17;
        |}""".stripMargin)
    val out = dir.resolve("all.pb").toString
    spark.sql(
      """SELECT
        |  -7 AS a, -8L AS b, 4294967295L AS c,
        |  CAST('18446744073709551615' AS DECIMAL(20,0)) AS d,
        |  -9 AS e, -10L AS f, 4294967295L AS g,
        |  CAST('18446744073709551615' AS DECIMAL(20,0)) AS h,
        |  -11 AS i, -12L AS j,
        |  CAST(1.5 AS FLOAT) AS x, CAST(-2.25 AS DOUBLE) AS y,
        |  true AS ok, 'héllo' AS s, X'DEADBEEF' AS raw,
        |  array(1L, -2L, 300L) AS xs, array('p', 'q') AS ss
        |""".stripMargin).createOrReplaceTempView("graft_pb_all")
    ChDdl.execute(spark,
      s"SELECT * FROM graft_pb_all INTO OUTFILE '$out' " +
        s"FORMAT Protobuf SETTINGS format_schema = '$schema:All'")
    spark.conf.set("spark.graft.format_schema", s"$schema:All")
    try {
      val back = ChDdl.execute(spark,
        s"SELECT * FROM file('$out', 'Protobuf')").collect()
      assert(back.length == 1)
      val r = back(0)
      assert(r.getInt(0) == -7 && r.getLong(1) == -8L)
      assert(r.getLong(2) == 4294967295L)
      assert(r.getDecimal(3).toBigInteger.toString == "18446744073709551615")
      assert(r.getInt(4) == -9 && r.getLong(5) == -10L)
      assert(r.getLong(6) == 4294967295L)
      assert(r.getDecimal(7).toBigInteger.toString == "18446744073709551615")
      assert(r.getInt(8) == -11 && r.getLong(9) == -12L)
      assert(r.getFloat(10) == 1.5f && r.getDouble(11) == -2.25)
      assert(r.getBoolean(12) && r.getString(13) == "héllo")
      assert(r.getAs[Array[Byte]](14).toSeq ==
        Seq(0xde, 0xad, 0xbe, 0xef).map(_.toByte))
      assert(r.getSeq[Long](15) == Seq(1L, -2L, 300L))
      assert(r.getSeq[String](16) == Seq("p", "q"))
    } finally spark.conf.unset("spark.graft.format_schema")
  }

  test("ProtobufSingle writes one undelimited message; multi-row refuses") {
    GraftFunctions.ensureRegistered(spark)
    val schema = writeSchema("one.proto", "message One { int64 k = 1; string s = 2; }")
    val out = dir.resolve("one.pb").toString
    spark.sql("SELECT 3L AS k, 'x' AS s").createOrReplaceTempView("graft_pb_one")
    ChDdl.execute(spark,
      s"SELECT k, s FROM graft_pb_one INTO OUTFILE '$out' " +
        s"FORMAT ProtobufSingle SETTINGS format_schema = '$schema:One'")
    // no length prefix: starts straight at the field-1 tag
    assert(bytesOf(out).toSeq == Seq[Byte](0x08, 0x03, 0x12, 0x01, 'x'))
    spark.conf.set("spark.graft.format_schema", s"$schema:One")
    try {
      val back = ChDdl.execute(spark,
        s"SELECT * FROM file('$out', 'ProtobufSingle')").collect()
      assert(back.length == 1 && back(0).getLong(0) == 3L &&
        back(0).getString(1) == "x")
    } finally spark.conf.unset("spark.graft.format_schema")
    val e = intercept[Exception] {
      ChDdl.execute(spark,
        "SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS t(k, s) " +
          s"INTO OUTFILE '${dir.resolve("two.pb")}' " +
          s"FORMAT ProtobufSingle SETTINGS format_schema = '$schema:One'")
    }
    assert(e.getMessage.contains("ONE message"), e.getMessage)
  }

  test("unknown fields are skipped by wire type; last-one-wins for duplicates") {
    GraftFunctions.ensureRegistered(spark)
    // write with the WIDE message, adopt with a NARROW one missing
    // fields 2 (string) and 3 (double) — the reader must skip them
    val wide = writeSchema("wide.proto",
      "message W { int64 k = 1; string s = 2; double v = 3; }")
    val narrow = writeSchema("narrow.proto", "message N { int64 k = 1; }")
    val out = dir.resolve("wide.pb").toString
    spark.sql("SELECT 9L AS k, 'skipme' AS s, CAST(2.5 AS DOUBLE) AS v")
      .createOrReplaceTempView("graft_pb_wide")
    ChDdl.execute(spark,
      s"SELECT k, s, v FROM graft_pb_wide INTO OUTFILE '$out' " +
        s"FORMAT Protobuf SETTINGS format_schema = '$wide:W'")
    spark.conf.set("spark.graft.format_schema", s"$narrow:N")
    try {
      val back = ChDdl.execute(spark,
        s"SELECT * FROM file('$out', 'Protobuf')").collect()
      assert(back.length == 1 && back(0).getLong(0) == 9L)
      assert(back(0).schema.fieldNames.toSeq == Seq("k"))
    } finally spark.conf.unset("spark.graft.format_schema")
    // duplicate singular field: proto3 says last one wins
    val dup = Array[Int](0x04, 0x08, 0x01, 0x08, 0x07).map(_.toByte)
    val dupPath = dir.resolve("dup.pb")
    java.nio.file.Files.write(dupPath, dup)
    val got = graft.sources.ProtobufFormat.read(spark, dupPath.toString,
      s"$narrow:N", single = false).collect()
    assert(got.length == 1 && got(0).getLong(0) == 7L)
  }

  test("schema errors refuse with guidance: missing setting, nested message, bad type, unbound column") {
    GraftFunctions.ensureRegistered(spark)
    val schema = writeSchema("err.proto", "message E { int64 k = 1; }")
    val out = dir.resolve("err.pb").toString
    spark.sql("SELECT 1L AS k").createOrReplaceTempView("graft_pb_err")
    val e1 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        s"SELECT k FROM graft_pb_err INTO OUTFILE '$out' FORMAT Protobuf")
    }
    assert(e1.getMessage.contains("format_schema"), e1.getMessage)
    val nested = writeSchema("nested.proto",
      "message Outer { message Inner { int64 a = 1; } Inner i = 1; }")
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.ProtobufFormat.loadSchema(s"$nested:Outer")
    }
    assert(e2.getMessage.contains("nested"), e2.getMessage)
    val mapT = writeSchema("mapt.proto",
      "message M { map_like_unknown_t x = 1; }")
    val e3 = intercept[IllegalArgumentException] {
      graft.sources.ProtobufFormat.loadSchema(s"$mapT:M")
    }
    assert(e3.getMessage.contains("unsupported field type"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "SELECT 1L AS nosuch INTO OUTFILE " +
          s"'${dir.resolve("e4.pb")}' FORMAT Protobuf " +
          s"SETTINGS format_schema = '$schema:E'")
    }
    assert(e4.getMessage.contains("no field"), e4.getMessage)
    // .proto default extension appended when the ref has none
    val bare = schema.stripSuffix(".proto")
    assert(graft.sources.ProtobufFormat.parseSchemaRef(s"$bare:E")
      ._1.toString.endsWith("err.proto"))
  }

  test("RawBLOB: whole file is one binary value, both directions; m01's media shape") {
    GraftFunctions.ensureRegistered(spark)
    val payload = Array.tabulate[Byte](300)(i => ((i * 7) % 251).toByte)
    val blobIn = dir.resolve("media.bin")
    java.nio.file.Files.write(blobIn, payload)
    // adopt: one row, one binary column named raw_blob
    val got = ChDdl.execute(spark,
      s"SELECT length(raw_blob) AS n FROM file('$blobIn', 'RawBLOB')")
      .collect()
    assert(got.length == 1 && got(0).getInt(0) == 300)
    val full = ChDdl.execute(spark,
      s"SELECT raw_blob FROM file('$blobIn', 'RawBLOB')").collect()
    assert(full(0).getAs[Array[Byte]](0).toSeq == payload.toSeq)
    // write side: single column concatenated raw, byte-identical
    val out = dir.resolve("media_out.bin").toString
    ChDdl.execute(spark,
      s"SELECT raw_blob FROM file('$blobIn', 'RawBLOB') " +
        s"INTO OUTFILE '$out' FORMAT RawBLOB")
    assert(bytesOf(out).toSeq == payload.toSeq)
    // multi-column refusal
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "SELECT 1L AS a, 2L AS b INTO OUTFILE " +
          s"'${dir.resolve("two.bin")}' FORMAT RawBLOB")
    }
    assert(e.getMessage.contains("ONE column"), e.getMessage)
  }

  test("hostile bytes: a negative unknown-field length is a loud error, not a hang") {
    // field 15, wire type LEN, length varint 0xFFFFFFFA (negative as
    // Int): the old skip() moved pos BACKWARDS and looped forever
    val narrow = writeSchema("hostile.proto", "message H { int64 k = 1; }")
    val evil = Array[Int](0x06, 0x7A, 0xFA, 0xFF, 0xFF, 0xFF, 0x0F)
      .map(_.toByte)
    val pth = dir.resolve("evil.pb")
    java.nio.file.Files.write(pth, evil)
    val e = intercept[Exception] {
      graft.sources.ProtobufFormat.read(spark, pth.toString,
        s"$narrow:H", single = false).collect()
    }
    assert(e.getMessage.contains("overrun") ||
      e.getMessage.contains("truncated"), e.getMessage)
    // truncated fixed-width unknown field: loud, not a silent accept
    val evil2 = Array[Int](0x03, 0x79, 0x01, 0x02).map(_.toByte) // wt=1 needs 8
    val pth2 = dir.resolve("evil2.pb")
    java.nio.file.Files.write(pth2, evil2)
    val e2 = intercept[Exception] {
      graft.sources.ProtobufFormat.read(spark, pth2.toString,
        s"$narrow:H", single = false).collect()
    }
    assert(e2.getMessage.contains("truncated"), e2.getMessage)
  }

  test("ProtobufSingle: zero-row writes refuse; an empty file reads as zero rows") {
    GraftFunctions.ensureRegistered(spark)
    val schema = writeSchema("empty1.proto", "message E1 { int64 k = 1; }")
    val e = intercept[IllegalArgumentException] {
      ChDdl.execute(spark,
        "SELECT 1L AS k WHERE 1 = 0 INTO OUTFILE " +
          s"'${dir.resolve("zero.pb")}' FORMAT ProtobufSingle " +
          s"SETTINGS format_schema = '$schema:E1'")
    }
    assert(e.getMessage.contains("ONE message"), e.getMessage)
    val emptyF = dir.resolve("empty.pb")
    java.nio.file.Files.write(emptyF, Array.empty[Byte])
    val got = graft.sources.ProtobufFormat.read(spark, emptyF.toString,
      s"$schema:E1", single = true)
    assert(got.count() == 0, "empty file must not fabricate a defaults row")
  }

  test("driver-side adopters refuse past the adoption byte budget with guidance") {
    GraftFunctions.ensureRegistered(spark)
    val big = dir.resolve("big.bin")
    java.nio.file.Files.write(big, Array.fill[Byte](4096)(7))
    spark.conf.set("spark.graft.adhoc_max_bytes", "1024")
    try {
      val e = intercept[IllegalArgumentException] {
        ChDdl.execute(spark, s"SELECT * FROM file('$big', 'RawBLOB')")
      }
      assert(e.getMessage.contains("budget") &&
        e.getMessage.contains("parquet"), e.getMessage)
      // under the budget it reads fine
      spark.conf.set("spark.graft.adhoc_max_bytes", "65536")
      assert(ChDdl.execute(spark,
        s"SELECT length(raw_blob) AS n FROM file('$big', 'RawBLOB')")
        .collect()(0).getInt(0) == 4096)
    } finally spark.conf.unset("spark.graft.adhoc_max_bytes")
  }
}
