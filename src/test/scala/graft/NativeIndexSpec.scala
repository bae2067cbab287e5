package graft

import org.apache.spark.sql.functions._
import graft.sources.{NativeFormat, NativeIndex}

/** IndexForNativeFormat: sidecar byte layout pinned against
  * IndexForNativeFormat.cpp, the extract validation, and — the
  * ZOrderSpec measurement discipline — PROOF that a selective filter
  * decodes fewer blocks and a projection decodes fewer columns. */
class NativeIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = scratchDir("graft_nidx")

  test("sidecar bytes match the reference layout (varuints, strings, LE u64 marks)") {
    val out = dir.resolve("pin.native").toString
    NativeFormat.write(Seq((1L, "ab")).toDF("k", "s").coalesce(1), out)
    val idxBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(NativeIndex.sidecarPath(out)))
    // block: 2 cols, 1 row; col k Int64 at mark(2,0) — the data file
    // starts varuint(2) varuint(1) then k's name at offset 2; col s
    // String after name(1+1) + type("Int64" 1+5) + 8 data bytes = 18
    val want = Array[Int](
      0x02, 0x01,
      1, 'k', 5, 'I', 'n', 't', '6', '4',
      2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      1, 's', 16, 'N', 'u', 'l', 'l', 'a', 'b', 'l', 'e', '(',
      'S', 't', 'r', 'i', 'n', 'g', ')',
      18, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0
    ).map(_.toByte)
    assert(idxBytes.toSeq == want.toSeq)
    // parse-back agrees
    val idx = NativeIndex.read(NativeIndex.sidecarPath(out))
    assert(idx.length == 1 && idx.head.numRows == 1L)
    assert(idx.head.columns.map(c => (c.name, c.tpe, c.mark.offsetCompressed))
      == Seq(("k", "Int64", 2L), ("s", "Nullable(String)", 18L)))
  }

  test("extractForColumns validates like the reference (missing / duplicate columns)") {
    val b = NativeIndex.BlockIndex(5L, Vector(
      NativeIndex.ColumnLoc("a", "Int64", NativeIndex.Mark(0, 0)),
      NativeIndex.ColumnLoc("b", "String", NativeIndex.Mark(10, 0))))
    assert(b.extractForColumns(Set("b")).columns.map(_.name) == Seq("b"))
    val e1 = intercept[IllegalArgumentException] {
      b.extractForColumns(Set("a", "b", "nope"))
    }
    assert(e1.getMessage.contains("less than required"), e1.getMessage)
    val dup = NativeIndex.BlockIndex(5L, b.columns :+ b.columns.head)
    val e2 = intercept[IllegalArgumentException] {
      dup.extractForColumns(Set("a", "b"))
    }
    assert(e2.getMessage.contains("duplicate"), e2.getMessage)
  }

  test("a selective predicate decodes FEWER blocks; the result is still exact") {
    // 1000 rows in 10 blocks of 100; the predicate hits rows 437..449,
    // all inside block 4 — 9 of 10 blocks must never decode past the
    // predicate column
    val df = spark.range(1000).select(
      col("id").as("k"),
      concat(lit("v"), col("id")).as("s"),
      (col("id") * 3).cast("double").as("v"))
    val out = dir.resolve("prune.native").toString
    NativeFormat.write(df.coalesce(1).orderBy("k"), out, None, blockRows = 100)
    val idx = NativeIndex.read(NativeIndex.sidecarPath(out))
    assert(idx.length == 10 && idx.forall(_.numRows == 100L))

    val (got, stats) = NativeFormat.readIndexed(spark, out,
      Seq("k", "s", "v"),
      predicate = Some(("k", v => { val k = v.asInstanceOf[Long]; k >= 437 && k < 450 })))
    assert(stats.blocksTotal == 10)
    assert(stats.blocksDecoded == 1,
      s"expected 1 fully-decoded block, got ${stats.blocksDecoded}")
    val rows = got.orderBy("k").collect()
    assert(rows.length == 13)
    assert(rows.head.getLong(0) == 437L && rows.last.getLong(0) == 449L)
    assert(rows.head.getString(1) == "v437" && rows.head.getDouble(2) == 1311.0)

    // all-pruned: zero decoded blocks, empty frame, schema intact
    val (none, s2) = NativeFormat.readIndexed(spark, out, Seq("k", "v"),
      predicate = Some(("k", _ => false)))
    assert(s2.blocksDecoded == 0 && none.count() == 0)
    assert(none.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("projection decodes only the required columns' bytes") {
    val df = spark.range(500).select(
      col("id").as("k"),
      concat(lit("x"), col("id")).as("s"),
      (col("id") + 7).as("w"))
    val out = dir.resolve("proj.native").toString
    NativeFormat.write(df.coalesce(1).orderBy("k"), out, None, blockRows = 100)
    val (got, stats) = NativeFormat.readIndexed(spark, out, Seq("w"))
    // 5 blocks x 1 required column, no predicate
    assert(stats.columnsDecoded == 5L, stats.toString)
    assert(got.agg(sum("w")).collect().head.getLong(0)
      == (0 until 500).map(_ + 7L).sum)
    // and the indexed read agrees with the sequential full read
    val full = NativeFormat.read(spark, out)
      .select("w").as[Long].collect().sorted.toSeq
    assert(got.as[Long].collect().sorted.toSeq == full)
  }

  test("index name/type verification catches a corrupted index (reference diagnostics)") {
    val out = dir.resolve("corrupt.native").toString
    NativeFormat.write(Seq((1L, "a")).toDF("k", "s").coalesce(1), out)
    val p = NativeIndex.sidecarPath(out)
    val idx = NativeIndex.read(p)
    // point column k's mark at column s's location
    val bad = idx.map(b => b.copy(columns = b.columns.map(c =>
      if (c.name == "k") c.copy(mark = b.columns(1).mark) else c)))
    NativeIndex.write(p, bad)
    val e = intercept[Exception] {
      NativeFormat.readIndexed(spark, out, Seq("k"))
    }
    assert(e.getMessage.contains("corrupted index or data"), e.getMessage)
  }
}
