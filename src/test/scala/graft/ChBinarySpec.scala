package graft

import graft.functions.{ChDdl, GraftFunctions}
import graft.sources.{NativeFormat, NativeIndex, RowBinary}

/** The shared ClickHouse binary codec as the file readers see it:
  * unsigned narrow columns the reference writes (graft never does)
  * adopt at their own widths, and hostile lengths in RowBinary,
  * Native and `.idx` files fail with a message naming the format,
  * never an allocation the file cannot back. All inputs are
  * hand-built bytes. */
class ChBinarySpec extends SparkSpec {

  private lazy val dir = scratchDir("graft_chbin")

  private def file(name: String, hex: String): String = {
    val clean = hex.filterNot(_.isWhitespace)
    val bytes = clean.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  private def str(s: String): String =
    f"${s.length}%02x" + s.map(c => f"${c.toInt}%02x").mkString

  test("Native adoption reads UInt8/UInt16/UInt32 at their own widths, bare, Nullable and in arrays") {
    GraftFunctions.ensureRegistered(spark)
    // one revision-0 block, 5 columns × 2 rows, laid out as the
    // reference's NativeWriter emits them
    val p = file("unsigned.native",
      "05 02" +
        str("a") + str("UInt8") + "c8 07" +
        str("b") + str("UInt16") + "ffff 0100" +
        str("c") + str("UInt32") + "07000000 ffffffff" +
        str("d") + str("Nullable(UInt16)") + "01 00" + "0000 409c" +
        str("e") + str("Array(UInt8)") +
        "0200000000000000 0200000000000000" + "01 ff")
    val df = ChDdl.execute(spark, s"SELECT * FROM file('$p', 'Native') ORDER BY c")
    import org.apache.spark.sql.types._
    assert(df.schema.map(f => (f.name, f.dataType, f.nullable)) == Seq(
      ("a", ShortType, false), ("b", IntegerType, false),
      ("c", LongType, false), ("d", IntegerType, true),
      ("e", ArrayType(ShortType, containsNull = false), false)))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getShort(0) == 200 && rows(0).getInt(1) == 65535 &&
      rows(0).getLong(2) == 7L && rows(0).isNullAt(3) &&
      rows(0).getSeq[Short](4) == Seq(1.toShort, 255.toShort), rows(0))
    assert(rows(1).getShort(0) == 7 && rows(1).getInt(1) == 1 &&
      rows(1).getLong(2) == 4294967295L && rows(1).getInt(3) == 40000 &&
      rows(1).getSeq[Short](4).isEmpty, rows(1))
  }

  // an 11-byte varint (ten continuation bytes), a varint that encodes
  // -1, and a length of 100,000 in a file of a few dozen bytes
  private val longVarint = "80" * 10 + "01"
  private val minusOne = "ff" * 9 + "01"
  private val past = "a08d06" // 100000

  private def refuses(what: String, read: => Any): Unit = {
    val e = intercept[IllegalArgumentException](read)
    assert(e.getMessage.contains(what), e.getMessage)
  }

  test("RowBinary adoption refuses an overlong varint, a negative length and a length past the file") {
    val header = "01" + str("s") + str("String")
    refuses("RowBinary: varint longer than 10 bytes",
      RowBinary.read(spark, file("long.bin", longVarint + str("s"))))
    refuses("RowBinary: negative string length",
      RowBinary.read(spark, file("neg.bin", "01" + minusOne + "73")))
    refuses("RowBinary: string length 100000 overruns the file",
      RowBinary.read(spark, file("past.bin", "01" + past + "73")))
    // the same three inside a row value
    refuses("RowBinary: varint longer than 10 bytes",
      RowBinary.read(spark, file("long_v.bin", header + longVarint)))
    refuses("RowBinary: negative string length",
      RowBinary.read(spark, file("neg_v.bin", header + minusOne)))
    refuses("RowBinary: string length 100000 overruns the file",
      RowBinary.read(spark, file("past_v.bin", header + past + "6162")))
  }

  test("Native adoption refuses an overlong varint, a negative length and a length past the file") {
    val block = "01 01" + str("s") + str("String")
    refuses("Native: varint longer than 10 bytes",
      NativeFormat.read(spark, file("long.native", longVarint + "01")))
    refuses("Native: negative string length",
      NativeFormat.read(spark, file("neg.native", "01 01" + minusOne)))
    refuses("Native: string length 100000 overruns the file",
      NativeFormat.read(spark, file("past.native", block + past + "6162")))
  }

  test("the Native index refuses an overlong varint, a negative length and a length past the file") {
    val mark = "00" * 16
    refuses("Native index: varint longer than 10 bytes",
      NativeIndex.read(file("long.idx", longVarint + "01" + str("k") +
        str("Int64") + mark)))
    refuses("Native index: negative string length",
      NativeIndex.read(file("neg.idx", "01 01" + minusOne + mark)))
    refuses("Native index: string length 100000 overruns the file",
      NativeIndex.read(file("past.idx", "01 01" + str("k") + past + "496e74" +
        mark)))
  }
}
