package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** MsgPack as a FILE interchange format (reference:
  * registerFormats.cpp:41-42; the wire format is the public MessagePack
  * specification). The row framing is the reference's
  * MsgPackRowOutputFormat: one MessagePack VALUE per column, rows
  * back-to-back with no array wrapper or delimiter. Values use the
  * spec's minimal (canonical) encodings — fixint/uint8..64 and
  * int8..64 by magnitude, fixstr/str8..32, bin8..32, fixarray/
  * array16/32, float64, nil, bool — which is what the reference's
  * msgpack-c packer emits.
  *
  * MsgPack rows are positional and carry no column names, so adoption
  * needs the structure argument — the reference's own signature:
  * `file('x.msgpack', 'MsgPack', 'a Int64, b String')`. Date rides as
  * uint16 days, DateTime as uint32 unix seconds (the reference
  * serializes both as their underlying numbers); the declared
  * structure disambiguates them back. UInt64 rides uint64 ↔ the
  * DECIMAL(20,0) carrier. NULL writes nil — MessagePack has first-class
  * null, unlike proto3, so Nullable columns round-trip exactly.
  *
  * Same driver-side single-file contract as RowBinary (INTO OUTFILE /
  * file() adoption, streamed via toLocalIterator on the write side,
  * guarded by the adoption byte budget on the read side). */
object MsgPackFormat {

  // ---------- write ----------

  private def be(out: OutputStream, v: Long, n: Int): Unit = {
    var i = (n - 1) * 8
    while (i >= 0) { out.write(((v >>> i) & 0xff).toInt); i -= 8 }
  }

  private def writeLong(out: OutputStream, v: Long): Unit = {
    if (v >= 0) {
      if (v <= 0x7f) out.write(v.toInt)                      // pos fixint
      else if (v <= 0xff) { out.write(0xcc); out.write(v.toInt) }
      else if (v <= 0xffff) { out.write(0xcd); be(out, v, 2) }
      else if (v <= 0xffffffffL) { out.write(0xce); be(out, v, 4) }
      else { out.write(0xcf); be(out, v, 8) }
    } else {
      if (v >= -32) out.write(0xe0 | (v.toInt & 0x1f))       // neg fixint
      else if (v >= Byte.MinValue) { out.write(0xd0); out.write(v.toInt & 0xff) }
      else if (v >= Short.MinValue) { out.write(0xd1); be(out, v, 2) }
      else if (v >= Int.MinValue) { out.write(0xd2); be(out, v, 4) }
      else { out.write(0xd3); be(out, v, 8) }
    }
  }

  private def writeUnsigned64(out: OutputStream, bits: Long): Unit =
    if (bits >= 0) writeLong(out, bits)
    else { out.write(0xcf); be(out, bits, 8) } // top-bit-set uint64

  private def writeStr(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    if (b.length <= 31) out.write(0xa0 | b.length)
    else if (b.length <= 0xff) { out.write(0xd9); out.write(b.length) }
    else if (b.length <= 0xffff) { out.write(0xda); be(out, b.length.toLong, 2) }
    else { out.write(0xdb); be(out, b.length.toLong, 4) }
    out.write(b)
  }

  private def writeBin(out: OutputStream, b: Array[Byte]): Unit = {
    if (b.length <= 0xff) { out.write(0xc4); out.write(b.length) }
    else if (b.length <= 0xffff) { out.write(0xc5); be(out, b.length.toLong, 2) }
    else { out.write(0xc6); be(out, b.length.toLong, 4) }
    out.write(b)
  }

  private def writeValue(out: OutputStream, dt: DataType, v: Any): Unit = {
    if (v == null) { out.write(0xc0); return }
    dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        writeLong(out, v.asInstanceOf[Number].longValue)
      case DoubleType =>
        out.write(0xcb)
        be(out, java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 8)
      case FloatType =>
        out.write(0xca)
        be(out, (java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong
          & 0xffffffffL), 4)
      case BooleanType => out.write(if (v.asInstanceOf[Boolean]) 0xc3 else 0xc2)
      case StringType => writeStr(out, v.asInstanceOf[String])
      case BinaryType => writeBin(out, v.asInstanceOf[Array[Byte]])
      case DateType => // uint days (the reference's underlying-number form)
        val days = v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
        require(days >= 0L && days <= 0xffffL,
          s"MsgPack Date is uint16 epoch days [1970-01-01, 2149-06-06]; " +
            s"got $v — cast to DateTime64/String for out-of-range dates")
        writeLong(out, days)
      case TimestampType =>
        val secs = v.asInstanceOf[java.sql.Timestamp].getTime / 1000L
        require(secs >= 0L && secs <= 0xffffffffL,
          s"MsgPack DateTime is uint32 unix seconds [1970, 2106]; " +
            s"got $v — cast to String for out-of-range timestamps")
        writeLong(out, secs)
      case d: DecimalType if d.precision == 20 && d.scale == 0 =>
        val bi = (v match {
          case jd: java.math.BigDecimal => jd.toBigInteger
          case sd: scala.math.BigDecimal => sd.toBigInt.bigInteger
        }).mod(java.math.BigInteger.ONE.shiftLeft(64))
        writeUnsigned64(out, bi.longValue)
      case ArrayType(et, _) =>
        val elems: Seq[Any] = v match {
          case s: scala.collection.Seq[_] => s.toSeq
          case a: Array[_] => a.toSeq
        }
        if (elems.length <= 15) out.write(0x90 | elems.length)
        else if (elems.length <= 0xffff) {
          out.write(0xdc); be(out, elems.length.toLong, 2)
        } else { out.write(0xdd); be(out, elems.length.toLong, 4) }
        elems.foreach(e => writeValue(out, et, e))
      case other => throw new IllegalArgumentException(
        s"MsgPack: unsupported column type ${other.simpleString} — " +
          "primitives, Nullable, and Array(primitive) only " +
          "(interchange richer nesting via parquet)")
    }
  }

  /** Write df to a single local file, one MessagePack value per
    * column, rows back-to-back. Streamed via toLocalIterator. */
  def write(df: DataFrame, path: String): Unit = {
    val fields = df.schema.fields
    // validate the schema before touching disk
    def validate(dt: DataType): Unit = dt match {
      case LongType | IntegerType | ShortType | ByteType | DoubleType |
           FloatType | BooleanType | StringType | BinaryType | DateType |
           TimestampType => ()
      case d: DecimalType if d.precision == 20 && d.scale == 0 => ()
      case ArrayType(et, _) => validate(et)
      case other => throw new IllegalArgumentException(
        s"MsgPack: unsupported column type ${other.simpleString} — " +
          "primitives, Nullable, and Array(primitive) only " +
          "(interchange richer nesting via parquet)")
    }
    fields.foreach(f => validate(f.dataType))
    val out = new BufferedOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    try df.toLocalIterator().forEachRemaining { row =>
      var i = 0
      while (i < fields.length) {
        writeValue(out, fields(i).dataType,
          if (row.isNullAt(i)) null else row.get(i))
        i += 1
      }
    } finally out.close()
  }

  // ---------- read ----------

  private def beRead(in: DataInputStream, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      val b = in.read()
      if (b < 0) throw new EOFException("MsgPack: truncated value")
      v = (v << 8) | (b & 0xff)
      i += 1
    }
    v
  }

  /** One MessagePack value as a raw token: java.lang.Long (ints),
    * BigDecimal (uint64 > Long.Max), Double, Boolean, String,
    * Array[Byte], Vector[Any] (arrays), or null. */
  private def readValue(in: DataInputStream): Any = {
    val t = in.read()
    if (t < 0) throw new EOFException("eof")
    if (t <= 0x7f) return t.toLong                   // pos fixint
    if (t >= 0xe0) return (t - 256).toLong           // neg fixint
    if ((t & 0xf0) == 0xa0) {                        // fixstr
      val b = new Array[Byte](t & 0x1f); in.readFully(b); return new String(b, UTF_8)
    }
    if ((t & 0xf0) == 0x90) {                        // fixarray
      return Vector.fill(t & 0x0f)(readValue(in))
    }
    t match {
      case 0xc0 => null
      case 0xc2 => false
      case 0xc3 => true
      case 0xcc => beRead(in, 1)
      case 0xcd => beRead(in, 2)
      case 0xce => beRead(in, 4)
      case 0xcf =>
        val bits = beRead(in, 8)
        if (bits >= 0) bits
        else new java.math.BigDecimal(new java.math.BigInteger(
          java.lang.Long.toUnsignedString(bits)))
      case 0xd0 => beRead(in, 1).toByte.toLong
      case 0xd1 => beRead(in, 2).toShort.toLong
      case 0xd2 => beRead(in, 4).toInt.toLong
      case 0xd3 => beRead(in, 8)
      case 0xca => java.lang.Float.intBitsToFloat(beRead(in, 4).toInt)
      case 0xcb => java.lang.Double.longBitsToDouble(beRead(in, 8))
      // unsigned big-endian lengths, refused past the end of the file
      case 0xd9 | 0xda | 0xdb =>
        new String(ChBinary.readBytes(in, beRead(in, 1 << (t - 0xd9)), "MsgPack"), UTF_8)
      case 0xc4 | 0xc5 | 0xc6 => ChBinary.readBytes(in, beRead(in, 1 << (t - 0xc4)), "MsgPack")
      case 0xdc => Vector.fill(beRead(in, 2).toInt)(readValue(in))
      case 0xdd => Vector.fill(beRead(in, 4).toInt)(readValue(in))
      case other => throw new IllegalArgumentException(
        f"MsgPack: unsupported type byte 0x$other%02x (maps/ext are " +
          "out of the interchange scope — use parquet)")
    }
  }

  /** Coerce a raw token to the declared Spark type. */
  private def coerce(v: Any, dt: DataType, col: String): Any = {
    if (v == null) return null
    (dt, v) match {
      case (LongType, n: java.lang.Long) => n
      case (IntegerType, n: java.lang.Long) => n.intValue
      case (ShortType, n: java.lang.Long) => n.shortValue
      case (ByteType, n: java.lang.Long) => n.byteValue
      case (DoubleType, d: java.lang.Double) => d
      case (DoubleType, n: java.lang.Long) => n.doubleValue
      case (FloatType, f: java.lang.Float) => f
      case (BooleanType, b: java.lang.Boolean) => b
      case (StringType, s: String) => s
      case (BinaryType, b: Array[Byte]) => b
      case (BinaryType, s: String) => s.getBytes(UTF_8)
      case (DateType, n: java.lang.Long) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n))
      case (TimestampType, n: java.lang.Long) =>
        new java.sql.Timestamp(n * 1000L)
      case (d: DecimalType, n: java.lang.Long) if d.precision == 20 =>
        java.math.BigDecimal.valueOf(n)
      case (d: DecimalType, b: java.math.BigDecimal) if d.precision == 20 => b
      case (ArrayType(et, _), xs: Vector[_]) =>
        xs.map(x => coerce(x, et, col))
      case (want, got) => throw new IllegalArgumentException(
        s"MsgPack: column '$col' declared ${want.simpleString} but the " +
          s"file holds a ${got.getClass.getSimpleName} value")
    }
  }

  /** Adopt a MsgPack file with a declared structure (positional
    * format — the structure is the reference's third file() arg). */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val in = new DataInputStream(new BufferedInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))))
    try {
      val rows = Vector.newBuilder[Row]
      while (!ChBinary.atEnd(in)) {
        rows += Row.fromSeq(schema.fields.toIndexedSeq.map(f =>
          coerce(readValue(in), f.dataType, f.name)))
      }
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.result().asJava, schema)
    } finally in.close()
  }
}
