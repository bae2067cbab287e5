package graft.sources

import java.io.{DataInputStream, EOFException, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.types._

/** The ClickHouse binary value encoding, written once for every file
  * format that lays values out this way: [[RowBinary]] (row-major),
  * [[NativeFormat]] (column-major blocks) and [[NativeIndex]] (the
  * `.idx` sidecar). The reference likewise has one serialization per
  * data type (src/DataTypes/Serializations/) that both formats call;
  * each format keeps only its framing. Layout per the public format
  * spec: little-endian fixed-width numerics, LEB128-varint-length
  * UTF-8 strings, UInt16-days Dates, UInt32-seconds DateTimes.
  *
  * Readers take the format's name so a hostile file fails with a
  * message naming it: a varint longer than 10 bytes, a negative
  * length, and a length past the end of the file are refused before
  * anything is allocated for them. */
object ChBinary {

  /** The engine's full-range UInt64 carrier (matches ChDdl). */
  private val UInt64Carrier = DecimalType(20, 0)
  private val U64Mod = java.math.BigInteger.ONE.shiftLeft(64)

  // ---------- CH type name ↔ Spark type ----------

  /** Spark type → the CH primitive it writes as. */
  private val written: Map[DataType, String] = Map(
    StringType -> "String", LongType -> "Int64", IntegerType -> "Int32",
    ShortType -> "Int16", ByteType -> "Int8", DoubleType -> "Float64",
    FloatType -> "Float32", BooleanType -> "Bool", DateType -> "Date",
    TimestampType -> "DateTime",
    // NTZ (parquet timestamp[us] unadjusted) writes as DateTime too:
    // sessions pin timeZone=UTC, so wall time ≡ instant and the read
    // side's TimestampType is value-identical
    TimestampNTZType -> "DateTime",
    UInt64Carrier -> "UInt64")

  /** CH primitive → its Spark carrier: the written names, plus the
    * unsigned narrow types the reference writes, each widened to the
    * next signed width so every value fits. */
  private val carriers: Map[String, DataType] =
    (written - TimestampNTZType).map(_.swap) ++
      Map("UInt32" -> LongType, "UInt16" -> IntegerType, "UInt8" -> ShortType)

  /** None outside the flat primitive set: each format refuses in its
    * own words. */
  def chName(dt: DataType): Option[String] = written.get(dt)

  def sparkType(ch: String): Option[DataType] = carriers.get(ch)

  // ---------- write ----------

  def writeVarint(out: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  def writeString(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeVarint(out, b.length.toLong)
    out.write(b)
  }

  def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** One non-null value of a type [[chName]] accepts. */
  def writeValue(out: OutputStream, dt: DataType, v: Any): Unit =
    dt match {
      case StringType => writeString(out, v.asInstanceOf[String])
      case LongType => out.write(le(8).putLong(v.asInstanceOf[Long]).array())
      case IntegerType => out.write(le(4).putInt(v.asInstanceOf[Int]).array())
      case ShortType => out.write(le(2).putShort(v.asInstanceOf[Short]).array())
      case ByteType => out.write(v.asInstanceOf[Byte].toInt)
      case DoubleType => out.write(le(8).putDouble(v.asInstanceOf[Double]).array())
      case FloatType => out.write(le(4).putFloat(v.asInstanceOf[Float]).array())
      case BooleanType => out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
      case DateType => // UInt16 days since epoch, clamped to the CH
        // Date range (1970..2149) like the reference's saturating cast
        val days = v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
        val d = math.max(0L, math.min(0xffffL, days))
        out.write(le(2).putShort(d.toShort).array())
      case TimestampType => // UInt32 unix seconds, clamped (CH DateTime
        // range 1970..2106)
        val secs = v.asInstanceOf[java.sql.Timestamp].getTime / 1000L
        val s = math.max(0L, math.min(0xffffffffL, secs))
        out.write(le(4).putInt(s.toInt).array())
      case TimestampNTZType =>
        val secs = v.asInstanceOf[java.time.LocalDateTime]
          .toEpochSecond(java.time.ZoneOffset.UTC)
        val s = math.max(0L, math.min(0xffffffffL, secs))
        out.write(le(4).putInt(s.toInt).array())
      case UInt64Carrier =>
        // UInt64: the unsigned 64-bit bit pattern of the decimal value
        val bi = (v match {
          case jd: java.math.BigDecimal => jd.toBigInteger
          case sd: scala.math.BigDecimal => sd.toBigInt.bigInteger
        }).mod(U64Mod)
        out.write(le(8).putLong(bi.longValue).array())
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

  // ---------- read ----------

  def readVarint(in: DataInputStream, fmt: String): Long = {
    var v = 0L; var shift = 0
    while (true) {
      val b = in.read()
      if (b < 0) throw new EOFException()
      v |= (b.toLong & 0x7f) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
      require(shift < 70, s"$fmt: varint longer than 10 bytes")
    }
    v
  }

  def readString(in: DataInputStream, fmt: String): String =
    new String(readBytes(in, readVarint(in, fmt), fmt), UTF_8)

  /** A string's `n` bytes, `n` as the file states it (MsgPack's str and
    * bin too): a negative `n`, or one past the end of the file, refuses. */
  def readBytes(in: DataInputStream, n: Long, fmt: String): Array[Byte] = {
    require(n >= 0, s"$fmt: negative string length $n")
    // readNBytes grows its buffer with the bytes actually present, so
    // a length past the end of the file costs no allocation
    val b = in.readNBytes(math.min(n, Int.MaxValue.toLong).toInt)
    require(b.length == n, s"$fmt: string length $n overruns the file")
    b
  }

  /** True at the end of the stream, consuming nothing otherwise. */
  def atEnd(in: DataInputStream): Boolean = {
    in.mark(1)
    val end = in.read() < 0
    in.reset()
    end
  }

  def readLe(in: DataInputStream, n: Int): ByteBuffer = {
    val b = new Array[Byte](n)
    in.readFully(b)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** One value of a CH primitive [[sparkType]] accepts, as its carrier. */
  def readValue(in: DataInputStream, ch: String, fmt: String): Any = ch match {
    case "String" => readString(in, fmt)
    case "Int64" => readLe(in, 8).getLong
    case "UInt64" =>
      val raw = readLe(in, 8).getLong
      new java.math.BigDecimal(
        new java.math.BigInteger(java.lang.Long.toUnsignedString(raw)))
    case "Int32" => readLe(in, 4).getInt
    case "UInt32" => readLe(in, 4).getInt.toLong & 0xffffffffL
    case "Int16" => readLe(in, 2).getShort
    case "UInt16" => readLe(in, 2).getShort.toInt & 0xffff
    case "Int8" => in.readByte()
    case "UInt8" => (in.readByte().toInt & 0xff).toShort
    case "Float64" => readLe(in, 8).getDouble
    case "Float32" => readLe(in, 4).getFloat
    case "Bool" => in.readByte() != 0
    case "Date" =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        (readLe(in, 2).getShort.toInt & 0xffff).toLong))
    case "DateTime" =>
      new java.sql.Timestamp((readLe(in, 4).getInt.toLong & 0xffffffffL) * 1000L)
    case other => throw new IllegalStateException(s"unreachable: $other")
  }
}
