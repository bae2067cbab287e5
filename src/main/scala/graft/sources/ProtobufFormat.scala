package graft.sources

import java.io.{BufferedOutputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

// Google's 1..10-byte varint (ProtobufWriter.cpp:18-26) is the same
// LEB128 ClickHouse writes, so the writer shares ChBinary's
import ChBinary.{le, writeVarint}

/** Protobuf as a FILE interchange format (reference:
  * src/Formats/ProtobufReader.cpp:17-25 wire types and varint/zigzag
  * framing, ProtobufWriter.cpp:18-26 the 1..10-byte varint,
  * registerFormats.cpp:37-38; schema declared the reference's way —
  * FormatSchemaInfo.cpp:30-62's `format_schema = 'file[.proto]:Message'`
  * setting, default extension appended when missing).
  *
  * `FORMAT Protobuf` frames every row as ONE length-delimited message
  * (varint byte-length prefix, then the message body —
  * ProtobufReader.cpp:44-62 startMessage with_length_delimiter);
  * `ProtobufSingle` is the same body without the prefix, one message
  * per file. Field numbers and types come from a proto3 schema file;
  * columns bind to fields BY NAME (case-insensitive), the reference's
  * serializer matching.
  *
  * Scope: proto3 scalar fields (double/float, int32/64, uint32/64,
  * sint32/64, fixed/sfixed 32/64, bool, string, bytes) plus `repeated`
  * scalars (packed encoding for numerics — proto3's default — tagged
  * per-element for string/bytes; unpacked arrivals are also accepted
  * on read). Nested messages / map / oneof / enum refuse with
  * guidance: interchange nested data via parquet.
  *
  * proto3 value semantics, faithfully: default values (0, false,
  * empty string/bytes/array) and SQL NULLs are OMITTED on write; a
  * missing field reads back as its default, never NULL — adopted
  * columns are non-nullable. Like RowBinary, both ends are the
  * sanctioned DRIVER-SIDE single-file client paths (INTO OUTFILE /
  * file() adoption); a 100 TB feed belongs in parquet. The write side
  * streams partition-by-partition (toLocalIterator), never holding
  * the full result on the driver. */
object ProtobufFormat {

  // ---------- proto3 schema ----------

  final case class ProtoField(name: String, number: Int, ptype: String,
    repeated: Boolean)
  final case class ProtoMessage(name: String, fields: Seq[ProtoField])

  private val scalarTypes = Set("double", "float", "int32", "int64",
    "uint32", "uint64", "sint32", "sint64", "fixed32", "fixed64",
    "sfixed32", "sfixed64", "bool", "string", "bytes")

  /** `format_schema` value → (schema file path, message name). The
    * reference's FormatSchemaInfo form: `file:Message`, `.proto`
    * appended when the file has no extension. */
  def parseSchemaRef(formatSchema: String): (java.nio.file.Path, String) = {
    val colon = formatSchema.lastIndexOf(':')
    require(colon > 0 && colon < formatSchema.length - 1,
      "format_schema must have the 'schema_file:message_name' form, " +
        s"e.g. 'schema.proto:Message' — got '$formatSchema'")
    val raw = formatSchema.substring(0, colon)
    val file = if (raw.contains('.')) raw else raw + ".proto"
    (java.nio.file.Paths.get(file), formatSchema.substring(colon + 1))
  }

  /** Parse the named message out of a proto3 schema text. Flat
    * scalar/repeated-scalar messages only. */
  def parseProto(text: String, message: String): ProtoMessage = {
    // strip // and /* */ comments
    val noBlock = "(?s)/\\*.*?\\*/".r.replaceAllIn(text, " ")
    val clean = "//[^\n]*".r.replaceAllIn(noBlock, " ")
    val msgRe = ("""(?s)message\s+""" + java.util.regex.Pattern.quote(message) +
      """\s*\{(.*?)\}""").r
    val body = msgRe.findFirstMatchIn(clean).map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(
        s"Protobuf: message '$message' not found in the schema file"))
    require(!body.contains("{"),
      s"Protobuf: message '$message' has a nested message/oneof/map — " +
        "flat scalar schemas only (interchange nested data via parquet)")
    val fieldRe = """(repeated\s+|optional\s+)?([A-Za-z0-9_.]+)\s+([A-Za-z0-9_]+)\s*=\s*(\d+)\s*(\[[^\]]*\])?\s*;""".r
    val fields = fieldRe.findAllMatchIn(body).map { m =>
      val ptype = m.group(2)
      require(scalarTypes(ptype),
        s"Protobuf: unsupported field type '$ptype' for field " +
          s"'${m.group(3)}' — proto3 scalars only " +
          "(map/enum/message fields: interchange via parquet)")
      ProtoField(m.group(3), m.group(4).toInt, ptype,
        m.group(1) != null && m.group(1).trim == "repeated")
    }.toVector
    require(fields.nonEmpty, s"Protobuf: message '$message' has no fields")
    require(fields.map(_.number).distinct.size == fields.size,
      s"Protobuf: duplicate field numbers in message '$message'")
    require(fields.map(_.name.toLowerCase).distinct.size == fields.size,
      s"Protobuf: duplicate field names in message '$message'")
    ProtoMessage(message, fields)
  }

  def loadSchema(formatSchema: String): ProtoMessage = {
    val (path, msg) = parseSchemaRef(formatSchema)
    require(java.nio.file.Files.exists(path),
      s"Protobuf: schema file $path not found")
    parseProto(new String(java.nio.file.Files.readAllBytes(path), UTF_8), msg)
  }

  /** Spark carrier type per proto scalar — same unsigned conventions
    * as RowBinary (uint64 rides DECIMAL(20,0), uint32/fixed32 ride
    * Int64). */
  def sparkType(pt: String): DataType = pt match {
    case "double" => DoubleType
    case "float" => FloatType
    case "int32" | "sint32" | "sfixed32" => IntegerType
    case "int64" | "sint64" | "sfixed64" => LongType
    case "uint32" | "fixed32" => LongType
    case "uint64" | "fixed64" => DecimalType(20, 0)
    case "bool" => BooleanType
    case "string" => StringType
    case "bytes" => BinaryType
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  // ---------- wire primitives ----------

  private final val WtVarint = 0
  private final val WtBits64 = 1
  private final val WtLen = 2
  private final val WtGroupStart = 3
  private final val WtGroupEnd = 4
  private final val WtBits32 = 5

  private def zigzag64(n: Long): Long = (n << 1) ^ (n >> 63)
  private def unzigzag64(n: Long): Long = (n >>> 1) ^ -(n & 1L)

  // ---------- write ----------

  private def asLong(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue
    case b: java.lang.Boolean => if (b) 1L else 0L
    case other => throw new IllegalArgumentException(
      s"Protobuf: expected a numeric value, got ${other.getClass.getName}")
  }

  private def asUnsigned64(v: Any): Long = v match {
    case d: java.math.BigDecimal =>
      d.toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue
    case d: scala.math.BigDecimal =>
      d.toBigInt.bigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue
    case other => asLong(other)
  }

  /** One scalar value, no tag (the packed-element / post-tag body). */
  private def writeScalar(out: java.io.OutputStream, pt: String, v: Any): Unit =
    pt match {
      case "double" => out.write(le(8).putDouble(asDouble(v)).array())
      case "float" => out.write(le(4).putFloat(asDouble(v).toFloat).array())
      case "int32" | "int64" => writeVarint(out, asLong(v))
      case "uint32" => writeVarint(out, asLong(v) & 0xffffffffL)
      case "uint64" => writeVarint(out, asUnsigned64(v))
      case "sint32" | "sint64" => writeVarint(out, zigzag64(asLong(v)))
      case "fixed32" => out.write(le(4).putInt(asLong(v).toInt).array())
      case "sfixed32" => out.write(le(4).putInt(asLong(v).toInt).array())
      case "fixed64" => out.write(le(8).putLong(asUnsigned64(v)).array())
      case "sfixed64" => out.write(le(8).putLong(asLong(v)).array())
      case "bool" => out.write(if (asLong(v) != 0) 1 else 0)
      case "string" =>
        val b = v.asInstanceOf[String].getBytes(UTF_8)
        writeVarint(out, b.length.toLong); out.write(b)
      case "bytes" =>
        val b = v.asInstanceOf[Array[Byte]]
        writeVarint(out, b.length.toLong); out.write(b)
    }

  private def asDouble(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case other => throw new IllegalArgumentException(
      s"Protobuf: expected a numeric value, got ${other.getClass.getName}")
  }

  private def wireTypeOf(pt: String): Int = pt match {
    case "double" | "fixed64" | "sfixed64" => WtBits64
    case "float" | "fixed32" | "sfixed32" => WtBits32
    case "string" | "bytes" => WtLen
    case _ => WtVarint
  }

  /** proto3 canonical: default-valued singular fields are omitted. */
  private def isDefault(pt: String, v: Any): Boolean = pt match {
    case "double" | "float" => asDouble(v) == 0.0
    case "string" => v.asInstanceOf[String].isEmpty
    case "bytes" => v.asInstanceOf[Array[Byte]].isEmpty
    case "bool" => !v.asInstanceOf[Boolean]
    case "uint64" | "fixed64" => asUnsigned64(v) == 0L
    case _ => asLong(v) == 0L
  }

  private def writeField(out: java.io.OutputStream, f: ProtoField, v: Any): Unit = {
    if (v == null) return // SQL NULL ≡ proto3 default ≡ omitted
    if (f.repeated) {
      val elems: Seq[Any] = v match {
        case s: scala.collection.Seq[_] => s.toSeq
        case a: Array[_] => a.toSeq
        case other => throw new IllegalArgumentException(
          s"Protobuf: repeated field ${f.name} needs an array column, " +
            s"got ${other.getClass.getName}")
      }
      if (elems.isEmpty) return
      if (f.ptype == "string" || f.ptype == "bytes") {
        // tagged per element (length-delimited can't pack)
        elems.foreach { e =>
          writeVarint(out, ((f.number.toLong << 3) | WtLen))
          writeScalar(out, f.ptype, e)
        }
      } else {
        // packed: one LEN field holding the concatenated scalars
        val body = new ByteArrayOutputStream()
        elems.foreach(e => writeScalar(body, f.ptype, e))
        writeVarint(out, ((f.number.toLong << 3) | WtLen))
        writeVarint(out, body.size().toLong)
        body.writeTo(out)
      }
    } else {
      if (isDefault(f.ptype, v)) return
      writeVarint(out, ((f.number.toLong << 3) | wireTypeOf(f.ptype)))
      writeScalar(out, f.ptype, v)
    }
  }

  /** Write df to a single local file. Columns bind to proto fields by
    * case-insensitive name; every column must bind (unbound proto
    * fields just read back as defaults). Streams via toLocalIterator —
    * driver memory stays one partition deep. */
  def write(df: DataFrame, path: String, formatSchema: String,
      single: Boolean): Unit = {
    val msg = loadSchema(formatSchema)
    val byName = msg.fields.map(f => f.name.toLowerCase -> f).toMap
    val cols = df.schema.fields.zipWithIndex.map { case (sf, i) =>
      val f = byName.getOrElse(sf.name.toLowerCase,
        throw new IllegalArgumentException(
          s"Protobuf: column '${sf.name}' has no field in message " +
            s"'${msg.name}' (fields: ${msg.fields.map(_.name).mkString(", ")})"))
      // validate the column/field shape up front, before touching disk
      val want: DataType =
        if (f.repeated) ArrayType(sparkType(f.ptype))
        else sparkType(f.ptype)
      val ok = (want, sf.dataType) match {
        case (a, b) if a == b => true
        case (ArrayType(e, _), ArrayType(g, _)) => compatible(e, g)
        case (a, b) => compatible(a, b)
      }
      require(ok, s"Protobuf: column '${sf.name}' is " +
        s"${sf.dataType.simpleString} but field ${f.name} is " +
        s"${f.ptype}${if (f.repeated) " (repeated)" else ""}")
      (f, i)
    }.toSeq
    val out = new BufferedOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    try {
      val it = df.toLocalIterator()
      var n = 0L
      while (it.hasNext) {
        val row = it.next()
        require(!single || n == 0,
          "ProtobufSingle holds exactly ONE message — use FORMAT " +
            "Protobuf for multi-row results")
        val body = new ByteArrayOutputStream()
        cols.foreach { case (f, i) =>
          writeField(body, f, if (row.isNullAt(i)) null else row.get(i))
        }
        if (!single) writeVarint(out, body.size().toLong)
        body.writeTo(out)
        n += 1
      }
      // a Single file IS one message — zero rows would write an empty
      // file that reads back as one all-defaults row (asymmetric)
      require(!single || n == 1,
        s"ProtobufSingle holds exactly ONE message — result had $n rows")
    } finally out.close()
  }

  /** numeric-width compatibility for write binding (an int32 column
    * may feed an int64 field etc. — values re-encode per field). */
  private def compatible(want: DataType, got: DataType): Boolean =
    (want, got) match {
      case (a, b) if a == b => true
      case (LongType, IntegerType | ShortType | ByteType) => true
      case (IntegerType, ShortType | ByteType) => true
      case (DoubleType, FloatType) => true
      case (_: DecimalType, IntegerType | LongType | ShortType | ByteType) => true
      case _ => false
    }

  // ---------- read ----------

  private final class Cursor(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def advance(n: Int): Unit = {
      require(pos + n <= end, "Protobuf: truncated field value")
      pos += n
    }
    def readVarint(): Long = {
      var v = 0L; var shift = 0
      while (true) {
        require(pos < end, "Protobuf: truncated varint")
        val b = buf(pos); pos += 1
        v |= (b.toLong & 0x7f) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        require(shift < 70, "Protobuf: varint too long")
      }
      v
    }
    def readLe(n: Int): ByteBuffer = {
      require(pos + n <= end, "Protobuf: truncated fixed-width value")
      val bb = ByteBuffer.wrap(buf, pos, n).order(ByteOrder.LITTLE_ENDIAN)
      pos += n
      bb
    }
    def readBytes(): Array[Byte] = {
      val n = readVarint().toInt
      require(n >= 0 && pos + n <= end, "Protobuf: truncated bytes value")
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      a
    }
    /** skip an unknown field by wire type (ProtobufReader.cpp's
      * ignore paths, including nested group skip). Every advance is
      * bounds-checked: a hostile length varint (negative as Int, or
      * past the end) must be a loud parse error, not a backwards pos
      * move that loops the message decoder forever. */
    def skip(wt: Int): Unit = wt match {
      case WtVarint => readVarint(); ()
      case WtBits64 => advance(8)
      case WtBits32 => advance(4)
      case WtLen =>
        val n = readVarint()
        require(n >= 0 && n <= end - pos,
          s"Protobuf: unknown field length $n overruns the message")
        pos += n.toInt
      case WtGroupStart =>
        var depth = 1
        while (depth > 0) {
          val key = readVarint()
          val w = (key & 7).toInt
          if (w == WtGroupStart) depth += 1
          else if (w == WtGroupEnd) depth -= 1
          else skip(w)
        }
      case WtGroupEnd =>
        throw new IllegalArgumentException("Protobuf: stray group-end tag")
    }
  }

  private def readScalar(c: Cursor, pt: String, wt: Int): Any = pt match {
    case "double" => c.readLe(8).getDouble
    case "float" => c.readLe(4).getFloat
    case "int32" => c.readVarint().toInt
    case "int64" => c.readVarint()
    case "uint32" => c.readVarint() & 0xffffffffL
    case "uint64" =>
      new java.math.BigDecimal(new java.math.BigInteger(
        java.lang.Long.toUnsignedString(c.readVarint())))
    case "sint32" => unzigzag64(c.readVarint()).toInt
    case "sint64" => unzigzag64(c.readVarint())
    case "fixed32" => c.readLe(4).getInt.toLong & 0xffffffffL
    case "sfixed32" => c.readLe(4).getInt
    case "fixed64" =>
      new java.math.BigDecimal(new java.math.BigInteger(
        java.lang.Long.toUnsignedString(c.readLe(8).getLong)))
    case "sfixed64" => c.readLe(8).getLong
    case "bool" => c.readVarint() != 0L
    case "string" => new String(c.readBytes(), UTF_8)
    case "bytes" => c.readBytes()
  }

  private def defaultOf(f: ProtoField): Any =
    if (f.repeated) Vector.empty
    else f.ptype match {
      case "double" => 0.0
      case "float" => 0.0f
      case "int32" | "sint32" | "sfixed32" => 0
      case "int64" | "sint64" | "sfixed64" => 0L
      case "uint32" | "fixed32" => 0L
      case "uint64" | "fixed64" => java.math.BigDecimal.ZERO
      case "bool" => false
      case "string" => ""
      case "bytes" => Array.empty[Byte]
    }

  private def decodeMessage(c: Cursor, msg: ProtoMessage): Row = {
    val byNumber = msg.fields.map(f => f.number -> f).toMap
    val acc = scala.collection.mutable.Map.empty[Int, Any]
    val rep = scala.collection.mutable.Map.empty[Int, Vector[Any]]
    while (c.hasMore) {
      val key = c.readVarint()
      val num = (key >>> 3).toInt
      val wt = (key & 7).toInt
      byNumber.get(num) match {
        case None => c.skip(wt)
        case Some(f) if f.repeated =>
          val natural = wireTypeOf(f.ptype)
          if (wt == WtLen && natural != WtLen) {
            // packed run of scalars
            val body = c.readBytes()
            val inner = new Cursor(body, 0, body.length)
            val vs = Vector.newBuilder[Any]
            while (inner.hasMore) vs += readScalar(inner, f.ptype, natural)
            rep(num) = rep.getOrElse(num, Vector.empty) ++ vs.result()
          } else {
            require(wt == natural,
              s"Protobuf: field ${f.name} has wire type $wt, expected $natural")
            rep(num) = rep.getOrElse(num, Vector.empty) :+
              readScalar(c, f.ptype, wt)
          }
        case Some(f) =>
          require(wt == wireTypeOf(f.ptype),
            s"Protobuf: field ${f.name} has wire type $wt, " +
              s"expected ${wireTypeOf(f.ptype)}")
          acc(num) = readScalar(c, f.ptype, wt) // last one wins (proto3)
      }
    }
    Row.fromSeq(msg.fields.map { f =>
      if (f.repeated) rep.getOrElse(f.number, Vector.empty)
      else acc.getOrElse(f.number, defaultOf(f))
    })
  }

  /** Adopt a Protobuf file (length-delimited messages; `single` = one
    * undelimited message) as a DataFrame. Driver-side single-file
    * parse — the file() adoption contract. */
  def read(spark: SparkSession, path: String, formatSchema: String,
      single: Boolean): DataFrame = {
    val msg = loadSchema(formatSchema)
    val schema = StructType(msg.fields.map { f =>
      val dt = if (f.repeated) ArrayType(sparkType(f.ptype), containsNull = false)
        else sparkType(f.ptype)
      StructField(f.name, dt, nullable = false)
    })
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val rows = Vector.newBuilder[Row]
    if (single) {
      // an empty file is zero messages, not one all-defaults row
      if (bytes.nonEmpty)
        rows += decodeMessage(new Cursor(bytes, 0, bytes.length), msg)
    } else {
      val c = new Cursor(bytes, 0, bytes.length)
      while (c.hasMore) {
        val len = c.readVarint().toInt
        require(len >= 0 && c.pos + len <= bytes.length,
          s"Protobuf: message length $len overruns the file — is this " +
            "a ProtobufSingle file?")
        rows += decodeMessage(new Cursor(bytes, c.pos, c.pos + len), msg)
        c.pos += len
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.result().asJava, schema)
  }
}
