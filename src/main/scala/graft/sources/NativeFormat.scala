package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import ChBinary.{atEnd, le, readLe, readString, readValue, readVarint, writeString, writeValue,
  writeVarint}

/** Native as a FILE interchange codec — the reference's own flagship
  * block format, revision-0 framing (no BlockInfo; the file-output
  * path writes with client_revision = 0, so `block.info.write` is
  * skipped — reference: src/Formats/NativeWriter.cpp:66-79).
  *
  * Per block:
  *   varuint columns, varuint rows, then per column:
  *   name (varint-length string), CH type name (same encoding), and
  *   the column's binary bulk data COLUMN-MAJOR, each value in the
  *   shared [[ChBinary]] encoding
  *   (NativeWriter.cpp:104-129 / NativeReader.cpp:113-160):
  *   - fixed-width numerics: contiguous little-endian values;
  *   - String: per value varuint byte-length + bytes
  *     (SerializationString.cpp serializeBinaryBulk);
  *   - Nullable(T): one 0/1 byte per row (1 = NULL) then the nested
  *     bulk data full-length with type defaults in null slots
  *     (SerializationNullable.cpp:100-119 — null map stream first,
  *     then nested);
  *   - Array(T): one cumulative UInt64 end-offset per row, then the
  *     flattened element bulk data (SerializationArray.cpp
  *     serializeBinaryBulkWithMultipleStreams with
  *     position_independent_encoding = false — the native framing).
  *
  * Blocks cap at the reference's DEFAULT_BLOCK_SIZE = 65505 rows
  * (src/Core/Defines.h:20). Default framing is uncompressed — what
  * `clickhouse-client --format Native > x.native` emits — and the
  * LZ4+CityHash compressed stream wrapping (src/Compression/
  * CompressedWriteBuffer.cpp, the storage/wire/clickhouse-compressor
  * form) is supported on BOTH sides: INTO OUTFILE … COMPRESSION
  * 'lz4'/'zstd'/'none' FORMAT Native writes it, and read() auto-detects it
  * by verifying the first frame's CityHash128 checksum
  * (sources/CompressedFrames.scala).
  *
  * Same driver-side single-file contract as [[RowBinary]]: INTO
  * OUTFILE is the reference's client-side export (one local file by
  * definition) and file()-adoption of a local file is the Arrow/Avro
  * class. A 100 TB feed belongs in parquet — the FORMAT refusal text
  * still says so.
  *
  * UInt64 columns ride the engine's full-range DECIMAL(20,0) carrier
  * in both directions, so `CREATE TABLE (x UInt64)` → INTO OUTFILE
  * FORMAT Native → file(…, 'Native') round-trips 2^64−1 losslessly.
  */
object NativeFormat {

  private val BlockRows = 65505 // reference DEFAULT_BLOCK_SIZE (Defines.h:20)
  private val Fmt = "Native"

  // ---------- CH type name ↔ Spark type ----------

  private def chBase(dt: DataType): String = ChBinary.chName(dt).getOrElse(
    throw new IllegalArgumentException(
      s"Native: unsupported column type ${dt.simpleString} — " +
        "primitives, Nullable(primitive) and Array(primitive) only " +
        "(interchange richer nesting via parquet)"))

  /** Full CH type name for a column/element, Nullable-wrapped. */
  private def chName(dt: DataType, nullable: Boolean): String = dt match {
    case ArrayType(elem, containsNull) =>
      require(!nullable, "Native: Nullable(Array) is not representable " +
        "in the reference either — make the column non-nullable")
      s"Array(${chName(elem, containsNull)})"
    case prim =>
      val n = chBase(prim)
      if (nullable) s"Nullable($n)" else n
  }

  private def sparkBase(ch: String): DataType = ChBinary.sparkType(ch).getOrElse(
    throw new IllegalArgumentException(
      s"Native: unsupported type '$ch' in block header — " +
        "String/Int*/UInt*/Float*/Bool/Date/DateTime, " +
        "Nullable(…) and Array(…) thereof"))

  /** Parse a CH type name into (sparkType, nullable). */
  private def parseCh(ch: String): (DataType, Boolean) =
    if (ch.startsWith("Nullable(") && ch.endsWith(")")) {
      val inner = ch.substring(9, ch.length - 1)
      require(!inner.startsWith("Array("),
        s"Native: malformed type $ch") // CH forbids Nullable(Array) too
      (sparkBase(inner), true)
    } else if (ch.startsWith("Array(") && ch.endsWith(")")) {
      val (elem, elemNullable) = parseCh(ch.substring(6, ch.length - 1))
      (ArrayType(elem, containsNull = elemNullable), false)
    } else (sparkBase(ch), false)

  // ---------- column-major bulk write ----------

  /** Type default for null slots (the reference serializes the nested
    * column full-length; ColumnNullable's nested default is 0/""/epoch). */
  private def defaultOf(dt: DataType): Any = dt match {
    case StringType => ""
    case LongType => 0L
    case IntegerType => 0
    case ShortType => 0.toShort
    case ByteType => 0.toByte
    case DoubleType => 0.0d
    case FloatType => 0.0f
    case BooleanType => false
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(0))
    case TimestampType => new java.sql.Timestamp(0L)
    case TimestampNTZType =>
      java.time.LocalDateTime.ofEpochSecond(0L, 0, java.time.ZoneOffset.UTC)
    case _: DecimalType => java.math.BigDecimal.ZERO
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  /** One column's bulk data for a block of rows (recursive on type). */
  private def writeBulk(out: java.io.OutputStream, dt: DataType,
      nullable: Boolean, values: IndexedSeq[Any]): Unit = dt match {
    case ArrayType(elem, containsNull) =>
      // cumulative end offsets (UInt64), then flattened elements
      var cum = 0L
      values.foreach { v =>
        cum += (if (v == null) 0 else v.asInstanceOf[scala.collection.Seq[Any]].length)
        out.write(le(8).putLong(cum).array())
      }
      val flat = values.iterator.flatMap {
        case null => Iterator.empty
        case v => v.asInstanceOf[scala.collection.Seq[Any]].iterator
      }.toIndexedSeq
      writeBulk(out, elem, containsNull, flat)
    case prim =>
      if (nullable) {
        values.foreach(v => out.write(if (v == null) 1 else 0))
        val dflt = defaultOf(prim)
        values.foreach(v => writeValue(out, prim, if (v == null) dflt else v))
      } else {
        values.foreach { v =>
          require(v != null, "NULL in non-nullable Native column")
          writeValue(out, prim, v)
        }
      }
  }

  /** Write df to a single local file, revision-0 Native framing.
    * Driver-side single file (the INTO OUTFILE client-sink contract)
    * but STREAMED — driver memory stays one partition deep.
    * `compression` wraps the byte stream in the reference's
    * LZ4+CityHash block frames (CompressedFrames; INTO OUTFILE …
    * COMPRESSION 'lz4'/'zstd'/'none' FORMAT Native).
    *
    * Uncompressed writes also emit the reference's block index
    * (IndexForNativeFormat) as a `<path>.idx` sidecar — per-column
    * marks pointing at each column's name string, exactly what
    * NativeReader's seek path consumes; [[readIndexed]] uses it for
    * column projection and predicate block skips. The data file's
    * bytes are UNCHANGED by the sidecar. `blockRows` is the
    * reference's DEFAULT_BLOCK_SIZE and is parameterized only so
    * specs can force multi-block files cheaply. */
  def write(df: DataFrame, path: String,
      compression: Option[Seq[CompressedFrames.Codec]] = None,
      blockRows: Int = BlockRows): Unit = {
    val fields = df.schema.fields
    fields.foreach(f => chName(f.dataType, f.nullable)) // validate first
    val raw = java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path))
    val counting = compression match {
      case None => new NativeIndex.CountingOutputStream(
        new BufferedOutputStream(raw))
      case Some(_) => null
    }
    val out: java.io.OutputStream = compression match {
      case Some(chain) => new BufferedOutputStream(
        new CompressedFrames.FrameOutputStream(raw, chain))
      case None => counting
    }
    val indexBlocks = Vector.newBuilder[NativeIndex.BlockIndex]
    try {
      // Streamed via toLocalIterator: the driver holds ONE partition,
      // not the full result (the reference's client sink streams block
      // by block too). Block framing is unchanged — grouped(blockRows)
      // cuts the same 65505-row blocks the collect() path produced.
      import scala.jdk.CollectionConverters._
      val rows = df.toLocalIterator().asScala
      // Zero-row result still writes one empty block so the file is
      // self-describing (the reference writes the header block too).
      val blocks =
        if (!rows.hasNext) Iterator(Seq.empty[Row])
        else rows.grouped(blockRows)
      blocks.foreach { block =>
        writeVarint(out, fields.length.toLong)
        writeVarint(out, block.length.toLong)
        val marks = Vector.newBuilder[NativeIndex.ColumnLoc]
        fields.zipWithIndex.foreach { case (f, i) =>
          val tpe = chName(f.dataType, f.nullable)
          if (counting != null)
            // the mark points at the NAME string (NativeWriter.cpp:95-101
            // records it before name/type/data; the uncompressed mark
            // has offset_in_decompressed_block = 0)
            marks += NativeIndex.ColumnLoc(f.name, tpe,
              NativeIndex.Mark(counting.count, 0L))
          writeString(out, f.name)
          writeString(out, tpe)
          if (block.nonEmpty)
            writeBulk(out, f.dataType, f.nullable,
              block.map(_.get(i)).toIndexedSeq)
        }
        if (counting != null)
          indexBlocks += NativeIndex.BlockIndex(block.length.toLong,
            marks.result())
      }
    } finally out.close()
    if (counting != null)
      NativeIndex.write(NativeIndex.sidecarPath(path), indexBlocks.result())
  }

  // ---------- column-major bulk read ----------

  /** One column's bulk data for `rows` rows, decoded by its CH type
    * name (recursive; parseCh has validated the name). Keyed by the
    * name, not the Spark carrier: UInt32 and Int64 share a carrier but
    * not a width. */
  private def readBulk(in: DataInputStream, ch: String,
      rows: Int): IndexedSeq[Any] =
    if (ch.startsWith("Array(")) {
      val ends = (0 until rows).map(_ => readLe(in, 8).getLong)
      val total = if (rows == 0) 0L else ends.last
      require(total <= Int.MaxValue, s"Native: array block too large ($total)")
      val flat = readBulk(in, ch.substring(6, ch.length - 1), total.toInt)
      var prev = 0L
      ends.map { e =>
        val slice = flat.slice(prev.toInt, e.toInt)
        prev = e
        slice
      }
    } else if (ch.startsWith("Nullable(")) {
      val inner = ch.substring(9, ch.length - 1)
      val nulls = (0 until rows).map(_ => in.readByte() != 0)
      val data = (0 until rows).map(_ => readValue(in, inner, Fmt))
      (0 until rows).map(i => if (nulls(i)) null else data(i))
    } else (0 until rows).map(_ => readValue(in, ch, Fmt))

  /** Adopt a Native file as a DataFrame (driver-side parse; the block
    * headers make the file self-describing). Schema comes from the
    * first block; later blocks must agree (NativeReader re-reads the
    * name/type strings per block and checks against its header). */
  def read(spark: SparkSession, path: String): DataFrame = {
    // compressed dumps self-identify: the first frame's 128-bit
    // CityHash checksum verifies, which an uncompressed Native stream
    // cannot fake — so file() adoption handles both framings with no
    // caller hint (the reference's CompressedReadBuffer contract)
    val raw = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    val src: java.io.InputStream =
      if (CompressedFrames.detect(path)) new CompressedFrames.FrameInputStream(raw)
      else raw
    val in = new DataInputStream(new BufferedInputStream(src))
    try {
      var schema: StructType = null
      val rowsOut = Vector.newBuilder[Row]
      while (!atEnd(in)) {
        val ncols = readVarint(in, Fmt).toInt
        require(ncols > 0 && ncols < 100000, s"Native block: $ncols columns")
        val nrows = readVarint(in, Fmt).toInt
        require(nrows >= 0 && nrows <= 10000000, s"Native block: $nrows rows")
        val cols = new Array[IndexedSeq[Any]](ncols)
        val fields = new Array[StructField](ncols)
        var i = 0
        while (i < ncols) {
          val name = readString(in, Fmt)
          val tpe = readString(in, Fmt)
          val (dt, nullable) = parseCh(tpe)
          fields(i) = StructField(name, dt, nullable)
          cols(i) =
            if (nrows > 0) readBulk(in, tpe, nrows)
            else IndexedSeq.empty
          i += 1
        }
        val blockSchema = StructType(fields.toIndexedSeq)
        if (schema == null) schema = blockSchema
        else require(schema == blockSchema,
          s"Native: block schema mismatch ($blockSchema vs $schema)")
        var r = 0
        while (r < nrows) {
          rowsOut += Row.fromSeq((0 until ncols).map(c => cols(c)(r)))
          r += 1
        }
      }
      require(schema != null, s"Native: empty file $path (no header block)")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rowsOut.result()), schema)
    } finally in.close()
  }

  // ---------- index-driven projected/pruned read ----------

  /** What the pruned scan actually touched — the spec's measurement
    * surface (the ZOrder discipline: prove the skip, don't claim it). */
  final case class IndexedScanStats(blocksTotal: Int, blocksDecoded: Int,
    columnsDecoded: Long)

  /** Index-driven read (NativeReader.cpp:90-160's use_index path):
    * seeks straight to each required column's mark, re-reads the
    * name/type strings and verifies them against the index (the
    * reference's "corrupted index or data" checks), and decodes ONLY
    * the required columns' bytes. With `predicate` = (column, test),
    * the predicate column decodes FIRST per block; blocks where no
    * row passes never decode the remaining columns — the Native
    * edition of parquet row-group pruning, built from exactly what
    * the reference index provides (per-column seeks). Row-level
    * filtering still applies to the survivors. Returns the frame and
    * the touch counts. */
  def readIndexed(spark: SparkSession, path: String,
      columns: Seq[String],
      predicate: Option[(String, Any => Boolean)] = None)
      : (DataFrame, IndexedScanStats) = {
    val idx = NativeIndex.read(NativeIndex.sidecarPath(path))
    require(idx.nonEmpty, s"Native index for $path is empty")
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(path),
      java.nio.file.StandardOpenOption.READ)
    var colsDecoded = 0L
    var blocksDecoded = 0

    /** decode one column at its mark; verifies name/type vs index. */
    def decodeAt(loc: NativeIndex.ColumnLoc, rows: Int)
        : (StructField, IndexedSeq[Any]) = {
      ch.position(loc.mark.offsetCompressed)
      val in = new DataInputStream(new BufferedInputStream(
        java.nio.channels.Channels.newInputStream(ch)))
      val name = readString(in, Fmt)
      require(name == loc.name,
        "Index points to column with wrong name: corrupted index or data")
      val tpe = readString(in, Fmt)
      require(tpe == loc.tpe,
        "Index points to column with wrong type: corrupted index or data")
      val (dt, nullable) = parseCh(tpe)
      colsDecoded += 1
      (StructField(name, dt, nullable),
        if (rows > 0) readBulk(in, tpe, rows) else IndexedSeq.empty)
    }

    try {
      var schema: StructType = null
      val rowsOut = Vector.newBuilder[Row]
      idx.foreach { block =>
        val byName = block.columns.map(c => c.name -> c).toMap
        val required = columns.map(n => byName.getOrElse(n,
          throw new IllegalArgumentException(
            s"Native index: no column '$n' (has " +
              s"${block.columns.map(_.name).mkString(", ")})")))
        val nrows = block.numRows.toInt
        // phase 1: the predicate column alone decides the block's
        // fate; its decode is kept so a predicate column that is also
        // projected never decodes (or seeks) twice
        var predDecoded: Option[(String, (StructField, IndexedSeq[Any]))] = None
        val mask: Option[IndexedSeq[Boolean]] = predicate.map { case (pc, f) =>
          val loc = byName.getOrElse(pc, throw new IllegalArgumentException(
            s"Native index: no predicate column '$pc'"))
          val dec = decodeAt(loc, nrows)
          predDecoded = Some(pc -> dec)
          dec._2.map(f)
        }
        if (nrows > 0 && mask.forall(_.exists(identity))) {
          blocksDecoded += 1
          val cols = required.map(loc => predDecoded match {
            case Some((pc, dec)) if pc == loc.name => dec
            case _ => decodeAt(loc, nrows)
          })
          val blockSchema = StructType(cols.map(_._1))
          if (schema == null) schema = blockSchema
          else require(schema == blockSchema,
            s"Native: block schema mismatch ($blockSchema vs $schema)")
          var r = 0
          while (r < nrows) {
            if (mask.forall(_(r)))
              rowsOut += Row.fromSeq(cols.map(_._2(r)))
            r += 1
          }
        } else if (schema == null && nrows == 0) {
          // an empty header block still carries the schema
          schema = StructType(required.map(decodeAt(_, 0)._1))
        }
      }
      if (schema == null) {
        // every block pruned: derive the schema from the marks alone
        val block = idx.head
        val byName = block.columns.map(c => c.name -> c).toMap
        schema = StructType(columns.map { n =>
          val (dt, nullable) = parseCh(byName(n).tpe)
          StructField(n, dt, nullable)
        })
      }
      (spark.createDataFrame(
        spark.sparkContext.parallelize(rowsOut.result()), schema),
        IndexedScanStats(idx.length, blocksDecoded, colsDecoded))
    } finally ch.close()
  }
}
