package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import ChBinary.{atEnd, readString, readValue, readVarint, writeString, writeValue, writeVarint}

/** RowBinary[WithNames[AndTypes]] as a FILE interchange codec
  * (reference: src/Formats/registerFormats.cpp RowBinary entries):
  * rows of values in the shared [[ChBinary]] encoding, one 0/1 flag
  * byte before each Nullable value with nothing following a NULL.
  *
  * RowBinary is a client wire format, but reference users also pass
  * .bin files around with it — so INTO OUTFILE writes it and file()
  * adopts it back. Both ends are DRIVER-SIDE single files by the same
  * contract as the reference client (INTO OUTFILE is the sanctioned
  * client-side sink; file() adoption of a server-local file is the
  * Arrow/Avro class). A 100 TB feed belongs in parquet — the FORMAT
  * refusal text still says so.
  *
  * Flat primitive schemas only; the WithNamesAndTypes header is what
  * makes a file self-describing, so the READ side requires it. */
object RowBinary {

  private def chName(dt: DataType): String = ChBinary.chName(dt).getOrElse(
    throw new IllegalArgumentException(
      s"RowBinary: unsupported column type ${dt.simpleString} — " +
        "flat primitive schemas only (interchange nested data via parquet)"))

  private def sparkType(ch: String): DataType = ChBinary.sparkType(ch).getOrElse(
    throw new IllegalArgumentException(
      s"RowBinary: unsupported type '$ch' in header — flat " +
        "primitives only (String/Int*/UInt*/Float*/Bool/Date/DateTime)"))

  /** Write df to a single local file. `variant` is RowBinary,
    * RowBinaryWithNames or RowBinaryWithNamesAndTypes. Driver-side
    * single file (the INTO OUTFILE client-sink contract), streamed
    * partition-by-partition. */
  def write(df: DataFrame, path: String, variant: String): Unit = {
    val fields = df.schema.fields
    fields.foreach(f => chName(f.dataType)) // validate before touching disk
    val out = new BufferedOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    try {
      val up = variant.toUpperCase
      if (up.contains("WITHNAMES")) {
        writeVarint(out, fields.length.toLong)
        fields.foreach(f => writeString(out, f.name))
        if (up.contains("ANDTYPES"))
          fields.foreach { f =>
            val n = chName(f.dataType)
            writeString(out, if (f.nullable) s"Nullable($n)" else n)
          }
      }
      // streamed row-by-row via toLocalIterator — byte-identical to
      // the old collect() path, driver memory one partition deep
      df.toLocalIterator().forEachRemaining { row =>
        var i = 0
        while (i < fields.length) {
          val f = fields(i)
          if (f.nullable) {
            if (row.isNullAt(i)) out.write(1)
            else { out.write(0); writeValue(out, f.dataType, row.get(i)) }
          } else {
            require(!row.isNullAt(i), s"NULL in non-nullable column ${f.name}")
            writeValue(out, f.dataType, row.get(i))
          }
          i += 1
        }
      }
    } finally out.close()
  }

  // ---------- read ----------

  /** Adopt a RowBinaryWithNamesAndTypes file as a DataFrame
    * (driver-side parse; the header makes the file self-describing).
    * The headerless variants cannot be adopted without a schema — the
    * caller refuses them with guidance. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val in = new DataInputStream(new BufferedInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))))
    try {
      val ncols = readVarint(in, "RowBinary").toInt
      require(ncols > 0 && ncols < 100000, s"RowBinary header: $ncols columns")
      val colNames = (0 until ncols).map(_ => readString(in, "RowBinary"))
      val rawTypes = (0 until ncols).map(_ => readString(in, "RowBinary"))
      val nullable = rawTypes.map(_.startsWith("Nullable("))
      val base = rawTypes.map(t =>
        if (t.startsWith("Nullable(")) t.stripPrefix("Nullable(").stripSuffix(")")
        else t)
      val schema = StructType(colNames.zip(base).zip(nullable).map {
        case ((n, t), nl) => StructField(n, sparkType(t), nl)
      })
      val rows = Vector.newBuilder[Row]
      while (!atEnd(in)) {
        val vals = new Array[Any](ncols)
        var i = 0
        while (i < ncols) {
          if (nullable(i) && in.readByte() != 0) vals(i) = null
          else vals(i) = readValue(in, base(i), "RowBinary")
          i += 1
        }
        rows += Row.fromSeq(vals.toIndexedSeq)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.result()), schema)
    } finally in.close()
  }
}
