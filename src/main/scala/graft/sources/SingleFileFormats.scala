package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The single-file interchange formats (reference registerFormats.cpp:
  * RowBinary*, Native, Protobuf*, MsgPack, RawBLOB): each writes or
  * adopts ONE local file on the driver — the client-sink contract of
  * INTO OUTFILE and the ad-hoc adoption contract of file(). A 100 TB
  * feed belongs in parquet.
  *
  * This is the one place that knows which such formats exist. INTO
  * OUTFILE, INSERT INTO FUNCTION and file() adoption call it for the
  * names, the writer and reader of each, the refusal of an existing
  * file, and the delete-on-failure of a partial file and its `.idx`. */
object SingleFileFormats {

  val names: Set[String] = Set("ROWBINARY", "ROWBINARYWITHNAMES",
    "ROWBINARYWITHNAMESANDTYPES", "NATIVE", "PROTOBUF", "PROTOBUFSINGLE",
    "MSGPACK", "RAWBLOB")

  /** The family as refusal texts name it. */
  val listing = "RowBinary[WithNames[AndTypes]], Native, Protobuf[Single], " +
    "MsgPack, RawBLOB"

  /** The format a path's extension names, if it is one of these
    * (FormatFactory::getFormatFromFileName). */
  def fromExtension(path: String): Option[String] = {
    val p = path.toLowerCase
    if (p.endsWith(".native")) Some("NATIVE")
    else if (p.endsWith(".pb") || p.endsWith(".protobuf")) Some("PROTOBUF")
    else if (p.endsWith(".msgpack") || p.endsWith(".msgpk")) Some("MSGPACK")
    else None
  }

  /** A write's COMPRESSION clause → Native's frame codecs. Any other
    * format refuses: there the clause would mean the reference's
    * file-level wrapper (gz/lz4-frame/zstd …), a different layer, and
    * silently writing plain bytes would hide that. */
  def codecs(fmt: String, compression: Option[String])
      : Option[Seq[CompressedFrames.Codec]] =
    compression.map { spec =>
      require(fmt == "NATIVE",
        s"INTO OUTFILE COMPRESSION is supported for FORMAT Native " +
          s"(the reference's internal block framing); $fmt writes plain")
      // single name ('lz4'/'zstd'/'none'/'delta(w)'/…) or a comma
      // chain ('delta(8), zstd') — chains frame as the reference's
      // CODEC Multiple
      CompressedFrames.parseChain(spec)
    }

  /** Run `write` as the creator of the file at `path`: an existing file
    * refuses (reference client behavior), and a failed write deletes
    * what it left — streamed writers put bytes on disk before the plan
    * has fully run, and a partial file would block the retry. */
  def create[T](path: String, stmt: String)(write: => T): T = {
    val p = Paths.get(path)
    require(!Files.exists(p),
      s"$stmt: file $path already exists (reference behavior)")
    try write catch { case e: Throwable =>
      Files.deleteIfExists(p)
      Files.deleteIfExists(Paths.get(NativeIndex.sidecarPath(path)))
      throw e
    }
  }

  /** Protobuf's schema: the statement's own SETTINGS value if given,
    * else the session's (the reference's format_schema setting). */
  private def protoSchema(spark: SparkSession, fmt: String,
      settings: Option[String]): String = {
    val fs = settings.getOrElse(spark.conf.get("spark.graft.format_schema", ""))
    require(fs.nonEmpty, s"FORMAT $fmt needs a schema — SET " +
      "format_schema = 'schema.proto:Message' first, or add it as the " +
      "query's SETTINGS (the reference's format_schema setting)")
    fs
  }

  /** Write `df` as one local file in `fmt` (one of [[names]]). */
  def write(df: DataFrame, path: String, fmt: String,
      codecs: Option[Seq[CompressedFrames.Codec]] = None,
      formatSchema: Option[String] = None): Unit = fmt match {
    case "NATIVE" => NativeFormat.write(df, path, codecs)
    case "PROTOBUF" | "PROTOBUFSINGLE" =>
      ProtobufFormat.write(df, path,
        protoSchema(df.sparkSession, fmt, formatSchema), fmt == "PROTOBUFSINGLE")
    case "MSGPACK" => MsgPackFormat.write(df, path)
    case "RAWBLOB" => RawBlob.write(df, path)
    case _ => RowBinary.write(df, path, fmt)
  }

  /** Adopt one local file in `fmt` (one of [[names]]) for the table
    * function `fn`, under the adoption byte budget: every reader here
    * parses on the driver. `structure` (the declared columns) is
    * needed by positional MsgPack only. */
  def read(spark: SparkSession, path: String, fmt: String, fn: String,
      structure: => Option[StructType]): DataFrame = {
    require(fmt != "ROWBINARY" && fmt != "ROWBINARYWITHNAMES",
      s"$fn(): headerless $fmt carries no schema to adopt — write the " +
        "file as RowBinaryWithNamesAndTypes (INTO OUTFILE … FORMAT " +
        "RowBinaryWithNamesAndTypes) and adopt that")
    AdHocFiles.guardSize(spark, path, s"$fn($fmt)")
    fmt match {
      case "ROWBINARYWITHNAMESANDTYPES" => RowBinary.read(spark, path)
      case "NATIVE" => NativeFormat.read(spark, path)
      case "PROTOBUF" | "PROTOBUFSINGLE" =>
        ProtobufFormat.read(spark, path, protoSchema(spark, fmt, None),
          fmt == "PROTOBUFSINGLE")
      case "RAWBLOB" => RawBlob.read(spark, path)
      case "MSGPACK" =>
        // positional format, no column names on the wire — the
        // structure argument is mandatory (the reference's own
        // file(path, format, structure) signature)
        MsgPackFormat.read(spark, path, structure.getOrElse(
          throw new IllegalArgumentException(
            s"$fn(): MsgPack rows are positional — pass the structure, " +
              "e.g. file('x.msgpack', 'MsgPack', 'a Int64, b String')")))
    }
  }
}
