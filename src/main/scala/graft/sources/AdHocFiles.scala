package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `file()` adoption readers for the formats beyond the text family
  * (reference src/Formats/registerFormats.cpp:43-50 — ORC, Avro,
  * Arrow are registered input formats there).
  *
  *  - ORC rides Spark's native orc source — fully distributed,
  *    pushdown and pruning included.
  *  - Avro: the spark-avro module isn't on this classpath, but
  *    avro-mapred is — the read is a distributed Hadoop-input scan
  *    (AvroKeyInputFormat), records converted per-partition. The
  *    schema comes from one file header (driver, metadata-scale).
  *  - Arrow (IPC file): read DRIVER-SIDE via arrow-vector. file()'s
  *    contract is adopting a server-LOCAL ad-hoc file (the reference
  *    reads it single-node too), so this sits with the sanctioned
  *    client-side exceptions (Pretty, INTO OUTFILE); a 100 TB feed
  *    belongs in parquet/ORC, which the refusal text of the write
  *    path already says.
  *
  * Flat schemas of primitive fields (plus nullable unions) cover the
  * adoption use case; nested shapes refuse with a clear message.
  */
object AdHocFiles {

  /** Driver-side adoption byte budget (spark.graft.adhoc_max_bytes,
    * default 256 MiB): the Arrow/url()/Protobuf/RawBLOB adopters
    * materialize the file on the DRIVER by contract, so past this
    * budget the failure mode must be a message with guidance, not an
    * OOM (r15 advice). */
  private[graft] def guardSize(spark: SparkSession, path: String,
      what: String): Unit = {
    val max = spark.conf.get("spark.graft.adhoc_max_bytes",
      (256L << 20).toString).toLong
    // url() passes file:-scheme locals through verbatim; non-local
    // paths (hdfs/s3a) are distributed reads and aren't guarded here
    val local = java.nio.file.Paths.get(path.stripPrefix("file:"))
    if (!java.nio.file.Files.isRegularFile(local)) return
    val sz = java.nio.file.Files.size(local)
    require(sz <= max,
      s"$what: $path is $sz bytes — over the driver-side adoption " +
        s"budget of $max (spark.graft.adhoc_max_bytes). This reader " +
        "materializes on the driver by design (ad-hoc client files); " +
        "data this size belongs in parquet/ORC on a distributed path " +
        "(s3/hdfs/file globs through spark.read)")
  }

  // ---------- Avro ----------

  private def avroField(s: org.apache.avro.Schema): (DataType, Boolean) = {
    import org.apache.avro.Schema.Type._
    s.getType match {
      case STRING => (StringType, false)
      case ENUM => (StringType, false)
      case INT => (IntegerType, false)
      case LONG => (LongType, false)
      case FLOAT => (FloatType, false)
      case DOUBLE => (DoubleType, false)
      case BOOLEAN => (BooleanType, false)
      case BYTES | FIXED => (BinaryType, false)
      case UNION =>
        val branches = s.getTypes.asScala.toSeq
        val nonNull = branches.filter(_.getType != NULL)
        if (nonNull.size != 1) throw new IllegalArgumentException(
          s"file(Avro): only [null, T] unions are supported, got $s")
        (avroField(nonNull.head)._1, true)
      case other => throw new IllegalArgumentException(
        s"file(Avro): unsupported field type $other — flat primitive " +
          "schemas only (adopt nested data via parquet)")
    }
  }

  private def fromAvro(v: Any): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case e: org.apache.avro.generic.GenericEnumSymbol[_] => e.toString
    case b: java.nio.ByteBuffer =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case f: org.apache.avro.generic.GenericFixed => f.bytes().clone()
    case other => other
  }

  def avro(spark: SparkSession, path: String): DataFrame = {
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val p = new java.io.File(path)
    val first =
      if (p.isDirectory)
        p.listFiles().filter(_.getName.endsWith(".avro")).sortBy(_.getName)
          .headOption.getOrElse(throw new IllegalArgumentException(
            s"file(Avro): no .avro files under $path"))
      else p
    val rdr = new org.apache.avro.file.DataFileReader[GenericRecord](
      first, new GenericDatumReader[GenericRecord]())
    val avroSchema = try rdr.getSchema finally rdr.close()
    val fields = avroSchema.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = avroField(f.schema())
      StructField(f.name(), dt, nullable)
    }
    val schema = StructType(fields)
    val names = fields.map(_.name)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("avro.schema.input.key", avroSchema.toString)
    val rdd = spark.sparkContext.newAPIHadoopFile(
      path,
      classOf[org.apache.avro.mapreduce.AvroKeyInputFormat[GenericRecord]],
      classOf[org.apache.avro.mapred.AvroKey[GenericRecord]],
      classOf[org.apache.hadoop.io.NullWritable],
      conf)
    val rows = rdd.map { case (k, _) =>
      val rec = k.datum()
      Row.fromSeq(names.map(n => fromAvro(rec.get(n))))
    }
    spark.createDataFrame(rows, schema)
  }

  // ---------- Arrow IPC file ----------

  /** Arrow IPC file adoption — a DISTRIBUTED DataSource V2 scan
    * (ArrowIpcSource): the driver reads only schema + footer, record
    * batches are the input splits, column pruning pushes down. No
    * byte budget needed anymore — nothing materializes on the
    * driver (r16 verdict ask #8). */
  def arrow(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft.sources.ArrowIpcSource").load(path)
}
