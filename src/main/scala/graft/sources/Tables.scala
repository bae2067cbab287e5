package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Schema'd loaders for the driver-generated parquet tables
  * (see /root/repo/TESTDATA.md). One parquet file per table under a
  * scale-factor directory.
  *
  * At cluster scale these would be partitioned/bucketed catalog tables;
  * here the parquet scan is the interface — Catalyst still gets filter
  * pushdown and column pruning through it, which is what matters for
  * the plans downstream.
  *
  * Every loader reads through the companion's schema cache: a plain
  * `spark.read.parquet` infers the schema with a Spark job on every
  * call, which a statement that names a table pays each time it is
  * built. See [[Tables.read]] for what is cached and when it misses.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** events.parquet's `ts` column has shipped in two physical forms
    * across testdata generations, so the loader branches on the ACTUAL
    * parquet type instead of assuming one:
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it natively; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set at session
    *    construction by every graft entrypoint) it arrives as a Long
    *    of epoch-nanos, converted here to a µs timestamp with integer
    *    arithmetic (ns epochs exceed 2^53, so no double round-trip).
    *    DuckDB's reader applies the identical ns→µs truncation, so
    *    ts-keyed oracles cannot flake on precision.
    *  - timestamp[us] (isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ; cast to the session TimestampType. Sessions
    *    pin spark.sql.session.timeZone=UTC, so the cast is
    *    value-identical and downstream plans keep seeing the same
    *    TimestampType they always did.
    *
    * The sub-second truncation ladder itself is pinned by
    * y07_datetime64; TestdataSchemaSpec canaries the physical types.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = t("events")
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {

  /** The session confs that change what parquet schema inference
    * returns for the same file. */
  private val schemaConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.CASE_SENSITIVE)

  private final case class Key(length: Long, modified: Long, confs: Seq[String])

  /** One entry per qualified file path; a stale entry is replaced, so
    * the map holds at most one schema per file ever read. */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, (Key, StructType)]

  /** A parquet read whose schema is inferred once per file. Only
    * metadata is cached — the schema — never rows.
    *
    * The key is the file's qualified path, its length and modification
    * time, and the session's values of the confs that shape inference
    * (`nanosAsLong`, `binaryAsString`, `int96AsTimestamp`,
    * `inferTimestampNTZ`, `caseSensitive`). The cache misses, and the
    * read infers again, when the file is replaced or rewritten (its
    * length or modification time moves) or a session reads it under
    * other values of those confs. A directory, or a path that cannot
    * be stat'ed, bypasses the cache: the read is a plain
    * `spark.read.parquet`, with its own error for a missing path.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status = scala.util.Try(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      .toOption.filter(_.isFile)
    status match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val file = st.getPath.toString
        val key = Key(st.getLen, st.getModificationTime,
          schemaConfs.map(c => spark.conf.get(c.key, c.defaultValueString)))
        schemas.get(file) match {
          case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(file, (key, df.schema))
            df
        }
    }
  }
}
