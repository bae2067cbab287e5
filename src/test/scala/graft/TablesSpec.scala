package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
import graft.sources.Tables

/** The schema cache behind every `Tables` loader: a hit infers
  * nothing, a hit returns what inference would, and a changed file or
  * a changed inference conf misses. */
class TablesSpec extends SparkSpec {

  /** A scale factor's directory beside the suite's own. */
  private def sf(name: String): String = new java.io.File(sfDir).getParent + "/" + name

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A scratch copy of one single-file parquet table from a Spark
    * write of `sql`. */
  private def writeFile(scratch: Path, sql: String, to: Path): Unit = {
    val dir = scratch.resolve(s"w${System.nanoTime()}")
    spark.sql(sql).coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, to, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a cache hit launches no Spark job; the miss before it does") {
    queries.withScratchDir("graft_tables_spec") { scratch =>
      val f = scratch.resolve("t.parquet")
      writeFile(scratch, "SELECT id, CAST(id AS STRING) AS s FROM range(10)", f)
      val (_, missJobs) = jobsDuring(Tables.read(spark, f.toString).schema)
      assert(missJobs >= 1, "the first read must infer (the listener sees it)")
      val (df, hitJobs) = jobsDuring {
        val d = Tables.read(spark, f.toString)
        d.schema
        d
      }
      assert(hitJobs == 0, s"a cache hit launched $hitJobs job(s)")
      assert(df.count() == 10)
      // the loaders go through the same cache
      Tables(spark, sfDir).lineitem.schema
      val (_, loaderJobs) = jobsDuring(Tables(spark, sfDir).lineitem.schema)
      assert(loaderJobs == 0, s"a warm Tables loader launched $loaderJobs job(s)")
    }
  }

  test("the cached schema equals a fresh inference for every testdata table") {
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- names) {
      val path = s"${sf(scale)}/$n.parquet"
      val fresh = spark.read.parquet(path).schema
      Tables.read(spark, path).schema
      val (cached, jobs) = jobsDuring(Tables.read(spark, path).schema)
      assert(jobs == 0, s"$scale/$n: second read was not a hit")
      assert(cached == fresh, s"$scale/$n: cached $cached, inferred $fresh")
    }
  }

  test("a file replaced at the same path with another schema is inferred again") {
    queries.withScratchDir("graft_tables_spec") { scratch =>
      val f = scratch.resolve("t.parquet")
      writeFile(scratch, "SELECT id FROM range(5)", f)
      assert(Tables.read(spark, f.toString).schema.map(_.dataType) == Seq(LongType))
      writeFile(scratch, "SELECT CAST(id AS STRING) AS s, id * 2 AS d FROM range(7)", f)
      // a same-second rewrite could keep the mtime; the length differs
      // anyway, and an explicit mtime step removes the doubt
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(f).toMillis + 5000))
      val df = Tables.read(spark, f.toString)
      assert(df.schema.map(f => (f.name, f.dataType)) == Seq("s" -> StringType, "d" -> LongType))
      assert(df.count() == 7)
    }
  }

  test("flipping nanosAsLong misses the cache") {
    val path = s"$sfDir/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    Tables.read(spark, path).schema
    val flipped = spark.conf.get(key, "false") != "true"
    val (_, jobs) = withConf(key -> flipped.toString) {
      jobsDuring(scala.util.Try(Tables.read(spark, path).schema))
    }
    assert(jobs >= 1, "a read under another nanosAsLong value must infer again")
    // back under the original value: inferred at most once more (a
    // flipped read that succeeded replaced the path's one entry), then
    // a hit again
    Tables.read(spark, path).schema
    val (_, back) = jobsDuring(Tables.read(spark, path).schema)
    assert(back == 0)
  }

  test("events.ts stays TimestampType through the cache") {
    for (scale <- Seq("sf0.001", "sf0.01")) {
      val dir = sf(scale)
      Tables(spark, dir).events.schema
      val (schema, jobs) = jobsDuring(Tables(spark, dir).events.schema)
      assert(jobs == 0)
      assert(schema("ts").dataType == TimestampType, schema.toString)
    }
  }
}
