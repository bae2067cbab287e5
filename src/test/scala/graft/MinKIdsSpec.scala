package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** min_k_ids (functions/MinKIds.scala) — the bounded-heap partial
  * aggregate behind NearDupIndex's per-bucket cap. Parity contract:
  * per bucket it equals the ids the window spelling keeps,
  * `row_number() OVER (PARTITION BY b ORDER BY id) <= k`, sorted —
  * under 16-way partial aggregation (heap serialize/merge) with one
  * hot bucket. */
class MinKIdsSpec extends SparkSpec {
  import spark.implicits._

  test("min_k_ids equals the row_number window's first k, at k = 1, a middle k and k past every bucket") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // bucket 0 is hot (5,000 rows, ids in scrambled order); buckets
    // 1..30 hold 1..30 rows; ids are unique
    val hot = (0 until 5000).map(i => (0, (i * 7919L) % 100003))
    val rest = (1 to 30).flatMap(b => (0 until b).map(i => (b, 200000L + b * 100 + i)))
    val rows = (hot ++ rest).toDF("b", "id").repartition(16)
    for (k <- Seq(1, 12, 10000)) {
      val got = rows.groupBy("b")
        .agg(call_function("min_k_ids", col("id"), lit(k)).as("ids"))
        .as[(Int, Seq[Long])].collect().toMap
      val want = rows
        .withColumn("rn", row_number().over(Window.partitionBy("b").orderBy("id")))
        .filter(col("rn") <= k)
        .groupBy("b").agg(sort_array(collect_list(col("id"))).as("ids"))
        .as[(Int, Seq[Long])].collect().toMap
      assert(got == want, s"k=$k")
      assert(got(0).size == math.min(k, 5000), s"k=$k hot bucket")
    }
  }

  test("min_k_ids rejects a non-bigint id at analysis time") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = intercept[Exception] {
      Seq((1, 1)).toDF("id", "b").groupBy("b")
        .agg(call_function("min_k_ids", col("id"), lit(3)))
        .queryExecution.assertAnalyzed()
    }
    assert(e.getMessage.contains("min_k_ids expects a BIGINT id"), e.getMessage)
  }
}
