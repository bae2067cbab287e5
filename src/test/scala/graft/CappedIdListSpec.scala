package graft

import org.apache.spark.sql.functions._

/** capped_id_list / capped_id_sz_list (functions/CappedIdList.scala)
  * — the O(cap)-state replacement for bucketPairs' collect_list + size
  * filter. Parity contract: for every bucket, the result equals
  * sort_array(collect_list(id)) (of (id, sz) structs for the sz
  * variant) when the bucket size is in [2, cap] and NULL otherwise — under multi-partition partial aggregation
  * (serialize/merge path) and with over-cap saturation carrying
  * through merges. */
class CappedIdListSpec extends SparkSpec {
  import spark.implicits._

  test("capped_id_list equals collect_list + size filter across bucket sizes") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cap = 10
    // bucket b has b rows (1..25): covers singleton (null), in-range,
    // exact-cap, cap+1, and far-over-cap buckets
    val rows = (1 to 25).flatMap(b => (0 until b).map(i =>
      (b, b * 1000L + i))).toDF("bucket", "id")
      .repartition(16) // force partial buffers + serialize/merge
    // the sz variant carries an INT payload per id (NULL reads as 0)
    // and must keep the same id order and bucket filter
    val withSz = rows.withColumn("sz",
      when(col("id") % 7 =!= 3, (col("id") % 1000).cast("int")))
    val got = withSz.groupBy("bucket").agg(
      call_function("capped_id_list", col("id"), lit(cap)).as("ids"),
      call_function("capped_id_sz_list", col("id"), col("sz"), lit(cap))
        .as("pairs"))
    def capped(c: org.apache.spark.sql.Column) =
      when(size(c).between(2, cap), c)
    val want = withSz.groupBy("bucket").agg(
      sort_array(collect_list(col("id"))).as("all"),
      sort_array(collect_list(struct(col("id"),
        coalesce(col("sz"), lit(0)).as("sz")))).as("allPairs"))
      .select(col("bucket"), capped(col("all")).as("ids"),
        capped(col("allPairs")).as("pairs"))
    val g = got.collect().map(r => r.getInt(0) -> r).toMap
    val w = want.collect().map(r => r.getInt(0) -> r).toMap
    assert(g == w, s"got $g\nwant $w")
    // sanity on the shape: singleton and over-cap buckets are null,
    // an in-range bucket is sorted ascending
    assert(Seq(1, 11, 25).forall(b => g(b).isNullAt(1) && g(b).isNullAt(2)))
    assert(g(10).getSeq[Long](1) == (0 until 10).map(10 * 1000L + _))
    assert(g(10).getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)) ==
      g(10).getSeq[Long](1))
  }

  test("capped_id_list rejects a non-bigint id at analysis time") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = intercept[Exception] {
      Seq(("a", 1)).toDF("id", "b").groupBy("b")
        .agg(call_function("capped_id_list", col("id"), lit(10)))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("bigint") ||
      e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }
}
