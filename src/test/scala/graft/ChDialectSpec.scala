package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.Tables

/** Every ClickHouse-dialect alias must resolve through spark.sql and
  * produce the documented semantics. */
class ChDialectSpec extends SparkSpec {
  import spark.implicits._

  private def sql1[T](q: String): org.apache.spark.sql.Row = {
    GraftFunctions.ensureRegistered(spark)
    spark.sql(q).collect().head
  }

  test("scalar aliases: datetime, arithmetic, strings, casts, json, arrays") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT
        |  toYear(TIMESTAMP '2024-03-15 13:45:00') AS y,
        |  toDayOfWeek(TIMESTAMP '2024-03-15 00:00:00') AS dow, -- Friday → 5
        |  toStartOfMonth(TIMESTAMP '2024-03-15 13:45:00') AS som,
        |  intDiv(7, 2) AS idiv, modulo(7, 2) AS m,
        |  multiIf(1 > 2, 'a', 2 > 1, 'b', 'c') AS mi,
        |  positionUTF8('haystack', 'st') AS pos,
        |  lengthUTF8('abc') AS len, empty('') AS e, notEmpty('x') AS ne,
        |  toUInt64('42') AS u64, toString(7) AS s7,
        |  JSONExtractInt('{"k": 9}', 'k') AS jk,
        |  has(array(1,2,3), 2) AS h, indexOf(array(9,8,7), 8) AS idx,
        |  MD5('x') AS md5x, bitCount(255) AS bc
        |""".stripMargin)
    assert(r.getAs[Int]("y") == 2024)
    assert(r.getAs[Int]("dow") == 5)
    assert(r.getAs[java.sql.Timestamp]("som").toString.startsWith("2024-03-01"))
    assert(r.getAs[Long]("idiv") == 3L && r.getAs[Int]("m") == 1)
    assert(r.getAs[String]("mi") == "b")
    assert(r.getAs[Int]("pos") == 4)
    assert(r.getAs[Int]("len") == 3 && r.getAs[Boolean]("e") && r.getAs[Boolean]("ne"))
    // toUInt64 carries DECIMAL(20,0) — the full-UInt64-range carrier
    assert(r.getAs[java.math.BigDecimal]("u64").longValueExact == 42L &&
      r.getAs[String]("s7") == "7")
    assert(r.getAs[Long]("jk") == 9L)
    assert(r.getAs[Boolean]("h") && r.getAs[Long]("idx") == 2L)
    assert(r.getAs[String]("md5x").length == 32 && r.getAs[Int]("bc") == 8)
  }

  test("aggregate aliases over a real table match DataFrame twins") {
    GraftFunctions.ensureRegistered(spark)
    Tables(spark, sfDir).orders.createOrReplaceTempView("orders_v")
    val r = sql1(
      """SELECT
        |  countIf(o_totalprice > 100000) AS nbig,
        |  CAST(sumIf(o_totalprice, o_orderstatus = 'F') AS DOUBLE) AS sumf,
        |  uniqExact(o_custkey) AS ue,
        |  argMax(o_orderkey, o_totalprice) AS am,
        |  median(o_totalprice) AS med,
        |  quantile(o_totalprice, 0.9) AS p90
        |FROM orders_v""".stripMargin)
    val o = Tables(spark, sfDir).orders
    val expect = o.agg(
      count(when(col("o_totalprice") > 100000, 1)).as("nbig"),
      sum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("sumf"),
      countDistinct(col("o_custkey")).as("ue"),
      max_by(col("o_orderkey"), col("o_totalprice")).as("am")).collect().head
    assert(r.getAs[Long]("nbig") == expect.getAs[Long]("nbig"))
    assert(math.abs(r.getAs[Double]("sumf") - expect.getAs[Double]("sumf")) < 1e-6)
    assert(r.getAs[Long]("ue") == expect.getAs[Long]("ue"))
    assert(r.getAs[Long]("am") == expect.getAs[Long]("am"))
    // bare median/quantile = the bounded reservoir, below the cap the
    // reference's interpolated index-q·(n−1) statistic with weights
    // (right−idx, idx−left) — computed here with the same arithmetic
    val sorted = o.select(col("o_totalprice").cast("double"))
      .collect().map(_.getDouble(0)).sorted
    def interp(q: Double): Double = {
      val index = q * (sorted.length - 1)
      val left = index.toInt; val right = left + 1
      if (right >= sorted.length) sorted(sorted.length - 1)
      else sorted(left) * (right - index) + sorted(right) * (index - left)
    }
    assert(r.getAs[Double]("med") == interp(0.5))
    assert(r.getAs[Double]("p90") == interp(0.9))
  }

  test("extended scalar aliases: datetime extras, guarded division, bit ops, arrays") {
    val r = sql1(
      """SELECT
        |  toQuarter(TIMESTAMP '2024-08-15 00:00:00') AS q,
        |  toDayOfYear(TIMESTAMP '2024-02-01 00:00:00') AS doy,
        |  toYYYYMM(TIMESTAMP '2024-08-15 00:00:00') AS yyyymm,
        |  CAST(toStartOfYear(TIMESTAMP '2024-08-15 00:00:00') AS DATE) AS soy,
        |  toMonday(TIMESTAMP '2024-08-15 00:00:00') AS mon, -- Thursday → 2024-08-12
        |  addYears(DATE '2020-02-29', 1) AS plus_year,
        |  intDivOrZero(10, 0) AS idz, moduloOrZero(10, 0) AS mdz,
        |  exp2(10) AS e2,
        |  bitAnd(12, 10) AS ba, bitOr(12, 10) AS bo, bitXor(12, 10) AS bx,
        |  bitNot(0) AS bn, bitShiftLeft(1, 4) AS bsl,
        |  leftPad('7', 3, '0') AS lp, repeatStr('ab', 3) AS rp,
        |  arrayReverse(array(1, 2, 3)) AS ar,
        |  arraySlice(array(1, 2, 3, 4), 2, 2) AS asl,
        |  arrayFlatten(array(array(1), array(2, 3))) AS af,
        |  arrayPushBack(array(1, 2), 9) AS apb
        |""".stripMargin)
    assert(r.getAs[Int]("q") == 3 && r.getAs[Int]("doy") == 32)
    assert(r.getAs[Int]("yyyymm") == 202408)
    assert(r.getAs[java.sql.Date]("soy").toString == "2024-01-01")
    assert(r.getAs[java.sql.Date]("mon").toString == "2024-08-12")
    assert(r.getAs[java.sql.Date]("plus_year").toString == "2021-02-28")
    assert(r.getAs[Long]("idz") == 0L && r.getAs[Int]("mdz") == 0)
    assert(r.getAs[Double]("e2") == 1024.0)
    assert(r.getAs[Int]("ba") == 8 && r.getAs[Int]("bo") == 14 && r.getAs[Int]("bx") == 6)
    assert(r.getAs[Int]("bn") == -1 && r.getAs[Int]("bsl") == 16)
    assert(r.getAs[String]("lp") == "007" && r.getAs[String]("rp") == "ababab")
    def seq(name: String): List[Int] = r.getSeq[Int](r.fieldIndex(name)).toList
    assert(seq("ar") == List(3, 2, 1))
    assert(seq("asl") == List(2, 3))
    assert(seq("af") == List(1, 2, 3))
    assert(seq("apb") == List(1, 2, 9))
  }

  test("uniq alias is the HLL sketch; groupArray/groupUniqArray collect") {
    GraftFunctions.ensureRegistered(spark)
    Tables(spark, sfDir).orders.createOrReplaceTempView("orders_v")
    val r = sql1(
      """SELECT uniq(o_custkey) AS u,
        |  uniqCombined(o_custkey) AS uc,
        |  quantileExact(o_totalprice, 0.5) AS qe,
        |  medianExact(o_totalprice) AS me,
        |  anyHeavy(o_orderstatus) AS ah,
        |  size(groupArray(o_orderkey)) AS ga,
        |  size(groupUniqArray(o_orderstatus)) AS gua
        |FROM orders_v""".stripMargin)
    assert(r.getAs[Double]("qe") == r.getAs[Double]("me"))
    assert(Set("F", "O", "P").contains(r.getAs[String]("ah")))
    assert(r.getAs[Long]("uc") == r.getAs[Long]("u"))
    val exact = Tables(spark, sfDir).orders
      .agg(countDistinct(col("o_custkey"))).as[Long].head()
    assert(math.abs(r.getAs[Long]("u") - exact).toDouble / exact < 0.05)
    assert(r.getAs[Int]("ga") > 0 && r.getAs[Int]("gua") >= 2)
  }

  test("higher-order array aliases put the CH lambda-first order on Spark builtins") {
    val r = sql1(
      """SELECT
        |  arrayMap(x -> x * 2, array(1, 2, 3)) AS am,
        |  arrayFilter(x -> x > 1, array(1, 2, 3)) AS af,
        |  arrayExists(x -> x = 2, array(1, 2, 3)) AS ae,
        |  arrayAll(x -> x > 0, array(1, 2, 3)) AS aa,
        |  size(arrayFilter(x -> x % 2 = 1, array(1, 2, 3))) AS ac,
        |  arraySum(array(1, 2, 3)) AS asum,
        |  arrayMin(array(3, 1, 2)) AS amin,
        |  arrayMax(array(3, 1, 2)) AS amax,
        |  arrayUniq(array(1, 2, 2, 3)) AS au,
        |  toYYYYMMDD(TIMESTAMP '2024-03-15 13:45:00') AS ymd,
        |  match('hello world', 'wor.d') AS mt,
        |  match('hello', '^world') AS mf
        |""".stripMargin)
    def seq(name: String): List[Int] = r.getSeq[Int](r.fieldIndex(name)).toList
    assert(seq("am") == List(2, 4, 6))
    assert(seq("af") == List(2, 3))
    assert(r.getAs[Boolean]("ae") && r.getAs[Boolean]("aa"))
    assert(r.getAs[Int]("ac") == 2)
    assert(r.getAs[Double]("asum") == 6.0)
    assert(r.getAs[Int]("amin") == 1 && r.getAs[Int]("amax") == 3)
    assert(r.getAs[Int]("au") == 3)
    assert(r.getAs[Int]("ymd") == 20240315)
    assert(r.getAs[Boolean]("mt") && !r.getAs[Boolean]("mf"))
  }

  test("operator function names (the query-log normalization) and cast/trim extras") {
    val r = sql1(
      """SELECT
        |  plus(2, 3) AS p, minus(5, 2) AS m, multiply(4, 3) AS mu,
        |  divide(7, 2) AS dv,
        |  equals(1, 1) AS eq, notEquals(1, 2) AS ne,
        |  greater(2, 1) AS gt, lessOrEquals(2, 2) AS le,
        |  xor(true, false) AS x1, xor(true, true) AS x2,
        |  toInt8(200 - 73) AS i8, toUInt8(200) AS u8, toFloat32(1.5) AS f32,
        |  toNullable(7) AS tn, assumeNotNull(7) AS ann, materialize(7) AS mz,
        |  trimLeft('  a ') AS tl, trimRight('  a ') AS tr
        |""".stripMargin)
    assert(r.getAs[Int]("p") == 5 && r.getAs[Int]("m") == 3 && r.getAs[Int]("mu") == 12)
    assert(r.getAs[Double]("dv") == 3.5) // CH divide is float division
    assert(r.getAs[Boolean]("eq") && r.getAs[Boolean]("ne"))
    assert(r.getAs[Boolean]("gt") && r.getAs[Boolean]("le"))
    assert(r.getAs[Boolean]("x1") && !r.getAs[Boolean]("x2"))
    assert(r.getAs[Byte]("i8") == 127 && r.getAs[Short]("u8") == 200)
    assert(r.getAs[Float]("f32") == 1.5f)
    assert(r.getAs[Int]("tn") == 7 && r.getAs[Int]("ann") == 7 && r.getAs[Int]("mz") == 7)
    assert(r.getAs[String]("tl") == "a " && r.getAs[String]("tr") == "  a")
  }

  test("splitByString/arrayEnumerate/arrayZip semantics") {
    val r = sql1(
      """SELECT
        |  splitByString('||', 'a||b||c') AS sbs,
        |  splitByString('.', 'x.y.') AS sbd,
        |  arrayEnumerate(array(9, 8, 7)) AS en,
        |  arrayEnumerate(array()) AS en0,
        |  arrayZip(array(1, 2), array('a', 'b')) AS az
        |""".stripMargin)
    assert(r.getSeq[String](r.fieldIndex("sbs")).toList == List("a", "b", "c"))
    // literal separator + trailing empty kept, like CH
    assert(r.getSeq[String](r.fieldIndex("sbd")).toList == List("x", "y", ""))
    assert(r.getSeq[Int](r.fieldIndex("en")).toList == List(1, 2, 3))
    assert(r.getSeq[Int](r.fieldIndex("en0")).isEmpty)
    assert(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("az")).length == 2)
  }

  test("round-4 aliases: formats, buckets, decimals, tuples, URLs, weighted aggs") {
    val r = sql1(
      """SELECT
        |  formatDateTime(TIMESTAMP '2024-03-15 13:45:07', '%Y-%m-%d %H:%M:%S') AS fdt,
        |  formatDateTime(TIMESTAMP '2024-03-15 13:45:07', '%FT%T') AS fdt2,
        |  toStartOfFiveMinutes(TIMESTAMP '2024-03-15 13:47:31') AS b5,
        |  toStartOfMinute(TIMESTAMP '2024-03-15 13:47:31') AS b1,
        |  toYYYYMMDDhhmmss(TIMESTAMP '2024-03-15 13:45:07') AS yms,
        |  CAST(toDecimal64('12.3456', 2) AS STRING) AS d2,
        |  tupleElement(tuple(7, 'x'), 2) AS te,
        |  tupleElement(named_struct('a', 1, 'b', 9), 'b') AS tn,
        |  domain('https://ex.com/p/q?k=v') AS dom,
        |  path('https://ex.com/p/q?k=v') AS pth,
        |  extractURLParameter('https://ex.com/p?k=v&j=2', 'j') AS up,
        |  countSubstrings('a.b.a.b', 'a.b') AS cs,
        |  positionCaseInsensitive('HayStack', 'stack') AS pci,
        |  countEqual(array(1, 2, 1, 3), 1) AS ce,
        |  arrayAvg(array(1, 2, 3, 4)) AS aavg,
        |  roundBankers(CAST(2.5 AS DOUBLE)) AS rb,
        |  mapContains(map('k', 1), 'k') AS mc
        |""".stripMargin)
    assert(r.getAs[String]("fdt") == "2024-03-15 13:45:07")
    assert(r.getAs[String]("fdt2") == "2024-03-15T13:45:07")
    assert(r.getAs[java.sql.Timestamp]("b5").toString.contains("13:45:00"))
    assert(r.getAs[java.sql.Timestamp]("b1").toString.contains("13:47:00"))
    assert(r.getAs[Long]("yms") == 20240315134507L)
    assert(r.getAs[String]("d2") == "12.35")
    assert(r.getAs[String]("te") == "x" && r.getAs[Int]("tn") == 9)
    assert(r.getAs[String]("dom") == "ex.com" && r.getAs[String]("pth") == "/p/q")
    assert(r.getAs[String]("up") == "2")
    assert(r.getAs[Int]("cs") == 2)
    assert(r.getAs[Int]("pci") == 4)
    assert(r.getAs[Int]("ce") == 2)
    assert(r.getAs[Double]("aavg") == 2.5)
    assert(r.getAs[Double]("rb") == 2.0)
    assert(r.getAs[Boolean]("mc"))
    // weighted average + If-guarded extremes + camelCase stat names
    val a = sql1(
      """SELECT avgWeighted(v, w) AS aw, CAST(minIf(v, w > 1) AS DOUBLE) AS mi,
        |       stddevSamp(v) AS ss, groupBitOr(CAST(v AS BIGINT)) AS bo
        |FROM VALUES (1.0, 1.0), (3.0, 3.0), (5.0, 0.0) AS t(v, w)""".stripMargin)
    assert(math.abs(a.getAs[Double]("aw") - 2.5) < 1e-9) // (1 + 9) / 4
    assert(a.getAs[Double]("mi") == 3.0)
    assert(a.getAs[Double]("ss") > 0)
    assert(a.getAs[Long]("bo") == 7L)
  }

  test("array family round 7: folds, running ops, shape ops, range") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT
        |  arrayFold((acc, x) -> acc + x, array(1L, 2L, 3L), 10L) AS fold,
        |  arrayCumSum(array(1, 2, 3)) AS cum,
        |  arrayDifference(array(5, 8, 6)) AS diff,
        |  arrayCompact(array(1, 1, 2, 2, 2, 1)) AS compact,
        |  arrayProduct(array(2, 3, 4)) AS prod,
        |  arrayDotProduct(array(1.0, 2.0), array(3.0, 4.0)) AS dot,
        |  arraySort(arrayIntersect(array(3, 1, 2), array(2, 3, 9))) AS inter,
        |  arrayReverseSort(array(2, 9, 4)) AS rsort,
        |  arrayPopBack(array(1, 2, 3)) AS popb,
        |  arrayPopFront(array(1, 2, 3)) AS popf,
        |  arrayPopBack(array(7)) AS popb1,
        |  arrayPushFront(array(2, 3), 1) AS pushf,
        |  arrayWithConstant(3, 'ab') AS wconst,
        |  arrayResize(array(1, 2, 3), 2, 0) AS shrink,
        |  arrayResize(array(1, 2), 4, 9) AS grow,
        |  range(4) AS r1, range(2, 6) AS r2, range(0, 10, 3) AS r3,
        |  range(5, 5) AS rempty
        |""".stripMargin)
    assert(r.getAs[Long]("fold") == 16L)
    assert(r.getAs[collection.Seq[Double]]("cum") == Seq(1.0, 3.0, 6.0))
    assert(r.getAs[collection.Seq[Double]]("diff") == Seq(0.0, 3.0, -2.0))
    assert(r.getAs[collection.Seq[Int]]("compact") == Seq(1, 2, 1))
    assert(r.getAs[Double]("prod") == 24.0)
    assert(r.getAs[Double]("dot") == 11.0)
    assert(r.getAs[collection.Seq[Int]]("inter") == Seq(2, 3))
    assert(r.getAs[collection.Seq[Int]]("rsort") == Seq(9, 4, 2))
    assert(r.getAs[collection.Seq[Int]]("popb") == Seq(1, 2))
    assert(r.getAs[collection.Seq[Int]]("popf") == Seq(2, 3))
    assert(r.getAs[collection.Seq[Int]]("popb1") == Seq.empty)
    assert(r.getAs[collection.Seq[Int]]("pushf") == Seq(1, 2, 3))
    assert(r.getAs[collection.Seq[String]]("wconst") == Seq("ab", "ab", "ab"))
    assert(r.getAs[collection.Seq[Int]]("shrink") == Seq(1, 2))
    assert(r.getAs[collection.Seq[Int]]("grow") == Seq(1, 2, 9, 9))
    assert(r.getAs[collection.Seq[Long]]("r1") == Seq(0L, 1L, 2L, 3L))
    assert(r.getAs[collection.Seq[Long]]("r2") == Seq(2L, 3L, 4L, 5L))
    assert(r.getAs[collection.Seq[Long]]("r3") == Seq(0L, 3L, 6L, 9L))
    assert(r.getAs[collection.Seq[Long]]("rempty") == Seq.empty)
    // arrayResize without the pad refuses with the actionable message
    val e = intercept[Exception] {
      spark.sql("SELECT arrayResize(array(1), 3)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("3-arg")), e.toString)
  }

  test("moving aggregates and arrayJaccardIndex") {
    GraftFunctions.ensureRegistered(spark)
    // one input partition → collect_list keeps input order, so the
    // running sums are deterministic here (the documented groupArray
    // order caveat applies on real clusters — declare an order there)
    Seq(1, 2, 3, 4).toDF("v").coalesce(1).createOrReplaceTempView("mv")
    // the parametric (N)(x) spelling goes through the translator's
    // parametric-agg fold, exactly like quantile(p)(x) / uniqUpTo
    val r = spark.sql(graft.functions.ChSql.translate(
      """SELECT
        |  groupArrayMovingSum(v) AS ms,
        |  groupArrayMovingSum(2)(v) AS ms2,
        |  groupArrayMovingAvg(v) AS ma,
        |  groupArrayMovingAvg(2)(v) AS ma2,
        |  arrayJaccardIndex(array(1, 2, 3), array(2, 3, 9)) AS jac
        |FROM mv""".stripMargin)).collect().head
    assert(r.getAs[collection.Seq[Double]]("ms") == Seq(1.0, 3.0, 6.0, 10.0))
    assert(r.getAs[collection.Seq[Double]]("ms2") == Seq(1.0, 3.0, 5.0, 7.0))
    assert(r.getAs[collection.Seq[Double]]("ma") == Seq(1.0, 1.5, 2.0, 2.5))
    assert(r.getAs[collection.Seq[Double]]("ma2") == Seq(1.0, 1.5, 2.5, 3.5))
    assert(r.getAs[Double]("jac") == 0.5)
  }

  test("readable formatters, bar, and sketch-alias staples") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT
        |  formatReadableSize(1536) AS kib,
        |  formatReadableSize(1610612736) AS gib,
        |  formatReadableSize(512) AS b,
        |  formatReadableQuantity(1500000) AS mil,
        |  formatReadableQuantity(999) AS small,
        |  bar(5, 0, 10, 10) AS half,
        |  bar(15, 0, 10, 10) AS clamped,
        |  length(bar(0, 0, 10)) AS zero
        |""".stripMargin)
    assert(r.getAs[String]("kib") == "1.50 KiB")
    assert(r.getAs[String]("gib") == "1.50 GiB")
    assert(r.getAs[String]("b") == "512.00 B")
    assert(r.getAs[String]("mil") == "1.50 million")
    assert(r.getAs[String]("small") == "999.00")
    assert(r.getAs[String]("half") == "█" * 5)
    assert(r.getAs[String]("clamped") == "█" * 10)
    assert(r.getAs[Int]("zero") == 0)
    Tables(spark, sfDir).orders.createOrReplaceTempView("orders_v")
    val a = sql1(
      """SELECT uniqTheta(o_custkey) AS ut,
        |  quantileTiming(o_totalprice, 0.5) AS qt,
        |  medianTiming(o_totalprice) AS mt,
        |  sumWithOverflow(o_orderkey) AS so
        |FROM orders_v""".stripMargin)
    assert(a.getAs[Double]("qt") == a.getAs[Double]("mt"))
    assert(a.getAs[Long]("ut") > 0 && a.getAs[Long]("so") > 0)
    // weighted exact quantile = the repeat-each-x-w-times median;
    // sumCount packs (sum, count) as a _1/_2 tuple. The parametric
    // (p)(x, w) spelling routes through the translator's fold.
    Seq((1.0, 1L), (2.0, 1L), (10.0, 8L)).toDF("x", "w")
      .createOrReplaceTempView("wq")
    val b = spark.sql(graft.functions.ChSql.translate(
      """SELECT quantileExactWeighted(0.5)(x, w) AS med,
        |  medianExactWeighted(x, w) AS med2,
        |  sumCount(x) AS sc FROM wq""".stripMargin)).collect().head
    assert(b.getAs[Double]("med") == 10.0 && b.getAs[Double]("med2") == 10.0)
    val sc = b.getStruct(b.fieldIndex("sc"))
    assert(sc.getAs[Double]("_1") == 13.0 && sc.getAs[Long]("_2") == 3L)
    // deterministic-reservoir quantiles (det arg seeds CH's sample —
    // exact is its deterministic limit), bitmap cardinality, 64-bit
    // combined sketch; deltaSum refuses with the window spelling
    val c = spark.sql(graft.functions.ChSql.translate(
      """SELECT quantileDeterministic(0.5)(x, w) AS qd,
        |  medianDeterministic(x, w) AS md,
        |  groupBitmap(x) AS gb, uniqCombined64(12)(x) AS uc FROM wq""".stripMargin))
      .collect().head
    assert(c.getAs[Double]("qd") == 2.0 && c.getAs[Double]("md") == 2.0)
    assert(c.getAs[Long]("gb") == 3L && c.getAs[Long]("uc") == 3L)
    val e = intercept[Exception] {
      spark.sql(graft.functions.ChSql.translate("SELECT deltaSum(x) FROM wq"))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("lag")), e.toString)
  }

  test("toStartOfInterval/toISOWeek/splitByRegexp/age map onto exact Spark forms") {
    val r = spark.sql(graft.functions.ChSql.translate(
      """SELECT
        |  toStartOfInterval(timestamp'2024-05-17 13:47:12', INTERVAL 15 MINUTE) AS m15,
        |  toStartOfInterval(timestamp'2024-05-17 13:47:12', INTERVAL 6 HOUR) AS h6,
        |  toStartOfInterval(timestamp'2024-05-17 13:47:12', INTERVAL 2 MONTH) AS mo2,
        |  toISOWeek(date'2024-01-01') AS w,
        |  splitByRegexp('[,;]', 'a,b;c') AS sp,
        |  age('day', timestamp'2024-01-01 23:59:00', timestamp'2024-01-02 00:01:00') AS age_d,
        |  dateDiff('day', timestamp'2024-01-01 23:59:00', timestamp'2024-01-02 00:01:00') AS dd
        |""".stripMargin)).collect().head
    assert(r.getAs[java.sql.Timestamp]("m15").toString == "2024-05-17 13:45:00.0")
    assert(r.getAs[java.sql.Timestamp]("h6").toString == "2024-05-17 12:00:00.0")
    assert(r.getAs[java.sql.Date]("mo2").toString == "2024-05-01")
    assert(r.getAs[Int]("w") == 1) // 2024-01-01 is ISO week 1
    assert(r.getSeq[String](r.fieldIndex("sp")) == Seq("a", "b", "c"))
    // age counts complete units (0 full days); dateDiff counts
    // boundary crossings (1) — the CH contract for both
    assert(r.getAs[Long]("age_d") == 0L && r.getAs[Long]("dd") == 1L)
    // timeSlot = 30-minute floor; emptyArray<T> = typed empty literal;
    // simpleLinearRegression = (k, b) of y = k·x + b (x, y arg order)
    Seq((1.0, 3.0), (2.0, 5.0), (3.0, 7.0)).toDF("x", "y")
      .createOrReplaceTempView("slr")
    val r2 = spark.sql(graft.functions.ChSql.translate(
      """SELECT timeSlot(timestamp'2024-05-17 13:47:12') AS slot,
        |  emptyArrayInt64() AS ei, emptyArrayString() AS es,
        |  (SELECT simpleLinearRegression(x, y) FROM slr) AS kb
        |""".stripMargin)).collect().head
    assert(r2.getAs[java.sql.Timestamp]("slot").toString == "2024-05-17 13:30:00.0")
    assert(r2.getSeq[Long](r2.fieldIndex("ei")).isEmpty)
    assert(r2.getSeq[String](r2.fieldIndex("es")).isEmpty)
    val kb = r2.getStruct(r2.fieldIndex("kb"))
    assert(kb.getAs[Double]("_1") == 2.0 && kb.getAs[Double]("_2") == 1.0)
    // arrayEnumerateUniq: occurrence rank among equals so far
    val r3 = spark.sql(graft.functions.ChSql.translate(
      "SELECT arrayEnumerateUniq(array(10, 20, 10, 10, 20)) AS eu"))
      .collect().head
    assert(r3.getSeq[Int](r3.fieldIndex("eu")) == Seq(1, 1, 2, 3, 2))
  }

  test("extractAll: literal patterns pick group vs whole match; runtime patterns refuse") {
    GraftFunctions.ensureRegistered(spark)
    // group-less pattern → whole matches; capturing group → group 1
    val got = spark.sql(
      "SELECT extractAll('ab12cd34', '[0-9]+') AS whole, " +
        "extractAll('ab12cd34', '([a-z]+)[0-9]') AS grp")
      .as[(Seq[String], Seq[String])].collect().head
    assert(got == ((Seq("12", "34"), Seq("ab", "cd"))), got)
    // a runtime pattern can't be inspected for the group rule —
    // refuse at analysis instead of throwing mid-job on group 1
    val e = intercept[Exception] {
      spark.sql("SELECT extractAll(s, p) FROM VALUES ('ab1', '[0-9]') AS t(s, p)")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("literal pattern")), e.toString)
  }

  test("stats tests: t statistics and U match closed-form hand computation") {
    GraftFunctions.ensureRegistered(spark)
    // A = {1..5} (idx 0), B = {2,4,6,8,10} (idx 1):
    //   pooled/welch t = -3/√2.5; U1 = #(a>b) + ½#(a=b) = 5.0
    val r = sql1(
      """SELECT studentTTest(v, g) AS st, welchTTest(v, g) AS wt,
        |  mannWhitneyUTest(v, g) AS mw
        |FROM VALUES (1.0, 0), (2.0, 0), (3.0, 0), (4.0, 0), (5.0, 0),
        |  (2.0, 1), (4.0, 1), (6.0, 1), (8.0, 1), (10.0, 1) AS t(v, g)
        |""".stripMargin)
    val tExp = -3.0 / math.sqrt(2.5)
    val st = r.getAs[org.apache.spark.sql.Row]("st")
    val wt = r.getAs[org.apache.spark.sql.Row]("wt")
    val mw = r.getAs[org.apache.spark.sql.Row]("mw")
    assert(math.abs(st.getAs[Double]("_1") - tExp) < 1e-12)
    assert(math.abs(wt.getAs[Double]("_1") - tExp) < 1e-12)
    // approx p vs exact references (scipy): student 0.0943, mann 0.146
    assert(math.abs(st.getAs[Double]("_2") - 0.0943) < 0.01,
      s"student p ${st.getAs[Double]("_2")}")
    assert(mw.getAs[Double]("_1") == 5.0)
    assert(math.abs(mw.getAs[Double]("_2") - 0.146) < 0.02,
      s"mann p ${mw.getAs[Double]("_2")}")
    // welch p between student's (same t, fewer df → larger p)
    assert(wt.getAs[Double]("_2") > st.getAs[Double]("_2"))
  }

  test("stats tests: cohort swap symmetry, U1+U2 = n1·n2, degenerate p = 1") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT mannWhitneyUTest(v, g) AS a, mannWhitneyUTest(v, 1 - g) AS b,
        |  mannWhitneyUTest(c, g) AS flat
        |FROM VALUES (1.0, 0, 7.0), (2.0, 0, 7.0), (3.0, 0, 7.0),
        |  (2.0, 1, 7.0), (4.0, 1, 7.0), (6.0, 1, 7.0) AS t(v, g, c)
        |""".stripMargin)
    val a = r.getAs[org.apache.spark.sql.Row]("a")
    val b = r.getAs[org.apache.spark.sql.Row]("b")
    assert(a.getAs[Double]("_1") + b.getAs[Double]("_1") == 9.0,
      s"U1 + U2 must be n1*n2: $a $b")
    assert(math.abs(a.getAs[Double]("_2") - b.getAs[Double]("_2")) < 1e-12)
    // all values identical → zero variance → p = 1 by convention
    assert(r.getAs[org.apache.spark.sql.Row]("flat").getAs[Double]("_2") == 1.0)
  }

  test("stats tests work per-group in GROUP BY") {
    GraftFunctions.ensureRegistered(spark)
    val rows = spark.sql(
      """SELECT k, studentTTest(v, g) AS st
        |FROM VALUES ('x', 1.0, 0), ('x', 2.0, 0), ('x', 5.0, 1), ('x', 6.0, 1),
        |  ('y', 10.0, 0), ('y', 20.0, 0), ('y', 10.0, 1), ('y', 20.0, 1)
        |  AS t(k, v, g)
        |GROUP BY k ORDER BY k""".stripMargin).collect()
    assert(rows.length == 2)
    // group y: identical cohorts → t = 0, p ≈ 1
    val y = rows(1).getAs[org.apache.spark.sql.Row]("st")
    assert(math.abs(y.getAs[Double]("_1")) < 1e-12)
    assert(y.getAs[Double]("_2") > 0.99)
    // group x: clearly separated → |t| large, p small
    val x = rows(0).getAs[org.apache.spark.sql.Row]("st")
    assert(math.abs(x.getAs[Double]("_1")) > 3)
  }

  test("boundingRatio and maxIntersections match hand-computed sweeps") {
    GraftFunctions.ensureRegistered(spark)
    // points (x=0,y=10) … (x=4,y=2): slope (2-10)/(4-0) = -2
    // intervals [0,2) [1,4) [3,5) [2,3): overlap peaks at 2 —
    //   first reached at point 1 ([0,2) and [1,4)); [2,3)+[1,4)
    //   re-reach 2 at 2 but never exceed
    val r = sql1(
      """SELECT boundingRatio(x, y) AS br,
        |  maxIntersections(s, e) AS mi,
        |  maxIntersectionsPosition(s, e) AS mip
        |FROM VALUES (0.0, 10.0, 0.0, 2.0), (1.0, 8.0, 1.0, 4.0),
        |  (3.0, 4.0, 3.0, 5.0), (4.0, 2.0, 2.0, 3.0) AS t(x, y, s, e)
        |""".stripMargin)
    assert(r.getAs[Double]("br") == -2.0)
    assert(r.getAs[Long]("mi") == 2L)
    assert(r.getAs[Double]("mip") == 1.0)
    // touching intervals are half-open: [0,1) and [1,2) don't intersect
    val t = sql1(
      """SELECT maxIntersections(s, e) AS mi
        |FROM VALUES (0.0, 1.0), (1.0, 2.0) AS t(s, e)""".stripMargin)
    assert(t.getAs[Long]("mi") == 1L)
  }

  test("maxIntersections compiled sweep equals the composed fold on real events") {
    GraftFunctions.ensureRegistered(spark)
    // register the pre-r15 composed fold under test-only names and
    // compare both spellings group-by-group over the real events
    // table — the kernel (SweepMaxExpr) must be bit-identical
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(FunctionIdentifier("mi_composed_test"),
      new ExpressionInfo("", "mi_composed_test"),
      es => graft.functions.StatFns.maxIntersectionsComposed(es))
    reg.registerFunction(FunctionIdentifier("mip_composed_test"),
      new ExpressionInfo("", "mip_composed_test"),
      es => graft.functions.StatFns.maxIntersectionsPositionComposed(es))
    graft.sources.Tables(spark, "/root/testdata/sf0.001").events
      .createOrReplaceTempView("mi_parity_events")
    val got = spark.sql(
      """SELECT event_type,
        |  maxIntersections(value, value + 10) AS mi,
        |  maxIntersectionsPosition(value, value + 10) AS mip,
        |  mi_composed_test(value, value + 10) AS cmi,
        |  mip_composed_test(value, value + 10) AS cmip
        |FROM mi_parity_events GROUP BY event_type""".stripMargin)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("mi") == r.getAs[Long]("cmi"), r)
      assert(r.getAs[Double]("mip") == r.getAs[Double]("cmip"), r)
    }
  }

  test("mannWhitney compiled rank fold equals the composed fold on real events") {
    GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Cast, CreateNamedStruct, EqualTo, Expression, If, Literal, ExpressionInfo}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    def arrOf(es: Seq[Expression]): Expression = {
      val v = Cast(es(0), DoubleType)
      val c0 = EqualTo(Cast(es(1), IntegerType), Literal(0))
      val entry = CreateNamedStruct(Seq(
        Literal("v"), v,
        Literal("o"), If(c0, Literal(1L), Literal(0L))))
      val collected = org.apache.spark.sql.catalyst.expressions.aggregate
        .CollectList(entry).toAggregateExpression()
      org.apache.spark.sql.catalyst.expressions.SortArray(collected, Literal(true))
    }
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(FunctionIdentifier("mw_fold_kernel_test"),
      new ExpressionInfo("", "mw_fold_kernel_test"),
      es => graft.functions.MwFoldExpr(arrOf(es)))
    reg.registerFunction(FunctionIdentifier("mw_fold_composed_test"),
      new ExpressionInfo("", "mw_fold_composed_test"),
      es => graft.functions.StatFns.mwRankFoldComposed(arrOf(es)))
    graft.sources.Tables(spark, "/root/testdata/sf0.001").events
      .createOrReplaceTempView("mw_parity_events")
    val got = spark.sql(
      """SELECT event_type,
        |  mw_fold_kernel_test(value, user_id % 2) AS k,
        |  mw_fold_composed_test(value, user_id % 2) AS c
        |FROM mw_parity_events GROUP BY event_type""".stripMargin)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val k = r.getStruct(1); val c = r.getStruct(2)
      assert(k.getDouble(0) == c.getDouble(0), s"r1 differs: $r")
      assert(k.getDouble(1) == c.getDouble(1), s"ties differs: $r")
    }
    // NaN run-extension (ADVICE r19): the composed fold's EqualTo
    // treats NaN = NaN as TRUE and sort_array places NaNs adjacent —
    // the kernel must pool them into ONE tied run, not one run per
    // NaN. Sorted: 1.0, 2.0, NaN×3 → r1 = 1·1 + 0 + 2·(2 + 4/2) = 9,
    // ties = 3³ − 3 = 24.
    val nan = spark.sql(
      """SELECT mw_fold_kernel_test(v, g) AS k,
        |  mw_fold_composed_test(v, g) AS c
        |FROM VALUES (1.0D, 0), (2.0D, 1), (CAST('NaN' AS DOUBLE), 0),
        |  (CAST('NaN' AS DOUBLE), 1), (CAST('NaN' AS DOUBLE), 0)
        |  AS t(v, g)""".stripMargin).collect().head
    val nk = nan.getStruct(0); val nc = nan.getStruct(1)
    assert(nk.getDouble(0) == 9.0 && nk.getDouble(1) == 24.0,
      s"kernel NaN fold: $nk")
    assert(nk.getDouble(0) == nc.getDouble(0) &&
      nk.getDouble(1) == nc.getDouble(1), s"NaN parity: $nan")
  }

  test("c30 distributed Mann-Whitney plan equals the dialect translation") {
    // the registered c30 plan computes the U test from per-(group,
    // value) counts + a prefix window (r20); the chSql translation
    // (collect_list + rank fold) stays the parity oracle — results
    // must be BIT-identical on real events at both small SFs
    // plus a copy of sf0.001 events with NULL value and NULL user_id
    // rows added: both plans must skip them, keeping parity
    import org.apache.spark.sql.functions.{col, lit, when}
    val withNulls = scratchDir("c30_nulls").toString
    val ev = graft.sources.Tables(spark, sfDir).events
    val extra = ev.limit(60).withColumn("value",
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")))
      .withColumn("user_id",
        when(col("event_id") % 3 === 1, lit(null)).otherwise(col("user_id")))
    ev.unionByName(extra).write.parquet(s"$withNulls/events.parquet")
    assert(spark.read.parquet(s"$withNulls/events.parquet")
      .where(col("value").isNull || col("user_id").isNull).count() > 0)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val a = graft.queries.DialectQueries.c30Fn(spark, dir)
      val b = graft.queries.DialectQueries.c30ChSqlFn(spark, dir)
      assert(a.columns.toSeq == b.columns.toSeq)
      assert(a.collect().toSeq == b.collect().toSeq, s"c30 parity at $dir")
    }
    val a = graft.queries.DialectQueries.c30Fn(spark, withNulls)
    val b = graft.queries.DialectQueries.c30ChSqlFn(spark, withNulls)
    assert(a.collect().toSeq == b.collect().toSeq, "c30 parity with NULL rows")
  }

  test("kolmogorovSmirnovTest and simpleLinearRegression match hand computation") {
    GraftFunctions.ensureRegistered(spark)
    // A = {1..5}, B = {2,4,6,8,10}: D = 0.6 at v = 5 (F1 = 1, F2 = 0.4);
    // scipy ks_2samp p = 0.209, the 3-term asymptotic lands ~0.209 too
    val r = sql1(
      """SELECT kolmogorovSmirnovTest(v, g) AS ks,
        |  kolmogorovSmirnovTest(c, g) AS flat
        |FROM VALUES (1.0, 0, 1.0), (2.0, 0, 2.0), (3.0, 0, 3.0),
        |  (4.0, 0, 4.0), (5.0, 0, 5.0),
        |  (2.0, 1, 1.0), (4.0, 1, 2.0), (6.0, 1, 3.0),
        |  (8.0, 1, 4.0), (10.0, 1, 5.0) AS t(v, g, c)""".stripMargin)
    val ks = r.getAs[org.apache.spark.sql.Row]("ks")
    assert(math.abs(ks.getAs[Double]("_1") - 0.6) < 1e-12)
    assert(math.abs(ks.getAs[Double]("_2") - 0.209) < 0.02,
      s"ks p ${ks.getAs[Double]("_2")}")
    // identical distributions → D = 0, p clamps to 1
    val flat = r.getAs[org.apache.spark.sql.Row]("flat")
    assert(flat.getAs[Double]("_1") == 0.0 && flat.getAs[Double]("_2") == 1.0)
    val lr = sql1(
      """SELECT simpleLinearRegression(x, y) AS f
        |FROM VALUES (1.0, 3.0), (2.0, 5.0), (3.0, 7.0) AS t(x, y)""".stripMargin)
      .getAs[org.apache.spark.sql.Row]("f")
    assert(lr.getAs[Double]("_1") == 2.0 && lr.getAs[Double]("_2") == 1.0)
  }

  test("largestTriangleThreeBuckets matches an independent reference implementation") {
    GraftFunctions.ensureRegistered(spark)
    val pts = (0 until 50).map(i => (i.toDouble, math.sin(i * 0.7) * 10 + (i % 7)))
    val rows = pts.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    def run(n: Int): Seq[(Double, Double)] = spark.sql(
        s"SELECT largestTriangleThreeBuckets(x, y, $n) AS s FROM VALUES $rows AS t(x, y)")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // Steinarsson 2013, written independently of the Catalyst fold
    def ref(data: Seq[(Double, Double)], n: Int): Seq[(Double, Double)] = {
      val size = data.size
      if (size <= n) return data
      val out = collection.mutable.ArrayBuffer(data.head)
      val base = (size - 2).toLong; val den = (n - 2).toLong
      var prev = data.head
      for (i <- 0 until n - 2) {
        val lo = (2 + i * base / den).toInt
        val hi = (1 + (i + 1) * base / den).toInt
        val bucket = data.slice(lo - 1, hi)
        val nxt = if (i < n - 3) {
          val nlo = (2 + (i + 1) * base / den).toInt
          val nhi = (1 + (i + 2) * base / den).toInt
          val nb = data.slice(nlo - 1, nhi)
          (nb.iterator.map(_._1).foldLeft(0.0)(_ + _) / nb.size,
            nb.iterator.map(_._2).foldLeft(0.0)(_ + _) / nb.size)
        } else data.last
        var best = data.head; var bestA = -1.0
        bucket.foreach { p =>
          val a = math.abs((prev._1 - nxt._1) * (p._2 - prev._2) -
            (prev._1 - p._1) * (nxt._2 - prev._2))
          if (a > bestA) { bestA = a; best = p }
        }
        out += best; prev = best
      }
      out += data.last
      out.toSeq
    }
    for (n <- Seq(3, 10, 20)) {
      val got = run(n)
      assert(got == ref(pts, n), s"n=$n")
      assert(got.size == n && got.head == pts.head && got.last == pts.last)
    }
    // N <= n: pass-through; n = 2: endpoints only
    assert(run(60) == pts)
    assert(run(2) == Seq(pts.head, pts.last))
  }

  test("pointInPolygon ray casting and the great-circle family") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT
        |  pointInPolygon(tuple(0.5, 0.5), array(tuple(0.0, 0.0),
        |    tuple(1.0, 0.0), tuple(1.0, 1.0), tuple(0.0, 1.0))) AS inside,
        |  pointInPolygon(tuple(1.5, 0.5), array(tuple(0.0, 0.0),
        |    tuple(1.0, 0.0), tuple(1.0, 1.0), tuple(0.0, 1.0))) AS outside,
        |  pointInPolygon(tuple(1.5, 1.5), array(tuple(0.0, 0.0),
        |    tuple(2.0, 0.0), tuple(2.0, 1.0), tuple(1.0, 1.0),
        |    tuple(1.0, 2.0), tuple(0.0, 2.0))) AS notch,
        |  pointInPolygon(tuple(0.5, 1.5), array(tuple(0.0, 0.0),
        |    tuple(2.0, 0.0), tuple(2.0, 1.0), tuple(1.0, 1.0),
        |    tuple(1.0, 2.0), tuple(0.0, 2.0))) AS arm,
        |  greatCircleAngle(0.0, 0.0, 90.0, 0.0) AS quarter,
        |  geoDistance(0.0, 0.0, 0.0, 0.0) AS zero
        |""".stripMargin)
    assert(r.getAs[Boolean]("inside"))
    assert(!r.getAs[Boolean]("outside"))
    // L-shaped polygon: (1.5, 1.5) sits in the notch (outside), the
    // arm point (0.5, 1.5) is inside — concavity handled
    assert(!r.getAs[Boolean]("notch"))
    assert(r.getAs[Boolean]("arm"))
    assert(math.abs(r.getAs[Double]("quarter") - 90.0) < 1e-9)
    assert(r.getAs[Double]("zero") == 0.0)
  }

  test("bitmap family: build/ops/cardinalities over sorted distinct arrays") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT bitmapBuild(v) AS bm FROM VALUES (3), (1), (3), (2) AS t(v)""")
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    val o = sql1(
      """SELECT
        |  bitmapAnd(a, b) AS i, bitmapOr(a, b) AS u,
        |  bitmapXor(a, b) AS x, bitmapAndnot(a, b) AS d,
        |  bitmapCardinality(a) AS ca, bitmapAndCardinality(a, b) AS ci,
        |  bitmapOrCardinality(a, b) AS cu, bitmapXorCardinality(a, b) AS cx,
        |  bitmapAndnotCardinality(a, b) AS cd,
        |  bitmapContains(a, 2) AS has2, bitmapHasAny(a, b) AS any,
        |  bitmapHasAll(a, array(1, 2)) AS all12,
        |  bitmapMin(a) AS mn, bitmapMax(a) AS mx
        |FROM VALUES (array(1, 2, 3), array(2, 3, 4)) AS t(a, b)""".stripMargin)
    assert(o.getSeq[Int](o.fieldIndex("i")) == Seq(2, 3))
    assert(o.getSeq[Int](o.fieldIndex("u")) == Seq(1, 2, 3, 4))
    assert(o.getSeq[Int](o.fieldIndex("x")) == Seq(1, 4))
    assert(o.getSeq[Int](o.fieldIndex("d")) == Seq(1))
    assert(o.getAs[Int]("ca") == 3 && o.getAs[Int]("ci") == 2)
    assert(o.getAs[Int]("cu") == 4 && o.getAs[Int]("cx") == 2)
    assert(o.getAs[Int]("cd") == 1)
    assert(o.getAs[Boolean]("has2") && o.getAs[Boolean]("any") && o.getAs[Boolean]("all12"))
    assert(o.getAs[Int]("mn") == 1 && o.getAs[Int]("mx") == 3)
  }

  test("geohash encode/decode: textbook cell, roundtrip, default precision") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT
        |  geohashEncode(-5.60302734375, 42.60498046875, 5) AS ez,
        |  geohashEncode(13.361389, 38.115556, 7) AS palermo,
        |  length(geohashEncode(2.0, 48.0)) AS deflen,
        |  geohashDecode('ezs42') AS dec
        |""".stripMargin)
    // the canonical public example cell
    assert(r.getAs[String]("ez") == "ezs42")
    assert(r.getAs[String]("palermo").startsWith("sq"))
    assert(r.getAs[Int]("deflen") == 12)
    val dec = r.getAs[org.apache.spark.sql.Row]("dec")
    assert(math.abs(dec.getAs[Double]("_1") - (-5.60302734375)) < 0.022)
    assert(math.abs(dec.getAs[Double]("_2") - 42.60498046875) < 0.022)
    // roundtrip at high precision recovers the coordinates tightly
    val rt = sql1(
      """SELECT geohashDecode(geohashEncode(13.361389, 38.115556, 12)) AS d""")
      .getAs[org.apache.spark.sql.Row]("d")
    assert(math.abs(rt.getAs[Double]("_1") - 13.361389) < 1e-6)
    assert(math.abs(rt.getAs[Double]("_2") - 38.115556) < 1e-6)
  }

  test("vector distance family: norms and distances on known vectors") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT
        |  dotProduct(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0)) AS dp,
        |  L1Distance(array(1.0, 2.0), array(4.0, 6.0)) AS l1,
        |  L2Distance(array(1.0, 2.0), array(4.0, 6.0)) AS l2,
        |  L2SquaredDistance(array(1.0, 2.0), array(4.0, 6.0)) AS l2s,
        |  LinfDistance(array(1.0, 2.0), array(4.0, 6.0)) AS linf,
        |  L1Norm(array(3.0, -4.0)) AS n1,
        |  L2Norm(array(3.0, 4.0)) AS n2,
        |  LinfNorm(array(3.0, -4.0)) AS ninf,
        |  cosineDistance(array(1.0, 0.0), array(0.0, 1.0)) AS cd,
        |  arrayCosineSimilarity(array(1.0, 1.0), array(1.0, 1.0)) AS cs
        |""".stripMargin)
    assert(r.getAs[Double]("dp") == 32.0)
    assert(r.getAs[Double]("l1") == 7.0)
    assert(r.getAs[Double]("l2") == 5.0 && r.getAs[Double]("l2s") == 25.0)
    assert(r.getAs[Double]("linf") == 4.0)
    assert(r.getAs[Double]("n1") == 7.0 && r.getAs[Double]("n2") == 5.0)
    assert(r.getAs[Double]("ninf") == 4.0)
    assert(r.getAs[Double]("cd") == 1.0)
    assert(math.abs(r.getAs[Double]("cs") - 1.0) < 1e-12)
  }

  test("string/tokenize/datetime gap sweep: split, ngrams, kv, snowflake") {
    GraftFunctions.ensureRegistered(spark)
    val r = sql1(
      """SELECT
        |  splitByWhitespace('a  b\tc') AS sw,
        |  tokens('foo, bar!baz42') AS tk,
        |  ngrams('abcd', 2) AS ng,
        |  ngrams('ab', 3) AS ngShort,
        |  startsWith('hello', 'he') AS sw2, endsWith('hello', 'lo') AS ew,
        |  toValidUTF8('ok') AS tv,
        |  normalizeQuery('SELECT 42, ''x'' FROM t WHERE a = 1.5') AS nq,
        |  extractKeyValuePairs('a:1, b:2; c:3') AS kv,
        |  parseDateTimeBestEffort('2024-03-15 13:45:00') AS iso,
        |  parseDateTimeBestEffort('15/03/2024') AS eu,
        |  snowflakeToDateTime(1426860702069764096) AS snow,
        |  dateTimeToSnowflake(snowflakeToDateTime(1426860702069764096)) AS back
        |""".stripMargin)
    assert(r.getSeq[String](r.fieldIndex("sw")) == Seq("a", "b", "c"))
    assert(r.getSeq[String](r.fieldIndex("tk")) == Seq("foo", "bar", "baz42"))
    assert(r.getSeq[String](r.fieldIndex("ng")) == Seq("ab", "bc", "cd"))
    assert(r.getSeq[String](r.fieldIndex("ngShort")).isEmpty)
    assert(r.getAs[Boolean]("sw2") && r.getAs[Boolean]("ew"))
    assert(r.getAs[String]("tv") == "ok")
    assert(r.getAs[String]("nq") == "SELECT ?, ? FROM t WHERE a = ?")
    assert(r.getAs[Map[String, String]]("kv") ==
      Map("a" -> "1", "b" -> "2", "c" -> "3"))
    assert(r.getAs[java.sql.Timestamp]("iso").toString.startsWith("2024-03-15 13:45"))
    assert(r.getAs[java.sql.Timestamp]("eu").toString.startsWith("2024-03-15"))
    // 1426860702069764096 >> 22 + twitter epoch → 2021-08-15T...Z
    assert(r.getAs[java.sql.Timestamp]("snow").toInstant.toString.startsWith("2021-08"))
    // roundtrip loses only the sub-ms sequence bits
    assert(r.getAs[Long]("back") >> 22 == 1426860702069764096L >> 22)
  }

  test("topKWeighted / quantileExact bounds / groupArrayLast / intervalLengthSum") {
    GraftFunctions.ensureRegistered(spark)
    // topKWeighted: by total weight desc, value-asc tie-break
    val tk = spark.sql(graft.functions.ChSql.translate(
      """SELECT topKWeighted(2)(k, w) AS t FROM VALUES
        |  ('a', 1), ('b', 5), ('a', 3), ('c', 4), ('d', 4)
        |  AS t(k, w)""".stripMargin)).collect().head
    assert(tk.getSeq[String](0) == Seq("b", "a")) // b=5, a=4, c=4(tie→c later), d=4
    // quantileExactLow/High: sorted [1,2,3,4], q=0.5 → pos 1.5 → low 2, high 3
    val q = spark.sql(graft.functions.ChSql.translate(
      """SELECT quantileExactLow(0.5)(v) AS lo, quantileExactHigh(0.5)(v) AS hi
        |FROM VALUES (3), (1), (4), (2) AS t(v)""".stripMargin)).collect().head
    assert(q.getInt(0) == 2 && q.getInt(1) == 3)
    // groupArrayLast over a single partition with a declared order
    val ga = spark.sql(graft.functions.ChSql.translate(
      "SELECT groupArrayLast(2)(v) AS g FROM " +
        "(SELECT v FROM VALUES (1), (2), (3), (4) AS t(v) ORDER BY v)"))
      .coalesce(1).collect().head
    assert(ga.getSeq[Int](0) == Seq(3, 4))
    // intervalLengthSum: [0,5) ∪ [3,7) ∪ [10,11) ∪ inverted [9,2) → 7+1
    val il = spark.sql(graft.functions.ChSql.translate(
      """SELECT intervalLengthSum(s, e) AS l FROM VALUES
        |  (0.0, 5.0), (3.0, 7.0), (10.0, 11.0), (9.0, 2.0)
        |  AS t(s, e)""".stripMargin)).collect().head
    assert(il.getDouble(0) == 8.0)
  }

  test("exponentialTimeDecayed family matches hand computation") {
    GraftFunctions.ensureRegistered(spark)
    // events at t=0 (v=4), t=10 (v=2); x=10 → at t=10:
    // dsum = 4/e + 2; dcnt = 1/e + 1; dmax = max(4/e, 2) = 2
    val r = spark.sql(graft.functions.ChSql.translate(
      """SELECT exponentialTimeDecayedSum(10.0)(v, t) AS s,
        |  exponentialTimeDecayedCount(10.0)(t) AS c,
        |  exponentialTimeDecayedAvg(10.0)(v, t) AS a,
        |  exponentialTimeDecayedMax(10.0)(v, t) AS m
        |FROM VALUES (4.0, 0.0), (2.0, 10.0) AS t(v, t)""".stripMargin))
      .collect().head
    val e1 = math.exp(-1.0)
    assert(math.abs(r.getDouble(0) - (4 * e1 + 2)) < 1e-12)
    assert(math.abs(r.getDouble(1) - (e1 + 1)) < 1e-12)
    assert(math.abs(r.getDouble(2) - (4 * e1 + 2) / (e1 + 1)) < 1e-12)
    assert(r.getDouble(3) == 2.0)
  }

  test("contingency family: perfect association, independence, IV") {
    GraftFunctions.ensureRegistered(spark)
    def one(rows: String, sel: String): org.apache.spark.sql.Row =
      spark.sql(graft.functions.ChSql.translate(
        s"SELECT $sel FROM VALUES $rows AS t(a, b)")).collect().head
    // perfect 2×2 association → χ² = N → V = 1, U = 1
    val perf = one("('a','x'), ('a','x'), ('b','y'), ('b','y')",
      "cramersV(a, b) AS cv, theilsU(a, b) AS tu, contingency(a, b) AS cg")
    assert(math.abs(perf.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(perf.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(perf.getDouble(2) - math.sqrt(0.5)) < 1e-12)
    // independence → χ² = 0 → everything 0
    val ind = one("('a','x'), ('a','y'), ('b','x'), ('b','y')",
      "cramersV(a, b) AS cv, theilsU(a, b) AS tu, contingency(a, b) AS cg")
    assert(math.abs(ind.getDouble(0)) < 1e-7 &&
      math.abs(ind.getDouble(1)) < 1e-12 && math.abs(ind.getDouble(2)) < 1e-7)
    // IV on a planted scorecard: (3/4−1/4)ln3 + (1/4−3/4)ln(1/3) = ln 3
    val iv = spark.sql(graft.functions.ChSql.translate(
      """SELECT arrayElement(categoricalInformationValue(c, t), 1) AS iv
        |FROM VALUES ('g', true), ('g', true), ('g', true), ('g', false),
        |  ('b', true), ('b', false), ('b', false), ('b', false)
        |  AS t(c, t)""".stripMargin)).collect().head
    assert(math.abs(iv.getDouble(0) - math.log(3.0)) < 1e-12)
  }

  test("rankCorr, arrayAUC, corr/covar matrices") {
    GraftFunctions.ensureRegistered(spark)
    // monotone → 1; anti-monotone → −1
    val mono = spark.sql(graft.functions.ChSql.translate(
      """SELECT rankCorr(x, y) AS up, rankCorr(x, -y) AS dn
        |FROM VALUES (1.0, 2.0), (2.0, 7.0), (3.0, 9.0), (4.0, 11.0)
        |  AS t(x, y)""".stripMargin)).collect().head
    assert(mono.getDouble(0) == 1.0 && mono.getDouble(1) == -1.0)
    // ties: rx = [1, 2.5, 2.5, 4], ry = [1..4]; hand Pearson
    val tied = spark.sql(graft.functions.ChSql.translate(
      """SELECT rankCorr(x, y) AS r FROM VALUES
        |  (1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 40.0)
        |  AS t(x, y)""".stripMargin)).collect().head
    val rx = Seq(1.0, 2.5, 2.5, 4.0); val ry = Seq(1.0, 2.0, 3.0, 4.0)
    val n = 4.0
    val cov = rx.zip(ry).map { case (a, b) => a * b }.sum -
      rx.sum * ry.sum / n
    val vx = rx.map(a => a * a).sum - rx.sum * rx.sum / n
    val vy = ry.map(a => a * a).sum - ry.sum * ry.sum / n
    assert(math.abs(tied.getDouble(0) - cov / math.sqrt(vx * vy)) < 1e-12)
    // 8 partitions: the pair buffers serialize, shuffle and merge; the
    // tied ranks are half-integers, so every sum is exact and the
    // result equals a driver-side Spearman with average-rank ties
    val pts = (0 until 2000).map(i => ((i % 97).toDouble, ((i * 37) % 101).toDouble))
    pts.toDF("x", "y").repartition(8).createOrReplaceTempView("rank_corr_8")
    val spread = spark.sql(graft.functions.ChSql.translate(
      "SELECT rankCorr(x, y) AS r FROM rank_corr_8")).collect().head
    def avgRanks(vs: Seq[Double]): Seq[Double] = {
      val pos = vs.sorted.zipWithIndex.groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2 + 1.0).sum / ps.size }
      vs.map(pos)
    }
    val (ax, ay) = (avgRanks(pts.map(_._1)), avgRanks(pts.map(_._2)))
    val np = pts.size.toDouble
    val c8 = ax.zip(ay).map { case (a, b) => a * b }.sum - ax.sum * ay.sum / np
    val vx8 = ax.map(a => a * a).sum - ax.sum * ax.sum / np
    val vy8 = ay.map(a => a * a).sum - ay.sum * ay.sum / np
    assert(math.abs(spread.getDouble(0) - c8 / math.sqrt(vx8 * vy8)) < 1e-12)
    // textbook AUC fixture
    val auc = spark.sql(graft.functions.ChSql.translate(
      "SELECT arrayAUC(array(0.1, 0.4, 0.35, 0.8), array(0, 0, 1, 1)) AS a"))
      .collect().head
    assert(auc.getDouble(0) == 0.75)
    // matrices: diagonal 1 / variances, symmetric
    val m = spark.sql(graft.functions.ChSql.translate(
      """SELECT corrMatrix(x, y) AS cm, covarSampMatrix(x, y) AS vm
        |FROM VALUES (1.0, 2.0), (2.0, 1.0), (3.0, 5.0), (4.0, 3.0)
        |  AS t(x, y)""".stripMargin)).collect().head
    val cm = m.getSeq[Seq[Double]](0)
    assert(math.abs(cm(0)(0) - 1.0) < 1e-12 && math.abs(cm(1)(1) - 1.0) < 1e-12)
    assert(cm(0)(1) == cm(1)(0))
    val vm = m.getSeq[Seq[Double]](1)
    assert(math.abs(vm(0)(0) - 5.0 / 3.0) < 1e-12) // var_samp of 1..4
  }

  test("sparkbar renders the 8-level bar; deltaSumTimestamp orders by time") {
    GraftFunctions.ensureRegistered(spark)
    // 4 buckets over x=0..3, sums 1,0,2,4 → levels ceil(8s/4) = 2,·,4,8
    val bar = spark.sql(graft.functions.ChSql.translate(
      """SELECT sparkbar(4)(x, y) AS b FROM VALUES
        |  (0, 1.0), (2, 2.0), (3, 4.0) AS t(x, y)""".stripMargin))
      .collect().head.getString(0)
    assert(bar == "▂ ▄█", s"got '$bar'")
    // deltas in TIME order (values arrive shuffled): 5→2→7→3 gives +5
    val ds = spark.sql(graft.functions.ChSql.translate(
      """SELECT deltaSumTimestamp(v, t) AS d FROM VALUES
        |  (7.0, 3), (5.0, 1), (3.0, 4), (2.0, 2) AS t(v, t)""".stripMargin))
      .collect().head.getDouble(0)
    assert(ds == 5.0)
    // groupArrayInsertAt: NULL padding + min tie refinement
    val ga = spark.sql(graft.functions.ChSql.translate(
      """SELECT groupArrayInsertAt(v, p) AS g FROM VALUES
        |  ('b', 0L), ('a', 0L), ('z', 2L) AS t(v, p)""".stripMargin))
      .collect().head.getSeq[String](0)
    assert(ga == Seq("a", null, "z"))
  }

  test("map arithmetic, arrayReduce, JSON predicates, finiteness") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(graft.functions.ChSql.translate(
      """SELECT
        |  mapAdd(map('a', 1, 'b', 2), map('a', 10)) AS ma,
        |  mapSubtract(map('a', 5), map('a', 2, 'c', 1)) AS ms,
        |  mapPopulateSeries(map(1, 10, 4, 40)) AS mp,
        |  arrayReduce('sum', array(1, 2, 3)) AS rs,
        |  arrayReduce('uniqExact', array(1, 1, 2)) AS ru,
        |  arrayReduce('anyLast', array(7, 8, 9)) AS rl,
        |  JSONHas('{"a": 1}', 'a') AS jh,
        |  JSONHas('{"a": 1}', 'z') AS jn,
        |  JSONLength('[1, 2, 3]') AS jl,
        |  isFinite(1.5) AS fin,
        |  isInfinite(CAST('Infinity' AS DOUBLE)) AS inf,
        |  ifNotFinite(CAST('NaN' AS DOUBLE), 42.0) AS nf,
        |  hasSubstr(array(1, 2, 3, 4), array(2, 3)) AS h1,
        |  hasSubstr(array(1, 2, 3, 4), array(3, 2)) AS h2,
        |  roundDown(7, array(1, 5, 10)) AS rdn
        |FROM VALUES (1) AS t(x)""".stripMargin)).collect().head
    assert(r.getAs[Map[String, Double]]("ma") == Map("a" -> 11.0, "b" -> 2.0))
    assert(r.getAs[Map[String, Double]]("ms") == Map("a" -> 3.0, "c" -> -1.0))
    assert(r.getAs[Map[Long, Long]]("mp") ==
      Map(1L -> 10L, 2L -> 0L, 3L -> 0L, 4L -> 40L))
    assert(r.getAs[Double]("rs") == 6.0)
    assert(r.getAs[Long]("ru") == 2L && r.getAs[Int]("rl") == 9)
    assert(r.getAs[Boolean]("jh") && !r.getAs[Boolean]("jn"))
    assert(r.getAs[Int]("jl") == 3)
    assert(r.getAs[Boolean]("fin") && r.getAs[Boolean]("inf"))
    assert(r.getAs[Double]("nf") == 42.0)
    assert(r.getAs[Boolean]("h1") && !r.getAs[Boolean]("h2"))
    assert(r.getAs[Double]("rdn") == 5.0)
  }

  test("block-scoped functions refuse with the deterministic spelling") {
    for (fn <- Seq("neighbor(v, 1)", "runningDifference(v)",
        "runningAccumulate(v)", "nonNegativeDerivative(v, v)")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $fn FROM VALUES (1.0) AS t(v)").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("processing block")), s"$fn: $e")
    }
  }
}
