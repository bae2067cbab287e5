package graft

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.functions.{ChDdl, ChSystem, GraftFunctions}

/** system.* introspection tables — proven by running the reference
  * client's OWN autocompletion query (Client/Suggest.cpp:47-90). */
class ChSystemSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("the reference client's suggestion query runs and yields completions") {
    GraftFunctions.ensureRegistered(spark)
    // Suggest.cpp's UNION ALL, verbatim shape (basic_suggestion branch,
    // suggestion_limit = 100)
    val suggestions = ChDdl.execute(spark,
      """SELECT DISTINCT arrayJoin(extractAll(name, '[\\w_]{2,}')) AS res FROM (
        |SELECT name FROM system.functions
        | UNION ALL SELECT name FROM system.table_engines
        | UNION ALL SELECT name FROM system.formats
        | UNION ALL SELECT name FROM system.table_functions
        | UNION ALL SELECT name FROM system.data_type_families
        | UNION ALL SELECT name FROM system.merge_tree_settings
        | UNION ALL SELECT name FROM system.settings
        | UNION ALL SELECT concat(func.name, comb.name)
        |   FROM system.functions AS func
        |   CROSS JOIN system.aggregate_function_combinators AS comb
        |   WHERE is_aggregate
        | UNION ALL (SELECT name FROM system.databases LIMIT 100)
        | UNION ALL (SELECT DISTINCT name FROM system.tables LIMIT 100)
        |) ORDER BY res""".stripMargin)
      // (the per-branch LIMITs are parenthesized: ClickHouse binds a
      // mid-union LIMIT to its branch, Spark's grammar requires the
      // parens to say the same thing)
      .as[String].collect().toSet
    // the completion list carries the dialect surface
    for (expected <- Seq("arrayCumSum", "uniqExact", "MergeTree",
        "JSONEACHROW", "Int64", "max_threads", "uniqExactIf", "numbers"))
      assert(suggestions.contains(expected), s"missing completion: $expected")
  }

  test("system.tables and system.columns list the live catalog with CH types") {
    GraftFunctions.ensureRegistered(spark)
    ChDdl.execute(spark,
      "CREATE TABLE graft_sys_probe (k Int64, s String) ENGINE = MergeTree() ORDER BY (k)")
    val tables = ChDdl.execute(spark,
      "SELECT name FROM system.tables WHERE name = 'graft_sys_probe'")
    assert(tables.count() == 1)
    val cols = ChDdl.execute(spark,
      """SELECT name, type FROM system.columns
        |WHERE table = 'graft_sys_probe' ORDER BY name""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(cols.map(_._1) == Seq("k", "s"), cols)
    assert(cols.head._2.contains("Int64"), cols)
    // SYSTEM statements (no dot) still refuse as cluster ops
    val e = intercept[UnsupportedOperationException] {
      ChDdl.execute(spark, "SYSTEM FLUSH LOGS")
    }
    assert(e.getMessage != null)
  }

  test("system.functions.is_aggregate reads the registry, builtins and graft names alike") {
    val s = spark.newSession()
    GraftFunctions.ensureRegistered(s)
    val isAgg = s.table(ChSystem.ensure(s, "functions")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    for (n <- Seq("cramersV", "quantileGK", "groupArraySample", "sumMap",
        "sumArrayIf", "sumState", "percentile", "collect_list"))
      assert(isAgg(n), s"$n should read as an aggregate")
    // a scalar from each family, and a window function
    for (n <- Seq("toDate", "lower", "cityHash64", "arrayCumSum", "plus",
        "IPv4NumToString", "arrayAUC", "currentDatabase", "lagInFrame", "upper"))
      assert(!isAgg(n), s"$n should read as a scalar")
  }

  test("each graft name's declared aggregate flag matches what its builder builds") {
    // placeholder arguments of a few shapes at arities 1–4; the first
    // shape a builder accepts decides. Builders that accept none (they
    // need lambdas, dictionaries or exact literals, or they refuse)
    // are left out of the reported count.
    val x = AttributeReference("x", LongType)()
    val arr = AttributeReference("a", ArrayType(LongType))()
    val shapes: Seq[Int => Seq[Expression]] = Seq(
      n => Seq.fill(n)(Literal(2)),
      n => Seq.fill(n)(x),
      n => Seq.fill(n)(Literal(0.5)),
      n => Seq.fill(n)(Literal("a")),
      n => Seq.fill(n)(arr),
      n => Literal(2) +: Seq.fill(n - 1)(x),
      n => Seq.fill(n - 1)(x) :+ Literal(2),
      n => Literal("(?1)(?2)") +: Seq.fill(n - 1)(x),
      n => Literal("sum") +: Seq.fill(n - 1)(arr))
    val built = GraftFunctions.descriptors.flatMap { case (id, ei, builder) =>
      (1 to 4).iterator.flatMap(n => shapes.iterator.map(sh => Try(builder(sh(n)))))
        .collectFirst { case scala.util.Success(e) => (id.funcName, ei, e) }
    }
    val wrong = built.collect { case (name, ei, e)
        if (ei.getGroup == GraftFunctions.aggGroup) !=
          e.find(_.isInstanceOf[AggregateFunction]).isDefined => name }
    val checked = built.size
    info(s"checked $checked of ${GraftFunctions.descriptors.size} graft builders")
    assert(wrong.isEmpty, s"declared flag disagrees with the built tree: ${wrong.mkString(", ")}")
    assert(checked > 900, s"only $checked builders built from placeholders")
  }
}
