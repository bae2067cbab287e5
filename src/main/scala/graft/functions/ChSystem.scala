package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The `system.*` introspection tables the reference's OWN CLIENT
  * queries at startup (Client/Suggest.cpp:47-90 builds one UNION ALL
  * over system.functions / table_engines / formats / table_functions /
  * data_type_families / settings / databases / tables / columns /
  * dictionaries / aggregate_function_combinators …) — so a CH client
  * pointed at this library can load its autocompletion. Each table
  * materializes ON DEMAND as a temp view (`graft_system_<name>`):
  * catalog-backed ones (tables/columns/databases) re-list the live
  * catalog at reference time, registry-backed ones list the actual
  * registered surface, cluster-scoped ones (clusters/macros/
  * storage_policies) answer the shape with zero rows, like an
  * unclustered server. ChDdl.execute rewrites `system.X` references
  * to these views in a front-door pre-pass. */
object ChSystem {

  /** CH names the DDL type parser accepts (ChDdl.parseType). */
  private val typeFamilies = Seq(
    "Int8", "Int16", "Int32", "Int64", "Int128", "UInt8", "UInt16",
    "UInt32", "UInt64", "Float32", "Float64", "Decimal", "Decimal32",
    "Decimal64", "Decimal128", "String", "FixedString", "Date", "Date32",
    "DateTime", "DateTime64", "Bool", "UUID", "Enum8", "Enum16",
    "LowCardinality", "Nullable", "Array", "Map", "Tuple", "Nested",
    "IPv4")

  private val tableEngines = Seq(
    "MergeTree", "ReplacingMergeTree", "SummingMergeTree",
    "AggregatingMergeTree", "Memory", "Log", "TinyLog", "View",
    "MaterializedView", "LiveView", "WindowView", "Dictionary")

  private val settingNames = Seq(
    "max_threads", "join_algorithm", "max_memory_usage",
    "prefer_localhost_replica", "optimize_read_in_order")

  private val combinators = Seq("If", "Array", "Distinct", "OrNull",
    "OrDefault", "State", "Merge", "MergeState", "SimpleState", "Map",
    "ForEach", "Resample")

  /** Materialize one system table as a temp view; returns its name. */
  def ensure(spark: SparkSession, name: String): String = {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val view = s"graft_system_${name.toLowerCase}"
    val df: DataFrame = name.toLowerCase match {
      case "functions" =>
        // the registry lowercases names on registration (lookups are
        // case-insensitive); the client's completion list needs the
        // dialect's canonical camelCase back — restore it from the
        // descriptors. Spark's own builtins are genuinely lowercase.
        // is_aggregate is the registered ExpressionInfo's group — Spark
        // marks its builtin aggregates `agg_funcs`, and graft marks its
        // own the same way (GraftFunctions.info)
        val canonical = GraftFunctions.descriptors
          .map(_._1.funcName).map(n => n.toLowerCase -> n).toMap
        val registry = spark.sessionState.functionRegistry
        registry.listFunction().map(_.funcName).distinct
          .map(n => (canonical.getOrElse(n, n), registry.lookupFunction(FunctionIdentifier(n))
            .exists(_.getGroup == GraftFunctions.aggGroup)))
          .toDF("name", "is_aggregate")
      case "table_engines" => tableEngines.toDF("name")
      case "formats" =>
        ChFormat.renderable.toSeq.sorted.toDF("name")
      case "table_functions" =>
        Seq("numbers", "file", "generateRandom").toDF("name")
      case "data_type_families" => typeFamilies.toDF("name")
      case "settings" | "merge_tree_settings" => settingNames.toDF("name")
      case "aggregate_function_combinators" => combinators.toDF("name")
      case "databases" =>
        spark.catalog.listDatabases().select("name")
      case "tables" =>
        spark.catalog.listTables()
          .selectExpr("coalesce(array_join(namespace, '.'), '') AS database",
            "name", "'MergeTree' AS engine", "isTemporary AS is_temporary")
      case "columns" =>
        spark.catalog.listTables().collect().toSeq.flatMap { t =>
          try {
            val tbl = Option(t.database).filter(_.nonEmpty)
              .map(d => s"$d.${t.name}").getOrElse(t.name)
            spark.table(tbl).schema.fields.toSeq.map(f =>
              (Option(t.database).getOrElse(""), t.name, f.name,
                ChDdl.chTypeName(f.dataType, f.nullable)))
          } catch { case _: Throwable => Nil } // dropped mid-listing
        }.toDF("database", "table", "name", "type")
      case "dictionaries" => ChDictionaries.registeredNames.toDF("name")
      case "clusters" => Seq.empty[String].toDF("cluster")
      case "macros" => Seq.empty[String].toDF("macro")
      case "storage_policies" => Seq.empty[String].toDF("policy_name")
      case other => throw new IllegalArgumentException(
        s"unknown system table: system.$other")
    }
    df.createOrReplaceTempView(view)
    view
  }

  /** Rewrite `system.<name>` table references in a token stream to
    * their materialized views (front-door pre-pass). */
  def rewrite(spark: SparkSession, ts: Vector[ChSql.Tok]): Vector[ChSql.Tok] = {
    val out = Vector.newBuilder[ChSql.Tok]
    var i = 0
    while (i < ts.length) {
      if (ts(i).up == "SYSTEM" && i + 2 < ts.length && ts(i + 1).text == "." &&
          ts(i + 2).word) {
        out += ChSql.w(ensure(spark, ts(i + 2).text))
        i += 3
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }
}
