package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import ChSql.{Tok, tokenize, render, renderTrim, retok, matchParen, find0}

/** CREATE MATERIALIZED VIEW (reference: src/Parsers/ASTCreateQuery.h:
  * 70-72 — `is_materialized_view`; ASTSelectQuery carries the view's
  * SELECT) — the most-used ClickHouse DDL after CREATE TABLE: every
  * ingestion pipeline hangs aggregating MVs off its raw table.
  *
  * The reference's MV is an INSERT TRIGGER: each block inserted into
  * the base table is pushed through the view's SELECT and the result
  * APPENDED to the target table; with an aggregating engine
  * (Summing/AggregatingMergeTree) the appended rows are PARTIAL
  * per-block aggregates that merge lazily. The Spark realization is
  * the same contract:
  *
  *  - the target is a parquet catalog table whose schema is the
  *    SELECT's output schema;
  *  - `POPULATE` runs the SELECT over the base's current content;
  *  - every INSERT routed through ChDdl.execute applies the SELECT to
  *    THE INSERTED BATCH ONLY and appends — incremental, never a
  *    recompute, exactly the per-block cost the reference pays (at
  *    100 TB a full-refresh MV is a non-starter);
  *  - an aggregating SELECT therefore leaves one partial row per
  *    (block × key) in the target — querying it re-aggregates
  *    (`SELECT k, sum(total) … GROUP BY k`), which is literally how
  *    the reference's users query a SummingMergeTree MV whose parts
  *    have not merged yet.
  *
  * When the SELECT is a plain sum/min/max/count aggregate over the
  * base table, the MV additionally registers as a ProjectionCatalog
  * entry, so the ProjectionRewrite optimizer rule routes MATCHING
  * aggregates on the BASE table onto the (dimension-sized) target —
  * the ClickHouse projection behavior, driven by MV DDL. The rewrite
  * re-aggregates, so per-block partials serve it unchanged. Like the
  * reference, mutations do NOT propagate to MVs (the auto-route
  * registration is invalidated; the target keeps its pre-mutation
  * content until re-populated).
  */
object ChMatView {

  final case class Mv(name: String, target: String, baseTable: String,
      selectSql: String)

  private val byBase =
    scala.collection.concurrent.TrieMap[String, Vector[Mv]]()

  def forBase(table: String): Vector[Mv] =
    byBase.getOrElse(table.toLowerCase, Vector.empty)

  def invalidate(table: String): Unit = byBase.remove(table.toLowerCase)

  /** `CREATE MATERIALIZED VIEW [IF NOT EXISTS] name [TO target]
    * [ENGINE = …] [PARTITION BY …] [ORDER BY …] [POPULATE] AS
    * SELECT …` — engine/layout clauses are skipped (the target is a
    * parquet table; parquet's row groups are its parts). */
  def create(spark: SparkSession, sql: String): Unit = {
    GraftFunctions.ensureRegistered(spark)
    val ts = tokenize(sql)._1
    require(ts.length > 4 && ts(0).up == "CREATE" && ts(1).up == "MATERIALIZED" &&
      ts(2).up == "VIEW", "expected CREATE MATERIALIZED VIEW")
    var i = 3
    if (ts(i).up == "IF") i += 3 // IF NOT EXISTS
    val name = ts(i).text
    i += 1
    var toTable = Option.empty[String]
    if (i < ts.length && ts(i).up == "TO") { toTable = Some(ts(i + 1).text); i += 2 }
    val target = toTable.getOrElse(name)
    val asIdx = find0(ts, Set("AS"), i)
    require(asIdx > 0 && asIdx + 1 < ts.length && ts(asIdx + 1).up == "SELECT",
      "expected AS SELECT …")
    val populate = find0(ts, Set("POPULATE"), i) match {
      case p if p >= 0 && p < asIdx => true
      case _ => false
    }
    val selectSql = renderTrim(ts.drop(asIdx + 1))
    val selToks = retok(selectSql)
    val fromIdx = find0(selToks, Set("FROM"))
    require(fromIdx > 0 && fromIdx + 1 < selToks.length && selToks(fromIdx + 1).word,
      "materialized view SELECT must read FROM a named base table")
    val base = selToks(fromIdx + 1).text
    val mv = Mv(name, target, base, selectSql)

    val shape = spark.sql(ChSql.translate(selectSql)).limit(0)
    if (toTable.isDefined) {
      // TO attaches the MV to an EXISTING table whose data is
      // preserved (reference: ASTCreateQuery.h to_table_id; POPULATE
      // is disallowed with TO) — never drop or recreate it.
      require(!populate,
        "POPULATE is not allowed with CREATE MATERIALIZED VIEW ... TO (reference behavior)")
      require(spark.catalog.tableExists(target),
        s"TO target table $target must already exist")
      // names AND types: a same-named, differently-typed target would
      // pass a name check and then corrupt/fail at the first
      // insert-trigger append
      val tcols = spark.table(target).schema.fields.toSeq
        .map(f => (f.name, f.dataType))
      val scols = shape.schema.fields.toSeq.map(f => (f.name, f.dataType))
      def show(cols: Seq[(String, org.apache.spark.sql.types.DataType)]) =
        cols.map { case (n, t) => s"$n ${t.simpleString}" }.mkString(", ")
      require(tcols == scols,
        s"TO target $target schema (${show(tcols)}) does not match " +
          s"the SELECT output (${show(scols)})")
    } else {
      // no TO: (re)create the implicit `.inner`-style target empty,
      // with the SELECT's output schema
      spark.sql(s"DROP TABLE IF EXISTS $target")
      ChDdl.clearOrphanLocation(spark, target)
      shape.write.format("parquet").saveAsTable(target)
    }

    byBase.updateWith(base.toLowerCase) {
      case Some(v) => Some(v.filterNot(_.name == name) :+ mv)
      case None => Some(Vector(mv))
    }
    // Auto-routing base-table aggregates onto the target is only sound
    // when the target provably holds ALL of the base's history: a
    // fresh implicit target that is either POPULATEd or whose base is
    // empty at creation. An un-populated MV over a non-empty base (or
    // a TO table with its own pre-existing content) must never capture
    // base-table reads — the reference's un-populated MV only affects
    // reads of the MV itself.
    if (toTable.isEmpty &&
        (populate || spark.table(base).isEmpty)) registerAutoRoute(spark, mv)
    if (populate) refreshFull(spark, mv)
  }

  /** POPULATE / full re-materialization: the SELECT over the base's
    * current content replaces the target's content. The auto-route
    * registration is SUSPENDED for the duration — the refresh query
    * itself must read the base, not be rewritten onto the (stale or
    * empty) target it is refreshing. */
  def refreshFull(spark: SparkSession, mv: Mv): Unit =
    graft.plans.ProjectionCatalog.suspended(mv.baseTable) {
      spark.sql(ChSql.translate(mv.selectSql))
        .write.mode("overwrite").insertInto(mv.target)
    }

  private val batchSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The insert trigger: apply the view's SELECT to the inserted batch
    * only, append the (possibly partial-aggregate) result, and CASCADE
    * — an MV whose base is another MV's target sees the transformed
    * block, the reference's chained-MV behavior. `seen` guards cycles. */
  def onInsertedBatch(spark: SparkSession, table: String, batch: DataFrame): Unit =
    trigger(spark, table, batch, Set.empty)

  private def trigger(spark: SparkSession, table: String, batch: DataFrame,
      seen: Set[String]): Unit =
    forBase(table).filterNot(mv => seen.contains(mv.name)).foreach { mv =>
      val view = s"__graft_mv_batch_${batchSeq.incrementAndGet()}"
      batch.createOrReplaceTempView(view)
      try {
        val redirected = render(retok(mv.selectSql).map { t =>
          if (t.word && t.text.equalsIgnoreCase(mv.baseTable)) t.copy(text = view) else t
        })
        val out = spark.sql(ChSql.translate(redirected))
        out.write.mode("append").insertInto(mv.target)
        // cascade while the batch view is still registered (downstream
        // evaluation re-reads `out`, whose plan references it)
        trigger(spark, mv.target, out, seen + mv.name)
      } finally spark.catalog.dropTempView(view)
    }

  /** If the SELECT is a plain keyed sum/min/max/count aggregate over
    * the base relation, register it for the ProjectionRewrite rule so
    * matching aggregates on the BASE auto-route to the target. Any
    * other shape (filters, joins, expressions) skips registration —
    * the MV is still queryable directly. */
  private def registerAutoRoute(spark: SparkSession, mv: Mv): Unit = {
    val analyzed = spark.sql(ChSql.translate(mv.selectSql)).queryExecution.analyzed
    def baseOf(p: LogicalPlan): Option[String] = p match {
      case lr: LogicalRelation => lr.catalogTable.map(_.identifier.table.toLowerCase)
      case SubqueryAlias(_, c) => baseOf(c)
      case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) => baseOf(c)
      case _ => None
    }
    analyzed match {
      case Aggregate(groupings, aggExprs, child, _)
          if baseOf(child).contains(mv.baseTable.toLowerCase) =>
        val keys = groupings.collect { case a: AttributeReference => a.name }
        if (keys.length != groupings.length) return
        var sums, mins, maxs, counts = Map.empty[String, String]
        var countCol = Option.empty[String]
        aggExprs.foreach {
          case a: AttributeReference if keys.contains(a.name) => ()
          case Alias(ae: AggregateExpression, out)
              if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case Sum(c: AttributeReference, _) => sums += c.name -> out
              case Min(c: AttributeReference) => mins += c.name -> out
              case Max(c: AttributeReference) => maxs += c.name -> out
              case Count(Seq(Literal(1, _))) => countCol = Some(out)
              case Count(Seq(c: AttributeReference)) => counts += c.name -> out
              // an avg column holds PER-BLOCK partial means — never
              // re-aggregable, so it maps nothing itself; base-table
              // avg(c) routes through the sum/count pair when the view
              // also carries sum(c) and count(c) (ProjectionRewrite)
              case Average(_: AttributeReference, _) => ()
              case _ => return
            }
          case _ => return
        }
        graft.plans.ProjectionCatalog.register(graft.plans.ProjectionCatalog.Proj(
          mv.baseTable, mv.target, keys, sums, mins, maxs, countCol, counts))
      case _ => ()
    }
  }
}
