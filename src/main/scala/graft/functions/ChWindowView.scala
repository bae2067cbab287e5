package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import ChSql.{Tok, tokenize, renderTrim, retok, matchParen, find0, splitTopLevel}

/** CREATE WINDOW VIEW (reference: src/Parsers/ParserCreateQuery.h:385
  * — `CREATE WINDOW VIEW [IF NOT EXISTS] name [TO target] [ENGINE x]
  * [WATERMARK=…] AS SELECT …`; watermark strategies at
  * ASTCreateQuery.h:98-101, allowed lateness at :101). The reference
  * fires a window's aggregate when the watermark passes the window
  * end; the Spark twin IS Structured Streaming — event-time
  * tumble/hop windows over `withWatermark`, append-mode emission of
  * exactly the finalized windows into the target table.
  *
  * Time-window functions rewrite onto Spark's `window()`:
  *  - `tumble(ts, INTERVAL n U)` → `window(ts, 'n U')`;
  *  - `hop(ts, INTERVAL a U, INTERVAL b U)` → `window(ts, 'b U', 'a U')`
  *    (Spark orders size before slide);
  *  - `tumbleStart/hopStart(…)` → `window.start`,
  *    `tumbleEnd/hopEnd(…)` → `window.end` — field access on the
  *    grouped window struct, which CH's start/end accessors are.
  *
  * Watermark strategies: `STRICTLY_ASCENDING` / `ASCENDING` → delay
  * '0 seconds' (no out-of-orderness admitted — late rows drop, the
  * reference's contract); `BOUNDED(INTERVAL n U)` → delay 'n U'.
  * `ALLOWED_LATENESS=INTERVAL n U`, when present, becomes the delay
  * (it is the max lateness the view admits — Spark's watermark is
  * exactly that bound).
  *
  * The view binds to a SOURCE STREAM at attach()/start() time: the
  * reference hooks its base table's inserts; a Spark stream arrives
  * as a readStream DataFrame (MemoryStream in tests, kafka/files in
  * production) and is registered under the view's FROM name.
  */
object ChWindowView {

  final case class Wv(name: String, target: String, baseTable: String,
      sparkSelect: String, tsCol: String, delay: String)

  private val byName = scala.collection.concurrent.TrieMap[String, Wv]()
  def get(name: String): Option[Wv] = byName.get(name.toLowerCase)

  def create(spark: SparkSession, sql: String): Wv = {
    GraftFunctions.ensureRegistered(spark)
    val ts = tokenize(sql)._1
    require(ts.length > 5 && ts(0).up == "CREATE" && ts(1).up == "WINDOW" &&
      ts(2).up == "VIEW", "expected CREATE WINDOW VIEW")
    var i = 3
    if (ts(i).up == "IF") i += 3
    val name = ts(i).text
    i += 1
    var target = name
    if (i < ts.length && ts(i).up == "TO") { target = ts(i + 1).text; i += 2 }
    val asIdx = find0(ts, Set("AS"), i)
    require(asIdx > 0 && asIdx + 1 < ts.length && ts(asIdx + 1).up == "SELECT",
      "expected AS SELECT …")
    // WATERMARK / ALLOWED_LATENESS between the name and AS
    var delay = "0 seconds"
    val head = ts.slice(i, asIdx)
    val wmIdx = head.indices.find(k => head(k).up == "WATERMARK")
    wmIdx.foreach { k =>
      var m = k + 1
      if (m < head.length && head(m).text == "=") m += 1
      head(m).up match {
        case "STRICTLY_ASCENDING" | "ASCENDING" => delay = "0 seconds"
        case "BOUNDED" =>
          val close = matchParen(head, m + 1)
          delay = intervalText(head.slice(m + 2, close))
        case other => throw new IllegalArgumentException(
          s"unknown WATERMARK strategy $other (STRICTLY_ASCENDING, ASCENDING, BOUNDED)")
      }
    }
    val alIdx = head.indices.find(k => head(k).up == "ALLOWED_LATENESS")
    alIdx.foreach { k =>
      var m = k + 1
      if (m < head.length && head(m).text == "=") m += 1
      delay = intervalText(head.drop(m))
    }
    val (sel, tsCol) = rewriteTimeWindows(ts.drop(asIdx + 1))
    require(tsCol.nonEmpty,
      "WINDOW VIEW needs a tumble()/hop() over a plain event-time column")
    val selToks = retok(renderTrim(sel))
    val fromIdx = find0(selToks, Set("FROM"))
    require(fromIdx > 0 && fromIdx + 1 < selToks.length && selToks(fromIdx + 1).word,
      "WINDOW VIEW SELECT must read FROM a named source")
    val wv = Wv(name, target, selToks(fromIdx + 1).text,
      renderTrim(sel), tsCol.get, delay)
    // so the first fired batch can saveAsTable
    if (!spark.catalog.tableExists(target)) ChDdl.clearOrphanLocation(spark, target)
    byName.put(name.toLowerCase, wv)
    wv
  }

  /** Bind the view to a source stream: watermark the source, register
    * it under the view's FROM name, and return the streaming aggregate
    * (windows keyed by the grouped `window` struct). */
  def attach(spark: SparkSession, wv: Wv, source: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    source.withWatermark(wv.tsCol, wv.delay)
      .createOrReplaceTempView(wv.baseTable)
    spark.sql(ChSql.translate(wv.sparkSelect))
  }

  /** Run the view: append exactly the FINALIZED windows (watermark
    * passed the window end — the reference's fire condition) into the
    * target table, created on first batch from the aggregate schema. */
  def start(spark: SparkSession, wv: Wv, source: DataFrame): StreamingQuery =
    attach(spark, wv, source).writeStream
      .outputMode("append")
      .queryName(wv.name)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (spark.catalog.tableExists(wv.target))
          batch.write.mode("append").insertInto(wv.target)
        else batch.write.format("parquet").saveAsTable(wv.target)
        // the micro-batch writes through a CLONED session — refresh the
        // primary session's relation cache so readers see the new files
        spark.catalog.refreshTable(wv.target)
      }
      .start()

  /** `INTERVAL 3 SECOND` / `INTERVAL '3' SECOND` → `3 second`. */
  private def intervalText(ts: Vector[Tok]): String = {
    require(ts.length >= 3 && ts.head.up == "INTERVAL",
      s"expected INTERVAL n UNIT, got '${renderTrim(ts)}'")
    s"${ts(1).text.stripPrefix("'").stripSuffix("'")} ${ts(2).text.toLowerCase}"
  }

  /** The token rewrite alone — exposed so ChSql.translate gives the
    * BATCH front door the same tumble/hop surface (the windowed-agg
    * shape `SELECT tumbleStart(ts, i) … GROUP BY tumble(ts, i)` maps
    * onto Spark's window() exactly as the WINDOW VIEW path does). */
  private[functions] def rewriteTimeWindowTokens(v: Vector[Tok]): Vector[Tok] =
    rewriteTimeWindows(v)._1

  /** Rewrite tumble/hop families onto window()/window.start/window.end
    * and report the event-time column (the first plain-column time
    * argument seen). */
  private def rewriteTimeWindows(v: Vector[Tok]): (Vector[Tok], Option[String]) = {
    var tsCol = Option.empty[String]
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < v.length) {
      val t = v(i)
      val isCall = t.word && i + 1 < v.length && v(i + 1).text == "("
      if (isCall && Set("TUMBLE", "HOP").contains(t.up)) {
        val close = matchParen(v, i + 1)
        val args = splitTopLevel(v.slice(i + 2, close))
        if (tsCol.isEmpty && args.head.length == 1 && args.head.head.word)
          tsCol = Some(args.head.head.text)
        val time = renderTrim(args.head)
        val rep =
          if (t.up == "TUMBLE") {
            require(args.length == 2, "tumble(time, INTERVAL …)")
            s"window($time, '${intervalText(args(1))}')"
          } else {
            require(args.length == 3, "hop(time, INTERVAL hop, INTERVAL size)")
            s"window($time, '${intervalText(args(2))}', '${intervalText(args(1))}')"
          }
        val rt = retok(rep)
        out += rt.head.copy(pre = t.pre)
        out ++= rt.tail
        i = close + 1
      } else if (isCall &&
          Set("TUMBLESTART", "HOPSTART", "TUMBLEEND", "HOPEND").contains(t.up)) {
        val close = matchParen(v, i + 1)
        val args = splitTopLevel(v.slice(i + 2, close))
        if (tsCol.isEmpty && args.head.length == 1 && args.head.head.word)
          tsCol = Some(args.head.head.text)
        val field = if (t.up.endsWith("START")) "start" else "end"
        out += Tok(t.pre, "window", word = true)
        out += Tok("", ".", word = false)
        out += Tok("", field, word = true)
        i = close + 1
      } else { out += t; i += 1 }
    }
    (out.result(), tsCol)
  }
}
