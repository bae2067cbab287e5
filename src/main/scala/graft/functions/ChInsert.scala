package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import ChSql.{Tok, tokenize, render}
import graft.sources.SingleFileFormats

/** INSERT statements through the front door (reference:
  * src/Parsers/ASTInsertQuery.h:32 — table, columns, select, and the
  * raw `data` tail after FORMAT; ParserInsertQuery.cpp finds the data
  * start). Three body forms:
  *
  *  - `INSERT INTO t [(cols)] VALUES (…), (…)` — literal rows;
  *  - `INSERT INTO t [(cols)] SELECT …` — the SELECT goes through the
  *    translator (CH-only clauses work in an insert source);
  *  - `INSERT INTO t [(cols)] FORMAT CSV|TSV|JSONEachRow <raw rows>` —
  *    the client bulk-load idiom: the inline data tail is parsed by
  *    Spark's csv/json readers AGAINST THE CATALOG SCHEMA (types come
  *    from the table, never inference).
  *
  * All three build the inserted batch as a DataFrame, append it in
  * the catalog's field order (insertInto is positional), and hand THE
  * BATCH to ChMatView.onInsertedBatch — the reference's MV-trigger
  * contract: materialized views see exactly the inserted block.
  * Unlisted columns arrive NULL; VALUES and SELECT bind positionally
  * to the listed columns (or the catalog order when unlisted).
  */
object ChInsert {

  def execute(spark: SparkSession, sql: String): Unit = {
    GraftFunctions.ensureRegistered(spark)
    val ts = tokenize(sql)._1
    require(ts.length > 3 && ts(0).up == "INSERT" && ts(1).up == "INTO",
      "expected INSERT INTO")
    // INSERT INTO [TABLE] FUNCTION fn('path'…) [PARTITION BY c] SELECT …
    // (ParserInsertQuery.cpp:74-89 — the write-side twin of the
    // source-adopting table functions)
    locally {
      var j = 2
      if (j < ts.length && ts(j).up == "TABLE") j += 1
      if (j < ts.length && ts(j).up == "FUNCTION") {
        insertIntoFunction(spark, ts, j + 1)
        return
      }
    }
    var i = 2
    val nameStart = i
    val bodyKws = Set("VALUES", "SELECT", "WITH", "FORMAT")
    while (i < ts.length && ts(i).text != "(" &&
      !(ts(i).word && bodyKws.contains(ts(i).up))) i += 1
    val table = ts.slice(nameStart, i).filter(_.word).map(_.text).mkString("_")
    require(table.nonEmpty, "INSERT INTO: missing table name")
    val tableSchema = spark.table(table).schema
    // unlisted columns bind in the DECLARED order (the reference's
    // contract) — NOT the catalog order, which moves partition columns
    // to the end; the persisted __sample_hash is never bound from
    // values, it is recomputed below like insertSelect does
    val layout = ChDdl.createdTables.get(table.toLowerCase)
    // MATERIALIZED columns never bind from values: an unlisted INSERT
    // binds only the insertable columns (the reference's contract),
    // and listing one explicitly refuses below. ALIAS columns are
    // virtual reads and refuse too. EPHEMERAL columns are insertable
    // ONLY when listed — they feed other columns' DEFAULT/MATERIALIZED
    // expressions during this insert and are never stored.
    val materialized: Set[String] = layout.map(_.cols
      .filter(_.defaultKind.contains("MATERIALIZED")).map(_.name).toSet)
      .getOrElse(Set.empty)
    val aliasCols: Set[String] = layout.map(_.cols
      .filter(_.defaultKind.contains("ALIAS")).map(_.name).toSet)
      .getOrElse(Set.empty)
    val ephemerals: Seq[ChDdl.ChColumn] = layout.map(_.cols
      .filter(_.defaultKind.contains("EPHEMERAL")): Seq[ChDdl.ChColumn])
      .getOrElse(Nil)
    val ephemeralNames = ephemerals.map(_.name).toSet
    var cols = layout.map(_.cols.map(_.name): Seq[String])
      .getOrElse(tableSchema.fieldNames.toSeq)
      .filterNot(_ == "__sample_hash")
      .filterNot(c => materialized.contains(c) || aliasCols.contains(c) ||
        ephemeralNames.contains(c))
    if (i < ts.length && ts(i).text == "(") {
      val close = ChSql.matchParen(ts, i)
      // merge dotted identifiers: `ev.name` is Nested's flattened
      // subcolumn, one logical column
      val inner = ts.slice(i + 1, close)
      val buf = Vector.newBuilder[String]
      var k = 0
      while (k < inner.length) {
        if (inner(k).word) {
          var nm = inner(k).text
          while (k + 2 < inner.length && inner(k + 1).text == "." && inner(k + 2).word) {
            nm += "." + inner(k + 2).text
            k += 2
          }
          buf += nm
        }
        k += 1
      }
      cols = buf.result()
      cols.filter(materialized.contains) match {
        case Nil => ()
        case bad => throw new IllegalArgumentException(
          s"Cannot insert column ${bad.mkString(", ")}: MATERIALIZED " +
            "columns compute from their expression (the reference " +
            "refuses them in the insert column list too)")
      }
      cols.filter(aliasCols.contains) match {
        case Nil => ()
        case bad => throw new IllegalArgumentException(
          s"Cannot insert column ${bad.mkString(", ")}: ALIAS columns " +
            "are virtual read-time expressions and never store a value")
      }
      i = close + 1
    }
    require(i < ts.length && bodyKws.contains(ts(i).up),
      "INSERT INTO: expected VALUES, SELECT, or FORMAT")

    val batch: DataFrame = ts(i).up match {
      case "VALUES" =>
        // bracket pass: CH array literals ['a','b'] (and tuple values
        // inside them) become array()/struct() calls Spark parses
        spark.sql(s"SELECT * FROM VALUES ${render(ChSql.rewriteBrackets(ts.drop(i + 1)))}")
          .toDF(cols: _*)
      case "SELECT" | "WITH" =>
        // ChColumns first: `INSERT … SELECT * FROM created_table` must
        // see the DECLARED column order (and never __sample_hash), or
        // the positional bind below scrambles partitioned sources
        spark.sql(ChSql.translate(ChColumns.expand(spark, render(ts.drop(i)))))
          .toDF(cols: _*)
      case "FORMAT" =>
        require(i + 1 < ts.length && ts(i + 1).word, "FORMAT needs a name")
        val fmt = ts(i + 1).up
        // the data tail is RAW text after the format name — recover its
        // offset by re-rendering the consumed tokens (render is exact)
        val data = sql.substring(render(ts.take(i + 2)).length)
        val lines = data.split('\n').toIndexedSeq
          .map(_.stripSuffix("\r")).filter(_.trim.nonEmpty)
        import spark.implicits._
        val ds = spark.createDataset(lines)
        // a listed EPHEMERAL column is not in the physical schema —
        // its field comes from the declared type
        val schema = StructType(cols.map(c =>
          if (tableSchema.fieldNames.contains(c)) tableSchema(c)
          else StructType.fromDDL(s"`$c` ${
            ephemerals.find(_.name == c).get.sparkType}").head))
        fmt match {
          case "CSV" => spark.read.schema(schema).csv(ds)
          case "TSV" | "TABSEPARATED" =>
            spark.read.schema(schema).option("sep", "\t").csv(ds)
          case "JSONEACHROW" => spark.read.schema(schema).json(ds)
          case other => throw new IllegalArgumentException(
            s"unsupported inline FORMAT $other (CSV, TSV, JSONEachRow)")
        }
    }
    // an UNLISTED ephemeral column still feeds other columns' default
    // expressions — its own default expression (or the type default)
    // stands in, computed against the listed columns
    val batchEph = ephemerals.filterNot(e => cols.contains(e.name))
      .foldLeft(batch) { (b, e) =>
        b.withColumn(e.name,
          expr(e.defaultExpr.getOrElse(e.typeDefaultSql)).cast(e.sparkType))
      }
    // widen to the full catalog row: listed columns cast to their
    // declared types, unlisted columns NULL. A Nested column listed
    // through its flattened subcolumns (`ev.name`, `ev.val` — the CH
    // Nested insert idiom, NestedUtils.cpp flatten) is zipped back
    // into its array-of-structs shape; CH requires the parallel
    // arrays to have equal lengths, same here.
    val fullBatch = batchEph.select(tableSchema.fields.toSeq.map { f =>
      val subs = cols.filter(_.startsWith(f.name + "."))
        .map(c => c.stripPrefix(f.name + ".") -> c)
      if (cols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else if (subs.nonEmpty) f.dataType match {
        case org.apache.spark.sql.types.ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
          val flatOf = subs.toMap
          val first = col("`" + subs.head._2 + "`")
          // CH raises "Elements ... have different array sizes" on
          // ragged parallel arrays — enforce the same contract instead
          // of silently null-filling or truncating
          // (tail only: comparing the head against itself is
          // trivially true and Spark warns on the tautology)
          val sameLen = subs.tail
            .map(s => size(col("`" + s._2 + "`")) === size(first))
            .foldLeft(lit(true))(_ && _)
          val zipped = transform(first, (_, idx) => struct(st.fields.toSeq.map { sf =>
            flatOf.get(sf.name) match {
              case Some(flat) => get(col("`" + flat + "`"), idx).as(sf.name)
              case None => lit(null).cast(sf.dataType).as(sf.name)
            }
          }: _*))
          when(assert_true(sameLen, lit(s"Nested subcolumns of ${f.name} " +
            "must have equal array lengths per row")).isNull, zipped)
            .cast(f.dataType).as(f.name)
        case other => throw new IllegalArgumentException(
          s"dotted insert columns ${subs.map(_._2).mkString(", ")} target " +
            s"non-Nested column ${f.name}: $other")
      }
      else layout.flatMap(_.cols.find(_.name == f.name)) match {
        // an omitted column with a DEFAULT (or any MATERIALIZED
        // column) computes from its declared expression — evaluated
        // against the inserted row's LISTED columns (one level; the
        // reference also resolves chained defaults, out of scope
        // here). CH function names resolve via the registry.
        case Some(c) if c.defaultExpr.nonEmpty =>
          expr(c.defaultExpr.get).cast(f.dataType).as(f.name)
        case _ => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
    // a SAMPLE BY table stores its sampling hash — appended rows get
    // theirs computed from the full row, same as insertSelect
    val laid = layout.flatMap(_.sampleHash) match {
      case Some(h) if tableSchema.fieldNames.contains("__sample_hash") =>
        fullBatch.withColumn("__sample_hash", h)
      case _ => fullBatch
    }
    // declared CHECK constraints validate the appended block, like
    // the reference's per-block constraint check on INSERT
    val checked = layout.map(_.enforceConstraints(laid)).getOrElse(laid)
    checked.write.mode("append").insertInto(table)
    ChMatView.onInsertedBatch(spark, table, checked)
    // a Join(ANY, LEFT, k) engine table re-publishes its joinGet map
    // after every appended block
    ChDdl.refreshJoinDictionary(spark, table)
  }

  /** INSERT INTO [TABLE] FUNCTION fn('path'[, …]) [PARTITION BY col]
    * [(cols)] SELECT … — the write-side twin of the source-adopting
    * table functions (ParserInsertQuery.cpp FUNCTION branch).
    * file/s3/gcs/hdfs/azureBlobStorage write DISTRIBUTED through the
    * Hadoop FS layer (the path becomes a directory of part files —
    * the distributed write shape; file() reads it back transparently);
    * the single-file interchange formats (SingleFileFormats) write
    * one driver-side file. url() has no PUT transport here and
    * refuses. PARTITION BY maps onto the writer's partitionBy when it
    * names an output column — CH's {_partition_id}-in-key convention
    * realized as partition directories, which is also what the read
    * side prunes on. */
  private def insertIntoFunction(spark: SparkSession, ts: Vector[Tok],
      fnIdx: Int): Unit = {
    val fn = ts(fnIdx).up
    require(fnIdx + 1 < ts.length && ts(fnIdx + 1).text == "(",
      "INSERT INTO FUNCTION: expected fn('path', …)")
    require(fn != "URL",
      "INSERT INTO FUNCTION url(): a library engine has no PUT " +
        "transport — write to a mounted path via file() or an " +
        "object-store scheme via s3()/hdfs()")
    require(Set("FILE", "S3", "GCS", "HDFS", "AZUREBLOBSTORAGE")(fn),
      s"INSERT INTO FUNCTION: unsupported function $fn (file, s3, gcs, " +
        "hdfs, azureBlobStorage)")
    val close = ChSql.matchParen(ts, fnIdx + 1)
    val args = ts.slice(fnIdx + 2, close).collect {
      case t if t.text.length >= 2 && t.text.head == '\'' =>
        t.text.drop(1).dropRight(1)
      case t if t.word => t.text
    }
    val (path, fmt, _) = ChDdl.adoptPathFmt(spark, fn, args)
    var i = close + 1
    val partitionBy: Option[String] =
      if (i + 2 < ts.length && ts(i).up == "PARTITION" && ts(i + 1).up == "BY") {
        require(ts(i + 2).word && (i + 3 >= ts.length || ts(i + 3).text != "("),
          "INSERT INTO FUNCTION … PARTITION BY takes a plain output " +
            "column here (wrap expressions as a named SELECT column first)")
        val c = ts(i + 2).text
        i += 3
        Some(c)
      } else None
    var cols: Seq[String] = Nil
    if (i < ts.length && ts(i).text == "(") {
      val cClose = ChSql.matchParen(ts, i)
      cols = ts.slice(i + 1, cClose).filter(_.word).map(_.text)
      i = cClose + 1
    }
    require(i < ts.length && Set("SELECT", "WITH", "VALUES")(ts(i).up),
      "INSERT INTO FUNCTION: expected SELECT, WITH or VALUES body")
    val body: DataFrame = ts(i).up match {
      case "VALUES" =>
        require(cols.nonEmpty,
          "INSERT INTO FUNCTION … VALUES needs an explicit column list")
        spark.sql(s"SELECT * FROM VALUES ${render(ChSql.rewriteBrackets(ts.drop(i + 1)))}")
          .toDF(cols: _*)
      case _ =>
        val df = spark.sql(ChSql.translate(ChColumns.expand(spark, render(ts.drop(i)))))
        if (cols.nonEmpty) df.toDF(cols: _*) else df
    }
    partitionBy.foreach(c => require(body.columns.contains(c),
      s"PARTITION BY $c: not an output column of the insert body"))
    fmt match {
      case f if SingleFileFormats.names(f) =>
        require(partitionBy.isEmpty,
          s"$f is a single-file interchange write — no PARTITION BY")
        SingleFileFormats.create(path, "INSERT INTO FUNCTION") {
          SingleFileFormats.write(body, path, f)
        }
      case other =>
        val w0 = body.write.mode("errorifexists")
        val w = partitionBy.map(w0.partitionBy(_)).getOrElse(w0)
        other match {
          case "PARQUET" => w.parquet(path)
          case "ORC" => w.orc(path)
          case "JSONEACHROW" => w.json(path)
          case "CSV" | "CSVWITHNAMES" =>
            w.option("header", (other == "CSVWITHNAMES").toString).csv(path)
          case "TSV" | "TABSEPARATED" | "TSVWITHNAMES" |
               "TABSEPARATEDWITHNAMES" =>
            w.option("sep", "\t")
              .option("header", other.contains("WITHNAMES").toString).csv(path)
          case f => throw new IllegalArgumentException(
            s"INSERT INTO FUNCTION: no writer for format '$f' (Parquet, " +
              "ORC, CSV[WithNames], TSV[WithNames], JSONEachRow, " +
              s"${SingleFileFormats.listing})")
        }
    }
  }
}
