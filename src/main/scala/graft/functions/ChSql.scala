package graft.functions

/** Tokenizer-based translator for the ClickHouse-ONLY SQL constructs
  * the Spark parser rejects (reference: src/Parsers/ASTSelectQuery.h —
  * prewhere() at :24, limitBy() at :30-32; ASTSampleRatio.h;
  * ASTTablesInSelectQuery.h:129 — array_join kinds Left/Inner;
  * ASTOrderByElement.h — with_fill + fill_from/fill_to/fill_step).
  * Together with the GraftFunctions registry this lets the
  * reference's SQL run end-to-end: `spark.sql(ChSql.translate(ch))`.
  *
  * The input is TOKENIZED (words, numbers, quoted strings, operators,
  * parens) — not regex-scanned — so keywords inside string literals or
  * identifiers can never confuse a rewrite, clause boundaries are only
  * recognized at paren-depth 0, and parenthesized subqueries are
  * translated recursively (a WITH FILL inside a derived table works).
  * Tokens carry their original leading whitespace, so a query using no
  * CH-only construct renders back byte-identical.
  *
  * Clause coverage:
  *  - `PREWHERE e [WHERE w]` → `WHERE (e) [AND (w)]`. PREWHERE is an
  *    IO hint with AND semantics; Spark's scan-level filter pushdown
  *    is the same optimization, so the merge is exact.
  *  - `[LEFT] ARRAY JOIN expr [AS alias], ...` → `LATERAL VIEW
  *    [OUTER] explode(expr) __ajN AS alias`. A bare column (CH's
  *    `ARRAY JOIN arr`, element visible AS `arr`) wraps the FROM
  *    source to shadow the array column. Multiple arrays (CH zips
  *    them in lockstep) become posexplode views equi-filtered on the
  *    position — same zip, row-local cost.
  *  - `ORDER BY k WITH FILL [FROM a] [TO b] [STEP s]` → a sequence()
  *    spine FULL-OUTER-joined on k (original rows all survive; missing
  *    k values appear with NULL columns — coalesce in the outer query
  *    for CH's type-default fill). FROM is inclusive, TO exclusive,
  *    like the reference; without bounds the spine spans min(k)..max(k)
  *    of the result.
  *  - `FROM t FINAL` → stripped: FINAL forces merge-time dedup of a
  *    MergeTree; a parquet snapshot is already fully merged.
  *  - `SAMPLE f BY col` → deterministic `xxhash64(col) <= cut(f)`
  *    merged into WHERE; `LIMIT n BY cols` → row_number window wrap;
  *    GLOBAL / FORMAT x stripped; `numbers(N)` → range(N).
  */
object ChSql {

  /** One lexical token; `pre` is the whitespace that preceded it in the
    * source, so rendering all tokens reproduces the input exactly. */
  private[functions] final case class Tok(pre: String, text: String, word: Boolean) {
    def up: String = if (word) text.toUpperCase else text
  }
  private[functions] def w(text: String): Tok = Tok(" ", text, text.headOption.exists(c => c.isLetter || c == '_'))

  def translate(sql: String): String = {
    val (ts, tail) = tokenize(sql)
    // EXPLAIN [AST|SYNTAX|PLAN|PIPELINE|ESTIMATE|QUERY TREE] [opt = v,…]
    // (reference: src/Parsers/ASTExplainQuery.h) → Spark's own EXPLAIN
    // of the translated statement; the CH mode/options select output
    // detail CH-side and have no Spark equivalent — dropped.
    if (ts.nonEmpty && ts.head.up == "EXPLAIN") {
      val modes = Set("AST", "SYNTAX", "QUERY", "TREE", "PLAN", "PIPELINE",
        "ESTIMATE", "CURRENT", "TRANSACTION")
      var i = 1
      var scanning = true
      while (i < ts.length && scanning) {
        if (ts(i).word && modes.contains(ts(i).up)) i += 1
        else if (ts(i).word && i + 2 < ts.length && ts(i + 1).text == "=") {
          i += 3
          if (i < ts.length && ts(i).text == ",") i += 1
        } else scanning = false
      }
      "EXPLAIN " + render(rewriteQuery(ts.drop(i))).trim + tail
    } else render(rewriteQuery(ts)) + tail
  }

  // ---------- lexer ----------

  private val twoCharOps = Set(">=", "<=", "<>", "!=", "==", "||", "::", "->")

  private[functions] def tokenize(sql: String): (Vector[Tok], String) = {
    val out = Vector.newBuilder[Tok]
    val n = sql.length
    var i = 0
    var pre = new StringBuilder
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) { pre.append(c); i += 1 }
      else {
        val start = i
        var word = false
        if (c == '\'') { // string literal, '' doubling
          i += 1
          var done = false
          while (i < n && !done) {
            if (sql.charAt(i) == '\'') {
              if (i + 1 < n && sql.charAt(i + 1) == '\'') i += 2
              else { done = true; i += 1 }
            } else i += 1
          }
        } else if (c == '`') { // quoted identifier
          i += 1
          while (i < n && sql.charAt(i) != '`') i += 1
          if (i < n) i += 1
        } else if (c == '"') { // ANSI double-quoted identifier (also
          // keeps ';'/keywords inside JSON FORMAT data atomic);
          // "" doubling and backslash escapes both honored
          i += 1
          var done = false
          while (i < n && !done) {
            val ch = sql.charAt(i)
            if (ch == '\\' && i + 1 < n) i += 2
            else if (ch == '"') {
              if (i + 1 < n && sql.charAt(i + 1) == '"') i += 2
              else { done = true; i += 1 }
            } else i += 1
          }
        } else if (c.isLetter || c == '_') {
          word = true
          while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        } else if (c.isDigit) { // 123, 1.5, 1e5, 123L — good enough for SQL
          while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '.')) i += 1
        } else {
          val two = if (i + 1 < n) sql.substring(i, i + 2) else ""
          if (twoCharOps.contains(two)) i += 2 else i += 1
        }
        out += Tok(pre.toString, sql.substring(start, i), word)
        pre = new StringBuilder
      }
    }
    (out.result(), pre.toString)
  }

  private[functions] def render(ts: Vector[Tok]): String = ts.map(t => t.pre + t.text).mkString

  private[functions] def renderTrim(ts: Vector[Tok]): String = render(ts).trim

  private[functions] def retok(sql: String): Vector[Tok] = tokenize(sql)._1

  // ---------- structure helpers ----------

  /** Paren-nesting depth of each token ('(' and ')' carry the OUTER
    * depth, tokens between them depth+1). */
  private[functions] def depths(ts: Vector[Tok]): Array[Int] = {
    val d = new Array[Int](ts.length)
    var cur = 0
    var i = 0
    while (i < ts.length) {
      if (ts(i).text == ")") cur -= 1
      d(i) = cur
      if (ts(i).text == "(") cur += 1
      i += 1
    }
    d
  }

  private[functions] def matchParen(ts: Vector[Tok], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < ts.length) {
      if (ts(i).text == "(") depth += 1
      else if (ts(i).text == ")") { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    ts.length - 1
  }

  /** First depth-0 index ≥ from whose uppercased word is in `kws`. */
  private[functions] def find0(ts: Vector[Tok], kws: Set[String], from: Int = 0): Int = {
    val d = depths(ts)
    var i = from
    while (i < ts.length) {
      if (d(i) == 0 && ts(i).word && kws.contains(ts(i).up)) return i
      i += 1
    }
    -1
  }

  /** Keywords that can START the clause following a scalar-expression
    * clause (WHERE/PREWHERE/SAMPLE/ARRAY JOIN item list end here). */
  private val clauseEnd = Set("PREWHERE", "WHERE", "GROUP", "HAVING", "ORDER",
    "LIMIT", "UNION", "INTERSECT", "EXCEPT", "SETTINGS", "FORMAT", "WINDOW",
    "QUALIFY")

  /** Recursively translate parenthesized subqueries; other paren groups
    * are descended for nested subqueries. */
  private def recurse(ts: Vector[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < ts.length) {
      if (ts(i).text == "(") {
        val j = matchParen(ts, i)
        val inner = ts.slice(i + 1, j)
        val newInner =
          if (inner.nonEmpty && (inner.head.up == "SELECT" || inner.head.up == "WITH"))
            rewriteQuery(inner)
          else recurse(inner)
        out += ts(i); out ++= newInner; out += ts(j)
        i = j + 1
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }

  private def rewriteQuery(ts0: Vector[Tok]): Vector[Tok] = {
    var ts = rewriteBrackets(recurse(ts0))
    ts = rewriteScalarWith(ts)
    ts = stripFormat(ts)
    ts = stripSettings(ts)
    ts = stripGlobal(ts)
    ts = stripFinal(ts)
    ts = rewriteNumbers(ts)
    ts = ChWindowView.rewriteTimeWindowTokens(ts)
    ts = refuseRemoteTableFns(ts)
    ts = rewriteGenerateRandom(ts)
    ts = rewriteCollate(ts)
    ts = rewriteExtract(ts)
    ts = rewriteDateDiff(ts)
    ts = rewriteAge(ts)
    ts = rewriteTernary(ts)
    ts = rewriteParametricAggs(ts)
    ts = rewriteBareCount(ts)
    ts = rewriteTransformValue(ts)
    ts = rewriteCollisions(ts)
    // SAMPLE sits between the table ref and ARRAY JOIN — remove it
    // first so the ARRAY JOIN rewrite sees a clean FROM source
    ts = rewriteSample(ts)
    ts = rewriteArrayJoin(ts)
    ts = rewriteAnyJoin(ts)
    ts = rewritePrewhere(ts)
    ts = rewriteTotals(ts)
    ts = rewriteLimitBy(ts)
    ts = rewriteWithFill(ts)
    ts = rewriteOffsetFetch(ts)
    ts = rewriteLimitOffset(ts)
    ts
  }

  // -- OFFSET n ROW[S] [FETCH {FIRST|NEXT} [m] ROW[S] {ONLY|WITH TIES}] --
  // (ParserSelectQuery.cpp:306-327 — the SQL-standard fetch clause the
  // reference accepts alongside its own LIMIT forms.)
  //  · ONLY            → LIMIT m OFFSET n (Spark's own clause);
  //  · bare OFFSET n ROWS → OFFSET n;
  //  · WITH TIES       → the q17 threshold plan (distributed top-m
  //    picks the boundary value, broadcast back as a filter — no
  //    global rank() window), single plain ORDER BY key only;
  //    OFFSET + WITH TIES and multi-key TIES refuse loudly.
  private def rewriteOffsetFetch(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    val rows = Set("ROW", "ROWS")
    val oi = ts.indices.find(i => d(i) == 0 && ts(i).up == "OFFSET" &&
      i + 2 < ts.length && ts(i + 1).text.forall(_.isDigit) &&
      rows(ts(i + 2).up))
    val fi = ts.indices.find(i => d(i) == 0 && ts(i).up == "FETCH" &&
      i + 1 < ts.length && Set("FIRST", "NEXT")(ts(i + 1).up))
    if (oi.isEmpty && fi.isEmpty) return ts
    fi match {
      case None =>
        // bare `OFFSET n ROW[S]` → Spark's `OFFSET n`
        val i = oi.get
        ts.take(i) ++ retok(s" OFFSET ${ts(i + 1).text}") ++ ts.drop(i + 3)
      case Some(f) =>
        // m defaults to 1 when omitted (FETCH FIRST ROW ONLY)
        val hasM = f + 2 < ts.length && ts(f + 2).text.forall(_.isDigit)
        val m = if (hasM) ts(f + 2).text.toLong else 1L
        val ri = if (hasM) f + 3 else f + 2
        require(ri < ts.length && rows(ts(ri).up),
          s"FETCH expects ROW/ROWS, got '${renderTrim(ts.drop(f))}'")
        val tiesEnd = ri + 3 // after WITH TIES
        val onlyEnd = ri + 2 // after ONLY
        val withTies = ri + 2 < ts.length && ts(ri + 1).up == "WITH" &&
          ts(ri + 2).up == "TIES"
        require(withTies ||
          (ri + 1 < ts.length && ts(ri + 1).up == "ONLY"),
          s"FETCH expects ONLY or WITH TIES, got '${renderTrim(ts.drop(f))}'")
        val start = oi.filter(i => i + 3 == f).getOrElse(f)
        val off = oi.filter(_ + 3 == f).map(i => ts(i + 1).text.toLong)
        if (!withTies) {
          val lim = s" LIMIT $m" + off.map(o => s" OFFSET $o").getOrElse("")
          ts.take(start) ++ retok(lim) ++ ts.drop(onlyEnd)
        } else {
          require(off.isEmpty,
            "OFFSET … FETCH … WITH TIES is not supported: the tie " +
              "threshold after a skipped prefix has no distributed-safe " +
              "plan; drop the OFFSET or use ONLY")
          val obi = find0(ts, Set("ORDER"))
          require(obi >= 0 && obi < start && ts(obi + 1).up == "BY",
            "FETCH … WITH TIES requires an ORDER BY")
          val keyToks = ts.slice(obi + 2, start)
          val desc = keyToks.lastOption.exists(_.up == "DESC")
          val core = keyToks.filterNot(t => t.word &&
            Set("ASC", "DESC")(t.up))
          require(core.length == 1 && core.head.word,
            "FETCH … WITH TIES supports a single plain ORDER BY column " +
              s"(got '${renderTrim(keyToks)}'); rewrite with a window rank")
          val k = core.head.text
          val head = renderTrim(ts.take(obi))
          val ordDir = if (desc) "DESC" else ""
          val agg = if (desc) "min" else "max"
          val cmp = if (desc) ">=" else "<="
          retok(
            s"""SELECT * FROM ($head) WHERE $k $cmp (
               |  SELECT $agg($k) FROM (
               |    SELECT $k FROM ($head) ORDER BY $k $ordDir LIMIT $m))
               |ORDER BY $k $ordDir""".stripMargin) ++ ts.drop(tiesEnd)
        }
    }
  }

  /** CH array literals `[a, b, …]` → `array(a, b, …)`, and tuple
    * literals DIRECTLY inside them `(x, y)` → `struct(x, y)` (the
    * Nested-value insert idiom `[('a', 1), ('b', 2)]`). A `[` is a
    * LITERAL unless it follows a value — identifier, `)`, `]`, string,
    * or number — in which case it is a subscript and left alone. */
  private[functions] def rewriteBrackets(ts: Vector[Tok]): Vector[Tok] = {
    // keywords after which `[` starts a literal even though they are
    // words (a bare identifier before `[` means subscript instead)
    val kws = Set("SELECT", "VALUES", "WHEN", "THEN", "ELSE", "AND", "OR",
      "NOT", "IN", "AS", "ON", "WHERE", "PREWHERE", "HAVING", "BY", "SET",
      "UNION", "ALL", "DISTINCT", "CASE", "FROM", "TO", "STEP", "INTERPOLATE",
      "RETURN", "ARRAY")
    val out = Vector.newBuilder[Tok]
    var lits = List.empty[(Boolean, Int)] // (isLiteral, paren depth at '[')
    var pdepth = 0
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      t.text match {
        case "[" =>
          val lit = if (i == 0) true else {
            val p = ts(i - 1)
            if (p.text == ")" || p.text == "]") false
            else if (p.word) kws.contains(p.up)
            else !(p.text.headOption.exists(c => c == '\'' || c.isDigit))
          }
          lits = (lit, pdepth) :: lits
          if (lit) { out += Tok(t.pre, "array", true); out += Tok("", "(", false) }
          else out += t
        case "]" =>
          lits match {
            case (lit, _) :: rest =>
              lits = rest
              out += (if (lit) Tok(t.pre, ")", false) else t)
            case Nil => out += t
          }
        case "(" =>
          // a parenthesized group directly after the literal `[` or a
          // same-level comma is a CH tuple value → struct(…)
          val tupleHere = lits.headOption.exists { case (lit, pd) =>
            lit && pd == pdepth } &&
            i > 0 && (ts(i - 1).text == "[" || ts(i - 1).text == ",") &&
            i + 1 < ts.length && ts(i + 1).up != "SELECT"
          pdepth += 1
          if (tupleHere) { out += Tok(t.pre, "struct", true); out += Tok("", "(", false) }
          else out += t
        case ")" =>
          pdepth -= 1
          out += t
        case _ => out += t
      }
      i += 1
    }
    out.result()
  }

  /** `LIMIT offset, count` (the reference accepts the MySQL comma
    * form) → `LIMIT count OFFSET offset`. Runs AFTER the LIMIT BY
    * rewrite, so `LIMIT n BY cols` is never misread. */
  private def rewriteLimitOffset(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    val li = ts.indices.find(i => d(i) == 0 && ts(i).up == "LIMIT" &&
      i + 3 < ts.length && ts(i + 1).text.forall(_.isDigit) &&
      ts(i + 2).text == "," && ts(i + 3).text.forall(_.isDigit))
    li match {
      case Some(i) => rewriteLimitOffset(
        ts.take(i) ++ retok(s" LIMIT ${ts(i + 3).text} OFFSET ${ts(i + 1).text}") ++
          ts.drop(i + 4))
      case None =>
        // any REMAINING comma after a depth-0 LIMIT is the offset form
        // with non-literal bounds (`LIMIT 10+5, 3`) — a translator
        // error beats the Spark parse error it would otherwise become
        // (LIMIT n BY was already rewritten away before this pass)
        ts.indices.foreach { i =>
          if (d(i) == 0 && ts(i).up == "LIMIT") {
            val stop0 = find0(ts, clauseEnd, i + 1)
            val seg = ts.slice(i + 1, if (stop0 < 0) ts.length else stop0)
            val sd = depths(seg)
            require(!seg.indices.exists(k => sd(k) == 0 && seg(k).text == ","),
              s"LIMIT offset, count requires literal integers " +
                s"(got 'LIMIT ${renderTrim(seg)}'); write LIMIT n OFFSET m")
          }
        }
        ts
    }
  }

  /** `GROUP BY keys WITH TOTALS` (ASTSelectQuery group_by_with_totals)
    * → `GROUP BY GROUPING SETS ((keys), ())`: per-group rows plus one
    * totals row in a single pass (Spark plans one Expand, exactly what
    * the reference's TotalsHaving transform costs). WITH ROLLUP/CUBE
    * parse natively in Spark and need no rewrite. */
  private def rewriteTotals(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    val wt = ts.indices.find(i => d(i) == 0 && ts(i).up == "WITH" &&
      i + 1 < ts.length && ts(i + 1).up == "TOTALS")
    if (wt.isEmpty) return ts
    val wi = wt.get
    val gi = find0(ts, Set("GROUP"))
    require(gi >= 0 && gi < wi && ts(gi + 1).up == "BY",
      "WITH TOTALS requires GROUP BY")
    val keys = renderTrim(ts.slice(gi + 2, wi))
    rewriteTotals(ts.take(gi) ++
      retok(s" GROUP BY GROUPING SETS (($keys), ())") ++ ts.drop(wi + 2))
  }

  /** ClickHouse's scalar WITH form (ASTWithAlias.h): `WITH expr AS
    * name, … SELECT …` binds NAMES TO EXPRESSIONS (including scalar
    * subqueries), substituted at each use site — not CTEs. Standard
    * `name AS (subquery)` CTE items are left for Spark's own WITH;
    * the two forms can mix. A name is substituted only where it stands
    * alone (not qualified with `.`, not a call `name(`, not an output
    * alias after AS). */
  private def rewriteScalarWith(ts: Vector[Tok]): Vector[Tok] = {
    if (ts.isEmpty || ts.head.up != "WITH") return ts
    val d = depths(ts)
    val sel = ts.indices.find(i => d(i) == 0 && ts(i).up == "SELECT")
    if (sel.isEmpty) return ts
    val itemToks = ts.slice(1, sel.get)
    val di = depths(itemToks)
    val items = {
      val buf = Vector.newBuilder[Vector[Tok]]
      var s = 0
      for (j <- itemToks.indices)
        if (itemToks(j).text == "," && di(j) == 0) { buf += itemToks.slice(s, j); s = j + 1 }
      buf += itemToks.slice(s, itemToks.length)
      buf.result().filter(_.nonEmpty)
    }
    val (ctes, scalars) = items.partition(it =>
      it.length >= 3 && it(0).word && it(1).up == "AS" && it(2).text == "(")
    if (scalars.isEmpty) return ts
    val subs: Map[String, Vector[Tok]] = scalars.map { it =>
      val asOk = it.length >= 3 && it(it.length - 2).up == "AS" && it.last.word &&
        depths(it)(it.length - 2) == 0
      require(asOk, s"bad scalar WITH item: '${renderTrim(it)}' (expected expr AS name)")
      it.last.text -> ((w("(") +: it.dropRight(2)) :+ w(")"))
    }.toMap
    def substitute(v: Vector[Tok]): Vector[Tok] = v.zipWithIndex.flatMap { case (t, k) =>
      val standsAlone = t.word && subs.contains(t.text) &&
        !(k > 0 && (v(k - 1).text == "." || v(k - 1).up == "AS")) &&
        !(k + 1 < v.length && (v(k + 1).text == "." || v(k + 1).text == "("))
      if (standsAlone) subs(t.text).zipWithIndex.map { case (s, i) =>
        if (i == 0) s.copy(pre = t.pre) else s }
      else Vector(t)
    }
    val restSub = substitute(ts.drop(sel.get))
    if (ctes.isEmpty) restSub
    else {
      // scalar names substitute inside sibling CTE bodies too
      val head = ctes.zipWithIndex.flatMap { case (c, i) =>
        (if (i > 0) Vector(w(",")) else Vector.empty[Tok]) ++ substitute(c)
      }
      (ts.head +: head) ++ restSub
    }
  }

  // ---------- strip-only rewrites ----------

  /** FORMAT <name> selects client output encoding — meaningless inside
    * an engine; dropped (trailing clause only). */
  private def stripFormat(ts: Vector[Tok]): Vector[Tok] = {
    val i = find0(ts, Set("FORMAT"))
    if (i >= 0 && i + 1 < ts.length && ts(i + 1).word && i + 2 >= ts.length)
      ts.take(i)
    else ts
  }

  /** SETTINGS k = v, … (trailing clause): per-query engine knobs
    * (max_threads, join_algorithm, …) that tune the CH executor —
    * Spark's equivalents are session confs the optimizer owns;
    * dropped. */
  private def stripSettings(ts: Vector[Tok]): Vector[Tok] = {
    val i = find0(ts, Set("SETTINGS"))
    // guard on the `name = value` shape so a column merely NAMED
    // settings can't truncate the query
    if (i >= 0 && i + 2 < ts.length && ts(i + 1).word && ts(i + 2).text == "=")
      ts.take(i)
    else ts
  }

  // ---------- query parameters {name:Type} ----------

  /** Query parameters (reference: src/Parsers/ASTQueryParameter.h:1 —
    * `{name:Type}` placeholders): substituted with TYPED literal
    * rendering before translation. Values arrive as strings (the
    * reference's client passes `--param_name=value`); the declared
    * type drives quoting: numerics inline (validated), strings quote
    * with `''` escaping, Date/DateTime render as typed literals,
    * `Array(T)` renders `[a, b]` values as `array(…)`, and
    * `Identifier` inlines verbatim (table/column parameters). */
  def substituteParams(sql: String, params: Map[String, String]): String = {
    val (ts, tail) = tokenize(sql)
    val out = new StringBuilder
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.text == "{" && i + 2 < ts.length && ts(i + 1).word && ts(i + 2).text == ":") {
        val name = ts(i + 1).text
        var j = i + 3
        while (j < ts.length && ts(j).text != "}") j += 1
        require(j < ts.length, s"unclosed query parameter {$name:…}")
        out.append(t.pre).append(renderParam(name, ts.slice(i + 3, j), params))
        i = j + 1
      } else { out.append(t.pre).append(t.text); i += 1 }
    }
    out.toString + tail
  }

  private val numericRe = """-?\d+(\.\d+)?([eE][+-]?\d+)?""".r
  private def quoted(v: String): String = "'" + v.replace("'", "''") + "'"

  private def renderParam(
      name: String, typeToks: Vector[Tok], params: Map[String, String]): String = {
    val v = params.getOrElse(name, throw new IllegalArgumentException(
      s"no value supplied for query parameter {$name:${renderTrim(typeToks)}}"))
    require(typeToks.nonEmpty, s"parameter {$name} needs a type")
    def render(tpe: Vector[Tok], value: String): String = tpe.head.up match {
      case t if t.startsWith("INT") || t.startsWith("UINT") ||
          t.startsWith("FLOAT") || t.startsWith("DECIMAL") =>
        require(numericRe.matches(value),
          s"parameter {$name:$t} expects a number, got '$value'")
        value
      case "BOOL" | "BOOLEAN" => value.toBoolean.toString
      case "DATE" | "DATE32" => s"DATE ${quoted(value)}"
      case "DATETIME" | "DATETIME64" => s"TIMESTAMP ${quoted(value)}"
      case "IDENTIFIER" => value
      case "ARRAY" =>
        // value like [1, 2] or ['a', 'b'] (the reference's client
        // array syntax) → array(…) with each element re-rendered
        val inner = tpe.slice(2, tpe.length - 1)
        val body = value.trim.stripPrefix("[").stripSuffix("]")
        val parts = splitTopLevel(tokenize(body)._1).map(renderTrim)
        val elems = parts.map { e =>
          val bare = if (e.startsWith("'") && e.endsWith("'"))
            e.stripPrefix("'").stripSuffix("'").replace("''", "'")
          else e
          render(inner, bare)
        }
        s"array(${elems.mkString(", ")})"
      case _ => quoted(value) // String/FixedString/UUID/IPv4/IPv6/Enum…
    }
    render(typeToks, v)
  }

  /** Split a trailing `SETTINGS k = v, …` clause off a statement:
    * (statement without the clause, the name/value pairs) — the
    * session-holding ChDdl.execute front door maps the pairs onto
    * Spark confs (ChSettings); the pure translate() path still strips
    * them. Same `name = value` guard as stripSettings. */
  private[functions] def extractSettings(sql: String): (String, Seq[(String, String)]) = {
    val ts = tokenize(sql)._1
    val i = find0(ts, Set("SETTINGS"))
    if (i >= 0 && i + 2 < ts.length && ts(i + 1).word && ts(i + 2).text == "=")
      (renderTrim(ts.take(i)), parseAssignments(ts.drop(i + 1)))
    else (sql, Nil)
  }

  /** Trailing `FORMAT <name>` (reference: ParserQueryWithOutput.h
    * hangs it on every output query) → (sql without it, the name), so
    * the front door can RENDER the result rows client-side instead of
    * just stripping the clause. A following SETTINGS tail is kept (it
    * is extracted separately). */
  private[functions] def extractFormat(sql: String): (String, Option[String]) = {
    val ts = tokenize(sql)._1
    val i = find0(ts, Set("FORMAT"))
    if (i >= 0 && i + 1 < ts.length && ts(i + 1).word) {
      val rest = ts.drop(i + 2)
      if (rest.isEmpty) (renderTrim(ts.take(i)), Some(ts(i + 1).text))
      else if (rest.head.up == "SETTINGS")
        (renderTrim(ts.take(i) ++ rest), Some(ts(i + 1).text))
      else (sql, None)
    } else (sql, None)
  }

  /** `INTO OUTFILE 'file' [COMPRESSION 'method']` (reference:
    * ASTQueryWithOutput.h:17,24 + ParserQueryWithOutput.cpp:85-96 —
    * the client-side file sink that precedes FORMAT) → (sql without
    * the clause, the unquoted path, the optional compression method).
    * The front door renders the sibling FORMAT (default TSV) and
    * writes the file. */
  private[functions] def extractOutfile(sql: String)
      : (String, Option[String], Option[String]) = {
    val ts = tokenize(sql)._1
    val i = find0(ts, Set("INTO"))
    if (i >= 0 && i + 2 < ts.length && ts(i + 1).up == "OUTFILE" &&
        ts(i + 2).text.startsWith("'")) {
      val path = ts(i + 2).text.stripPrefix("'").stripSuffix("'")
      val hasComp = i + 4 < ts.length && ts(i + 3).up == "COMPRESSION" &&
        ts(i + 4).text.startsWith("'")
      val comp =
        if (hasComp) Some(ts(i + 4).text.stripPrefix("'").stripSuffix("'"))
        else None
      val drop = if (hasComp) 5 else 3
      (renderTrim(ts.take(i) ++ ts.drop(i + drop)), Some(path), comp)
    } else (sql, None, None)
  }

  /** `k = v, k2 = v2, …` → pairs (string values unquoted). */
  private[functions] def parseAssignments(ts: Vector[Tok]): Seq[(String, String)] =
    splitTopLevel(ts).map { it =>
      val eq = it.indexWhere(_.text == "=")
      require(eq > 0, s"expected name = value, got '${renderTrim(it)}'")
      (renderTrim(it.take(eq)),
        renderTrim(it.drop(eq + 1)).stripPrefix("'").stripSuffix("'"))
    }

  /** GLOBAL IN/JOIN is ClickHouse's distribution hint (ship the
    * subquery to every shard) — Spark's optimizer owns that decision
    * (broadcast), so the keyword is dropped. */
  private val globalNext = Set("IN", "NOT", "ANY", "ALL", "JOIN", "LEFT",
    "RIGHT", "INNER", "FULL", "SEMI", "ANTI", "CROSS")
  private def stripGlobal(ts: Vector[Tok]): Vector[Tok] =
    ts.zipWithIndex.filterNot { case (t, i) =>
      t.up == "GLOBAL" && i + 1 < ts.length && globalNext.contains(ts(i + 1).up)
    }.map(_._1)

  /** FROM t FINAL: strip the keyword in the FROM clause (it must sit
    * between the table ref and the next clause). A Spark table alias
    * literally named `final` needs backticks through this translator. */
  private def stripFinal(ts: Vector[Tok]): Vector[Tok] = {
    val from = find0(ts, Set("FROM"))
    if (from < 0) return ts
    val d = depths(ts)
    val idx = (from + 2 until ts.length).find(i =>
      d(i) == 0 && ts(i).up == "FINAL")
    idx match {
      case Some(i) => stripFinal(ts.take(i) ++ ts.drop(i + 1))
      case None => ts
    }
  }

  /** numbers(N) / numbers(offset, N) table function (system.numbers
    * slice) → range(...) with the column renamed to `number`.
    * Non-literal arguments fail HERE with a translator message instead
    * of passing through to die in Spark's parser. */
  private def rewriteNumbers(ts: Vector[Tok]): Vector[Tok] = {
    val i = ts.indices.find(i => ts(i).up == "NUMBERS" &&
      i + 1 < ts.length && ts(i + 1).text == "(")
    i match {
      case Some(i) =>
        val close = matchParen(ts, i + 1)
        val args = ts.slice(i + 2, close).filterNot(_.text == ",").map(_.text)
        require(args.nonEmpty && args.length <= 2 && args.forall(_.forall(_.isDigit)),
          s"numbers(...) takes 1-2 literal integers, got " +
            s"'numbers(${renderTrim(ts.slice(i + 2, close))})'")
        val rangeArgs =
          if (args.length == 1) args.head
          else s"${args(0)}, ${args(0).toLong + args(1).toLong}"
        val rep = retok(s"(SELECT id AS number FROM range($rangeArgs))")
        rewriteNumbers(ts.take(i) ++
          (rep.head.copy(pre = ts(i).pre) +: rep.tail) ++ ts.drop(close + 1))
      case None => ts
    }
  }

  /** Server-addressing table functions (registerTableFunctions
    * surface): remote/remoteSecure/cluster name OTHER servers in a
    * ClickHouse topology — a library engine has no server registry,
    * so these REFUSE at translate time with guidance instead of
    * dying in Spark's parser. The SOURCE-adopting members of the
    * family (s3/gcs/hdfs/azureBlobStorage/url/file) are real readers
    * now — ChDdl.rewriteFileFn binds them to spark.read views on the
    * execute path before translation ever sees them; a bare
    * translate() call has no session to bind a reader, so those
    * names refuse HERE with a pointer at the front door. Guarded
    * like file(): only a name followed by a '(' whose first argument
    * is a string literal matches, so columns or aliases with these
    * names never trip it. */
  private val remoteTableFns = Map(
    "S3" -> "it reads through the execute front door (ChDdl.execute / ChSession.sql), which binds the s3a:// path to a spark.read view — translate() alone has no session to adopt a source",
    "URL" -> "it fetches through the execute front door (ChDdl.execute / ChSession.sql) — translate() alone has no session to adopt a source",
    "HDFS" -> "it reads through the execute front door (ChDdl.execute / ChSession.sql), which points spark.read at the hdfs:// path — translate() alone has no session to adopt a source",
    "GCS" -> "it reads through the execute front door (ChDdl.execute / ChSession.sql) over the configured FS — translate() alone has no session to adopt a source",
    "AZUREBLOBSTORAGE" -> "it reads through the execute front door (ChDdl.execute / ChSession.sql) over the configured FS — translate() alone has no session to adopt a source",
    "REMOTE" -> "a library engine addresses no other servers — read the remote table's storage directly or register it as a view",
    "REMOTESECURE" -> "a library engine addresses no other servers — read the remote table's storage directly",
    "CLUSTER" -> "Spark IS the cluster here — run the query on this session; there is no second topology to address")

  private def refuseRemoteTableFns(ts: Vector[Tok]): Vector[Tok] = {
    ts.indices.foreach { i =>
      if (ts(i).word && remoteTableFns.contains(ts(i).up) &&
          i + 2 < ts.length && ts(i + 1).text == "(" &&
          ts(i + 2).text.headOption.contains('\'')) {
        throw new UnsupportedOperationException(
          s"${ts(i).text}() is the reference's remote-source table " +
            s"function; ${remoteTableFns(ts(i).up)}")
      }
    }
    ts
  }

  /** ORDER BY … [ASC|DESC] COLLATE 'locale' (ASTOrderByElement.h:18-19;
    * ExpressionElementParsers.cpp:2239): locale-aware sort keys map to
    * Spark 4 collated strings — the sort expression wraps in
    * collate(expr, tag), direction/NULLS tokens stay outside. The CH
    * locale passes through as the ICU tag Spark's collation registry
    * speaks; 'C'/'POSIX'/'binary' (the reference's sort-by-bytes
    * spellings) map to UTF8_BINARY. */
  private def rewriteCollate(ts: Vector[Tok]): Vector[Tok] = {
    val at = ts.indices.find(i => ts(i).up == "COLLATE" &&
      i + 1 < ts.length && ts(i + 1).text.startsWith("'"))
    at match {
      case None => ts
      case Some(i) =>
        val loc0 = ts(i + 1).text.stripPrefix("'").stripSuffix("'")
        val loc = loc0.toLowerCase match {
          case "c" | "posix" | "binary" => "UTF8_BINARY"
          case _ => loc0
        }
        // skip direction tokens between the expression and COLLATE
        val dirWords = Set("ASC", "DESC", "ASCENDING", "DESCENDING",
          "NULLS", "FIRST", "LAST")
        var e = i - 1
        while (e >= 0 && ts(e).word && dirWords(ts(e).up)) e -= 1
        // expression start: walk back over balanced parens to the
        // nearest same-level boundary
        var j = e
        var bal = 0
        var done = false
        while (j >= 0 && !done) {
          val t = ts(j).text
          if (t == ")" || t == "]") bal += 1
          else if (t == "(" || t == "[") {
            if (bal == 0) done = true else bal -= 1
          } else if (bal == 0 && (t == "," ||
            Set("BY", "SELECT", "WHERE", "HAVING", "AND", "OR")(ts(j).up)))
            done = true
          if (!done) j -= 1
        }
        val start = j + 1
        require(start <= e, s"COLLATE without a sort expression near " +
          renderTrim(ts.slice(math.max(0, i - 4), i + 2)))
        val wrapped = retok("collate(") ++ ts.slice(start, e + 1) ++
          retok(s", '$loc')")
        rewriteCollate(ts.take(start) ++
          (wrapped.head.copy(pre = ts(start).pre) +: wrapped.tail) ++
          ts.slice(e + 1, i) ++ ts.drop(i + 2))
    }
  }

  /** generateRandom('name Type, …'[, seed[, maxStrLen[, maxArrLen]]])
    * table function (CH's schema-driven synthetic-row source;
    * registerTableFunctions surface) → a range(2^20) subquery with one
    * deterministic pseudo-random generator expression per column —
    * xxhash64(id, seed, colIdx) drives every value, so the stream is
    * reproducible for a given seed (documented deviation: CH draws a
    * fresh random seed when none is given; a library answer must be
    * deterministic, so seed defaults to 0) and generation is pure
    * codegen'd column arithmetic — embarrassingly parallel at any
    * scale. Row supply follows the query's own literal LIMIT (CH
    * streams unboundedly under LIMIT); without one it caps at 2^20 so
    * an accidental un-LIMITed SELECT terminates. Types: the scalar
    * set + Array(T)/
    * FixedString(n)/Decimal/Date/DateTime/Bool; others refuse. */
  private def rewriteGenerateRandom(ts: Vector[Tok]): Vector[Tok] = {
    val at = ts.indices.find(i => ts(i).up == "GENERATERANDOM" &&
      i + 1 < ts.length && ts(i + 1).text == "(")
    at match {
      case None => ts
      case Some(i) =>
        val close = matchParen(ts, i + 1)
        val args = splitTopLevel(ts.slice(i + 2, close))
        require(args.nonEmpty && args.length <= 4 &&
          args.head.length == 1 && args.head.head.text.startsWith("'"),
          "generateRandom('schema'[, seed[, maxStrLen[, maxArrLen]]]) " +
            "needs a literal schema string")
        def intArg(k: Int, dflt: Long): Long =
          if (args.length > k) {
            require(args(k).length == 1 && args(k).head.text.forall(_.isDigit),
              s"generateRandom argument ${k + 1} must be a literal integer")
            args(k).head.text.toLong
          } else dflt
        val seed = intArg(1, 0L)
        val maxStr = intArg(2, 10L)
        val maxArr = intArg(3, 10L)
        val spec = args.head.head.text.stripPrefix("'").stripSuffix("'")

        def gen(h: String, t: String): String = t match {
          case "TINYINT" => s"CAST(PMOD($h, 256) - 128 AS TINYINT)"
          case "SMALLINT" => s"CAST(PMOD($h, 65536) - 32768 AS SMALLINT)"
          case "INT" => s"CAST(PMOD($h, 4294967296) - 2147483648 AS INT)"
          case "BIGINT" => h
          case "FLOAT" =>
            s"CAST(PMOD($h, 1000000000) / CAST(1000000000 AS DOUBLE) AS FLOAT)"
          case "DOUBLE" =>
            s"PMOD($h, 1000000000) / CAST(1000000000 AS DOUBLE)"
          case "BOOLEAN" => s"(PMOD($h, 2) = 0)"
          case "STRING" =>
            s"SUBSTR(REPEAT(HEX($h), ${maxStr.toInt / 16 + 1}), 1, " +
              s"CAST(PMOD($h, ${maxStr + 1}) AS INT))"
          case v if v.startsWith("VARCHAR(") =>
            // FixedString(n): exactly n chars (RPAD both pads and
            // truncates, covering short HEX renderings)
            val n = v.stripPrefix("VARCHAR(").stripSuffix(")").trim.toInt
            s"RPAD(REPEAT(HEX($h), ${n / 16 + 1}), $n, '0')"
          case "DATE" =>
            s"DATE_ADD(DATE'1970-01-01', CAST(PMOD($h, 20089) AS INT))"
          case "TIMESTAMP" => s"TIMESTAMP_SECONDS(PMOD($h, 1735689600))"
          case d if d.startsWith("DECIMAL(") =>
            val Array(p, s) = d.stripPrefix("DECIMAL(").stripSuffix(")")
              .split(",").map(_.trim.toInt)
            val cap = math.pow(10, math.min(p - s, 6).max(1)).toLong
            if (s == 0) s"CAST(PMOD($h, $cap) AS $d)"
            else s"CAST(PMOD($h, $cap) + PMOD($h, 100) / 100.0 AS $d)"
          case a if a.startsWith("ARRAY<") && a.endsWith(">") =>
            val inner = a.stripPrefix("ARRAY<").stripSuffix(">")
            s"TRANSFORM(SEQUENCE(1, CAST(PMOD($h, ${maxArr + 1}) AS INT)), " +
              s"__j -> ${gen(s"XXHASH64($h, __j)", inner)})"
          case other => throw new IllegalArgumentException(
            s"generateRandom cannot generate type $other")
        }

        val cols = splitTopLevel(retok(spec)).zipWithIndex.map { case (c, k) =>
          require(c.length >= 2 && c.head.word,
            s"generateRandom schema needs `name Type` pairs, got '${renderTrim(c)}'")
          val name = c.head.text.stripPrefix("`").stripSuffix("`")
          val sparkType = ChDdl.parseType(c.tail)._1
          s"${gen(s"XXHASH64(id, $seed, $k)", sparkType)} AS `$name`"
        }
        // Row supply: scale to the query's own trailing LIMIT when it
        // is literal (LIMIT n / LIMIT o, n / LIMIT n OFFSET o at this
        // nesting depth) — a LIMIT above the old fixed 2^20 cap used
        // to silently return fewer rows than asked. No parseable
        // LIMIT (or a per-group LIMIT … BY) keeps the 2^20 default,
        // the documented finite cap for un-LIMITed SELECTs.
        val dep = depths(ts)
        val defaultCap = 1048576L
        def litAt(k: Int): Option[Long] =
          if (k < ts.length && ts(k).text.nonEmpty &&
            ts(k).text.forall(_.isDigit)) Some(ts(k).text.toLong) else None
        val bound = ts.indices
          .find(j => j > close && dep(j) == dep(i) && ts(j).up == "LIMIT")
          .flatMap { j =>
            litAt(j + 1).flatMap { n0 =>
              if (j + 2 < ts.length && ts(j + 2).text == ",")
                litAt(j + 3).map(n => n0 + n) // LIMIT offset, n
              else if (j + 2 < ts.length && ts(j + 2).up == "OFFSET")
                Some(litAt(j + 3).getOrElse(0L) + n0)
              else if (j + 2 < ts.length && ts(j + 2).up == "BY")
                None // LIMIT n BY … is per-group; no row bound
              else Some(n0)
            }
          }.getOrElse(defaultCap)
        val rep = retok(
          s"(SELECT ${cols.mkString(", ")} FROM range(${math.max(bound, 1L)}))")
        rewriteGenerateRandom(ts.take(i) ++
          (rep.head.copy(pre = ts(i).pre) +: rep.tail) ++ ts.drop(close + 1))
    }
  }

  /** ClickHouse PARAMETRIC aggregate syntax `f(params)(args)`
    * (reference: src/Parsers/ASTFunction.h — `parameters` next to
    * `arguments`): folded into the single-call form the dialect
    * registry exposes. Per-name argument placement:
    *  - quantile family: `quantile(0.9)(x)` → `quantile(x, 0.9)`
    *    (the registered percentile-shaped order);
    *  - topK: `topK(5)(x)` → `topK(5, x)` (registered CH order);
    *  - uniq family: precision params are sketch-tuning only —
    *    dropped, `uniqCombined(12)(x)` → `uniqCombined(x)`. */
  private val paramsLast = Set("QUANTILE", "QUANTILES", "QUANTILEEXACT",
    "QUANTILETDIGEST",
    "MEDIAN", "MEDIANEXACT", "UNIQUPTO", "QUANTILEEXACTWEIGHTED",
    "QUANTILETIMING", "QUANTILEDETERMINISTIC",
    "GROUPARRAYMOVINGSUM", "GROUPARRAYMOVINGAVG",
    "WINDOWFUNNEL",
    "QUANTILEEXACTLOW", "QUANTILEEXACTHIGH", "GROUPARRAYLAST",
    "QUANTILEEXACTEXCLUSIVE", "QUANTILEEXACTINCLUSIVE",
    "QUANTILESEXACTEXCLUSIVE", "QUANTILESEXACTINCLUSIVE",
    "EXPONENTIALTIMEDECAYEDSUM", "EXPONENTIALTIMEDECAYEDMAX",
    "EXPONENTIALTIMEDECAYEDCOUNT", "EXPONENTIALTIMEDECAYEDAVG",
    "MEANZTEST", "EXPONENTIALMOVINGAVERAGE",
    "QUANTILEINTERPOLATEDWEIGHTED", "QUANTILETIMINGWEIGHTED",
    "QUANTILEBFLOAT16", "QUANTILESTIMING")
  private val paramsFirst = Set("TOPK", "SEQUENCEMATCH", "SEQUENCECOUNT",
    "GROUPARRAYSAMPLE",
    "TOPKWEIGHTED", "SPARKBAR", "HISTOGRAM",
    "STOCHASTICLINEARREGRESSION", "STOCHASTICLOGISTICREGRESSION",
    "SEQUENCENEXTNODE", "GROUPCONCAT", "SUMMAPFILTERED", "QUANTILEGK",
    "SEQUENCEMATCHEVENTS",
    "SUMRESAMPLE", "COUNTRESAMPLE", "AVGRESAMPLE", "MINRESAMPLE",
    "MAXRESAMPLE", "UNIQRESAMPLE", "UNIQEXACTRESAMPLE")
  private val paramsDropped = Set("UNIQ", "UNIQCOMBINED", "UNIQCOMBINED64",
    "UNIQHLL12")

  /** CH's regex `extract(haystack, pattern)` collides with standard
    * SQL `EXTRACT(field FROM source)`, which Spark owns — the registry
    * never shadows builtins, so the 2-arg CH form is rewritten here
    * instead: `extract(h, p)` → `regexp_extract(h, p, idx)` with the
    * CH group rule (idx 0 when the pattern literal has no capturing
    * group, else 1). The datetime form (a depth-1 FROM) is left for
    * Spark. */
  private def rewriteExtract(ts: Vector[Tok]): Vector[Tok] = {
    val i = ts.indices.find { i =>
      ts(i).word && ts(i).up == "EXTRACT" &&
        i + 1 < ts.length && ts(i + 1).text == "(" && {
          val close = matchParen(ts, i + 1)
          var depth = 0
          var j = i + 1
          var comma = false
          var from = false
          while (j < close) {
            if (ts(j).text == "(") depth += 1
            else if (ts(j).text == ")") depth -= 1
            else if (depth == 1 && ts(j).text == ",") comma = true
            else if (depth == 1 && ts(j).up == "FROM") from = true
            j += 1
          }
          comma && !from
        }
    }
    i match {
      case None => ts
      case Some(i) =>
        val close = matchParen(ts, i + 1)
        // the pattern is the LAST depth-1 argument; CH picks group 1
        // only if the pattern itself declares a capturing group (the
        // haystack may contain nested calls — their parens don't count)
        var depth = 0
        var lastComma = i + 1
        for (j <- (i + 1) until close) {
          if (ts(j).text == "(") depth += 1
          else if (ts(j).text == ")") depth -= 1
          else if (depth == 1 && ts(j).text == ",") lastComma = j
        }
        val pat = ts.slice(lastComma + 1, close).map(_.text).mkString
        val idx = if (hasCapturingGroup(pat)) "1" else "0"
        val renamed = ts(i).copy(text = "regexp_extract")
        rewriteExtract(
          ts.take(i) ++ Vector(renamed) ++ ts.slice(i + 1, close) ++
            Vector(Tok("", ",", word = false), Tok(" ", idx, word = false)) ++
            ts.drop(close))
    }
  }

  /** CH's 3-arg `dateDiff('unit', start, end)` collides with Spark's
    * 2-arg `datediff(end, start)` (days only), which the registry
    * never shadows — rewrite the 3-arg form to Spark's
    * `timestampdiff(UNIT, …)`, whose argument order CH already
    * matches. Semantics differ: CH counts unit-BOUNDARY crossings
    * (dateDiff('day', 23:59, next 00:01) = 1) while timestampdiff
    * counts COMPLETE elapsed units (= 0), so both operands are
    * date_trunc'd to the unit first — aligned operands make the two
    * counts identical. The 2-arg form is left for Spark. */
  private def rewriteDateDiff(ts: Vector[Tok]): Vector[Tok] = {
    val i = ts.indices.find { i =>
      ts(i).word && ts(i).up == "DATEDIFF" &&
        i + 2 < ts.length && ts(i + 1).text == "(" &&
        ts(i + 2).text.startsWith("'") && {
          val close = matchParen(ts, i + 1)
          var depth = 0
          var commas = 0
          for (j <- (i + 1) until close) {
            if (ts(j).text == "(") depth += 1
            else if (ts(j).text == ")") depth -= 1
            else if (depth == 1 && ts(j).text == ",") commas += 1
          }
          commas == 2
        }
    }
    i match {
      case None => ts
      case Some(i) =>
        val close = matchParen(ts, i + 1)
        val unit = ts(i + 2).text.stripPrefix("'").stripSuffix("'").toUpperCase
        var depth = 0
        val commas = Vector.newBuilder[Int]
        for (j <- (i + 1) until close) {
          if (ts(j).text == "(") depth += 1
          else if (ts(j).text == ")") depth -= 1
          else if (depth == 1 && ts(j).text == ",") commas += j
        }
        val Vector(c1, c2) = commas.result()
        val a = renderTrim(ts.slice(c1 + 1, c2))
        val b = renderTrim(ts.slice(c2 + 1, close))
        rewriteDateDiff(ts.take(i) ++ retok(
          s" timestampdiff($unit, date_trunc('$unit', $a), " +
            s"date_trunc('$unit', $b))") ++ ts.drop(close + 1))
    }
  }

  /** CH's ternary `cond ? then : else` → `if(cond, then, else)`.
    * Ternary binds LOOSEST (CH's grammar), so each side extends to
    * the nearest same-depth comma / clause keyword / paren boundary —
    * AND/OR fold INTO the sides. `a ? b : c ? d : e` resolves
    * right-associatively (the else recurses). */
  private val ternaryBounds = Set("SELECT", "FROM", "WHERE", "PREWHERE",
    "GROUP", "ORDER", "HAVING", "LIMIT", "SETTINGS", "BY", "WHEN", "THEN",
    "ELSE", "END", "AS", "ON", "UNION", "INTERSECT", "EXCEPT", "JOIN",
    "ASOF", "INTO", "FORMAT", "INTERPOLATE", "OFFSET", "FETCH")

  private def rewriteTernary(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    val qi = ts.indices.find(i => ts(i).text == "?" && !ts(i).word)
    qi match {
      case None => ts
      case Some(q) =>
        val dep = d(q)
        def isBound(k: Int): Boolean =
          d(k) < dep || (d(k) == dep &&
            (ts(k).text == "," || (ts(k).word && ternaryBounds(ts(k).up))))
        // condition: walk left to the previous boundary
        var s = q - 1
        while (s >= 0 && !isBound(s)) s -= 1
        val condStart = s + 1
        // matching colon: skip nested ?s to the right
        var k = q + 1
        var nest = 0
        var ci = -1
        while (k < ts.length && ci < 0) {
          if (d(k) == dep && ts(k).text == "?") nest += 1
          else if (d(k) == dep && ts(k).text == ":" && !ts(k).word) {
            if (nest == 0) ci = k else nest -= 1
          }
          k += 1
        }
        require(ci > 0, s"ternary '?' without matching ':' in ${renderTrim(ts)}")
        // else: walk right to the next boundary
        var e = ci + 1
        while (e < ts.length && !isBound(e)) e += 1
        val cond = renderTrim(ts.slice(condStart, q))
        val thenP = renderTrim(ts.slice(q + 1, ci))
        val elseP = renderTrim(ts.slice(ci + 1, e))
        rewriteTernary(ts.take(condStart) ++
          retok(s" if($cond, $thenP, $elseP)") ++ ts.drop(e))
    }
  }

  /** CH `age('unit', start, end)` counts COMPLETE elapsed units —
    * exactly Spark's `timestampdiff` (no date_trunc alignment, unlike
    * dateDiff's boundary-crossing count). Only the 3-arg form with a
    * literal unit rewrites; a column named age is untouched. */
  private def rewriteAge(ts: Vector[Tok]): Vector[Tok] = {
    val i = ts.indices.find { i =>
      ts(i).word && ts(i).up == "AGE" &&
        i + 2 < ts.length && ts(i + 1).text == "(" &&
        ts(i + 2).text.startsWith("'")
    }
    i match {
      case None => ts
      case Some(i) =>
        val close = matchParen(ts, i + 1)
        val raw = ts(i + 2).text.stripPrefix("'").stripSuffix("'").toUpperCase
        val unit = if (raw.length > 2 && raw.endsWith("S")) raw.dropRight(1) else raw
        require(Set("YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
          "HOUR", "MINUTE", "SECOND")(unit), s"age: unsupported unit '$raw'")
        val rest = renderTrim(ts.slice(i + 3, close)) // ", start, end"
        rewriteAge(ts.take(i) ++ retok(s" timestampdiff($unit$rest)") ++
          ts.drop(close + 1))
    }
  }

  /** Does the regex contain a CAPTURING group — `(` that is neither
    * escaped (`\(`) nor the opener of a non-capturing/lookaround
    * construct (`(?`)? Drives the CH extract/extractAll group rule. */
  private[functions] def hasCapturingGroup(pattern: String): Boolean = {
    var esc = false
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (esc) esc = false
      else if (c == '\\') esc = true
      else if (c == '(' &&
        (i + 1 >= pattern.length || pattern.charAt(i + 1) != '?')) return true
      i += 1
    }
    false
  }

  private def rewriteParametricAggs(ts: Vector[Tok]): Vector[Tok] = {
    val i = ts.indices.find { i =>
      ts(i).word &&
        (paramsLast.contains(ts(i).up) || paramsFirst.contains(ts(i).up) ||
          paramsDropped.contains(ts(i).up)) &&
        i + 1 < ts.length && ts(i + 1).text == "(" && {
          val c1 = matchParen(ts, i + 1)
          c1 + 1 < ts.length && ts(c1 + 1).text == "("
        }
    }
    i match {
      case None => ts
      case Some(i) =>
        val c1 = matchParen(ts, i + 1)
        val c2 = matchParen(ts, c1 + 1)
        val params = ts.slice(i + 2, c1)
        val args = ts.slice(c1 + 2, c2)
        val merged =
          if (paramsDropped.contains(ts(i).up)) args
          else if (paramsFirst.contains(ts(i).up)) params ++ (w(",") +: args)
          else args ++ (w(",") +: params)
        rewriteParametricAggs(
          (ts.take(i + 2) ++ merged ++ ts.slice(c1, c1 + 1)) ++ ts.drop(c2 + 1))
    }
  }

  /** CH names whose semantics DIFFER from a same-named Spark builtin
    * (the registry never shadows builtins, so these must be renamed
    * to the graft-registered spelling here): Spark's monthname()
    * abbreviates, CH's returns the full month name. */
  private val collisionRenames = Map("MONTHNAME" -> "chMonthName")
  private def rewriteCollisions(ts: Vector[Tok]): Vector[Tok] =
    ts.zipWithIndex.map { case (t, i) =>
      if (t.word && collisionRenames.contains(t.up) &&
          i + 1 < ts.length && ts(i + 1).text == "(")
        t.copy(text = collisionRenames(t.up))
      else t
    }

  /** CH's VALUE-MAPPING transform(x, from, to[, default]) shares its
    * name with the lambda HOF Spark owns. A transform() whose
    * argument list carries no depth-1 `->` is the value-mapping form
    * — renamed to the registered chTransformValue builder. */
  private def rewriteTransformValue(ts: Vector[Tok]): Vector[Tok] = {
    val i = ts.indices.find { i =>
      ts(i).word && ts(i).up == "TRANSFORM" &&
        i + 1 < ts.length && ts(i + 1).text == "(" && {
          val close = matchParen(ts, i + 1)
          var depth = 0
          var lambda = false
          for (j <- (i + 2) until close) {
            if (ts(j).text == "(") depth += 1
            else if (ts(j).text == ")") depth -= 1
            else if (depth == 0 && ts(j).text == "->") lambda = true
          }
          !lambda
        }
    }
    i match {
      case None => ts
      case Some(i) => rewriteTransformValue(
        ts.updated(i, ts(i).copy(text = "chTransformValue")))
    }
  }

  /** Bare `count()` (ClickHouse counts rows) → `count(*)`. */
  private def rewriteBareCount(ts: Vector[Tok]): Vector[Tok] = {
    val i = ts.indices.find(i => ts(i).up == "COUNT" &&
      i + 2 < ts.length && ts(i + 1).text == "(" && ts(i + 2).text == ")")
    i match {
      case None => ts
      case Some(i) => rewriteBareCount(
        ts.take(i + 2) ++ (w("*") +: ts.drop(i + 2)))
    }
  }

  // ---------- WHERE plumbing ----------

  /** AND a predicate into the query's WHERE clause (parenthesizing the
    * existing condition), or create a WHERE before the first tail
    * clause. */
  private def injectWhere(ts: Vector[Tok], pred: String): Vector[Tok] = {
    val wi = find0(ts, Set("WHERE"))
    if (wi >= 0) {
      val end0 = find0(ts, clauseEnd - "WHERE", wi + 1)
      val end = if (end0 < 0) ts.length else end0
      val cond = renderTrim(ts.slice(wi + 1, end))
      ts.take(wi) ++ retok(s" WHERE ($pred) AND ($cond)") ++ ts.drop(end)
    } else {
      val ti = find0(ts, Set("GROUP", "HAVING", "ORDER", "LIMIT", "UNION",
        "INTERSECT", "EXCEPT", "SETTINGS", "WINDOW", "QUALIFY"))
      val at = if (ti < 0) ts.length else ti
      ts.take(at) ++ retok(s" WHERE $pred") ++ ts.drop(at)
    }
  }

  // ---------- PREWHERE ----------

  private def rewritePrewhere(ts: Vector[Tok]): Vector[Tok] = {
    val pi = find0(ts, Set("PREWHERE"))
    if (pi < 0) return ts
    val preEnd0 = find0(ts, clauseEnd - "PREWHERE", pi + 1)
    val preEnd = if (preEnd0 < 0) ts.length else preEnd0
    val pre = renderTrim(ts.slice(pi + 1, preEnd))
    if (preEnd < ts.length && ts(preEnd).up == "WHERE") {
      val wEnd0 = find0(ts, clauseEnd - "WHERE", preEnd + 1)
      val wEnd = if (wEnd0 < 0) ts.length else wEnd0
      val wexpr = renderTrim(ts.slice(preEnd + 1, wEnd))
      rewritePrewhere(ts.take(pi) ++ retok(s" WHERE ($pre) AND ($wexpr)") ++ ts.drop(wEnd))
    } else {
      rewritePrewhere(ts.take(pi) ++ retok(s" WHERE ($pre)") ++ ts.drop(preEnd))
    }
  }

  // ---------- SAMPLE f BY col ----------

  private[functions] def hashCut(frac: Double): Long =
    (Long.MinValue + (frac * 2.0 * Long.MaxValue)).toLong

  private def rewriteSample(ts: Vector[Tok]): Vector[Tok] = {
    val si = find0(ts, Set("SAMPLE"))
    if (si < 0 || si + 1 >= ts.length) return ts
    // ParserSampleRatio (ASTSampleRatio.h) accepts three spellings:
    // decimal (0.1), rational (1/10), absolute row count (10000).
    // Returns (value, isAbsolute, tokens consumed) or None.
    def ratio(at: Int): Option[(Double, Boolean, Int)] = {
      if (at >= ts.length) None
      else if (ts(at).text.matches("""0?\.\d+|\d+\.\d+"""))
        Some((ts(at).text.toDouble, false, 1))
      else if (ts(at).text.matches("""\d+""")) {
        if (at + 2 < ts.length && ts(at + 1).text == "/" &&
            ts(at + 2).text.matches("""\d+"""))
          Some((ts(at).text.toDouble / ts(at + 2).text.toDouble, false, 3))
        else {
          val n = ts(at).text.toLong
          // CH reads SAMPLE 1 as ratio 1 (whole table), larger
          // integers as an approximate absolute row count
          if (n == 1L) Some((1.0, false, 1)) else Some((n.toDouble, true, 1))
        }
      } else None
    }
    val parsed = ratio(si + 1)
    if (parsed.isEmpty) return ts
    val (value, absolute, used) = parsed.get
    var end = si + 1 + used
    // optional OFFSET g (ratio forms only — the reference's grammar)
    val offset: Option[Double] =
      if (end < ts.length && ts(end).up == "OFFSET")
        ratio(end + 1) match {
          case Some((g, false, u)) => end += 1 + u; Some(g)
          case _ => throw new IllegalArgumentException(
            "SAMPLE … OFFSET takes a ratio (decimal or a/b), not a row count")
        }
      else None
    if (absolute && offset.nonEmpty) throw new IllegalArgumentException(
      "SAMPLE <rows> cannot combine with OFFSET — use a ratio sample")
    // range predicate over a [0,1]-mapped hash: (cut(off), cut(off+f)]
    def rangePred(hashExpr: String): String = offset match {
      case None => s"$hashExpr <= ${hashCut(math.min(value, 1.0))}L"
      case Some(g) =>
        s"$hashExpr > ${hashCut(math.min(g, 1.0))}L AND " +
          s"$hashExpr <= ${hashCut(math.min(g + value, 1.0))}L"
    }
    def absolutePred(hashExpr: String, tbl: String): String =
      // approximate n rows: the cut derives from the LIVE row count —
      // a 1-row scalar subquery (metadata-only count on parquet),
      // broadcast into the scan predicate; same double arithmetic as
      // hashCut so a ratio sample of n/count lands the identical cut
      s"$hashExpr <= (SELECT CAST(${Long.MinValue}D + " +
        s"LEAST(CAST(${value.toLong} AS DOUBLE) / COUNT(*), 1.0D) * 2.0D * " +
        s"${Long.MaxValue}D AS BIGINT) FROM $tbl)"
    if (end + 1 < ts.length && ts(end).up == "BY" && ts(end + 1).word) {
      // explicit `SAMPLE f [OFFSET g] BY col`: per-row hash of the
      // named key (deterministic, IO-full — the layoutless fallback)
      val key = ts(end + 1).text
      val rest = ts.take(si) ++ ts.drop(end + 2)
      val pred =
        if (absolute) {
          val from = find0(rest, Set("FROM"))
          val tbl =
            if (from >= 0 && from + 1 < rest.length && rest(from + 1).word)
              rest(from + 1).text
            else throw new IllegalArgumentException(
              s"SAMPLE ${value.toLong} BY $key: no FROM table to count")
          absolutePred(s"xxhash64($key)", tbl)
        } else rangePred(s"xxhash64($key)")
      rewriteSample(injectWhere(rest, pred))
    } else {
      // the reference's own `SAMPLE f`: the sampling key comes from the
      // table's DDL (SAMPLE BY). If the FROM table was created through
      // ChDdl, its PERSISTED hash column serves the range predicate —
      // pushed to the scan, IO proportional to f (MergeTree behavior).
      val from = find0(ts, Set("FROM"))
      val tbl = if (from >= 0 && from + 1 < ts.length && ts(from + 1).word)
        Some(ts(from + 1).text) else None
      tbl.flatMap(t => ChDdl.sampleHashColOf(t)) match {
        case Some(hashCol) =>
          val rest = ts.take(si) ++ ts.drop(end)
          val pred = if (absolute) absolutePred(hashCol, tbl.get)
            else rangePred(hashCol)
          rewriteSample(injectWhere(rest, pred))
        case None => throw new IllegalArgumentException(
          s"SAMPLE $value: table ${tbl.getOrElse("?")} declares no SAMPLE BY " +
            "(create it via ChDdl, or use the explicit `SAMPLE f BY col` form)")
      }
    }
  }

  // ---------- [LEFT] ARRAY JOIN ----------

  private def rewriteArrayJoin(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    val aj = ts.indices.find(i => d(i) == 0 && ts(i).up == "ARRAY" &&
      i + 1 < ts.length && ts(i + 1).up == "JOIN")
    if (aj.isEmpty) return ts
    val i = aj.get
    val left = i > 0 && ts(i - 1).up == "LEFT" && d(i - 1) == 0
    val start = if (left) i - 1 else i
    val itemsFrom = i + 2
    val end0 = find0(ts, clauseEnd, itemsFrom)
    val end = if (end0 < 0) ts.length else end0
    // split items on depth-0 commas
    val itemToks = ts.slice(itemsFrom, end)
    val di = depths(itemToks)
    val items = {
      val buf = Vector.newBuilder[Vector[Tok]]
      var s = 0
      for (j <- itemToks.indices)
        if (itemToks(j).text == "," && di(j) == 0) { buf += itemToks.slice(s, j); s = j + 1 }
      buf += itemToks.slice(s, itemToks.length)
      buf.result().filter(_.nonEmpty)
    }
    require(items.nonEmpty, "ARRAY JOIN with no items")
    val outer = if (left) "OUTER " else ""

    def aliasOf(item: Vector[Tok]): Option[(Vector[Tok], String)] =
      if (item.length >= 3 && item(item.length - 2).up == "AS" && item.last.word)
        Some((item.dropRight(2), item.last.text))
      else None

    if (items.length == 1) {
      items.head match {
        case it if aliasOf(it).isDefined =>
          val (expr, alias) = aliasOf(it).get
          val lv = s" LATERAL VIEW ${outer}explode(${renderTrim(expr)}) __aj0 AS $alias"
          rewriteArrayJoin(ts.take(start) ++ retok(lv) ++ ts.drop(end))
        case it if it.length == 1 && it.head.word =>
          // bare column: CH exposes the ELEMENT under the array's own
          // name — shadow the array column by renaming it in a wrapper
          // around the FROM source (single-table FROM only)
          val arr = it.head.text
          val from = find0(ts, Set("FROM"))
          require(from >= 0 && from < start, s"ARRAY JOIN $arr: no FROM clause")
          val src = renderTrim(ts.slice(from + 1, start))
          val lv = s" FROM (SELECT * EXCEPT($arr), $arr AS __aj_src FROM $src)" +
            s" LATERAL VIEW ${outer}explode(__aj_src) __aj0 AS $arr"
          rewriteArrayJoin(ts.take(from) ++ retok(lv) ++ ts.drop(end))
        case it => throw new IllegalArgumentException(
          s"ARRAY JOIN item '${renderTrim(it)}' needs AS alias (or be a bare column)")
      }
    } else {
      // multiple arrays iterate in LOCKSTEP in ClickHouse — realized as
      // posexplode views equi-filtered on the shared position (the
      // filter is row-local; CH itself requires equal lengths)
      val aliased = items.map(it => aliasOf(it).getOrElse(throw new IllegalArgumentException(
        s"multi-array ARRAY JOIN items all need AS aliases: '${renderTrim(it)}'")))
      val views = aliased.zipWithIndex.map { case ((expr, alias), k) =>
        s" LATERAL VIEW ${outer}posexplode(${renderTrim(expr)}) __aj$k AS __aj_p$k, $alias"
      }.mkString
      val zipPred = (1 until aliased.length)
        .map(k => s"__aj_p0 = __aj_p$k").mkString(" AND ")
      rewriteArrayJoin(injectWhere(ts.take(start) ++ retok(views) ++ ts.drop(end), zipPred))
    }
  }

  // ---------- ANY JOIN strictness ----------

  /** `[LEFT] ANY JOIN t [AS] a ON …` / `ANY LEFT JOIN …` (reference:
    * src/Parsers/ASTTablesInSelectQuery.h:82 — Strictness::Any): each
    * left row joins AT MOST ONE right row per key. Realized by
    * deduplicating the right side to one row per join key with a
    * KEY-PARTITIONED row_number (which row survives among key-ties is
    * arbitrary — exactly the reference's any-join contract). The join
    * keys are read from the ON conjunction's `alias.col` references;
    * the right side must be a named table with its keys qualified. */
  private val joinKws = Set("LEFT", "RIGHT", "INNER", "FULL", "CROSS",
    "JOIN", "SEMI", "ANTI", "ASOF", "ANY")

  private def rewriteAnyJoin(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    val ai = ts.indices.find { i =>
      d(i) == 0 && ts(i).up == "ANY" && {
        val n1 = if (i + 1 < ts.length) ts(i + 1).up else ""
        val n2 = if (i + 2 < ts.length) ts(i + 2).up else ""
        n1 == "JOIN" || (Set("LEFT", "INNER").contains(n1) && n2 == "JOIN")
      }
    }
    if (ai.isEmpty) return ts
    val i = ai.get
    val joinIdx = if (ts(i + 1).up == "JOIN") i + 1 else i + 2
    val dirToks = ts.slice(i + 1, joinIdx) // LEFT/INNER if the old ANY LEFT JOIN order
    var p = joinIdx + 1
    require(p < ts.length && ts(p).word,
      "ANY JOIN: right side must be a named table (wrap subqueries yourself)")
    val tableStart = p
    p += 1 // the table name, then any `.part` qualifications
    while (p + 1 < ts.length && ts(p).text == "." && ts(p + 1).word) p += 2
    val tableText = renderTrim(ts.slice(tableStart, p))
    var alias = tableText.split('.').last
    if (p < ts.length && ts(p).up == "AS") { alias = ts(p + 1).text; p += 2 }
    else if (p < ts.length && ts(p).word && ts(p).up != "ON") { alias = ts(p).text; p += 1 }
    require(p < ts.length && ts(p).up == "ON", "ANY JOIN requires ON")
    val condEnd0 = find0(ts, clauseEnd ++ joinKws, p + 1)
    val condEnd = if (condEnd0 < 0) ts.length else condEnd0
    val condToks = ts.slice(p + 1, condEnd)
    val keys = condToks.indices.collect {
      case k if condToks(k).word && condToks(k).text == alias &&
        k + 2 < condToks.length && condToks(k + 1).text == "." &&
        condToks(k + 2).word => condToks(k + 2).text
    }.distinct
    require(keys.nonEmpty,
      s"ANY JOIN: no '$alias.<col>' key references found in the ON clause")
    val gen = s" ${renderTrim(dirToks)} JOIN (SELECT * EXCEPT(__aj_rn) FROM " +
      s"(SELECT *, row_number() OVER (PARTITION BY ${keys.mkString(", ")} " +
      s"ORDER BY ${keys.head}) AS __aj_rn FROM $tableText) WHERE __aj_rn = 1) " +
      s"$alias ON ${renderTrim(condToks)}"
    rewriteAnyJoin(ts.take(i) ++ retok(gen) ++ ts.drop(condEnd))
  }

  // ---------- ORDER BY … LIMIT n BY cols ----------

  private def rewriteLimitBy(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    // `LIMIT n BY cols` and the offset form `LIMIT o, n BY cols`
    // (ASTSelectQuery.h:30,60-61 limitByOffset; ParserSelectQuery
    // .cpp:427) — rows o+1 … o+n of each group. Must run BEFORE the
    // comma-LIMIT pass, which would otherwise eat `o, n` and leave
    // ` BY cols` dangling.
    val lb = ts.indices.find { i =>
      d(i) == 0 && ts(i).up == "LIMIT" && i + 2 < ts.length &&
        ts(i + 1).text.forall(_.isDigit) && (ts(i + 2).up == "BY" ||
          (ts(i + 2).text == "," && i + 4 < ts.length &&
            ts(i + 3).text.forall(_.isDigit) && ts(i + 4).up == "BY"))
    }
    if (lb.isEmpty) return ts
    val li = lb.get
    val comma = ts(li + 2).text == ","
    val off = if (comma) ts(li + 1).text.toLong else 0L
    val n = (if (comma) ts(li + 3) else ts(li + 1)).text.toLong
    val byIdx = if (comma) li + 4 else li + 2
    val oi = find0(ts, Set("ORDER"))
    require(oi >= 0 && oi < li && ts(oi + 1).up == "BY",
      "LIMIT n BY requires an ORDER BY")
    val head = renderTrim(ts.take(oi))
    val ord = renderTrim(ts.slice(oi + 2, li))
    // BY cols run to a final depth-0 LIMIT or end
    val fl = find0(ts, Set("LIMIT"), byIdx + 1)
    val byEnd = if (fl < 0) ts.length else fl
    val by = renderTrim(ts.slice(byIdx + 1, byEnd))
    val outerLimit =
      if (fl >= 0 && fl + 1 < ts.length) s" LIMIT ${ts(fl + 1).text}" else ""
    val cond =
      if (off > 0) s"__rn BETWEEN ${off + 1} AND ${off + n}" else s"__rn <= $n"
    retok(
      s"""SELECT * EXCEPT(__rn) FROM (
         |  SELECT *, row_number() OVER (PARTITION BY $by ORDER BY $ord) AS __rn
         |  FROM ($head) ) WHERE $cond ORDER BY $ord$outerLimit""".stripMargin)
  }

  // -- ORDER BY k [WITH FILL [FROM a] [TO b] [STEP s]], … [INTERPOLATE (c)] --

  /** One ORDER BY element (ASTOrderByElement.h:21-24 — with_fill and
    * its bounds are PER element). `key` is the plain column for fill
    * elements; non-fill elements keep their raw expression text. */
  private final case class FillElem(
      text: String, key: String, desc: Boolean, fill: Boolean,
      from: Option[String], to: Option[String], step: String)

  private def rewriteWithFill(ts: Vector[Tok]): Vector[Tok] = {
    val d = depths(ts)
    val wf = ts.indices.find(i => d(i) == 0 && ts(i).up == "WITH" &&
      i + 1 < ts.length && ts(i + 1).up == "FILL")
    if (wf.isEmpty) return ts
    val oi = find0(ts, Set("ORDER"))
    require(oi >= 0 && oi < wf.get && ts(oi + 1).up == "BY",
      "WITH FILL requires ORDER BY")
    val head = renderTrim(ts.take(oi))
    // the ORDER BY clause ends at the next depth-0 clause keyword; the
    // tail (LIMIT/SETTINGS/FORMAT/…) is preserved and re-appended —
    // never silently dropped
    val obEnd0 = find0(ts,
      Set("LIMIT", "SETTINGS", "FORMAT", "UNION", "INTERSECT", "EXCEPT"), oi + 2)
    val obEnd = if (obEnd0 < 0) ts.length else obEnd0
    val tail = render(ts.drop(obEnd))
    // INTERPOLATE (c) trails the whole element list
    var obToks = ts.slice(oi + 2, obEnd)
    var interpolate = Option.empty[String]
    val ii = find0(obToks, Set("INTERPOLATE"))
    if (ii >= 0) {
      val it = obToks.drop(ii + 1)
      require(it.length == 3 && it(0).text == "(" && it(1).word && it(2).text == ")",
        s"INTERPOLATE supports a single plain column, got '${renderTrim(it)}'")
      interpolate = Some(it(1).text)
      obToks = obToks.take(ii)
    }
    val fillKws = Set("FROM", "TO", "STEP")
    val elems = splitTopLevel(obToks).map { el =>
      val de = depths(el)
      val wfi = el.indices.find(i => de(i) == 0 && el(i).up == "WITH" &&
        i + 1 < el.length && el(i + 1).up == "FILL")
      wfi match {
        case None => FillElem(renderTrim(el), "", desc = false, fill = false, None, None, "1")
        case Some(w) =>
          var keyToks = el.take(w)
          var desc = false
          if (keyToks.nonEmpty && Set("ASC", "DESC").contains(keyToks.last.up)) {
            desc = keyToks.last.up == "DESC"
            keyToks = keyToks.dropRight(1)
          }
          require(keyToks.length == 1 && keyToks.head.word,
            s"WITH FILL needs a plain column key, got '${renderTrim(keyToks)}'")
          var from = Option.empty[String]
          var to = Option.empty[String]
          var step = "1"
          var i = w + 2
          while (i < el.length) {
            val kw = el(i).up
            if (de(i) == 0 && fillKws.contains(kw)) {
              var j = i + 1
              while (j < el.length &&
                !(de(j) == 0 && el(j).word && fillKws.contains(el(j).up))) j += 1
              val e = renderTrim(el.slice(i + 1, j))
              kw match {
                case "FROM" => from = Some(e)
                case "TO" => to = Some(e)
                case "STEP" => step = e
              }
              i = j
            } else i += 1
          }
          FillElem(keyToks.head.text, keyToks.head.text, desc, fill = true, from, to, step)
      }
    }
    val fills = elems.filter(_.fill)
    require(fills.nonEmpty, "WITH FILL parse found no fill element")
    def spineOf(f: FillElem): String = (f.from, f.to) match {
      case (Some(a), Some(b)) =>
        // FROM inclusive, TO exclusive (reference semantics)
        s"(SELECT ${f.key} FROM (SELECT explode(sequence($a, $b, ${f.step})) AS ${f.key}) WHERE ${f.key} < $b)"
      case _ =>
        s"""(SELECT explode(sequence(__wf_lo, __wf_hi, ${f.step})) AS ${f.key}
           |   FROM (SELECT min(${f.key}) AS __wf_lo, max(${f.key}) AS __wf_hi FROM ($head)))""".stripMargin
    }
    val orderList = elems.map(e =>
      if (e.fill) s"${e.key}${if (e.desc) " DESC" else ""}" else e.text).mkString(", ")
    if (fills.length > 1 || elems.length > 1) {
      // multiple fill keys: the filled axis is the CROSS JOIN of the
      // per-key spines (each spine is axis-sized — the product stays a
      // dimension grid, never fact-sized); non-fill sort keys ride
      // along from the query side with NULLs on filled rows
      require(interpolate.isEmpty,
        "INTERPOLATE is supported with a single WITH FILL key")
      val spine = fills.map(spineOf).zipWithIndex
        .map { case (s, k) => s"$s __wf_s$k" }.mkString(" CROSS JOIN ")
      val using = fills.map(_.key).mkString(", ")
      return retok(
        s"""SELECT * FROM (SELECT * FROM $spine) __wf_s
           |FULL JOIN ($head) __wf_q USING ($using)
           |ORDER BY $orderList$tail""".stripMargin)
    }
    val f = fills.head
    val k = f.key
    val step = f.step
    val spine = spineOf(f)
    interpolate match {
      case None =>
        retok(
          s"""SELECT * FROM $spine __wf_s
             |FULL JOIN ($head) __wf_q USING ($k)
             |ORDER BY $orderList$tail""".stripMargin)
      case Some(c) =>
        // Carry without a global single-partition window (the one plan
        // shape this repo bans): the axis is bucketed (1024 steps per
        // bucket), the in-bucket carry is a PARTITIONED window, and the
        // carry ACROSS buckets runs on the bucket-granularity relation
        // (≤ axis-span/1024 rows) — the WithFill.interpolated /
        // AsOfJoinBucketed two-level pattern, generated as SQL.
        // Rows before the first value carry NULL (coalesce for CH's
        // type-default). The interpolated column moves to the END of
        // the output row (SELECT * EXCEPT re-append).
        require(step.matches("""[0-9.]+"""),
          s"INTERPOLATE needs a numeric STEP axis, got STEP $step")
        val bucket = s"floor($k / (1024 * $step))"
        retok(
          s"""WITH __wf_j AS (
             |  SELECT *, $bucket AS __wf_bk FROM $spine __wf_s
             |  FULL JOIN ($head) __wf_q USING ($k)),
             |__wf_bl AS (
             |  SELECT __wf_bk, max_by($c, $k) AS __wf_v
             |  FROM __wf_j WHERE $c IS NOT NULL GROUP BY __wf_bk),
             |__wf_ci AS (
             |  SELECT x.__wf_bk, max_by(y.__wf_v, y.__wf_bk) AS __wf_carry
             |  FROM (SELECT DISTINCT __wf_bk FROM __wf_j) x
             |  LEFT JOIN __wf_bl y ON y.__wf_bk < x.__wf_bk
             |  GROUP BY x.__wf_bk),
             |__wf_inw AS (
             |  SELECT *, last($c, true) OVER (PARTITION BY __wf_bk ORDER BY $k
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __wf_inv
             |  FROM __wf_j)
             |SELECT * EXCEPT(__wf_bk, __wf_inv, __wf_carry, $c),
             |       coalesce(__wf_inv, __wf_carry) AS $c
             |FROM __wf_inw LEFT JOIN __wf_ci USING (__wf_bk)
             |ORDER BY $orderList$tail""".stripMargin)
    }
  }

  /** Split a token run on its top-level commas. */
  private[functions] def splitTopLevel(ts: Vector[Tok]): Vector[Vector[Tok]] = {
    val d = depths(ts)
    val out = Vector.newBuilder[Vector[Tok]]
    var s = 0
    for (k <- ts.indices)
      if (ts(k).text == "," && d(k) == 0) { out += ts.slice(s, k); s = k + 1 }
    out += ts.slice(s, ts.length)
    out.result().filter(_.nonEmpty)
  }
}
