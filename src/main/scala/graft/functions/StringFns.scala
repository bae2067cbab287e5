package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import FnBuilders._

/** String functions, with the URL, JSON, regex and formatting
  * families (reference: the public ClickHouse docs of each name;
  * likePatternToRegexp.h for the LIKE machinery). */
private[graft] object StringFns {

  /** The reference's firstSignificantSubdomain heuristic: the label
    * left of the registrable domain, where second-level registries
    * (com/net/org/co/…) push the cut one label deeper. */
  private val secondLevelRegistries =
    Seq("com", "net", "org", "co", "gov", "edu", "mil", "biz", "info", "ac")

  private def firstSigSub(es: Seq[Expression], cut: Boolean): Expression = {
    val host = builtin("regexp_replace")(Seq(
      builtin("parse_url")(es :+ Literal("HOST")),
      Literal("^www\\."), Literal("")))
    val labels = builtin("split")(Seq(host, Literal("\\.")))
    val n = builtin("size")(Seq(labels))
    val tldMinus1 = builtin("element_at")(Seq(labels,
      Subtract(n, Literal(1))))
    val deep = In(tldMinus1, secondLevelRegistries.map(Literal(_)))
    val depth = If(And(deep, GreaterThan(n, Literal(2))),
      Literal(3), Literal(2))
    val sig = builtin("element_at")(Seq(labels,
      Subtract(n, Subtract(depth, Literal(1)))))
    if (!cut) If(LessThan(n, Literal(2)), host, sig)
    else If(LessThan(n, Literal(2)), host,
      builtin("array_join")(Seq(
        builtin("slice")(Seq(labels,
          Add(Subtract(n, depth), Literal(1)), depth)),
        Literal("."))))
  }

  /** scheme://host prefix and the cleaned path segments of a URL. */
  private def pathSegments(u: Expression): (Expression, Expression) = {
    val root = builtin("regexp_extract")(Seq(u,
      Literal("^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"), Literal(1)))
    val rest = builtin("regexp_replace")(Seq(
      builtin("substring_index")(Seq(
        builtin("substring_index")(Seq(u, Literal("#"), Literal(1))),
        Literal("?"), Literal(1))),
      Literal("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*/?"), Literal("")))
    val segs = builtin("filter")(Seq(
      builtin("split")(Seq(rest, Literal("/"))),
      lam1("__g2_x")(x => GreaterThan(Length(x), Literal(0)))))
    (root, segs)
  }

  private def hasTokenB(caseInsensitive: Boolean): Builder = { es =>
    strLitOpt(es(1)) match {
      case Some(tok) =>
        val t = java.util.regex.Pattern.quote(tok)
        val flags = if (caseInsensitive) "(?i)" else ""
        RLike(es(0),
          Literal(s"$flags(^|[^A-Za-z0-9_])$t([^A-Za-z0-9_]|$$)"))
      case None => throw new IllegalArgumentException(
        "hasToken(haystack, needle-literal)")
    }
  }

  private def jsonPath(es: Seq[Expression]): Expression =
    if (es.size == 1) es.head
    else builtin("get_json_object")(Seq(es(0),
      Concat(Seq(Literal("$."), es(1)))))

  private def simpleJson(valueRe: String, unescape: Boolean): Builder = {
    es =>
      strLitOpt(es(1)) match {
        case Some(k) =>
          val re = "\"" + java.util.regex.Pattern.quote(k) +
            "\"\\s*:\\s*" + valueRe
          val raw = builtin("regexp_extract")(Seq(es(0), Literal(re),
            Literal(1)))
          if (!unescape) raw
          else builtin("replace")(Seq(
            builtin("replace")(Seq(raw, Literal("\\\""), Literal("\""))),
            Literal("\\\\"), Literal("\\")))
        case None => throw new IllegalArgumentException(
          "simpleJSONExtract*(json, name-literal)")
      }
  }

  private def simpleJsonHas: Builder = { es =>
    strLitOpt(es(1)) match {
      case Some(k) =>
        RLike(es(0), Literal(
          "\"" + java.util.regex.Pattern.quote(k) + "\"\\s*:"))
      case None => throw new IllegalArgumentException(
        "simpleJSONHas(json, name-literal)")
    }
  }

  /** Literal scrubbing for query fingerprinting: quoted strings and
    * bare numbers become ? (the documented CH purpose; exact whitespace
    * treatment is the one divergence). */
  private def scrubLiterals: Builder = { es =>
    builtin("regexp_replace")(Seq(
      builtin("regexp_replace")(Seq(es.head,
        Literal("('([^'\\\\]|\\\\.)*')"), Literal("?"))),
      Literal("(?<![a-zA-Z0-9_])-?\\d+(\\.\\d+)?"), Literal("?")))
  }

  private def captureCount(p: String): Int = {
    var i = 0
    var esc = false
    var n = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (esc) esc = false
      else if (c == '\\') esc = true
      else if (c == '(' &&
        (i + 1 >= p.length || p.charAt(i + 1) != '?')) n += 1
      i += 1
    }
    n
  }

  /** CH's `format('{} and {}', a, b)` (also positional `{0}`) → Spark
    * format_string; the literal format converts at build time. */
  private def chFormat(es: Seq[Expression]): Expression = {
    val fmt = strLit(es.head, "format", "format string")
    val out = new StringBuilder
    var i = 0
    var auto = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '{') {
        val close = fmt.indexOf('}', i)
        require(close > 0, s"format: unbalanced '{' in '$fmt'")
        val body = fmt.substring(i + 1, close)
        if (body.isEmpty) { out.append("%s"); auto += 1 }
        else out.append(s"%${body.toInt + 1}$$s")
        i = close + 1
      } else if (c == '%') { out.append("%%"); i += 1 }
      else { out.append(c); i += 1 }
    }
    builtin("format_string")(
      Literal(out.toString) +: es.tail.map(e => Cast(e, StringType)))
  }

  /** detectLanguage(text): the t01 lang-ID argmax (stopword-hit
    * scores from the one-pass TextSignalsExpr kernel; ties break to
    * the lexicographically LARGER code, Text.predictedLang's order).
    * 'un' (unknown) when no stopword hits at all — the reference
    * returns 'un' for undetectable input. */
  private def detectLanguage(es: Seq[Expression]): Expression = {
    // the one-pass kernel's hit vector is read ~20x by the argmax
    // If-chain below — bind it ONCE (the c44/c30 interpreted-
    // projection discipline; without it an interpreted projection
    // re-runs the whole kernel per splice)
    bind(fld(TextSignalsExpr(es.head), "hits")) { hits =>
    val langs = graft.functions.TextSignalsImpl.stopwords.map(_._1)
    val score: Map[String, Expression] = langs.zipWithIndex.map {
      case (l, i) =>
        l -> builtin("element_at")(Seq(hits, Literal(i + 1)))
    }.toMap
    val desc = langs.sorted.reverse
    val best = desc.foldRight(Literal(desc.last): Expression) {
      case (lang, acc) =>
        val ge = desc.filter(_ != lang)
          .map(o => GreaterThanOrEqual(score(lang), score(o)))
          .reduceOption(And.apply).getOrElse(Literal(true))
        If(ge, Literal(lang), acc)
    }
    val anyHit = langs.map(l => GreaterThan(score(l), Literal(0)))
      .reduce(Or.apply)
    If(anyHit, best, Literal("un"))
    }
  }

  def aliases: Seq[(String, Builder)] = Seq(
    // case, length and substrings
    "lengthUTF8"    -> builtin("length"),
    "lowerUTF8"     -> builtin("lower"),
    "upperUTF8"     -> builtin("upper"),
    "initcapUTF8"  -> builtin("initcap"),
    "substringUTF8" -> builtin("substring"),
    "reverseUTF8"   -> builtin("reverse"),
    // codepoint-aware left/right spellings (Spark's count codepoints)
    "leftUTF8" -> builtin("left"),
    "rightUTF8" -> builtin("right"),
    "mid" -> { es => builtin("substring")(es) },
    "substringIndex" -> builtin("substring_index"),
    "substringIndexUTF8" -> builtin("substring_index"),
    "firstLine" -> { es =>
      builtin("element_at")(Seq(
        builtin("split")(Seq(es.head, Literal("\\r\\n|\\r|\\n"))),
        Literal(1))) },
    // path basename: the segment after the last separator (CH doc
    // semantics; both separators, like the reference's splitter)
    "basename" -> { es =>
      builtin("regexp_extract")(Seq(es.head,
        Literal("([^/\\\\]*)$"), Literal(1))) },
    "visibleWidth" -> { es =>
      Cast(builtin("length")(Seq(Cast(es.head, StringType))), LongType) },
    // lpad/rpad are char-counted (= the UTF8 variants); the plain CH
    // names count bytes — char-counted here, documented divergence
    "leftPad"      -> builtin("lpad"),
    "rightPad"     -> builtin("rpad"),
    "leftPadUTF8"  -> builtin("lpad"),
    "rightPadUTF8" -> builtin("rpad"),
    "repeatStr"     -> builtin("repeat"),
    "concatStr"     -> builtin("concat"),
    "concatWithSeparator" -> builtin("concat_ws"),
    "concatAssumeInjective" -> { es => builtin("concat")(es) },
    "trimBoth"      -> builtin("trim"),
    "trimLeft"      -> builtin("ltrim"),
    "trimRight"     -> builtin("rtrim"),
    // Spark strings are validated/replaced on read — already valid
    "toValidUTF8" -> { es => es.head },
    // a string column is UTF-8 by construction; for binary input a
    // decode/encode round-trip detects invalid sequences (ANSI decode
    // throws on them — TryEval maps that to null → 0)
    "isValidUTF8" -> { es =>
      val roundtrip = TryEval(builtin("encode")(Seq(
        builtin("decode")(Seq(Cast(es.head, BinaryType),
          Literal("UTF-8"))), Literal("UTF-8"))))
      If(And(IsNotNull(roundtrip),
        EqualTo(roundtrip, Cast(es.head, BinaryType))),
        Literal(1), Literal(0)) },
    // UTF8-aware char mapping — Spark's translate IS codepoint-aware
    "translateUTF8" -> builtin("translate"),
    "startsWith" -> builtin("startswith"),
    "endsWith"   -> builtin("endswith"),
    "startsWithUTF8" -> builtin("startswith"),
    "endsWithUTF8" -> builtin("endswith"),

    // search and replace
    // CH position(haystack, needle) vs Spark position(substr, str):
    // Spark's own `position` builtin wins the name (never shadow a
    // builtin with different semantics) — the CH argument order is
    // available as positionUTF8, which Spark does not define.
    "positionUTF8"  -> { es => builtin("position")(Seq(es(1), es(0))) },
    "positionCaseInsensitive" -> { es =>
      builtin("position")(Seq(builtin("lower")(Seq(es(1))),
        builtin("lower")(Seq(es(0))))) },
    "countSubstrings" -> { es => builtin("regexp_count")(Seq(es(0),
      Concat(Seq(Literal("\\Q"), es(1), Literal("\\E"))))) },
    "countSubstringsCaseInsensitive" -> { es =>
      val h = builtin("lower")(Seq(es.head))
      val n = builtin("lower")(Seq(es(1)))
      Cast(IntegralDivide(
        Subtract(builtin("length")(Seq(h)),
          builtin("length")(Seq(builtin("replace")(Seq(h, n, Literal("")))))),
        builtin("length")(Seq(n))), LongType) },
    "countMatches" -> { es =>
      builtin("size")(Seq(
        builtin("regexp_extract_all")(Seq(es(0), es(1), Literal(0))))) },
    // CH match(haystack, pattern) = RE2 search; Spark's rlike is the
    // same unanchored-regex-search contract under Java regex
    "match"         -> { es => RLike(es(0), es(1)) },
    "notLike" -> { es => Not(builtin("like")(es)) },
    "notILike" -> { es => Not(builtin("ilike")(es)) },
    "multiSearchAny" -> { es =>
      val x = fresh("n")
      ArrayExists(es(1), LambdaFunction(Contains(es(0), x), Seq(x)))
    },
    // regex sibling of multiSearchAny: any pattern matches
    "multiMatchAny" -> { es =>
      val p = fresh("p")
      Cast(builtin("exists")(Seq(es(1),
        LambdaFunction(RLike(es(0), p), Seq(p)))), IntegerType) },
    // token = maximal [A-Za-z0-9_] run; matches whole tokens only
    "hasToken" -> hasTokenB(caseInsensitive = false),
    "hasTokenCaseInsensitive" -> hasTokenB(caseInsensitive = true),
    "replaceAll"    -> builtin("replace"),
    "replaceOne" -> { es =>
      val Seq(h, p, r) = es
      val pos = builtin("instr")(Seq(h, p))
      If(EqualTo(pos, Literal(0)), h,
        Concat(Seq(
          builtin("substring")(Seq(h, Literal(1), Subtract(pos, Literal(1)))),
          r,
          builtin("substring")(Seq(h, Add(pos, builtin("length")(Seq(p))),
            Literal(Int.MaxValue))))))
    },
    "replaceRegexpAll" -> builtin("regexp_replace"),
    // replace only the FIRST match; pattern+replacement literals only
    // (the rewrite renumbers the replacement's \N backrefs around the
    // wrapper groups, which needs both strings at build time)
    "replaceRegexpOne" -> { es =>
      (strLitOpt(es(1)), strLitOpt(es(2))) match {
        case (Some(re), Some(rep)) =>
          val innerGroups =
            java.util.regex.Pattern.compile(re).matcher("").groupCount()
          // wrapped groups: 1 = prefix, 2 = the whole original match,
          // 3..2+k = the pattern's own groups, 3+k = tail
          var r = rep.replace("$", "\\$")
          for (k <- innerGroups to 0 by -1)
            r = r.replace("\\" + k, "$" + (if (k == 0) 2 else k + 2))
          builtin("regexp_replace")(Seq(es(0),
            Literal("(?s)^(.*?)(" + re + ")(.*)$"),
            Literal("$1" + r + "$" + (innerGroups + 3))))
        case _ => throw new IllegalArgumentException(
          "replaceRegexpOne(haystack, pattern-literal, replacement-literal)")
      } },
    // escape every regexp metacharacter (reference regexpQuoteMeta)
    "regexpQuoteMeta" -> { es =>
      "^$.[]|()?*+{}:-".foldLeft(
        builtin("replace")(Seq(es.head, Literal("\\"), Literal("\\\\")))) {
        (acc, ch) =>
          builtin("replace")(Seq(acc, Literal(ch.toString),
            Literal("\\" + ch)))
      } },
    "regexpExtract" -> { es =>
      val idx = if (es.size >= 3) es(2) else strLitOpt(es(1)) match {
        case Some(p) => Literal(if (ChSql.hasCapturingGroup(p)) 1 else 0)
        case None => Literal(1)
      }
      builtin("regexp_extract")(Seq(es(0), es(1), idx)) },
    // NOTE: CH's 2-arg regex `extract` collides with SQL-standard
    // EXTRACT(field FROM ts), which Spark owns and the registry never
    // shadows — ChSql.rewriteExtract translates that form instead.
    "extractAll" -> { es =>
      val idx = es(1) match {
        case Literal(s, StringType) if s != null =>
          Literal(if (ChSql.hasCapturingGroup(s.toString)) 1 else 0)
        case _ =>
          // CH picks group 1 vs whole match by INSPECTING the pattern;
          // undecidable for a runtime value (guessing group 1 made
          // group-less patterns throw mid-job deep in Spark). Refuse
          // at analysis with the actionable fix instead.
          throw new UnsupportedOperationException(
            "extractAll requires a literal pattern: the group-vs-whole-" +
              "match rule is decided from the pattern text; inline the " +
              "pattern as a string literal")
      }
      builtin("regexp_extract_all")(Seq(es(0), es(1), idx))
    },
    // extractGroups(s, re-literal) → array of the first match's groups
    "extractGroups" -> { es =>
      strLitOpt(es(1)) match {
        case Some(re) =>
          val n = java.util.regex.Pattern.compile(re).matcher("").groupCount()
          CreateArray((1 to n).map(i =>
            builtin("regexp_extract")(Seq(es(0), es(1), Literal(i)))))
        case None => throw new IllegalArgumentException(
          "extractGroups(haystack, pattern-literal)")
      } },
    // array per GROUP, one entry per match
    "extractAllGroupsHorizontal" -> { es =>
      val g = captureCount(strLit(es(1),
        "extractAllGroupsHorizontal", "pattern"))
      require(g > 0, "extractAllGroupsHorizontal: pattern has no " +
        "capturing groups")
      CreateArray((1 to g).map(k =>
        builtin("regexp_extract_all")(Seq(es(0), es(1), Literal(k))))) },
    // array per MATCH, one entry per group
    "extractAllGroupsVertical" -> { es =>
      val g = captureCount(strLit(es(1),
        "extractAllGroupsVertical", "pattern"))
      require(g > 0, "extractAllGroupsVertical: pattern has no " +
        "capturing groups")
      val per = (1 to g).map(k =>
        builtin("regexp_extract_all")(Seq(es(0), es(1), Literal(k))))
      builtin("transform")(Seq(
        builtin("sequence")(Seq(Literal(1),
          builtin("size")(Seq(per.head)))),
        lam1("__g4_x")(m => CreateArray(per.map(p =>
          builtin("element_at")(Seq(p, m))))))) },

    // split and tokenize
    // CH splitByChar(sep, s) splits on the LITERAL character and keeps
    // trailing empties; Spark's split takes a Java regex, so the
    // separator is \Q...\E-quoted ('.', '|', '+' stay literal) and
    // limit -1 preserves trailing empty strings.
    "splitByChar"   -> { es => builtin("split")(Seq(es(1),
      Concat(Seq(Literal("\\Q"), es(0), Literal("\\E"))), Literal(-1))) },
    // splitByString: same literal-separator contract, multi-char sep
    "splitByString" -> { es => builtin("split")(Seq(es(1),
      Concat(Seq(Literal("\\Q"), es(0), Literal("\\E"))), Literal(-1))) },
    // splitByRegexp(re, s): CH argument order, separator IS a regex
    "splitByRegexp" -> { es => builtin("split")(Seq(es(1), es(0), Literal(-1))) },
    "splitByWhitespace" -> { es =>
      val x = UnresolvedNamedLambdaVariable(Seq("__sw_x"))
      builtin("filter")(Seq(
        builtin("split")(Seq(es.head, Literal("\\s+"))),
        LambdaFunction(Not(EqualTo(x, Literal(""))), Seq(x)))) },
    "splitByNonAlpha" -> { es =>
      builtin("filter")(Seq(
        builtin("split")(Seq(es.head, Literal("[^a-zA-Z0-9]+"))),
        lam1("__g3_x")(t => GreaterThan(Length(t), Literal(0))))) },
    // splits into maximal [a-zA-Z] runs (the reference's alphaTokens)
    "alphaTokens" -> { es =>
      builtin("regexp_extract_all")(Seq(es.head,
        Literal("[a-zA-Z]+"), Literal(0))) },
    // alphanumeric tokens (CH tokens(): split at non-alphanumeric)
    "tokens" -> { es =>
      val x = UnresolvedNamedLambdaVariable(Seq("__tk_x"))
      builtin("filter")(Seq(
        builtin("split")(Seq(es.head, Literal("[^\\p{L}\\p{N}]+"))),
        LambdaFunction(Not(EqualTo(x, Literal(""))), Seq(x)))) },
    // character n-grams (CH ngrams(s, n))
    "ngrams" -> { es =>
      val i = UnresolvedNamedLambdaVariable(Seq("__ng_i"))
      val len = builtin("length")(Seq(es(0)))
      If(LessThan(len, es(1)),
        Cast(CreateArray(Seq.empty), ArrayType(StringType)),
        builtin("transform")(Seq(
          builtin("sequence")(Seq(Literal(1),
            Add(Subtract(len, es(1)), Literal(1)))),
          LambdaFunction(builtin("substring")(Seq(es(0), i, es(1))),
            Seq(i))))) },
    "extractKeyValuePairs" -> { es =>
      builtin("str_to_map")(Seq(es.head, Literal("[,;]\\s*"), Literal(":"))) },

    // similarity and language
    "editDistance" -> builtin("levenshtein"),
    "levenshteinDistance" -> builtin("levenshtein"),
    "editDistanceUTF8" -> builtin("levenshtein"),
    "damerauLevenshteinDistance" ->
      si(IntegerType, "damerauLevenshtein", Seq(StringType, StringType)),
    "byteHammingDistance" ->
      si(IntegerType, "byteHamming", Seq(StringType, StringType)),
    // character-set Jaccard between the two strings
    "stringJaccardIndex" -> { es =>
      val ca = builtin("array_distinct")(Seq(
        builtin("split")(Seq(es(0), Literal("")))))
      val cb = builtin("array_distinct")(Seq(
        builtin("split")(Seq(es(1), Literal("")))))
      val inter = builtin("size")(Seq(
        builtin("array_intersect")(Seq(ca, cb))))
      val uni = builtin("size")(Seq(builtin("array_union")(Seq(ca, cb))))
      If(EqualTo(uni, Literal(0)), Literal(0.0),
        Divide(Cast(inter, DoubleType), Cast(uni, DoubleType))) },
    "jaroSimilarity" -> si(DoubleType, "jaroSimilarity", Seq(StringType, StringType)),
    "jaroWinklerSimilarity" -> si(DoubleType, "jaroWinklerSimilarity", Seq(StringType, StringType)),
    "ngramDistance" -> si(DoubleType, "ngramDistance", Seq(StringType, StringType)),
    "ngramSearch" -> si(DoubleType, "ngramSearch", Seq(StringType, StringType)),
    "ngramDistanceCaseInsensitive" -> { es =>
      si(DoubleType, "ngramDistance", Seq(StringType, StringType))(es.map(Lower(_))) },
    "ngramSearchCaseInsensitive" -> { es =>
      si(DoubleType, "ngramSearch", Seq(StringType, StringType))(es.map(Lower(_))) },
    "detectLanguage" -> detectLanguage _,

    // encodings
    "base64Encode" -> builtin("base64"),
    "base64Decode" -> builtin("unbase64"),
    "tryBase64Decode" -> { es =>
      Coalesce(Seq(TryEval(Cast(builtin("unbase64")(es), StringType)),
        Literal(""))) },
    // URL-safe base64 (CH base64URLEncode/Decode: '+/' → '-_',
    // unpadded). translate with a shorter 'to' DELETES the extra
    // 'from' chars — that drops '='; decode restores padding first.
    "base64URLEncode" -> { es =>
      builtin("translate")(Seq(builtin("base64")(Seq(es.head)),
        Literal("+/="), Literal("-_"))) },
    "base64URLDecode" -> { es =>
      val std = builtin("translate")(Seq(es.head,
        Literal("-_"), Literal("+/")))
      val pad = Pmod(Subtract(Literal(4),
        Pmod(Length(std), Literal(4))), Literal(4))
      builtin("unbase64")(Seq(Concat(Seq(std,
        builtin("repeat")(Seq(Literal("="), pad)))))) },
    // base32: the RFC 4648 string codec — compiled kernels
    "base32Encode" -> { es =>
      si(StringType, "base32Encode", Seq(StringType))(Seq(es.head)) },
    "base32Decode" -> { es =>
      si(StringType, "base32Decode", Seq(StringType))(Seq(es.head)) },
    "base58Encode" -> si(StringType, "base58Encode", Seq(StringType)),
    "base58Decode" -> si(StringType, "base58Decode", Seq(StringType)),
    // inverse of bin(): 8-bit groups (right-aligned) back into bytes
    "unbin" -> { es =>
      val s = es.head
      val len = Length(s)
      val pad = Pmod(Subtract(Literal(8), Pmod(len, Literal(8))),
        Literal(8))
      val padded = Concat(Seq(
        builtin("repeat")(Seq(Literal("0"), pad)), s))
      val nBytes = Cast(Divide(Add(len, pad), Literal(8)), IntegerType)
      val byteChar = lam1("__g2_x") { i =>
        val group = Substring(padded,
          Add(Multiply(Subtract(i, Literal(1)), Literal(8)), Literal(1)),
          Literal(8))
        builtin("char")(Seq(
          Cast(builtin("conv")(Seq(group, Literal(2), Literal(10))),
            LongType)))
      }
      builtin("array_join")(Seq(
        builtin("transform")(Seq(
          builtin("sequence")(Seq(Literal(1), nBytes)), byteChar)),
        Literal(""))) },
    "punycodeEncode" -> si(StringType, "punycodeEncode", Seq(StringType)),
    "punycodeDecode" -> si(StringType, "punycodeDecode", Seq(StringType)),
    "idnaEncode" -> si(StringType, "idnaEncode", Seq(StringType)),
    "idnaDecode" -> si(StringType, "idnaDecode", Seq(StringType)),
    "normalizeUTF8NFC" -> si(StringType, "normalizeNFC", Seq(StringType)),
    "normalizeUTF8NFD" -> si(StringType, "normalizeNFD", Seq(StringType)),
    "normalizeUTF8NFKC" -> si(StringType, "normalizeNFKC", Seq(StringType)),
    "normalizeUTF8NFKD" -> si(StringType, "normalizeNFKD", Seq(StringType)),
    // internal name behind FORMAT Template/TSV input unescaping — a
    // single-pass scanner (replace chains are order-sensitive on \\n)
    "graftUnescapeEscaped" -> { es =>
      si(StringType, "unescapeEscaped", Seq(StringType))(
        Seq(Cast(es.head, StringType))) },
    // internal name behind Text.compressionRatio (t19) — deflate
    // byte count as a codegen'd static call
    "graftCompressedSize" -> { es =>
      si(IntegerType, "deflateSize", Seq(StringType))(
        Seq(Cast(es.head, StringType))) },

    // query text
    "normalizeQuery" -> scrubLiterals,
    // identifier-list folding is the only part of the native pair not
    // realized, so KeepNames and the hash both ride the one scrubber
    "normalizeQueryKeepNames" -> scrubLiterals,
    "normalizedQueryHash" -> { es =>
      XxHash64(Seq(scrubLiterals(es)), 42L) },

    // URL
    "domain"      -> { es => builtin("parse_url")(es :+ Literal("HOST")) },
    "domainWithoutWWW" -> { es =>
      builtin("regexp_replace")(Seq(
        builtin("parse_url")(es :+ Literal("HOST")),
        Literal("^www\\."), Literal(""))) },
    // host's last label; '' when the host has no dot (CH contract)
    "topLevelDomain" -> { es =>
      val host = builtin("parse_url")(es :+ Literal("HOST"))
      If(Contains(host, Literal(".")),
        builtin("substring_index")(Seq(host, Literal("."), Literal(-1))),
        Literal("")) },
    "firstSignificantSubdomain" -> { es => firstSigSub(es, cut = false) },
    "cutToFirstSignificantSubdomain" -> { es => firstSigSub(es, cut = true) },
    "protocol"    -> { es => builtin("parse_url")(es :+ Literal("PROTOCOL")) },
    "path"        -> { es => builtin("parse_url")(es :+ Literal("PATH")) },
    "pathFull" -> { es =>
      val p = builtin("parse_url")(es :+ Literal("PATH"))
      val q = builtin("parse_url")(es :+ Literal("QUERY"))
      Concat(Seq(Coalesce(Seq(p, Literal(""))),
        If(IsNull(q), Literal(""), Concat(Seq(Literal("?"), q))))) },
    "queryString" -> { es => builtin("parse_url")(es :+ Literal("QUERY")) },
    "fragment" -> { es =>
      Coalesce(Seq(builtin("parse_url")(es :+ Literal("REF")),
        Literal(""))) },
    "queryStringAndFragment" -> { es =>
      val q = builtin("parse_url")(Seq(es(0), Literal("QUERY")))
      val f = builtin("parse_url")(Seq(es(0), Literal("REF")))
      Concat(Seq(Coalesce(Seq(q, Literal(""))),
        If(IsNull(f), Literal(""), Concat(Seq(Literal("#"), f))))) },
    // authority part: user:pass@host:port (no scheme, path, query)
    "netloc" -> { es =>
      builtin("regexp_extract")(Seq(es.head,
        Literal("^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)"),
        Literal(1))) },
    "port" -> { es =>
      val p = builtin("regexp_extract")(Seq(es(0),
        Literal("^\\w+://[^/?#]*:(\\d+)"), Literal(1)))
      val dflt = if (es.size > 1) Cast(es(1), IntegerType) else Literal(0)
      If(EqualTo(p, Literal("")), dflt, Cast(p, IntegerType)) },
    "extractURLParameter" -> { es =>
      builtin("parse_url")(Seq(es(0), Literal("QUERY"), es(1))) },
    "extractURLParameters" -> { es =>
      val q = builtin("parse_url")(es :+ Literal("QUERY"))
      builtin("filter")(Seq(
        builtin("split")(Seq(Coalesce(Seq(q, Literal(""))), Literal("&"))),
        lam1("__g2_x")(x => GreaterThan(Length(x), Literal(0))))) },
    "extractURLParameterNames" -> { es =>
      val q = builtin("parse_url")(es :+ Literal("QUERY"))
      builtin("transform")(Seq(
        builtin("filter")(Seq(
          builtin("split")(Seq(Coalesce(Seq(q, Literal(""))),
            Literal("&"))),
          lam1("__g2_x")(x => GreaterThan(Length(x), Literal(0))))),
        lam1("__g2_x")(x =>
          builtin("substring_index")(Seq(x, Literal("="), Literal(1)))))) },
    "cutQueryString" -> { es =>
      builtin("substring_index")(Seq(es.head, Literal("?"), Literal(1))) },
    "cutFragment" -> { es =>
      builtin("substring_index")(Seq(es.head, Literal("#"), Literal(1))) },
    "cutQueryStringAndFragment" -> { es =>
      builtin("substring_index")(Seq(
        builtin("substring_index")(Seq(es.head, Literal("#"), Literal(1))),
        Literal("?"), Literal(1))) },
    // drop one leading www. right after the scheme (or at the start)
    "cutWWW" -> { es =>
      builtin("regexp_replace")(Seq(es.head,
        Literal("^([a-zA-Z][a-zA-Z0-9+.-]*://)?www\\."), Literal("$1"))) },
    // remove one query parameter (CH cutURLParameter; literal name —
    // the regex embeds it quoted)
    "cutURLParameter" -> { es =>
      val nm = java.util.regex.Pattern.quote(
        strLit(es(1), "cutURLParameter", "parameter name"))
      val r1 = builtin("regexp_replace")(Seq(es(0),
        Literal(s"&$nm=[^&#]*"), Literal("")))
      val r2 = builtin("regexp_replace")(Seq(r1,
        Literal(s"\\?$nm=[^&#]*&"), Literal("?")))
      builtin("regexp_replace")(Seq(r2,
        Literal(s"\\?$nm=[^&#]*"), Literal(""))) },
    // progressively longer URL prefixes cut at path-segment bounds
    "URLHierarchy" -> { es =>
      val (root, segs) = pathSegments(es.head)
      val n = builtin("size")(Seq(segs))
      val rootSlash = Concat(Seq(root, Literal("/")))
      val prefixes = builtin("transform")(Seq(
        builtin("sequence")(Seq(Literal(1), n)),
        lam1("__g2_x")(i => Concat(Seq(rootSlash, builtin("array_join")(Seq(
          builtin("slice")(Seq(segs, Literal(1), i)), Literal("/"))),
          If(LessThan(i, n), Literal("/"), Literal("")))))))
      CaseWhen(Seq(
        (GreaterThan(n, Literal(0)),
          Concat(Seq(CreateArray(Seq(rootSlash)), prefixes))),
        (GreaterThan(Length(root), Literal(0)),
          CreateArray(Seq(rootSlash)))),
        Some(CreateArray(Seq.empty, useStringTypeWhenEmpty = true))) },
    "URLPathHierarchy" -> { es =>
      val (_, segs) = pathSegments(es.head)
      val n = builtin("size")(Seq(segs))
      builtin("transform")(Seq(
        builtin("sequence")(Seq(Literal(1), n)),
        lam1("__g2_x")(i => Concat(Seq(Literal("/"), builtin("array_join")(Seq(
          builtin("slice")(Seq(segs, Literal(1), i)), Literal("/"))),
          If(LessThan(i, n), Literal("/"), Literal(""))))))) },
    "decodeURLComponent" -> builtin("url_decode"),
    // url_encode form-encodes space as '+'; the reference uses %20
    "encodeURLComponent" -> { es =>
      builtin("replace")(Seq(builtin("url_encode")(es),
        Literal("+"), Literal("%20"))) },
    // x-www-form-urlencoded decode ('+' = space) — url_decode's
    // contract exactly
    "decodeURLFormComponent" -> builtin("url_decode"),

    // JSON
    "JSONExtractString" -> { es =>
      builtin("get_json_object")(Seq(es(0), Concat(Seq(Literal("$."), es(1))))) },
    "JSONExtractInt" -> { es =>
      Cast(builtin("get_json_object")(
        Seq(es(0), Concat(Seq(Literal("$."), es(1))))), LongType) },
    "JSONExtractFloat" -> { es => Cast(jsonPath(es), DoubleType) },
    "JSONExtractBool"  -> { es => Cast(jsonPath(es), BooleanType) },
    "JSONExtractRaw"   -> { es => jsonPath(es) },
    "JSONExtractArrayRaw" -> { es =>
      val j = jsonPath(es)
      val n = builtin("json_array_length")(Seq(j))
      If(Or(IsNull(n), EqualTo(n, Literal(0))),
        CreateArray(Seq.empty, useStringTypeWhenEmpty = true),
        builtin("transform")(Seq(
          builtin("sequence")(Seq(Literal(0), Subtract(n, Literal(1)))),
          lam1("__g2_x")(i => builtin("get_json_object")(Seq(j, Concat(Seq(
            Literal("$["), Cast(i, StringType), Literal("]"))))))))) },
    "JSONExtractKeys" -> { es =>
      builtin("json_object_keys")(Seq(jsonPath(es))) },
    "JSONType" -> { es =>
      val t = builtin("trim")(Seq(jsonPath(es)))
      CaseWhen(Seq(
        (IsNull(t), Literal("Null")),
        (StartsWith(t, Literal("{")), Literal("Object")),
        (StartsWith(t, Literal("[")), Literal("Array")),
        (StartsWith(t, Literal("\"")), Literal("String")),
        (In(t, Seq(Literal("true"), Literal("false"))), Literal("Bool")),
        (EqualTo(t, Literal("null")), Literal("Null")),
        (RLike(t, Literal("^-?\\d+$")), Literal("Int64"))),
        Some(Literal("Double"))) },
    "JSONHas" -> { es =>
      IsNotNull(builtin("get_json_object")(Seq(es(0),
        Concat(Seq(Literal("$."), Cast(es(1), StringType)))))) },
    "JSONLength" -> { es =>
      // arrays only (objects would need key enumeration); CH returns
      // 0 for non-arrays — Coalesce keeps that contract
      Coalesce(Seq(builtin("json_array_length")(
        if (es.size > 1)
          Seq(builtin("get_json_object")(Seq(es(0),
            Concat(Seq(Literal("$."), Cast(es(1), StringType))))))
        else Seq(es(0))), Literal(0))) },
    "JSONArrayLength" -> builtin("json_array_length"),
    // validity probe via the '$' root path (a bare JSON 'null' maps to
    // SQL NULL and reads as invalid — the one divergence, documented)
    "isValidJSON" -> { es =>
      IsNotNull(builtin("get_json_object")(Seq(es.head, Literal("$")))) },
    "toJSONString" -> builtin("to_json"),
    // SQL/JSON trio (the CH spellings; '$.a.b' paths are
    // get_json_object's native syntax). JSON_QUERY wraps its matches
    // in a JSON array with strings re-quoted (reference
    // src/Functions/FunctionSQLJSON.h) — a real JSON walk, not a
    // get_json_object alias.
    "JSON_VALUE" -> builtin("get_json_object"),
    "JSON_QUERY" -> si(StringType, "jsonQuery", Seq(StringType, StringType)),
    "JSON_EXISTS" -> { es =>
      IsNotNull(builtin("get_json_object")(es)) },
    // the visitParam/simpleJSON family scans for "name": anywhere in
    // the document (nesting-blind — the reference's fast path)
    "simpleJSONExtractString" ->
      simpleJson("\"((?:[^\"\\\\]|\\\\.)*)\"", unescape = true),
    "simpleJSONExtractInt" -> { es =>
      Cast(simpleJson("(-?\\d+)", unescape = false)(es), LongType) },
    "simpleJSONExtractFloat" -> { es =>
      Cast(simpleJson("(-?\\d+(?:\\.\\d+)?(?:[eE][-+]?\\d+)?)",
        unescape = false)(es), DoubleType) },
    "simpleJSONExtractBool" -> { es =>
      EqualTo(simpleJson("(true|false)", unescape = false)(es),
        Literal("true")) },
    "simpleJSONHas" -> simpleJsonHas,
    "visitParamExtractString" ->
      simpleJson("\"((?:[^\"\\\\]|\\\\.)*)\"", unescape = true),
    "visitParamExtractInt" -> { es =>
      Cast(simpleJson("(-?\\d+)", unescape = false)(es), LongType) },
    "visitParamHas" -> simpleJsonHas,

    // formatting
    "format" -> (chFormat _),
    // formatReadableSize(bytes) → '1.50 GiB' (binary units, 2 dp)
    "formatReadableSize" -> { es =>
      val b = Cast(es.head, DoubleType)
      def fmt(scaled: Expression, unit: String): Expression =
        Concat(Seq(builtin("format_number")(Seq(scaled, Literal(2))),
          Literal(" " + unit)))
      val kib = Literal(1024.0)
      CaseWhen(Seq(
        (LessThan(b, kib), fmt(b, "B")),
        (LessThan(b, Multiply(kib, kib)), fmt(Divide(b, kib), "KiB")),
        (LessThan(b, Multiply(Multiply(kib, kib), kib)),
          fmt(Divide(b, Multiply(kib, kib)), "MiB")),
        (LessThan(b, Multiply(Multiply(kib, kib), Multiply(kib, kib))),
          fmt(Divide(b, Multiply(Multiply(kib, kib), kib)), "GiB"))),
        Some(fmt(Divide(b, Multiply(Multiply(kib, kib), Multiply(kib, kib))),
          "TiB"))) },
    // decimal (SI) units, 2 dp — the base-1000 twin of
    // formatReadableSize's binary units
    "formatReadableDecimalSize" -> { es =>
      val b = Cast(es.head, DoubleType)
      def fmt(scaled: Expression, unit: String): Expression =
        Concat(Seq(builtin("format_number")(Seq(scaled, Literal(2))),
          Literal(" " + unit)))
      CaseWhen(Seq(
        (LessThan(b, Literal(1000.0)), fmt(b, "B")),
        (LessThan(b, Literal(1e6)), fmt(Divide(b, Literal(1000.0)), "KB")),
        (LessThan(b, Literal(1e9)), fmt(Divide(b, Literal(1e6)), "MB")),
        (LessThan(b, Literal(1e12)), fmt(Divide(b, Literal(1e9)), "GB"))),
        Some(fmt(Divide(b, Literal(1e12)), "TB"))) },
    // formatReadableQuantity(n) → '1.50 million'
    "formatReadableQuantity" -> { es =>
      val n = Cast(es.head, DoubleType)
      def fmt(scaled: Expression, unit: String): Expression =
        Concat(Seq(builtin("format_number")(Seq(scaled, Literal(2))),
          Literal(unit)))
      CaseWhen(Seq(
        (LessThan(n, Literal(1e3)), fmt(n, "")),
        (LessThan(n, Literal(1e6)), fmt(Divide(n, Literal(1e3)), " thousand")),
        (LessThan(n, Literal(1e9)), fmt(Divide(n, Literal(1e6)), " million")),
        (LessThan(n, Literal(1e12)), fmt(Divide(n, Literal(1e9)), " billion"))),
        Some(fmt(Divide(n, Literal(1e12)), " trillion"))) },
    // "1 hour, 5 minutes, 30 seconds" — days/hours/minutes/seconds,
    // zero components skipped, "0 seconds" for a zero delta
    "formatReadableTimeDelta" -> { es =>
      val total = Cast(builtin("floor")(Seq(Cast(es.head, DoubleType))),
        LongType)
      val days = Cast(Divide(total, Literal(86400L)), LongType)
      val hours = Cast(Divide(Pmod(total, Literal(86400L)),
        Literal(3600L)), LongType)
      val minutes = Cast(Divide(Pmod(total, Literal(3600L)),
        Literal(60L)), LongType)
      val seconds = Pmod(total, Literal(60L))
      def unit(n: Expression, name: String): Expression =
        If(EqualTo(n, Literal(0L)), Literal(null, StringType),
          Concat(Seq(Cast(n, StringType),
            If(EqualTo(n, Literal(1L)), Literal(" " + name),
              Literal(" " + name + "s")))))
      val parts = builtin("concat_ws")(Seq(Literal(", "),
        unit(days, "day"), unit(hours, "hour"), unit(minutes, "minute"),
        unit(seconds, "second")))
      If(EqualTo(Length(parts), Literal(0)), Literal("0 seconds"),
        parts) },
    // parseReadableSize('1.5 MiB') → bytes (binary + decimal units;
    // the inverse of formatReadableSize). Fractional byte counts
    // round UP (the reference ceils: '1.1 KiB' → 1127, not 1126).
    // Documented divergence: unknown units return NULL where the
    // reference throws — a library column op can't abort the query.
    "parseReadableSize" -> { es =>
      val s = builtin("trim")(Seq(es.head))
      val num = Cast(builtin("regexp_extract")(Seq(s,
        Literal("^([0-9.]+)"), Literal(1))), DoubleType)
      val unit = builtin("upper")(Seq(builtin("regexp_extract")(Seq(s,
        Literal("([A-Za-z]+)\\s*$"), Literal(1)))))
      val mult = CaseWhen(Seq(
        "B" -> 1d, "KB" -> 1e3, "KIB" -> 1024d, "MB" -> 1e6,
        "MIB" -> 1048576d, "GB" -> 1e9, "GIB" -> 1073741824d,
        "TB" -> 1e12, "TIB" -> 1099511627776d, "PB" -> 1e15,
        "PIB" -> 1125899906842624d, "EB" -> 1e18,
        "EIB" -> 1152921504606846976d
      ).map { case (u, m) => (EqualTo(unit, Literal(u)), Literal(m)) }, None)
      // ceil via truncating cast: bytes are non-negative, so
      // trunc(v) == floor(v), and ceil = trunc + (v > trunc).
      // TRY cast: sizes past 2^63−1 ('10 EiB') degrade to NULL like
      // other bad input instead of throwing under ANSI; near 2^63
      // double precision already quantizes v, so trunc there is a
      // rounding of an approximate value either way.
      val v = Multiply(num, mult)
      val t = Cast(v, LongType, None, EvalMode.TRY)
      Add(t, Cast(GreaterThan(v, Cast(t, DoubleType)), LongType)) },
    // bar(x, min, max[, width=80]) — the CLI histogram staple
    "bar" -> { es =>
      val width = if (es.size > 3) Cast(es(3), DoubleType) else Literal(80.0)
      val frac = Divide(
        Subtract(Cast(es(0), DoubleType), Cast(es(1), DoubleType)),
        Subtract(Cast(es(2), DoubleType), Cast(es(1), DoubleType)))
      val clamped = Least(Seq(Greatest(Seq(frac, Literal(0.0))), Literal(1.0)))
      builtin("repeat")(Seq(Literal("█"),
        Cast(builtin("round")(Seq(Multiply(clamped, width))), IntegerType))) }
  )
}
