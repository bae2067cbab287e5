package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import FnBuilders._

/** Engine introspection, dictionaries, and the refusals: names whose
  * reference semantics read server state or a processing-block order
  * that a library engine on a distributed planner does not have. Each
  * refusal says what to write instead. */
private[graft] object SystemFns {

  // Typed dictGet spellings (the classic pre-generic forms). Old CH
  // queries use dictGetString/dictGetInt64/... almost exclusively; each
  // is the generic dictGet + a Cast to the spelled type. Integer-width
  // targets follow the to* conversion table's established Spark
  // mappings (unsigned widths widen one step).
  private val dictTypes: Seq[(String, DataType)] = Seq(
    "String" -> StringType,
    "Int8" -> ByteType, "Int16" -> ShortType,
    "Int32" -> IntegerType, "Int64" -> LongType,
    "UInt8" -> ShortType, "UInt16" -> IntegerType,
    "UInt32" -> IntegerType, "UInt64" -> LongType,
    "Float32" -> FloatType, "Float64" -> DoubleType,
    "Date" -> DateType, "DateTime" -> TimestampType,
    "UUID" -> StringType)

  private def dictLookup: Builder = es =>
    ChDictionaries.lookupExpr(
      ChDictionaries.literalString(es(0), "dictionary name"),
      ChDictionaries.literalString(es(1), "attribute"), es(2))

  private def joinLookup: Builder = es =>
    ChDictionaries.lookupExpr(
      ChDictionaries.literalString(es(0), "join table").toLowerCase,
      ChDictionaries.literalString(es(1), "attribute"), es(2))

  /** A block-scoped name: in the reference these read neighboring rows
    * of the CURRENT PROCESSING BLOCK — an execution accident, not a
    * semantic order, documented as unpredictable by ClickHouse itself.
    * A distributed engine has no block, so rather than silently pick an
    * order, refuse with the deterministic spelling. */
  private def blockScoped(name: String, insteadUse: String): Builder =
    refuse(s"$name() reads the reference's current processing block — " +
      s"order-undefined on a distributed engine; $insteadUse")

  private def typedDictAliases: Seq[(String, Builder)] =
    dictTypes.flatMap { case (n, dt) =>
      Seq[(String, Builder)](
        s"dictGet$n" -> { es => Cast(dictLookup(es), dt) },
        // OrDefault substitutes the 4th arg on miss BEFORE the cast,
        // so both branches land in the spelled type (CH contract)
        s"dictGet${n}OrDefault" -> { es =>
          Cast(Coalesce(Seq(dictLookup(es), es(3))), dt) })
    }

  def aliases: Seq[(String, Builder)] = Seq[(String, Builder)](
    // dictionaries
    // dictGet('dict', 'attr', key): broadcast-map lookup, registered
    // via ChDictionaries.register. Missing key → NULL (dictGetOrNull
    // semantics; coalesce at the call site for CH's type-default).
    "dictGet" -> dictLookup,
    "dictGetOrNull" -> dictLookup,
    // dictGetOrDefault('dict', 'attr', key, default): CH substitutes
    // the 4th argument when the key is absent — Coalesce over the
    // NULL-on-miss map lookup.
    "dictGetOrDefault" -> { es =>
      Coalesce(Seq(dictLookup(es), es(3))) },
    // dictHas('dict', key): key-membership probe against the same
    // broadcast map (any registered attribute answers it).
    "dictHas" -> { es =>
      ChDictionaries.hasExpr(
        ChDictionaries.literalString(es(0), "dictionary name"), es(1)) },
    // joinGet('table', 'attr', key): a Join(ANY, LEFT, k) engine
    // table's lookup — the table auto-registers its broadcast map on
    // every insert (ChDdl.refreshJoinDictionary), so this IS dictGet
    // under the table's name. Missing key → NULL (joinGetOrNull
    // semantics; CH's plain joinGet substitutes the type default).
    "joinGet" -> joinLookup,
    "joinGetOrNull" -> joinLookup,

    // engine introspection
    // version() answers the ENGINE's version — here the Spark
    // runtime this library executes on
    "version" -> { _ => Literal(org.apache.spark.SPARK_VERSION) },
    "currentDatabase" -> { _ => builtin("current_database")(Seq.empty) },
    "currentUser"     -> { _ => builtin("current_user")(Seq.empty) },
    // ("hostname" needs no alias: the registry is case-insensitive)
    "hostName" -> si(StringType, "hostName", Seq.empty),
    "fullHostName" -> si(StringType, "fullHostName", Seq.empty),
    "FQDN" -> si(StringType, "fullHostName", Seq.empty),
    "getOSKernelVersion" -> { _ =>
      Literal(System.getProperty("os.name") + " " +
        System.getProperty("os.version")) },
    "uptime" -> { _ =>
      si(LongType, "uptimeSeconds", Seq.empty, deterministic = false)(Nil) },
    // the reference's processing block ≈ the executing partition
    "blockNumber" -> { _ => SparkPartitionID() },
    // monotonically_increasing_id's low 33 bits ARE the row index
    // within the executing partition
    "rowNumberInBlock" -> { _ =>
      BitwiseAnd(MonotonicallyIncreasingID(), Literal((1L << 33) - 1)) },
    // unique and block-monotone (not globally consecutive — the
    // reference's value is block-order-dependent too)
    "rowNumberInAllBlocks" -> { _ => MonotonicallyIncreasingID() },
    // indexHint(expr): the reference evaluates expr ONLY for index
    // selection and yields 1 — parquet pushdown plays that role here,
    // so the value contract (constant 1) is the whole surface
    "indexHint" -> { _ => Literal(1) },
    "throwIf" -> { es =>
      val msg = if (es.size > 1) es(1)
        else Literal("throwIf: condition met")
      If(Coalesce(Seq(Cast(es.head, BooleanType), Literal(false))),
        Cast(builtin("raise_error")(Seq(msg)), IntegerType),
        Literal(0)) },

    // refusals
    "neighbor" -> blockScoped("neighbor",
      "use lead(x, n) / lag(x, -n) OVER (ORDER BY …) — a declared order " +
        "instead of the reference's processing-block accident"),
    "runningDifference" -> blockScoped("runningDifference",
      "use x - lag(x, 1) OVER (ORDER BY …)"),
    "runningAccumulate" -> blockScoped("runningAccumulate",
      "use sum(x) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)"),
    "nonNegativeDerivative" -> blockScoped("nonNegativeDerivative",
      "use greatest(0, (x - lag(x) OVER w) / (unix_micros(t) - " +
        "lag(unix_micros(t)) OVER w)) with a declared window order"),
    "deltaSum" -> blockScoped("deltaSum",
      "use sum(greatest(x - lag(x, 1) OVER (ORDER BY …), 0)) — a declared " +
        "order instead of the reference's processing-block accident"),
    "runningConcurrency" -> refuse(
      "runningConcurrency depends on block arrival order " +
        "(non-deterministic distributed); count overlaps with the " +
        "intervalLengthSum/maxIntersections aggregates instead"),
    "blockSize" -> refuse(
      "blockSize() reads the reference's current processing block; " +
        "use count(*) OVER () for a per-result-set count"),
    "untuple" -> refuse(
      "untuple(t) expands to multiple columns — use t.* in Spark SQL"),
    "multiFuzzyMatchAny" -> refuse(
      "multiFuzzyMatchAny() needs the reference's hyperscan build; " +
        "compose editDistance()/match() instead"),
    "kostikConsistentHash" -> refuse(
      "kostikConsistentHash() is specified only by its C++ " +
        "implementation; use jumpConsistentHash(key, buckets)"),
    "queryID" -> refuse(
      "queryID() reads the server's query registry — a library " +
        "engine has none; tag queries with your own literal"),
    "initialQueryID" -> refuse(
      "initialQueryID() reads the server's query registry — a " +
        "library engine has none"),
    "initialQueryStartTime" -> refuse(
      "initialQueryStartTime() reads the server's query registry — " +
        "a library engine has none"),
    "transactionID" -> refuse(
      "transactionID() reads the reference server's transaction state"),
    "transactionLatestSnapshot" -> refuse(
      "transactionLatestSnapshot() reads the reference server's " +
        "transaction state"),
    "zookeeperSessionUptime" -> refuse(
      "zookeeperSessionUptime() reads the reference server's " +
        "coordination session — a library engine has none"),
    "byteSize" -> refuse(
      "byteSize() reports the reference engine's in-memory layout " +
        "— engine-specific; use octet_length() for string bytes"),
    "getSizeOfEnumType" -> refuse(
      "getSizeOfEnumType() reads Enum DDL metadata; use " +
        "system.columns / SHOW CREATE TABLE"),
    "sleep" -> refuse(
      "sleep() stalls the reference server's pipeline — " +
        "meaningless inside a library engine"),
    "sleepEachRow" -> refuse(
      "sleepEachRow() stalls the reference server's pipeline — " +
        "meaningless inside a library engine"),
    "replicate" -> refuse(
      "replicate: an internal block-replication helper of the " +
        "reference's arrayJoin machinery — use explode/transform directly"),
    "dumpColumnStructure" -> refuse(
      "dumpColumnStructure: inspect types with " +
        "toTypeName/toColumnTypeName or df.schema"),
    "flameGraph" -> refuse(
      "flameGraph: renders the server's query-profiler stacks — a " +
        "library engine has none; use your Spark UI / event-log profiler"),
    "distinctDynamicTypes" -> refuse(
      "distinctDynamicTypes: the Dynamic column type has no mapping " +
        "here — columns carry one Spark type; for JSON payloads use " +
        "distinctJSONPaths"),
    // language and text dictionaries
    "stem" -> refuse("stem() needs the reference's language stemmer " +
      "dictionaries; use lower()/splitByNonAlpha() pipelines"),
    "lemmatize" -> refuse("lemmatize() needs the reference's lemma dictionaries"),
    "synonyms" -> refuse("synonyms() needs the reference's synonym extensions"),
    "detectCharset" -> refuse(
      "detectCharset: strings in this engine are UTF-8 by construction " +
        "— decode foreign charsets at ingestion (file()/reader options)"),
    "detectLanguageUnknown" -> refuse(
      "detectLanguageUnknown: use detectLanguage (returns 'un' when no signal)"),
    // geo libraries and the server geobase: a library engine loads no
    // region hierarchy — the same lookup is a dictGet / broadcast
    // dimension join
    "h3ToGeo" -> refuse("h3ToGeo() needs the H3 indexing library; use " +
      "geohashEncode/geohashDecode for cell indexing"),
    "geoToH3" -> refuse("geoToH3() needs the H3 indexing library; use " +
      "geohashEncode for cell indexing"),
    "h3kRing" -> refuse("h3kRing() needs the H3 indexing library"),
    "polygonsIntersectionCartesian" -> refuse(
      "polygonsIntersectionCartesian() full polygon clipping is out of " +
        "scope; compose pointInPolygon/polygonAreaCartesian"),
    "regionToName" -> refuse(
      "regionToName: needs the server geobase; load your region table " +
        "and use dictGetString(dict, 'name', id) or a broadcast join"),
    "regionToCountry" -> refuse(
      "regionToCountry: needs the server geobase; use dictGet over your " +
        "region table"),
    "regionToArea" -> refuse(
      "regionToArea: needs the server geobase; use dictGet over your " +
        "region table"),
    "regionIn" -> refuse(
      "regionIn: needs the server geobase; join the region closure table")
  ) ++ typedDictAliases
}
