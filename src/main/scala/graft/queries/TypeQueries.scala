package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-type breadth + write path (SURVEY §2 y01–y03, p01; reference:
  * src/DataTypes/DataTypeDecimalBase.h, DataTypeMap.h,
  * DataTypeLowCardinality.h; write path src/Parsers/ASTInsertQuery.h).
  */
object TypeQueries {

  val defs: Map[String, Q] = Map(

    // Decimal arithmetic end-to-end: exact fixed-point products and
    // sums at explicit precision, one final cast to double per column.
    // Input precisions sized to the data (price < 10^8, rates < 10) so
    // the triple product stays in the fast 128-bit decimal path
    // instead of promoting past precision 38.
    "y01_decimal" -> Q(
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS disc_amount,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |           * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS charged,
        |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
        |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      def p(c: String) = col(c).cast("decimal(12,2)")
      def r(c: String) = col(c).cast("decimal(4,2)")
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(
          sum(p("l_extendedprice") * r("l_discount")).cast("double").as("disc_amount"),
          sum(p("l_extendedprice") * (lit(1) - r("l_discount"))
            * (lit(1) + r("l_tax"))).cast("double").as("charged"),
          min(p("l_extendedprice")).cast("double").as("min_price"),
          max(p("l_extendedprice")).cast("double").as("max_price"))
        .orderBy("l_returnflag")
    },

    // MAP type: events.props parsed into map<string,bigint>, queried
    // through map functions. The oracle reproduces the values with
    // regexp (no DuckDB json extension needed on a bare connection).
    "y02_map" -> Q(
      """SELECT event_id,
        |  1 AS n_keys,
        |  'k' AS keys,
        |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k_value,
        |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) IS NOT NULL AS has_k
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).events.filter(col("event_id") < 1000)
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)))
        .select(
          col("event_id"),
          size(map_keys(col("m"))).as("n_keys"),
          array_join(map_keys(col("m")), ",").as("keys"),
          element_at(col("m"), "k").as("k_value"),
          map_contains_key(col("m"), "k").as("has_k"))
        .orderBy("event_id")
    },

    // LowCardinality(String) analog: dictionary-encode a low-card
    // column to dense integer codes (the dictionary is by definition
    // tiny → broadcast), aggregate over codes, decode via the same
    // broadcast dictionary. This is exactly how a 100 TB engine treats
    // dictionary columns: group/join on codes, strings only at the
    // edges.
    "y03_lowcard" -> Q(
      """WITH dict AS (
        |  SELECT o_orderpriority AS value,
        |    CAST(row_number() OVER (ORDER BY o_orderpriority) AS BIGINT) AS code
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders))
        |SELECT d.code, d.value, COUNT(*) AS cnt
        |FROM orders o JOIN dict d ON o.o_orderpriority = d.value
        |GROUP BY d.code, d.value ORDER BY d.code""".stripMargin) { (s, dir) =>
      val orders = Tables(s, dir).orders
      // the "dictionary": distinct values + dense codes by rank —
      // computed with a tiny self-join (the distinct set is small by
      // definition), not an unpartitioned window
      val values = orders.select(col("o_orderpriority").as("value")).distinct()
      val dict = values.join(
          values.select(col("value").as("v2")), col("v2") <= col("value"))
        .groupBy("value").agg(count(lit(1)).as("code"))
      orders.join(broadcast(dict), orders("o_orderpriority") === dict("value"))
        .groupBy("code", "value").agg(count(lit(1)).as("cnt"))
        .orderBy("code")
    },

    // UUID type (reference: src/DataTypes/DataTypeUUID.h): stable
    // content-derived UUIDs in canonical 8-4-4-4-12 form — the
    // deterministic analog of generateUUIDv4 for reproducible keys.
    "y04_uuid" -> Q(
      """SELECT doc_id,
        |  concat_ws('-', substr(h,1,8), substr(h,9,4), substr(h,13,4),
        |            substr(h,17,4), substr(h,21,12)) AS doc_uuid
        |FROM (SELECT doc_id, md5(text) AS h FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), md5(col("text")).as("h"))
        .select(col("doc_id"),
          concat_ws("-", substring(col("h"), 1, 8), substring(col("h"), 9, 4),
            substring(col("h"), 13, 4), substring(col("h"), 17, 4),
            substring(col("h"), 21, 12)).as("doc_uuid"))
        .orderBy("doc_id")
    },

    // Tuple type (reference: src/DataTypes/DataTypeTuple.h): struct
    // construction, field access, and tuple (lexicographic) comparison
    // — structs stay intermediate, scalar fields come out (pandas
    // renders nested rows engine-specifically).
    "y05_tuple" -> Q(
      """SELECT o_orderkey,
        |  o_orderstatus AS t_status,
        |  o_totalprice AS t_price,
        |  (o_orderstatus, o_totalprice) > ('F', 150000.0) AS gt_probe
        |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders.filter(col("o_orderkey") < 3000)
        .withColumn("t", struct(col("o_orderstatus"), col("o_totalprice")))
        .select(col("o_orderkey"),
          col("t").getField("o_orderstatus").as("t_status"),
          col("t").getField("o_totalprice").as("t_price"),
          (col("t") > struct(lit("F"), lit(150000.0))).as("gt_probe"))
        .orderBy("o_orderkey")
    },

    // The curation funnel end-to-end — what the engine is FOR: exact
    // dedup → quality floor → language filter → per-source stats, one
    // declarative plan (each stage is the oracled operator from
    // d01/t01/t02 composed, so Catalyst pipelines them into a single
    // pass over the corpus + one aggregation shuffle).
    "p02_curation_pipeline" -> Q(
      """WITH deduped AS (
        |  SELECT doc_id, source, lang, text FROM (
        |    SELECT doc_id, source, lang, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |scored AS (
        |  SELECT doc_id, source,
        |    ROUND(
        |      least(len(list_filter(string_split(text, ' '), x -> x <> '')) / 100.0, 1.0) * 0.3
        |      + (len(list_filter(string_split(text, ' '),
        |             x -> x IN ('the','a','of','and','to','in','is','it')))
        |         / CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE)) * 0.4
        |      + (1.0 - length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
        |               / CAST(length(text) AS DOUBLE)) * 0.3, 6) AS quality,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM deduped WHERE lang = 'en')
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  ROUND(CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
        |FROM scored WHERE quality >= 0.5
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import graft.operators.{Dedup, Text}
      val deduped = Dedup.exact(Tables(s, dir).documents, "text", "doc_id")
      val scored = deduped.filter(col("lang") === "en")
        .select(col("doc_id"), col("source"),
          Text.qualityScore(col("text")).as("quality"),
          Text.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      scored.filter(col("quality") >= 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          // exact decimal sum then ONE division — a float AVG's
          // summation order flips the 6th decimal between engines
          round(sum(col("quality").cast("decimal(10,6)")).cast("double")
            / count(lit(1)), 6).as("avg_quality"))
        .orderBy("source")
    },

    // INSERT INTO ... SELECT ≈ a partitioned parquet write, then a
    // read-back of the written table — values must round-trip exactly.
    // Partition column stays string-typed (directory encoding).
    "p01_insert_select" -> Q(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val out = sys.props("java.io.tmpdir") + "/graft_p01_insert_select"
      Tables(s, dir).orders.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
      s.read.parquet(out)
        .select("o_orderpriority", "n_orders", "total")
        .orderBy("o_orderpriority")
    },

    // Bucketed catalog tables → shuffle-free big-big join: the Spark
    // analog of the reference's ORDER BY-key co-location (MergeTree
    // sorted parts joined on their primary key). Both fact tables are
    // written bucketBy/sortBy on the join key; at read time Spark's
    // bucketing metadata satisfies the join's distribution requirement
    // so the sort-merge join plans with ZERO Exchange under it — the
    // 100 TB big-big join shape, where re-shuffling either side would
    // dominate the query. BucketedJoinSpec pins the no-exchange plan;
    // the oracle replays the same join from the raw parquet.
    "p10_bucketed_join" -> Q(
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)(
      bucketedJoin _),

    // Z-order layout (p11): lineitem rewritten as 64 parquet files
    // clustered by the Morton code of (l_partkey, l_suppkey) — the
    // write-side layout that lets a 2-D box predicate prune
    // files/row-groups on BOTH dims at 100 TB (ZOrderSpec measures
    // the pruning against the 1-D linear layout). The oracle replays
    // the box query on the raw table — the layout must change WHERE
    // rows live, never WHAT they are.
    "p11_zorder_layout" -> Q(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(l_quantity AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 7
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val out = sys.props("java.io.tmpdir") + "/graft_p11_zorder"
      graft.operators.Layout.zorderWrite(Tables(s, dir).lineitem,
        col("l_partkey"), col("l_suppkey"), out, nFiles = 64)
      s.read.parquet(out)
        .filter(col("l_partkey").between(50, 150) &&
          col("l_suppkey").between(2, 7))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("double").as("qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // IndexForNativeFormat (IndexForNativeFormat.cpp:1-91): a Native
    // dump sorted by status ships with its block-index sidecar; the
    // indexed read decodes the predicate column first per block and
    // NEVER decodes the rest of a block with no match — the require()
    // proves blocks were actually skipped (the p11 measurement
    // discipline), and the aggregate downstream must match DuckDB
    // over the ORIGINAL parquet, proving the seek-based decode is
    // lossless. Small blockRows forces a multi-block file at test SF;
    // production files cut the reference's 65505-row blocks.
    "p12_native_index" -> Q(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS total,
        |  min(o_orderkey) AS kmin, max(o_orderkey) AS kmax
        |FROM orders WHERE o_orderkey % 10 = 0 AND o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val src = Tables(s, dir).orders
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("price"))
        .orderBy("o_orderstatus", "o_orderkey")
      withScratchDir("graft_p12") { dir0 =>
        val path = dir0.resolve("orders.native").toString
        graft.sources.NativeFormat.write(src, path, None, blockRows = 64)
        val (got, stats) = graft.sources.NativeFormat.readIndexed(s, path,
          Seq("o_orderkey", "o_orderstatus", "price"),
          predicate = Some(("o_orderstatus", _ == "F")))
        require(stats.blocksDecoded < stats.blocksTotal,
          s"index skipped nothing: $stats")
        got.filter(col("o_orderstatus") === "F")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("price").cast("decimal(18,2)")).cast("double").as("total"),
            min(col("o_orderkey")).as("kmin"),
            max(col("o_orderkey")).as("kmax"))
          .orderBy("o_orderstatus")
      }
    },

    // ALIAS columns (ParserCreateQuery.h:128 default_specifier ALIAS,
    // ASTColumnDeclaration.h:20): VIRTUAL read-time expressions —
    // never stored, hidden from SELECT *, inlined by ChColumns
    // wherever a query names them, so they plan inside the scan's own
    // projection/filter (the WHERE below pushes to the parquet scan
    // exactly as if the user had written the expression by hand — the
    // 100 TB story is "an alias costs what its expression costs",
    // zero extra I/O). Chained aliases (band_tag -> band) resolve by
    // bounded inlining. The oracle recomputes the expressions from
    // the raw rows.
    "p13_alias_column" -> Q(
      """SELECT band, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MIN(pri_code) AS pri_min,
        |  MIN(CONCAT('b', CAST(band AS VARCHAR))) AS tag_min
        |FROM (SELECT o_totalprice,
        |        CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 50000) AS BIGINT) AS band,
        |        UPPER(SUBSTRING(o_orderpriority, 1, 1)) AS pri_code
        |      FROM orders)
        |WHERE band >= 1 GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      ChDdl.execute(s,
        """CREATE TABLE graft_p13 (
          |  o_orderkey Int64, o_totalprice Float64, o_orderpriority String,
          |  band Int64 ALIAS toInt64(floor(o_totalprice / 50000)),
          |  pri_code String ALIAS upper(substring(o_orderpriority, 1, 1)),
          |  band_tag String ALIAS concat('b', toString(band))
          |) ENGINE = MergeTree() ORDER BY (o_orderkey)""".stripMargin)
      Tables(s, dir).orders
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_orderpriority"))
        .createOrReplaceTempView("graft_p13_src")
      ChDdl.execute(s,
        """INSERT INTO graft_p13
          |SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft_p13_src""".stripMargin)
      ChDdl.execute(s,
        """SELECT band, count() AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
          |  min(pri_code) AS pri_min, min(band_tag) AS tag_min
          |FROM graft_p13 WHERE band >= 1
          |GROUP BY band ORDER BY band""".stripMargin)
    },

    // EPHEMERAL columns (ParserCreateQuery.h:127): the write-side
    // virtual — insertable ONLY when listed, feeding other columns'
    // DEFAULT/MATERIALIZED expressions during the INSERT, never
    // stored, hidden from SELECT *. The oracle states the rows the
    // stored columns must compute to.
    "p14_ephemeral" -> Q(
      """SELECT CAST(id AS BIGINT) AS id, name, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (VALUES (1, 'ALPHA', 5), (2, 'BE', 2), (3, 'given', 3), (4, '', 0))
        |  t(id, name, n_chars)
        |ORDER BY id""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      ChDdl.execute(s,
        """CREATE TABLE graft_p14 (
          |  id Int64,
          |  raw String EPHEMERAL,
          |  name String DEFAULT upper(raw),
          |  n_chars Int64 MATERIALIZED length(raw)
          |) ENGINE = MergeTree() ORDER BY (id);
          |INSERT INTO graft_p14 (id, raw) VALUES (1, 'alpha'), (2, 'be');
          |INSERT INTO graft_p14 (id, raw, name) VALUES (3, 'xyz', 'given');
          |INSERT INTO graft_p14 (id) VALUES (4)""".stripMargin)
      ChDdl.execute(s,
        "SELECT id, name, n_chars FROM graft_p14 ORDER BY id")
    },

    // DDL round-trip (ASTCreateQuery.h:1; type names per
    // DataTypeFactory.cpp): a ClickHouse CREATE TABLE — FixedString,
    // Decimal64 shorthand, Enum8, PARTITION BY, ORDER BY, SAMPLE BY —
    // parsed by ChDdl into a Spark catalog table, loaded with
    // INSERT..SELECT in the MergeTree-analog layout (partition dirs,
    // sampling hash leading the sort), then read back through the
    // catalog: values, the decoded Enum names, and exact decimal sums
    // must all survive the round trip. The pushdown property of the
    // layout is asserted in DdlSpec.
    "p03_ddl_roundtrip" -> Q(
      """SELECT o_orderstatus, o_orderpriority AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      val ct = ChDdl.parse(
        """CREATE TABLE graft_p03 (
          |  o_orderkey Int64,
          |  o_custkey Int64,
          |  o_totalprice Decimal64(2),
          |  o_orderdate Date,
          |  o_orderpriority Enum8('1-URGENT' = 1, '2-HIGH' = 2,
          |    '3-MEDIUM' = 3, '4-NOT SPECIFIED' = 4, '5-LOW' = 5),
          |  o_orderstatus FixedString(1)
          |) ENGINE = MergeTree()
          |PARTITION BY o_orderstatus
          |ORDER BY (o_orderkey)
          |SAMPLE BY intHash32(o_orderkey)""".stripMargin)
      ct.create(s)
      val src = Tables(s, dir).orders.select(
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"),
        col("o_orderdate"),
        ct.enumEncode("o_orderpriority", col("o_orderpriority"))
          .cast("tinyint").as("o_orderpriority"),
        col("o_orderstatus"))
      ct.insertSelect(s, src)
      s.table("graft_p03")
        .groupBy(col("o_orderstatus"),
          ct.enumDecode("o_orderpriority", col("o_orderpriority")).as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).cast("double").as("total"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderstatus", "priority")
    },

    // Enum8 as a first-class type (DataTypeEnum.h:1): storage is the
    // CODE (the y03 dictionary-encode formalized through the DDL type
    // parser), presentation is the name — encode, aggregate on the
    // compact code, decode for output; the oracle states the same
    // name↔code mapping literally.
    "y06_enum" -> Q(
      """SELECT CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'fr' THEN 3
        |            WHEN 'es' THEN 4 WHEN 'zh' THEN 5 END AS code,
        |  lang AS decoded, COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY code""".stripMargin) { (s, dir) =>
      import graft.functions.ChDdl
      val ct = ChDdl.parse(
        """CREATE TABLE graft_y06_schema (
          |  doc_id Int64,
          |  lang Enum8('en' = 1, 'de' = 2, 'fr' = 3, 'es' = 4, 'zh' = 5)
          |) ENGINE = Memory""".stripMargin)
      Tables(s, dir).documents
        .select(ct.enumEncode("lang", col("lang")).cast("int").as("code"))
        .groupBy("code")
        .agg(count(lit(1)).as("n"))
        .select(col("code"), ct.enumDecode("lang", col("code")).as("decoded"), col("n"))
        .orderBy("code")
    },

    // ALTER mutations (ASTAlterQuery.h:1): DELETE WHERE + UPDATE ...
    // WHERE against a PARTITION BY table. The DELETE's predicate
    // constrains the partition key, so only that partition is rewritten
    // (dynamic partition overwrite on a predicate-pruned pre-scan;
    // untouched partitions' files stay byte-identical — asserted in
    // DdlSpec); the UPDATE touches every partition and rewrites all.
    // The oracle applies the identical delete-then-update algebra.
    "p04_mutations" -> Q(
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS price
        |  FROM orders WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 7 = 0))
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      val ct = ChDdl.parse(
        """CREATE TABLE graft_p04 (
          |  o_orderkey Int64,
          |  o_orderstatus FixedString(1),
          |  o_totalprice Float64
          |) ENGINE = MergeTree()
          |PARTITION BY o_orderstatus
          |ORDER BY (o_orderkey)""".stripMargin)
      ct.create(s)
      ct.insertSelect(s,
        Tables(s, dir).orders.select("o_orderkey", "o_orderstatus", "o_totalprice"))
      ChDdl.alter(s, "ALTER TABLE graft_p04 DELETE WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0")
      ChDdl.alter(s, "ALTER TABLE graft_p04 UPDATE o_totalprice = o_totalprice * 2 WHERE o_orderkey % 10 = 3")
      s.table("graft_p04")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // Projections (ASTProjectionDeclaration.h / ASTProjectionSelectQuery.h):
    // the table declares a pre-aggregated layout; insertSelect
    // materializes it from the same load; the ProjectionRewrite
    // optimizer rule (plans/Projections.scala, injected via
    // GraftExtensions) routes this matching aggregate onto the summary
    // — the oracle computes from the raw rows, so the hash-match
    // proves the rewrite is answer-preserving. Decimal sums re-aggregate
    // exactly (decimal addition is associative), which is why the
    // declared sum is over the decimal column.
    "p05_projection" -> Q(
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      val ct = ChDdl.parse(
        """CREATE TABLE graft_p05 (
          |  o_orderkey Int64,
          |  o_orderstatus FixedString(1),
          |  o_orderpriority String,
          |  price Decimal(12, 2),
          |  PROJECTION by_status (
          |    SELECT o_orderstatus, o_orderpriority, sum(price),
          |           min(o_orderkey), max(o_orderkey), count()
          |    GROUP BY o_orderstatus, o_orderpriority)
          |) ENGINE = MergeTree() ORDER BY (o_orderkey)""".stripMargin)
      ct.create(s)
      ct.insertSelect(s, Tables(s, dir).orders.select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(12,2)").as("price")))
      val q = s.table("graft_p05")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("total"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderstatus", "o_orderpriority")
      assert(q.queryExecution.optimizedPlan.toString.contains("__proj_by_status"),
        "p05 aggregate was not routed to the projection")
      q
    },

    // CREATE MATERIALIZED VIEW (ASTCreateQuery.h:70-72): the MV is an
    // INSERT TRIGGER — each inserted block flows through the view's
    // SELECT and appends PARTIAL per-block aggregates to the target
    // (the SummingMergeTree-parts contract; two inserts ⇒ up to two
    // partial rows per key). Querying the MV re-aggregates, the
    // oracle computes from the raw rows — hash-match proves the
    // incremental maintenance is exact. The same MV registers for
    // auto-routing: a matching aggregate on the BASE table is rewritten
    // onto the dimension-sized target (asserted on the optimized plan).
    "p06_matview" -> Q(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |  COUNT(o_custkey) AS cust_n
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      ChDdl.execute(s,
        """CREATE TABLE graft_p06_base (
          |  o_orderkey Int64,
          |  o_orderstatus FixedString(1),
          |  o_orderpriority String,
          |  price Decimal(12, 2),
          |  cust Int64
          |) ENGINE = MergeTree() ORDER BY (o_orderkey)""".stripMargin)
      // the view carries an avg alongside its sum/count pair — the avg
      // column itself is a per-block partial (never re-aggregated);
      // base-table avg(cust) routes through sum(cust)/count(cust)
      ChDdl.execute(s,
        """CREATE MATERIALIZED VIEW graft_p06_mv
          |ENGINE = SummingMergeTree() POPULATE AS
          |SELECT o_orderstatus, o_orderpriority,
          |       sum(price) AS total, count() AS n,
          |       sum(cust) AS cust_sum, count(cust) AS cust_n,
          |       avg(cust) AS cust_avg
          |FROM graft_p06_base
          |GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
      Tables(s, dir).orders.select(
          col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(12,2)").as("price"),
          col("o_custkey").as("cust"))
        .createOrReplaceTempView("graft_p06_src")
      // two separate inserted blocks → the MV target accumulates
      // per-block partials, never recomputes
      ChDdl.execute(s,
        "INSERT INTO graft_p06_base SELECT * FROM graft_p06_src WHERE o_orderkey % 2 = 0")
      ChDdl.execute(s,
        "INSERT INTO graft_p06_base SELECT * FROM graft_p06_src WHERE o_orderkey % 2 = 1")
      // a matching aggregate on the BASE auto-routes to the MV target
      val routed = s.table("graft_p06_base")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(routed.queryExecution.optimizedPlan.toString.contains("graft_p06_mv"),
        "base-table aggregate was not auto-routed to the materialized view")
      // …and so does avg, re-divided from the routed sum/count pair
      val avgRouted = s.table("graft_p06_base")
        .groupBy("o_orderstatus").agg(avg(col("cust")).as("ac"))
      assert(avgRouted.queryExecution.optimizedPlan.toString.contains("graft_p06_mv"),
        "base-table avg was not auto-routed to the materialized view")
      // querying the MV re-aggregates the partials (how the
      // reference's users read a SummingMergeTree MV)
      ChDdl.execute(s,
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(sum(total) AS DOUBLE) AS total, sum(n) AS n,
          |  CAST(sum(cust_sum) AS BIGINT) AS cust_sum,
          |  CAST(sum(cust_n) AS BIGINT) AS cust_n
          |FROM graft_p06_mv
          |GROUP BY o_orderstatus, o_orderpriority
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    },

    // INSERT with inlined FORMAT data (ASTInsertQuery.h:32 — the raw
    // `data` tail; ParserInsertQuery.cpp): the client bulk-load idiom,
    // parsed against the CATALOG schema (no inference), appended, read
    // back. JSONEachRow and CSV in one multi-statement script; the
    // oracle states the same literal rows.
    "p07_insert_format" -> Q(
      """SELECT CAST(k AS BIGINT) AS k, name, CAST(v AS DOUBLE) AS v
        |FROM (VALUES (1, 'ada', 1.5), (2, 'bob', 2.5), (3, 'cy', NULL),
        |             (4, 'dot', 4.25), (5, 'eve', 5.125))
        |  t(k, name, v)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      ChDdl.execute(s,
        """CREATE TABLE graft_p07 (k Int64, name String, v Float64)
          |  ENGINE = MergeTree() ORDER BY (k);
          |INSERT INTO graft_p07 FORMAT JSONEachRow
          |{"k": 1, "name": "ada", "v": 1.5}
          |{"k": 2, "name": "bob", "v": 2.5}
          |{"k": 3, "name": "cy"};
          |INSERT INTO graft_p07 FORMAT CSV
          |4,dot,4.25
          |5,eve,5.125""".stripMargin)
      ChDdl.execute(s, "SELECT k, name, v FROM graft_p07 ORDER BY k")
    },

    // SHOW CREATE TABLE round-trip (ParserTablePropertiesQuery.h): the
    // emitted statement is CH DDL the parser re-ingests — re-created
    // under a new name, repopulated via the front door's `SELECT *`
    // (declared column order, never the internal __sample_hash), and
    // the copy's aggregate hash-matches the oracle computed from the
    // raw rows.
    "p08_show_create" -> Q(
      """SELECT n_regionkey, COUNT(*) AS n,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      ChDdl.execute(s,
        """CREATE TABLE graft_p08 (
          |  n_nationkey Int32, n_name String, n_regionkey Int32
          |) ENGINE = MergeTree() PARTITION BY n_regionkey ORDER BY (n_nationkey)""".stripMargin)
      Tables(s, dir).nation.select("n_nationkey", "n_name", "n_regionkey")
        .createOrReplaceTempView("graft_p08_src")
      ChDdl.execute(s,
        "INSERT INTO graft_p08 SELECT n_nationkey, n_name, n_regionkey FROM graft_p08_src")
      val ddl = ChDdl.execute(s, "SHOW CREATE TABLE graft_p08").head().getString(0)
      ChDdl.execute(s,
        ddl.replaceFirst("CREATE TABLE graft_p08", "CREATE TABLE graft_p08b"))
      ChDdl.execute(s, "INSERT INTO graft_p08b SELECT * FROM graft_p08")
      ChDdl.execute(s,
        """SELECT n_regionkey, count() AS n,
          |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
          |FROM graft_p08b GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    },

    // ATTACH / DETACH TABLE (ParserCreateQuery.cpp:456,533 — "shortcut
    // for CREATE over already existing parts"): DETACH forgets the
    // catalog entry keeping the data, ATTACH re-registers it; the
    // partitioned content survives the cycle byte-for-byte (the
    // aggregate hash-matches the oracle from the raw rows).
    "p09_attach_detach" -> Q(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      ChDdl.execute(s,
        """CREATE TABLE graft_p09 (c_custkey Int64, c_mktsegment String)
          |ENGINE = MergeTree() PARTITION BY c_mktsegment ORDER BY (c_custkey)""".stripMargin)
      Tables(s, dir).customer.select("c_custkey", "c_mktsegment")
        .createOrReplaceTempView("graft_p09_src")
      ChDdl.execute(s,
        "INSERT INTO graft_p09 SELECT c_custkey, c_mktsegment FROM graft_p09_src")
      ChDdl.execute(s, "DETACH TABLE graft_p09")
      assert(!s.catalog.tableExists("graft_p09"), "DETACH left the catalog entry")
      ChDdl.execute(s, "ATTACH TABLE graft_p09")
      ChDdl.execute(s,
        """SELECT c_mktsegment, count() AS n,
          |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
          |FROM graft_p09 GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },

    // Decimal128 (DataTypeDecimalBase.h — Decimal128(s) ⇒ precision
    // 38): aggregation on the WIDE Int128-backed path. Sums/extremes
    // only (precision-38 products truncate scale differently across
    // engines); the division-free pipeline is bit-exact in both, so
    // the final DOUBLE casts hash-match. y01 carries the data-sized
    // fast path; this key pins the wide path stays correct (its cost
    // relative to y01 is visible in the bench).
    // Nested(…) (DataTypeNested.cpp, registered DataTypeFactory.cpp:211)
    // — CH's repeated-event-group idiom. Stored as the reference's own
    // internal shape, Array(Tuple(names, types)) → ARRAY<STRUCT<…>>;
    // INSERT uses the flattened parallel-array subcolumn form
    // (NestedUtils flatten: `ev.name`, `ev.val`), zipped back by
    // ChInsert; `ARRAY JOIN ev` iterates the groups in lockstep and
    // `ev.name` resolves to the element field. A group with no events
    // ([], []) contributes no rows, like the reference.
    "y09_nested" -> Q(
      """SELECT id, name, val
        |FROM (VALUES (1, 'a', 10), (1, 'b', 20), (2, 'c', 30)) AS t(id, name, val)
        |ORDER BY id, name""".stripMargin) { (s, dir) =>
      import graft.functions.{ChDdl, GraftFunctions}
      GraftFunctions.ensureRegistered(s)
      ChDdl.execute(s,
        """CREATE TABLE graft_y09 (
          |  id Int64,
          |  ev Nested(name String, val Int64)
          |) ENGINE = MergeTree() ORDER BY (id);
          |INSERT INTO graft_y09 (id, ev.name, ev.val) VALUES
          |  (1, ['a', 'b'], [10, 20]), (2, ['c'], [30]), (3, [], []);
          |SELECT id, ev.name AS name, ev.val AS val
          |FROM graft_y09 ARRAY JOIN ev ORDER BY id, name""".stripMargin)
    },

    "y08_decimal128" -> Q(
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS lo,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS hi,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      def w(c: String) = col(c).cast("decimal(38,6)")
      Tables(s, dir).orders.groupBy("o_orderpriority")
        .agg(
          sum(w("o_totalprice")).cast("double").as("total"),
          min(w("o_totalprice")).cast("double").as("lo"),
          max(w("o_totalprice")).cast("double").as("hi"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // DateTime64(6/3/0) semantics (DataTypeDateTime64.h:1): the
    // sub-second truncation ladder µs → ms → s, computed on epoch
    // integers in BOTH engines (no timestamp rendering, no timezone
    // dependence) — pins that graft's ns→µs event ingestion and any
    // coarser DateTime64 precision agree with the oracle exactly.
    "y07_datetime64" -> Q(
      """SELECT event_id,
        |  epoch_us(ts) AS us,
        |  epoch_us(ts) // 1000 AS ms,
        |  epoch_us(ts) // 1000000 AS s,
        |  (epoch_us(ts) % 1000 = 0) AS ms_exact
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).events.filter(col("event_id") < 2000)
        .select(col("event_id"),
          unix_micros(col("ts")).as("us"),
          expr("unix_micros(ts) div 1000").as("ms"),
          expr("unix_micros(ts) div 1000000").as("s"),
          (unix_micros(col("ts")) % 1000 === 0).as("ms_exact"))
        .orderBy("event_id")
    }
  )

  /** p10's plan builder, shared with BucketedJoinSpec so the spec pins
    * the EXACT plan the driver verifies. Writes both join sides as
    * bucketed+sorted catalog tables, then joins through the catalog —
    * the bucketing metadata satisfies the sort-merge join's
    * distribution requirement with zero Exchange.
    * Table names and paths derive from the sf dir, and an
    * already-written layout is REUSED when its row count still
    * matches the source: concurrent sessions on different data never
    * clash on a shared metastore/tmpdir, repeated invocations (every
    * bench pass) measure the shuffle-free join this key demonstrates
    * instead of the two one-time table writes, and an in-place data
    * swap under the same dir still triggers a rewrite.
    * MERGE hint: at test SFs the customer side fits the broadcast
    * threshold, which would bypass (not demonstrate) the bucketed
    * path; at scale SMJ is what AQE picks anyway. */
  def bucketedJoin(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables(s, dir)
    val key = f"${scala.util.hashing.MurmurHash3.stringHash(new java.io.File(dir).getAbsolutePath)}%08x"
    val base = sys.props("java.io.tmpdir") + s"/graft_p10_bucketed_$key"
    def ensure(tbl: String, src: org.apache.spark.sql.DataFrame,
        bucketCol: String, path: String): Unit = {
      val fresh = s.catalog.tableExists(tbl) &&
        s.table(tbl).count() == src.count()
      if (!fresh) src.write
        .mode("overwrite").option("path", path)
        .bucketBy(8, bucketCol).sortBy(bucketCol)
        .saveAsTable(tbl)
    }
    ensure(s"graft_orders_bkt_$key",
      t.orders.select("o_custkey", "o_totalprice"), "o_custkey", s"$base/orders")
    ensure(s"graft_customer_bkt_$key",
      t.customer.select("c_custkey", "c_mktsegment"), "c_custkey", s"$base/customer")
    s.table(s"graft_orders_bkt_$key")
      .hint("MERGE")
      .join(s.table(s"graft_customer_bkt_$key"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
  }
}
