package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{LimitBy, Sample}

/** Core SELECT pipeline (SURVEY §2, reference
  * src/Parsers/ASTSelectQuery.h:19-36): WHERE/PREWHERE, GROUP BY,
  * HAVING, DISTINCT, LIMIT BY, LIMIT/OFFSET, ORDER BY with null
  * placement, WITH/CTE, UNION, subqueries, SAMPLE, ARRAY JOIN.
  */
object CoreQueries {

  val defs: Map[String, Q] = Map(

    // TPC-H Q1 shape: the flagship scan→filter→partial-agg→final-agg
    // pipeline. Exact decimal arithmetic, map-side combine, pushdown.
    "q01_agg" -> Q(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val l = Tables(s, dir).lineitem
      l.filter(col("l_shipdate") <= to_timestamp(lit("2000-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // WHERE + projection + ORDER + LIMIT: filter AND projection must
    // reach the parquet scan (PushedFilters / 4-col ReadSchema).
    "q02_filter_project" -> Q(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 48 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_quantity") >= 48 && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber").limit(100)
    },

    // PREWHERE (ASTSelectQuery.h:24): in ClickHouse a pre-filter that
    // reads only the predicate columns first. Spark's equivalent is a
    // pushed-down scan filter + column pruning — same IO shape.
    "q03_prewhere" -> Q(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    "q04_having" -> Q(
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 4
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total"))
        .filter(col("n_orders") >= 4)
        .orderBy("o_custkey")
    },

    "q05_distinct" -> Q(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem.select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")
    },

    // LIMIT 3 BY o_orderstatus (ASTSelectQuery.h:30-32) — top orders
    // per status. One shuffle on the BY key; sort is per-group.
    "q06_limit_by" -> Q(
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin) { (s, dir) =>
      LimitBy(Tables(s, dir).orders, 3,
          by = Seq(col("o_orderstatus")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "o_orderkey")
    },

    "q07_limit_offset" -> Q(
      "SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 10") {
      (s, dir) =>
        Tables(s, dir).orders.select("o_orderkey", "o_custkey")
          .orderBy("o_orderkey").offset(10).limit(20)
    },

    // ORDER BY ... NULLS FIRST/LAST (ASTOrderByElement). Spark asc
    // defaults NULLS FIRST, DuckDB NULLS LAST — both sides explicit.
    "q08_order_nulls" -> Q(
      """SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
        |FROM customer
        |ORDER BY seg ASC NULLS FIRST, c_custkey LIMIT 200""".stripMargin) { (s, dir) =>
      Tables(s, dir).customer
        .select(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")).as("seg"))
        .orderBy(col("seg").asc_nulls_first, col("c_custkey").asc)
        .limit(200)
    },

    // WITH ... (CTE): reuse one aggregate in two branches. The CTE is
    // persisted so both consumers (threshold agg + main filter) read
    // the one materialization — without it Spark recomputes the
    // orders scan+shuffle twice. The threshold is an exact decimal sum
    // divided once (a single IEEE op) so the boundary comparison can't
    // drift a last-ulp row between engines.
    "q09_with_cte" -> Q(
      """WITH rev AS (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, revenue FROM rev
        |WHERE revenue > (SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM rev)
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val rev = Tables(s, dir).orders.groupBy("o_custkey")
        .agg(moneySum(col("o_totalprice")).as("revenue"))
        .persist()
      val avgRev = rev.agg(
        (sum(dec(col("revenue"))).cast("double") / count(lit(1))).as("avg_rev"))
      rev.join(broadcast(avgRev)).filter(col("revenue") > col("avg_rev"))
        .select("o_custkey", "revenue").orderBy("o_custkey")
    },

    "q10_union_all" -> Q(
      """SELECT * FROM (
        |  SELECT c_name AS name, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_name AS name, 'supplier' AS kind FROM supplier)
        |ORDER BY kind, name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.select(col("c_name").as("name"), lit("customer").as("kind"))
        .unionByName(t.supplier.select(col("s_name").as("name"), lit("supplier").as("kind")))
        .orderBy("kind", "name")
    },

    "q11_union_distinct" -> Q(
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.select(col("c_nationkey").as("nationkey"))
        .unionByName(t.supplier.select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy("nationkey")
    },

    // INTERSECT / EXCEPT (reference: src/Parsers/SelectUnionMode.h:13-14
    // — union modes beyond ALL/DISTINCT).
    "q18_intersect" -> Q(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.select(col("c_nationkey").as("nationkey"))
        .intersect(t.supplier.select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },

    // building-segment customers who never placed an urgent order
    "q19_except" -> Q(
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .except(t.orders.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // IN (subquery) → left-semi join (Catalyst does the same rewrite).
    "q12_subquery_in" -> Q(
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.orders.join(
          broadcast(t.customer.filter(col("c_mktsegment") === "AUTOMOBILE")),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    },

    // Scalar subquery → broadcast 1-row cross join. l_quantity is
    // integer-valued so the double avg is exact in both engines.
    "q13_subquery_scalar" -> Q(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 1.4 * (SELECT AVG(l_quantity) FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val l = Tables(s, dir).lineitem
      val avgQ = l.agg(avg("l_quantity").as("avg_q"))
      l.join(broadcast(avgQ))
        .filter(col("l_quantity") > lit(1.4) * col("avg_q"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // SAMPLE (ASTSampleRatio.h): the IO-PRUNED sampling path — the
    // table is laid out sorted by a persisted key hash (what ClickHouse
    // gets from the MergeTree SAMPLE BY key), so the 10% range
    // predicate pushes to the scan and row groups outside it are
    // skipped: bytes read scale with the fraction, not the table.
    // The hash is the portable Knuth multiplicative (key·2654435761
    // mod 2^32) so the oracle states the identical predicate; pushdown
    // is asserted in PlanAuditSpec.
    "q14_sample" -> Q(
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE (l_orderkey * 2654435761) % 4294967296 < 429496729""".stripMargin) { (s, dir) =>
      val cache = sys.props("java.io.tmpdir") + "/graft_q14_layout_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val laid = Sample.sampleLayout(Tables(s, dir).lineitem, "l_orderkey", cache)
      Sample.byStoredKnuthRange(laid, "__sample_hash", 0.1)
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"))
    },

    // SAMPLE f OFFSET g (ASTSampleRatio.h): the [g, g+f) window of the
    // stored sampling-hash space — same IO-pruned layout as q14, two
    // scan-pushed range bounds instead of one. Disjoint windows tile
    // the table exactly (asserted in ChSqlSpec for the hash-BY form).
    "q22_sample_offset" -> Q(
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE (l_orderkey * 2654435761) % 4294967296 >= 2147483648
        |  AND (l_orderkey * 2654435761) % 4294967296 < 3435973836""".stripMargin) { (s, dir) =>
      val cache = sys.props("java.io.tmpdir") + "/graft_q14_layout_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val laid = Sample.sampleLayout(Tables(s, dir).lineitem, "l_orderkey", cache)
      Sample.byStoredKnuthRange(laid, "__sample_hash", 0.3, offset = 0.5)
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"))
    },

    // NOT IN (subquery) → left-anti join. Keys are non-null here; with
    // a nullable inner relation NOT IN is three-valued (empty result on
    // any inner NULL) while ANTI JOIN is not — ClickHouse NOT IN
    // follows the same SQL semantics, so anti-join is the correct plan
    // exactly when the inner side is null-free (as Catalyst itself
    // requires before rewriting).
    "q16_subquery_not_in" -> Q(
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.orders.join(
          broadcast(t.customer.filter(col("c_mktsegment") === "AUTOMOBILE")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    },

    // Nullable semantics pinned end-to-end: NULL-propagating
    // arithmetic, count(col) vs count(*), null-safe equality, and
    // aggregate null-skipping — the Nullable(T) behavioral contract.
    "q20_nullable" -> Q(
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  COUNT(v) AS n_nonnull,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  COUNT(*) FILTER (WHERE v IS NULL) AS n_null,
        |  COUNT(*) FILTER (WHERE v IS NOT DISTINCT FROM NULL) AS n_nullsafe
        |FROM (SELECT o_orderstatus,
        |        CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS v
        |      FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .select(col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, lit(null)).otherwise(col("o_totalprice")).as("v"))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("v")).as("n_nonnull"),
          sum(dec(col("v"))).cast("double").as("sum_v"),
          count(when(col("v").isNull, 1)).as("n_null"),
          count(when(col("v") <=> lit(null), 1)).as("n_nullsafe"))
        .orderBy("o_orderstatus")
    },

    // LIMIT k WITH TIES: all rows tying with the k-th under the order.
    // Scale-safe realization: the k-th value comes from a distributed
    // top-k (TakeOrderedAndProject), broadcast as a threshold filter —
    // no rank() window over a global order. DuckDB has no WITH TIES;
    // the oracle states the same threshold semantics directly.
    "q17_limit_with_ties" -> Q(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice <= (
        |  SELECT o_totalprice FROM orders ORDER BY o_totalprice LIMIT 1 OFFSET 99)
        |ORDER BY o_totalprice, o_orderkey""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).orders
      val cutoff = o.select(col("o_totalprice")).orderBy("o_totalprice")
        .limit(100).agg(max("o_totalprice").as("__cut"))
      o.join(broadcast(cutoff))
        .filter(col("o_totalprice") <= col("__cut"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_totalprice", "o_orderkey")
    },

    // LEFT ARRAY JOIN (ASTTablesInSelectQuery.h:129 array_join kind):
    // rows with EMPTY arrays survive with a NULL element —
    // explode_outer. The oracle substitutes [NULL] for empty lists
    // (DuckDB's unnest drops them).
    "q21_array_join_left" -> Q(
      """SELECT doc_id, word FROM (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(ws) = 0 THEN [NULL] ELSE ws END) AS word
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), w -> length(w) > 9) AS ws
        |        FROM documents))
        |ORDER BY doc_id, word""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          filter(split(col("text"), " ", -1), w => length(w) > 9).as("ws"))
        .select(col("doc_id"), explode_outer(col("ws")).as("word"))
        .orderBy(col("doc_id"), col("word").asc_nulls_first)
    },

    // ARRAY JOIN (ASTTablesInSelectQuery.h:129) → explode(): word
    // frequency over documents.
    "q15_array_join" -> Q(
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 50""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(explode(split(col("text"), " ", -1)).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc).limit(50)
    }
  )
}
