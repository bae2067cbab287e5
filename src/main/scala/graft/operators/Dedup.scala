package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Prebuilt incremental-dedup index — the per-corpus-version artifact
  * that makes each crawl drop O(batch) instead of O(corpus):
  *  - `sketch`: fixed-size Bloom filter over every corpus fingerprint,
  *    broadcast as a literal into each drop's map-side prefilter;
  *  - `fingerprints`: the corpus's DISTINCT fingerprint table,
  *    persisted — the exact-verify side that clears Bloom false
  *    positives. At 100 TB of text this is only the fingerprint
  *    column, deduplicated, so it is orders of magnitude smaller than
  *    the corpus and caches comfortably.
  * Build once per corpus version (ONE corpus scan materializes both
  * pieces), serve every subsequent drop with ZERO corpus scans, and
  * `release()` when the corpus version is retired.
  */
final class IncrementalIndex private[operators] (
    private[operators] val sketch: Array[Byte],
    val fingerprints: DataFrame) {
  /** Drop the cached fingerprint table (call when this corpus version
    * is retired). Safe at any point — correctness never depends on
    * the cache, only drop latency does. */
  def release(): Unit = { fingerprints.unpersist(); () }
}

object IncrementalIndex {
  /** One corpus scan: the distinct-fingerprint shuffle feeds the
    * persisted table, and the sketch-folding action that follows runs
    * THROUGH that cache, materializing it — so building both pieces
    * costs a single pass over the corpus. `persist = false` skips the
    * cache for one-shot use (Dedup.incremental's convenience form),
    * where the verify join re-derives fingerprints from lineage. */
  def build(corpus: DataFrame, textCol: String,
      expectedItems: Long = 1L << 20, persist: Boolean = true): IncrementalIndex = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val raw = corpus.select(Text.fingerprint(col(textCol)).as("__fp"))
    val fps = if (persist) raw.distinct().persist() else raw
    val sketch = fps
      .agg(call_function("bloom_agg", xxhash64(col("__fp")),
        lit(expectedItems)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    new IncrementalIndex(sketch, fps)
  }
}

/** Prebuilt NEAR-dup index (d15): the MinHash/LSH analog of
  * [[IncrementalIndex]] — a crawl drop is deduped against the standing
  * corpus by shingle similarity, not just exact fingerprints. Built
  * once per corpus version from ONE corpus scan; each drop's plan
  * touches only the batch and the two cached index tables.
  *
  * Both tables persist PRE-PARTITIONED on their join keys, so the
  * InMemoryRelation advertises the hash partitioning and a drop's
  * joins shuffle ONLY the batch side — the corpus-side rows never
  * reshuffle per drop:
  *  - `bands` (corpus_id, __band, __key), partitioned by (__band,
  *    __key), bucket-capped at build time like every LSH blocker;
  *  - `signatures` (corpus_id, __mh), partitioned by corpus_id, the
  *    exact-verify side that turns band collisions into an estimated
  *    Jaccard.
  */
final class NearDupIndex private[operators] (
    private[operators] val numHashes: Int,
    private[operators] val bandRows: Int,
    private[operators] val shingleSize: Int,
    val bands: DataFrame,
    val signatures: DataFrame) {
  def release(): Unit = { bands.unpersist(); signatures.unpersist(); () }
}

object NearDupIndex {
  def build(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bandRows: Int = 2, shingleSize: Int = 3,
      maxBucket: Int = 100): NearDupIndex = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val numBands = numHashes / bandRows
    val sig = corpus.select(col(idCol).as("corpus_id"),
        Dedup.wordNGrams(col(textCol), shingleSize).as("__gs"))
      .filter(size(col("__gs")) > 0)
      .select(col("corpus_id"),
        call_function("minhash64", col("__gs"), lit(numHashes)).as("__mh"))
    val signatures = sig.repartition(col("corpus_id")).persist()
    // banding reads the signature CACHE (one corpus scan total); the
    // per-(band,key) cap bounds every future drop's bucket join the
    // same way bucketPairs bounds the in-corpus case.
    // The cap is a min_k_ids PARTIAL AGGREGATE (functions/MinKIds),
    // not the row_number window it replaced (guide §2.3-2.5): the
    // window shuffled and sorted EVERY member of a hot band bucket
    // onto one task just to drop all but maxBucket (the boilerplate-
    // band straggler at 100 TB), then needed an explicit second
    // Exchange to lay the cache out on (__band, __key). The aggregate
    // collapses hot buckets to O(maxBucket) state map-side BEFORE the
    // one shuffle, its k-smallest-ids output is exactly the window's
    // first-k-by-corpus_id (ids unique), and its output partitioning
    // IS (__band, __key) — the explode preserves it, so the cache
    // advertises the join layout with ONE Exchange instead of two.
    val bands = signatures.select(col("corpus_id"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
          xxhash64(slice(col("__mh"), b * bandRows + 1, lit(bandRows)))))
          .as(Seq("__band", "__key")))
      .groupBy("__band", "__key")
      .agg(call_function("min_k_ids", col("corpus_id"), lit(maxBucket))
        .as("__ids"))
      .select(col("__band"), col("__key"),
        explode(col("__ids")).as("corpus_id"))
      .persist()
    bands.count() // materialize both caches at build time
    new NearDupIndex(numHashes, bandRows, shingleSize, bands, signatures)
  }
}

/** Deduplication operators for the training-data pipeline (SURVEY §2
  * d01–d04). Everything here is BLOCKED: candidate pairs only ever
  * come from hash buckets (exact digest, LSH band, or an explicit
  * block key), never an all-pairs product, and buckets are
  * size-capped, so the plans stay linear in corpus size — the property
  * that matters at 100 TB. No driver-side collection anywhere.
  */
object Dedup {

  /** The checkpointed RDD behind a localCheckpoint'd frame, for
    * explicit storage release (here and in Bpe's merge loop). */
  private[operators] def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.headOption

  /** d01: exact dedup — keep the minimum-id row per content digest.
    * One shuffle on the digest. Preferred realization is an AGGREGATE:
    * min(struct(id, rest…)) — id is unique, so the struct min IS the
    * min-id row, and the partial agg collapses duplicate digests
    * map-side BEFORE the shuffle (on a duplicate-heavy 100 TB corpus
    * that is the difference between shuffling survivors and shuffling
    * everything). Falls back to the row_number window when a column
    * type is not orderable inside a struct (maps). */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val digested = df.withColumn("__digest", md5(col(contentCol)))
    val packed = org.apache.spark.sql.functions.struct(
      (col(idCol) +: df.columns.filterNot(_ == idCol).map(col).toSeq): _*)
    val orderable = org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(org.apache.spark.sql.types.StructType(df.schema.fields))
    if (orderable) {
      digested
        .groupBy("__digest")
        .agg(min(packed).as("__m"))
        // restore the caller's column order; digest last (the shape
        // the window form produced)
        .select(df.columns.map(c => col(s"__m.$c").as(c)).toSeq :+
          col("__digest").as("digest"): _*)
    } else {
      val w = Window.partitionBy("__digest").orderBy(col(idCol))
      digested
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
        .withColumnRenamed("__digest", "digest")
    }
  }

  /** d26: exact dedup with a PRIORITY keeper — when the same content
    * arrives from several sources, keep the copy from the
    * best-ranked source (curated beats crawl beats mirror), id as the
    * tiebreak. Same single-shuffle partial-agg shape as d01 (`exact`):
    * min(struct(priority, id, rest…)) collapses duplicate digests
    * map-side, so a document mirrored a million times still ships one
    * candidate per partition. Emits the keeper row + `n_copies` (the
    * dedup ratio signal) + `digest`. */
  def exactByPriority(df: DataFrame, contentCol: String, idCol: String,
      prioCol: String): DataFrame = {
    val digested = df.withColumn("__digest", md5(col(contentCol)))
    val rest = df.columns.filterNot(c => c == idCol || c == prioCol)
    val packed = org.apache.spark.sql.functions.struct(
      (col(prioCol) +: col(idCol) +: rest.map(col).toSeq): _*)
    // same orderability guard as d01 `exact`: min(struct) fails
    // analysis on non-orderable column types (maps) — fall back to a
    // window keyed the same way (priority, then id)
    val orderable = org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(org.apache.spark.sql.types.StructType(df.schema.fields))
    if (orderable) {
      digested
        .groupBy("__digest")
        .agg(min(packed).as("__m"), count(lit(1)).as("n_copies"))
        .select(df.columns.map(c => col(s"__m.$c").as(c)).toSeq ++
          Seq(col("n_copies"), col("__digest").as("digest")): _*)
    } else {
      val part = Window.partitionBy("__digest")
      val w = part.orderBy(col(prioCol), col(idCol))
      digested
        .withColumn("n_copies", count(lit(1)).over(part))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(df.columns.map(col).toSeq ++
          Seq(col("n_copies"), col("__digest").as("digest")): _*)
    }
  }

  /** d11: incremental (cross-run) dedup — drop batch docs whose
    * normalized fingerprint (Text.fingerprint: lowercase, whitespace
    * collapsed) already exists in `corpus`; the "have we trained on
    * this before" gate that runs on every new crawl drop.
    *
    * Scale shape (corpus = the 100 TB side, batch = the new drop):
    *  1. ONE corpus scan folds every fingerprint into a fixed-size
    *     Bloom sketch (`bloom_agg`, Spark's BloomFilterAggregate —
    *     partial-agg friendly, so only merged sketch bytes cross the
    *     wire and reach the driver, never rows);
    *  2. the sketch broadcasts as a literal into a map-side
    *     `bloom_contains` prefilter over the batch — no false
    *     negatives, so every non-candidate is definitively new and
    *     never shuffles;
    *  3. only the (tiny) candidate fingerprint set is verified
    *     exactly — a broadcast semi-join against the index's
    *     fingerprint table clears Bloom false positives — then
    *     anti-joined back into the batch. Output is exact, bit-equal
    *     to a plain NOT IN.
    * This is the standing-pipeline form: the index is built ONCE per
    * corpus version (`IncrementalIndex.build`, one corpus scan) and
    * served to every drop — a drop's plan touches only the batch and
    * the cached fingerprint table, never the corpus. */
  def incremental(index: IncrementalIndex, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    GraftFunctions.ensureRegistered(batch.sparkSession)
    val key = xxhash64(Text.fingerprint(col(textCol)))
    val candFps = batch
      .filter(call_function("bloom_contains", lit(index.sketch), key))
      .select(Text.fingerprint(col(textCol)).as("__fp")).distinct()
    // semi-join FROM the fingerprint side so the broadcast lands on
    // the small candidate set and the big side never shuffles
    val confirmed = index.fingerprints
      .join(broadcast(candFps), Seq("__fp"), "left_semi").distinct()
    batch.withColumn("__fp", Text.fingerprint(col(textCol)))
      .join(broadcast(confirmed), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** One-shot convenience form of d11: builds an unpersisted index and
    * applies it, so a single call still costs two corpus passes
    * (sketch fold + verify join lineage). Standing pipelines — the
    * one-index-many-drops case the operator exists for — should build
    * an [[IncrementalIndex]] once and call the index overload. */
  def incremental(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = 1L << 20): DataFrame =
    incremental(
      IncrementalIndex.build(corpus, textCol, expectedItems, persist = false),
      batch, idCol, textCol)

  /** d15: incremental NEAR-dup — drop batch docs whose shingle-set
    * similarity to ANY standing-corpus doc reaches `minEstJaccard`
    * (the cross-run twin of d02; d11 catches only exact-normalized
    * matches, this catches the re-crawled page with a new footer).
    *
    * Drop plan against a prebuilt [[NearDupIndex]] (corpus never
    * scanned, corpus-side rows never reshuffled):
    *  1. one batch scan computes batch MinHash signatures;
    *  2. batch band keys join the index's pre-partitioned band table
    *     — only the batch side shuffles; buckets are capped at build;
    *  3. candidate (corpus_id, batch_id) pairs dedup, then verify
    *     against the index's signature cache: est_jaccard = signature
    *     agreement rate, exactly d02's estimator;
    *  4. batch ids with a confirmed near-match anti-join out — output
    *     is the surviving batch, like d11.
    * Same minimum-length contract as d02: docs with fewer than
    * `shingleSize` words carry no signature and always survive. */
  def incrementalNearDup(index: NearDupIndex, batch: DataFrame,
      idCol: String, textCol: String,
      minEstJaccard: Double = 0.5): DataFrame = {
    GraftFunctions.ensureRegistered(batch.sparkSession)
    val numBands = index.numHashes / index.bandRows
    val sig = batch.select(col(idCol).as("batch_id"),
        wordNGrams(col(textCol), index.shingleSize).as("__gs"))
      .filter(size(col("__gs")) > 0)
      .select(col("batch_id"),
        call_function("minhash64", col("__gs"), lit(index.numHashes)).as("__mh"))
    val bBands = sig.select(col("batch_id"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
        xxhash64(slice(col("__mh"), b * index.bandRows + 1, lit(index.bandRows)))))
        .as(Seq("__band", "__key")))
    val cand = bBands.join(index.bands, Seq("__band", "__key"))
      .select("batch_id", "corpus_id").distinct()
    val dup = cand
      .join(index.signatures, "corpus_id")
      .join(sig.withColumnRenamed("__mh", "__mhb"), "batch_id")
      .withColumn("__agree",
        aggregate(zip_with(col("__mh"), col("__mhb"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / index.numHashes)
      .filter(col("__agree") >= minEstJaccard)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(broadcast(dup), Seq(idCol), "left_anti")
  }

  /** d12: duplicate clustering — connected components over a
    * near-dup pair list (id1, id2), the step that turns pairwise
    * matches into keep/drop groups (transitive closure: if A~B and
    * B~C, all three are one duplicate group even when A~C was never
    * emitted). cluster_id = the minimum doc id in the component, so
    * the "keep the lowest id" rule reads straight off the output.
    *
    * Pregel-style min-label propagation on DataFrames: each round
    * every node takes the min of its own label and its neighbors'
    * labels (one shuffle per round — an edges⋈labels join plus a
    * min-groupBy). Rounds needed = component diameter, and near-dup
    * components are short chains (label floods from the min node), so
    * convergence is a handful of rounds regardless of corpus size —
    * the same schedule GraphX's ConnectedComponents runs. The
    * driver-side loop iterates O(diameter) times, never over rows;
    * the early-exit probe per round is an isEmpty, not a collect. */
  def dupClusters(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
      maxIters: Int = 20): DataFrame = {
    val e = pairs.select(col(id1).as("__a"), col(id2).as("__b"))
    val edges = e.union(e.select(col("__b").as("__a"), col("__a").as("__b")))
      .distinct().persist()
    // DELTA iteration: each round propagates only from the frontier —
    // the nodes whose label DECREASED last round (round 0: everyone,
    // carrying their own id). A label a node ever acquires is offered
    // to its neighbors exactly once, in the round after it arrives, so
    // the fixpoint is identical to full propagation — but the
    // edges-side join probe shrinks with the frontier instead of
    // staying label-table-sized every round, and once the frontier
    // fits the broadcast threshold AQE turns the remaining rounds into
    // map-side joins (no edge shuffle at all).
    //
    // Round state is ONE frame (id1, cluster_id, __chg), lineage-
    // TRUNCATED each round with a lazy localCheckpoint: each round's
    // plan references the previous round TWICE (directly + via the
    // frontier), so under plain persist() the ANALYZED tree doubles
    // per round — 2^rounds nodes, a driver OOM at diameter ~16 (found
    // by D12Probe's chain graphs; invisible at sf0.1's ~5 rounds).
    // Checkpointing pins each round to a leaf: constant plan size at
    // ANY diameter. The frontier is a narrow filter over the same
    // checkpoint, and the changed-count rides the single count() that
    // materializes it — one action + one materialization per round
    // where r10 spent two actions + three persists (verdict item 3).
    // Round 1 computed DIRECTLY from the edge list (guide §2.4): with
    // labels0 = own id and frontier = everyone, the generic round
    // below reduces to label(a) = min(a, min neighbor) — one groupBy
    // over the symmetrized edges. Seeding that result skips round 1's
    // distinct-node build, its labels⋈prop join and one checkpoint+
    // count cycle (one full shuffle round saved at any scale); the
    // fixpoint and every subsequent round are unchanged.
    var labels = edges
      .groupBy(col("__a").as(id1)).agg(min("__b").as("__new"))
      .select(col(id1),
        least(col("__new"), col(id1)).as("cluster_id"),
        (col("__new") < col(id1)).as("__chg"))
      .localCheckpoint(false)
    var converged = false
    var i = 0
    try {
      // materialize the seed checkpoint + answer round-1 convergence
      // in one action (the same count the loop's rounds use)
      converged = labels.filter(col("__chg")).count() == 0
      i = 1
      while (!converged && i < maxIters) {
        val frontier = labels.filter(col("__chg"))
          .select(col(id1).as("__b"), col("cluster_id"))
        // candidate labels reaching each node from the frontier —
        // single consumer, folds into next's lineage unmaterialized
        val prop = edges.join(frontier, "__b")
          .groupBy(col("__a").as(id1)).agg(min("cluster_id").as("__new"))
        val next = labels.join(prop, Seq(id1), "left")
          .select(col(id1),
            least(coalesce(col("__new"), col("cluster_id")),
              col("cluster_id")).as("cluster_id"),
            coalesce(col("__new") < col("cluster_id"), lit(false)).as("__chg"))
          .localCheckpoint(false)
        // one action: materializes the (lazy) checkpoint AND answers
        // convergence (empty frontier)
        converged = next.filter(col("__chg")).count() == 0
        // previous round's checkpoint storage released explicitly
        // (ContextCleaner would get it on GC; long sessions shouldn't
        // wait). Best-effort: a miss just defers to the cleaner.
        ckptRdd(labels).foreach(_.unpersist(blocking = false))
        labels = next
        i += 1
      }
      require(converged, s"dupClusters did not converge in $maxIters rounds " +
        "— component diameter exceeds the bound; raise maxIters")
    } catch {
      case e: Throwable =>
        ckptRdd(labels).foreach(_.unpersist(blocking = false))
        edges.unpersist(); throw e
    }
    edges.unpersist()
    // the caller's contract is a SELF-persisted (id1, cluster_id)
    // frame whose single unpersist() is a complete release (the
    // round-5/6 leak rule: a derived projection would be
    // un-releasable) — strip the frontier flag into a fresh root once,
    // then drop the final checkpoint
    val out = labels.select(col(id1), col("cluster_id")).persist()
    out.count()
    ckptRdd(labels).foreach(_.unpersist(blocking = false))
    out
  }

  /** d21: semantic deduplication (SemDeDup — Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster the embedding corpus with a
    * deterministic coarse k-means, compare pairs ONLY within a
    * cluster, and drop all but the lowest-id member of each
    * cosine-≥-threshold duplicate group. The published recipe's
    * structure exactly: cluster → within-cluster pairwise → keep one.
    *
    * Scale shape: the pairwise step is blocked per cell (the d02
    * bucket-join discipline — never an all-pairs); k scales WITH the
    * corpus (SemDeDup uses ~100k clusters at web scale) so per-cell
    * work stays bounded while total work stays corpus-linear; the
    * transitive keep/drop reuses the audited dupClusters component
    * pass. Fit state is k×dim driver-side (Ivf discipline); cells and
    * cosine are broadcast-literal arithmetic — the only shuffles are
    * the per-cell self-join key and dupClusters' rounds. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, minCosine: Double = 0.9): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val model = Ivf.fit(emb, idCol, vecCol, k)
    val cells = emb.select(col(idCol), col(vecCol),
      Ivf.nearestCell(emb, col(vecCol), model).as("__cell"))
    val a = cells.select(col(idCol).as("id1"), col(vecCol).as("__v1"),
      col("__cell"))
    val b = cells.select(col(idCol).as("id2"), col(vecCol).as("__v2"),
      col("__cell").as("__cell2"))
    val pairs = a.join(b,
        col("__cell") === col("__cell2") && col("id1") < col("id2"))
      .withColumn("sim", Ann.cosine(col("__v1"), col("__v2")))
      .filter(col("sim") >= minCosine)
      .select("id1", "id2")
    val clusters = dupClusters(pairs)
    val out = emb.select(col(idCol))
      .join(clusters.withColumnRenamed("id1", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        (col("cluster_id").isNull || col("cluster_id") === col(idCol))
          .as("keep"))
    // materialize before releasing dupClusters' persisted labels
    val res = out.persist()
    res.count()
    clusters.unpersist()
    res
  }

  /** Raw whitespace token array — kept IDENTICAL to DuckDB's
    * string_split so oracles can mirror it (empties included). */
  def tokens(text: Column): Column = split(text, " ", -1)

  /** Distinct word n-grams ("shingles") of a text column. Mirrors the
    * DuckDB list-comprehension form exactly: grams over the raw token
    * list, joined with single spaces.
    *
    * Built by zipping the token array with its shifted selves: each
    * shift is ONE O(len) slice per row. The obvious
    * transform(sequence, i => element_at(ws, i+o)) form inlines the
    * tokenizer into every element_at call site (Catalyst substitutes,
    * it does not let-bind), going O(len²) per document — measured 10×
    * slower on the bench corpus. */
  def wordNGrams(text: Column, n: Int): Column =
    array_distinct(wordNGramsAll(text, n))

  /** Positional (non-distinct) word n-grams — one entry per span
    * start, so repeated spans keep their multiplicity (spanCoverage
    * counts positions, not gram identities). Native compiled kernel
    * (functions.WordNGramsExpr, one pass, whole-stage codegen) —
    * WordNGramsSpec pins it bit-for-bit to the composed
    * zip-shift-concat_ws form it replaced. */
  def wordNGramsAll(text: Column, n: Int): Column =
    call_function("word_ngrams", tokens(text), lit(n))

  /** All unordered pairs from a sorted id array (used after bucketing;
    * bucket size is capped upstream, so this is bounded). */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), greatest(size(ids) - i - 1, lit(0))), y =>
        struct(x.as("id1"), y.as("id2")))))

  /** Candidate pairs from bucketed rows: group by bucket, cap bucket
    * size (degenerate buckets = boilerplate content; dropping them is
    * standard LSH practice and what keeps the plan non-quadratic),
    * emit in-bucket pairs, dedup across buckets. One shuffle to
    * bucket, one to dedup pairs. Shared with Ann's embedding near-dup.
    *
    * The collection is the capped native aggregate (capped_id_list,
    * functions/CappedIdList.scala), NOT collect_list + size filter:
    * the latter materializes an over-cap bucket's FULL id array
    * before dropping it — one task's memory grows with the largest
    * bucket, and an adversarial boilerplate band shared by 10^8 docs
    * at 100 TB is a single ~800 MB aggregation buffer
    * (dev/dedup_skew_probe_r15.txt). capped_id_list stores at most
    * maxBucket+1 ids per bucket (one past the cap proves the bucket
    * over-sized, evals to NULL), so state is O(cap) at any bucket
    * cardinality — same single-shuffle plan, identical output. */
  private[operators] def bucketPairs(
      bucketed: DataFrame, bucketCols: Seq[String], idCol: String,
      maxBucket: Int): DataFrame = {
    GraftFunctions.ensureRegistered(bucketed.sparkSession)
    bucketed.groupBy(bucketCols.map(col): _*)
      .agg(call_function("capped_id_list",
        col(idCol), lit(maxBucket)).as("__ids"))
      .filter(col("__ids").isNotNull)
      .select(explode(pairsOf(col("__ids"))).as("__p"))
      .select(col("__p.id1").as("id1"), col("__p.id2").as("id2"))
      .distinct()
  }

  /** d10: benchmark decontamination — the training-data hygiene step
    * that keeps eval suites out of the corpus. A corpus document is
    * contaminated when it shares at least `minOverlap` DISTINCT word
    * n-grams with any benchmark document.
    *
    * The benchmark side is small by nature (eval suites are MBs
    * against a 100 TB corpus): its distinct gram set BROADCASTS, so
    * the corpus pays one scan, a broadcast join on the gram, and one
    * per-doc count — never a corpus×benchmark pair blowup, and no
    * shuffle of the corpus text itself (only (id, gram) hits). */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minOverlap: Int = 5): DataFrame = {
    val bg = bench
      .select(explode(wordNGrams(col(textCol), n)).as("__g")).distinct()
    val hits = docs
      .select(col(idCol), explode(wordNGrams(col(textCol), n)).as("__g"))
      .join(broadcast(bg), "__g")
      // grams are distinct within a doc already — count(*) IS the
      // distinct-overlap count
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    docs.join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") >= minOverlap)
  }

  /** d16: duplicated-span coverage — the fraction of a document's
    * word n-gram positions whose span also occurs in ANOTHER document
    * (the span-level dedup signal of the "deduplicating training data"
    * line of work; same-doc repeats are t06's repetition signal, not
    * counted here). Docs above `minCoverage` are flagged for drop.
    *
    * Scale shape: the gram table shuffles twice — once to (doc, gram)
    * multiplicities (map-side partial agg collapses repeats), once to
    * per-gram stats. Cross-doc duplication is decided by
    * min(doc) != max(doc), NOT a countDistinct — min/max keep partial
    * aggregation, and a hot gram (boilerplate phrase) costs two longs
    * of state instead of a distinct-set. The join back on gram is
    * 1-row-per-gram on the stats side; AQE handles residual skew. */
  def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minCoverage: Double = 0.2): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(wordNGramsAll(col(textCol), n)).as("__g"))
      .groupBy("doc_id", "__g").agg(count(lit(1)).as("__cnt"))
    val crossDoc = perDoc.groupBy("__g")
      .agg(min("doc_id").as("__mn"), max("doc_id").as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("__g")
    val dup = perDoc.join(crossDoc, "__g")
      .groupBy("doc_id").agg(sum("__cnt").as("dup_spans"))
    val denom = greatest(col("n_spans"), lit(1L))
    docs
      .select(col(idCol).as("doc_id"),
        greatest(size(tokens(col(textCol))) - (n - 1), lit(0))
          .cast("long").as("n_spans"))
      .join(dup, Seq("doc_id"), "left")
      .withColumn("dup_spans", coalesce(col("dup_spans"), lit(0L)))
      .withColumn("dup_frac", round(col("dup_spans") / denom, 6))
      .withColumn("flagged", col("dup_spans") / denom >= minCoverage)
  }

  /** d02: shingle → MinHash → banded LSH near-dup candidates with
    * estimated Jaccard. The signature is over word SHINGLES (3-grams),
    * not unigram tokens — token sets are near-identical across
    * same-domain documents, shingle sets are discriminative. k
    * minhashes → k/bandRows bands; two docs collide if any band of
    * their signatures agrees. est_jaccard = signature agreement rate
    * (unbiased estimator of shingle-set Jaccard). At 100 TB: tune
    * bandRows up for precision; cost is one scan + three shuffles
    * (bucket, pair-dedup, signature re-join). */
  def minHashLsh(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bandRows: Int = 2, maxBucket: Int = 100,
      minEstJaccard: Double = 0.5, shingleSize: Int = 3): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val numBands = numHashes / bandRows
    // persisted: the signature feeds banding AND both sides of the
    // candidate re-join — without it the md5-per-shingle work runs 3×.
    // Docs with fewer than shingleSize words have an EMPTY shingle set
    // — no signature is defined for them (they would all share the
    // identity signature and pair with each other as false 1.0
    // near-dups), so they are excluded here; minimum-length contract:
    // only docs with ≥ shingleSize words participate in LSH dedup.
    val sig = df.select(col(idCol),
        wordNGrams(col(textCol), shingleSize).as("__gs"))
      .filter(size(col("__gs")) > 0)
      .select(col(idCol),
        call_function("minhash64", col("__gs"), lit(numHashes)).as("__mh"))
      .persist()
    val bands = sig.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
          xxhash64(slice(col("__mh"), b * bandRows + 1, lit(bandRows)))))
          .as(Seq("__band", "__key")))
    val pairs = bucketPairs(bands, Seq("__band", "__key"), idCol, maxBucket)
    val s1 = sig.select(col(idCol).as("id1"), col("__mh").as("__mh1"))
    val s2 = sig.select(col(idCol).as("id2"), col("__mh").as("__mh2"))
    pairs.join(s1, "id1").join(s2, "id2")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("__mh1"), col("__mh2"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id1", "id2", "est_jaccard")
  }

  /** d03: SimHash near-dup — 64-bit fingerprints banded into
    * 64/bandBits chunks; by pigeonhole, any pair within Hamming
    * distance < 64/bandBits MUST agree on some band, so banding is a
    * recall-complete blocker for small distances. Candidates are then
    * verified with an exact popcount on the XOR. */
  def simHashNearDup(
      df: DataFrame, idCol: String, textCol: String,
      bandBits: Int = 16, maxHamming: Int = 4, maxBucket: Int = 1000): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val numBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val sim = df.select(col(idCol),
      call_function("simhash64", tokens(col(textCol))).as("__sh"))
      .persist() // feeds banding + both sides of the verify re-join
    val bands = sim.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
        call_function("shiftrightunsigned", col("__sh"), b * bandBits)
          .bitwiseAND(lit(mask))))
        .as(Seq("__band", "__key")))
    val pairs = bucketPairs(bands, Seq("__band", "__key"), idCol, maxBucket)
    val s1 = sim.select(col(idCol).as("id1"), col("__sh").as("__sh1"))
    val s2 = sim.select(col(idCol).as("id2"), col("__sh").as("__sh2"))
    pairs.join(s1, "id1").join(s2, "id2")
      .withColumn("hamming", bit_count(col("__sh1").bitwiseXOR(col("__sh2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** d24: sub-document chunk dedup with reassembly — the CCNet /
    * paragraph-level pass (Wenzek et al. 2020 dedupe at paragraph
    * granularity; with no newline structure in this corpus the unit
    * is a fixed `chunkWords` word window). Every chunk keeps its
    * GLOBALLY FIRST occurrence (min (doc_id, pos) per chunk hash);
    * all later occurrences — across docs or within one — drop, and
    * each doc is reassembled from its surviving chunks in order.
    *
    * Scale shape — ZERO joins on the chunk hash: the keeper row
    * is `min(struct(doc, pos, txt))` per hash, a partial-agg min, so
    * a boilerplate chunk shared by 10⁶ docs collapses to one row per
    * map partition BEFORE the shuffle (the straggler d04's df-cap
    * exists to avoid never forms). Reassembly is one groupBy(doc) of
    * the kept rows + a left join from the doc table on doc_id —
    * two shuffles total, both on keys the data is already sized for.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 16): DataFrame = {
    val words = split(col(textCol), " ")
    val nChunks = ceil(size(words).cast("double") / chunkWords).cast("int")
    val chunks = df.select(col(idCol), posexplode(transform(
      sequence(lit(0), nChunks - 1),
      i => array_join(slice(words, i * chunkWords + 1, lit(chunkWords)), " "))))
      .toDF(idCol, "__pos", "__txt")
    val keepers = chunks
      .groupBy(md5(col("__txt")).as("__h"))
      .agg(min(struct(col(idCol), col("__pos"), col("__txt"))).as("__k"))
      .select(col("__k")(idCol).as(idCol), col("__k.__pos").as("__pos"),
        col("__k.__txt").as("__txt"))
    val rebuilt = keepers.groupBy(idCol).agg(
      array_join(transform(
        sort_array(collect_list(struct(col("__pos"), col("__txt")))),
        s => s("__txt")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol), nChunks.as("n_chunks"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** d25: duplicated-substring REMOVAL with reassembly — the
    * exact-substring dedup of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): any `spanWords`-
    * token span whose text occurs elsewhere in the corpus keeps only
    * its globally-first (doc, pos) occurrence; every other
    * occurrence's tokens are cut, and docs are rebuilt from the
    * surviving tokens. d16 MEASURES span duplication per doc; this
    * REMOVES it — the paper's suffix-array pass realized over
    * positional grams (same removal contract at span granularity L,
    * without the sequential suffix array; overlapping duplicate
    * spans union their coverage exactly as the paper's byte-range
    * merge does).
    *
    * Scale shape — all stages linear in corpus tokens, no pair
    * joins:
    *  1. positional L-grams (doc, pos, md5) — one scan + explode;
    *  2. first occurrence per gram = partial-agg min(struct(doc,
    *     pos)) (the d24 keeper rule: a boilerplate span shared by
    *     10⁶ docs collapses map-side before the shuffle);
    *  3. duplicate occurrences = occurrences ⋈ first on the hash —
    *     the first side is ONE row per distinct gram, so a hot gram
    *     costs df(gram) join rows, never df² and never one task's
    *     heap; AQE splits residual skew (shape re-adjudicated r20:
    *     see the step-3 comment in the body for the alternatives'
    *     measurements);
    *  4. covered token positions = explode of the L offsets per
    *     duplicate span → distinct (doc, tokpos) — ≤ L × dup-span
    *     rows, partial-agg dedup;
    *  5. rebuild = token table anti-join covered on (doc, tokpos) →
    *     per-doc ordered reassembly (docs are bounded-size, the d24
    *     rebuild discipline). */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val occ = df.select(col(idCol).as("__doc"),
        posexplode(wordNGramsAll(col(textCol), spanWords))
          .as(Seq("__p", "__g")))
      .select(col("__doc"), col("__p"), md5(col("__g")).as("__h"))
    // Keeper-then-join-back, adjudicated across all three candidate
    // shapes in r20 (dev/scale_gate_r20_opt.txt + the r19 A/B):
    //  - r19's single-aggregation (min(struct) + collect_list of every
    //    occurrence) is the local winner but puts df(gram) structs of
    //    a hot boilerplate span into ONE aggregation-buffer row — the
    //    ADVICE r19 OOM risk at 100 TB;
    //  - a hash-partitioned window fixes the buffer but pays a
    //    per-partition SORT of the whole span table: 10x-data ratio
    //    3.36 vs the aggregate's 1.93 — the worst scaler of the three;
    //  - this shape: the keeper aggregate collapses map-side (tiny
    //    state per gram), and the join back streams occurrences
    //    against 1-row-per-gram keepers — a hot gram costs df(gram)
    //    join rows, never df² and never one task's heap; AQE splits
    //    residual skew. Costs a second planting of the span table
    //    (~+0.3 s locally), scales at ratio ~2.3 with bounded state.
    val first = occ.groupBy("__h")
      .agg(min(struct(col("__doc"), col("__p"))).as("__f"))
    val dups = occ.join(first, "__h")
      .filter(col("__doc") =!= col("__f.__doc") ||
        col("__p") =!= col("__f.__p"))
      .select(col("__doc"), col("__p"))
    val covered = dups.select(col("__doc"),
        explode(sequence(col("__p"), col("__p") + (spanWords - 1)))
          .as("__tp"))
      .distinct()
    val toks = df.select(col(idCol).as("__doc"),
      posexplode(tokens(col(textCol))).as(Seq("__tp", "__w")))
    val rebuilt = toks.join(covered, Seq("__doc", "__tp"), "left_anti")
      .groupBy("__doc").agg(
        array_join(transform(
          sort_array(collect_list(struct(col("__tp"), col("__w")))),
          s => s("__w")), " ").as("clean_text"),
        count(lit(1)).as("__n_kept"))
    df.select(col(idCol).as("__doc"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("__doc"), "left")
      .select(col("__doc").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** d04: exact word-n-gram Jaccard over blocked pairs — the VERIFY
    * stage of the dedup funnel (candidates from d02/d03 or any block
    * key). Sparse-similarity-join shape: explode distinct grams, join
    * on (block, gram), count intersections, |A∪B| from per-doc sizes.
    * Never materializes token sets per pair; everything is
    * aggregate-shaped and partial-agg friendly.
    *
    * maxGramDf TUNING RULE (r18 cap-engagement probe,
    * dev/scale_probe_r18.txt): set it BELOW the df your corpus's
    * boilerplate grams reach at operating scale — candidate mass (and
    * wall) is super-linear only while repeated grams sit UNDER the
    * cap, and returns to ~linear once they cross it. Measured on the
    * cap-crossing corpus family (boilerplate df 90 → 900 → 9000 over
    * two 10x-data decades): at the default cap 1000 the mass bound
    * Σ min(df,cap)² grew 52.6x in the under-cap decade, then 12.5x —
    * linear — in the cap-crossed decade, where fully uncapped Σ df²
    * would be ~50x larger than the capped mass. Dropped grams only
    * ever UNDERESTIMATE Jaccard (sizes stay uncapped), so a tighter
    * cap trades recall on boilerplate-only overlap for a hard linear
    * cost bound. Pass [[AutoGramDf]] to derive the cap from the
    * corpus's own df profile ([[autoGramDf]]) instead of applying
    * this rule by hand. */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 2, minJaccard: Double = 0.5, maxGramDf: Int = 10000): DataFrame = {
    // The pair stage emits Σ df(gram)² rows per block, so one
    // boilerplate gram shared by 10⁶ docs would alone produce 10¹²
    // pair rows. Grams with in-block document frequency > maxGramDf
    // are dropped (standard sparse-similarity practice: a gram in
    // everything carries ~no Jaccard signal), bounding pair output at
    // blocks·grams·maxGramDf² — linear in corpus size. |A|,|B| stay
    // the UNCAPPED set sizes, so Jaccard is only ever underestimated,
    // never inflated. Since the r19 single-shuffle core
    // (setJaccardPairs: capped per-gram membership aggregate + pair
    // explode — no df-count pass, no self-join) the gram table is
    // planted ONCE, so the doc-level gram cache the 3-4-planting plan
    // needed is persisted only for the AutoGramDf path, whose df
    // profile is one extra planting. The returned pair-scale frame is
    // persisted + materialized, so the caller's unpersist() is a
    // real, complete release (the dupClusters discipline).
    val docGrams0 = df.select(col(idCol), col(blockCol).as("__blk"),
        wordNGrams(col(textCol), n).as("__gs"))
    val auto = maxGramDf < 0
    val docGrams = if (auto) docGrams0.persist() else docGrams0
    try {
      val grams = docGrams
        .select(col(idCol), col("__blk"), size(col("__gs")).as("__sz"),
          explode(col("__gs")).as("__g"))
      val pairs = setJaccardPairs(grams, idCol, minJaccard, maxGramDf).persist()
      pairs.count()
      pairs
    } finally if (auto) docGrams.unpersist(blocking = false)
  }

  /** d27: n-gram CONTAINMENT near-dup (asymmetric Jaccard,
    * |A∩B| / min(|A|,|B|)) — the subset-duplication catcher Jaccard
    * structurally misses: a tweet-sized doc pasted verbatim into a
    * 10k-word page scores J ≈ |A|/|B| ≈ 0 but containment 1.0. This
    * is the fuzzy-dedup metric the RefinedWeb/CCNet-style pipelines
    * threshold (public recipe descriptions; reference surface has no
    * native analog — brief's dedup family).
    *
    * Same blocked machinery as d04 with ONE deliberate difference: no
    * size-ratio prune on the self-join — containment is exactly the
    * regime where |A| ≪ |B|, so the join bound rests on the df cap
    * alone (still blocks·grams·maxDf², corpus-linear). The df cap
    * only ever UNDERESTIMATES containment, same one-sided contract as
    * d04. */
  def ngramContainment(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 3, minContainment: Double = 0.8, maxGramDf: Int = 10000): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    // Same r19 single-shuffle core as setJaccardPairs (capped per-gram
    // membership aggregate + pair explode — the df-count pass and the
    // (blk, gram) self-join are gone, the gram table crosses the wire
    // once); the ONLY difference from d04 stays: no size-ratio prune —
    // containment lives exactly in the |A| ≪ |B| regime.
    val docGrams0 = df.select(col(idCol), col(blockCol).as("__blk"),
        wordNGrams(col(textCol), n).as("__gs"))
      .filter(size(col("__gs")) > 0)
    val auto = maxGramDf < 0
    val docGrams = if (auto) docGrams0.persist() else docGrams0
    try {
      val grams = docGrams
        .select(col(idCol), col("__blk"), size(col("__gs")).as("__sz"),
          explode(col("__gs")).as("__g"))
      val effDf = if (maxGramDf >= 0) maxGramDf else autoGramDf(grams)
      val pairs = grams.groupBy("__blk", "__g")
        .agg(call_function("capped_id_sz_list",
          col(idCol), col("__sz"), lit(effDf)).as("__es"))
        .filter(col("__es").isNotNull)
        // ratio 0.0: containment lives exactly in the |A| ≪ |B| regime
        .select(explode(call_function("sz_pairs",
          col("__es"), lit(0.0))).as("__p"))
        .select(col("__p.id1").as("id1"), col("__p.s1").as("__s1"),
          col("__p.id2").as("id2"), col("__p.s2").as("__s2"))
        .groupBy("id1", "id2")
        .agg(count(lit(1)).as("__inter"),
          min("__s1").as("__sa"), min("__s2").as("__sb"))
        .withColumn("containment",
          col("__inter").cast("double") / least(col("__sa"), col("__sb")))
        .filter(col("containment") >= minContainment)
        .select("id1", "id2", "containment")
        .persist()
      pairs.count()
      pairs
    } finally if (auto) docGrams.unpersist(blocking = false)
  }

  /** Sentinel for `maxGramDf`: derive the cap from the corpus's own
    * df profile instead of a hand tuning rule (r18 verdict #4 — the
    * cap-engagement probe measured the regime boundary; this
    * operationalizes it). */
  val AutoGramDf: Int = -1

  /** One-pass df-profile knee: bucket every element's in-block
    * document frequency by ceil(log2 df) (a partial-agg-friendly
    * second aggregation on the SAME (block, element) key the hot-set
    * drop shuffles on; the profile itself is ≤ ~32 rows — driver
    * metadata, not data). The cap is the smallest power of two whose
    * df range keeps >= 99% of the DISTINCT vocabulary: content
    * elements are the vocabulary mass and cluster at their natural
    * duplication df, while boilerplate is a vanishing fraction of
    * distinct elements with outsized df — exactly the tail the
    * measured super-linear regime lives in (dev/scale_probe_r18.txt:
    * capped candidate mass grows ~linearly only once boilerplate df
    * crosses the cap). This is the COST-oriented contract: on the
    * D04DenseGen cap-crossing corpus the derived cap lands just above
    * the family df (the probe's cap=min choice) and below the crossed
    * boilerplate df; on a corpus whose heavy-df elements are genuine
    * content the quantile may drop them — use an explicit cap when
    * recall on very large dup clusters matters more than the cost
    * bound. Floored at 64 so a tiny corpus cannot derive a cap that
    * drops ordinary content overlap. */
  private[graft] def autoGramDf(items: DataFrame): Int = {
    val prof = items.groupBy("__blk", "__g")
      .agg(count(lit(1)).as("__df"))
      .groupBy(ceil(log2(col("__df"))).cast("int").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val total = prof.map(_._2).sum
    if (total == 0) return 64
    val budget = math.max(1L, total / 100L) // the 1% vocabulary tail
    var tail = 0L
    var b = prof.last._1
    // walk buckets from the high-df end; stop before the tail budget
    // is exceeded — cap = 2^b keeps every bucket <= b
    val byBucket = prof.toMap
    while (b > 6 && tail + byBucket.getOrElse(b, 0L) <= budget) {
      tail += byBucket.getOrElse(b, 0L)
      b -= 1
    }
    math.max(1 << b, 64)
  }

  /** The blocked exact-set-Jaccard core d04 (word shingles) and m03
    * (binary frame fingerprints) share. `items` holds one row per
    * (id, set element): idCol, `__blk` block key, `__sz` UNCAPPED set
    * size, `__g` element. Elements with in-block df > maxDf drop
    * BEFORE the self-join (the d04 bound: join output ≤
    * blocks·elements·maxDf², linear in corpus size; Jaccard only ever
    * underestimates). `maxDf` = [[AutoGramDf]] derives the cap from
    * the df profile. */
  private[operators] def setJaccardPairs(items: DataFrame, idCol: String,
      minJaccard: Double, maxDf0: Int): DataFrame = {
    GraftFunctions.ensureRegistered(items.sparkSession)
    val maxDf = if (maxDf0 >= 0) maxDf0 else autoGramDf(items)
    // ONE aggregation replaces the former df-count + broadcast-anti +
    // (blk, gram) self-join pipeline (guide §2.3/§2.4): each gram's
    // under-cap (id, set-size) membership is collected by the capped
    // partial aggregate (functions/CappedIdSzList — O(cap) state per
    // gram at ANY df, hot boilerplate grams collapse to a saturated
    // cap+1 buffer map-side BEFORE the shuffle and eval to NULL,
    // exactly the old df > maxDf drop; df = 1 grams are dropped too —
    // they contribute no pairs), and the intersection counts come
    // from exploding each list's unordered pairs instead of joining
    // the gram table against itself. The gram data now crosses the
    // wire ONCE (the groupBy) instead of three-to-four times (count
    // shuffle + both self-join sides), and the pair mass is identical
    // — Σ df(gram)² under-cap rows either way, so the bound and the
    // results are unchanged.
    // sz_pairs: compiled pair explode with the size-ratio prune
    // (J >= t implies min|A|,|B| >= t·max|A|,|B|) applied inline —
    // correctness-preserving, identical arithmetic to the former
    // Column filter, one JVM loop instead of the interpreted
    // transform+slice composition.
    val pairs = items.groupBy("__blk", "__g")
      .agg(call_function("capped_id_sz_list",
        col(idCol), col("__sz"), lit(maxDf)).as("__es"))
      .filter(col("__es").isNotNull)
      .select(explode(call_function("sz_pairs",
        col("__es"), lit(minJaccard))).as("__p"))
      .select(col("__p.id1").as("id1"), col("__p.s1").as("__s1"),
        col("__p.id2").as("id2"), col("__p.s2").as("__s2"))
    pairs
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("__inter"), min("__s1").as("__sa"), min("__s2").as("__sb"))
      .withColumn("jaccard",
        col("__inter").cast("double") / (col("__sa") + col("__sb") - col("__inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id1", "id2", "jaccard")
  }

  /** All unordered (id1, s1, id2, s2) pairs from a capped_id_sz_list
    * array (sorted by id, so i < j gives id1 < id2) — the interpreted
    * composed form, kept as the sz_pairs kernel's parity oracle
    * (DedupSpec), never on a hot path. */
  private[graft] def szPairsOf(entries: Column): Column =
    flatten(transform(entries, (x, i) =>
      transform(
        slice(entries, i + lit(2), greatest(size(entries) - i - 1, lit(0))),
        y => struct(
          x.getField("id").as("id1"), x.getField("sz").as("s1"),
          y.getField("id").as("id2"), y.getField("sz").as("s2")))))
}
