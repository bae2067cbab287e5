package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composed training-data curation — the end-to-end funnel the
  * single-purpose operators (Text, Dedup) exist for, plus the
  * deterministic mixing sampler that follows it in a real pipeline.
  */
object Curate {

  /** language ID → quality gate → exact dedup → near-dup removal →
    * per-doc stats, as ONE composed plan:
    *  - every per-document signal (lang scores, quality, token count,
    *    fingerprint) is computed in a single scan-speed projection —
    *    not one pass per stage;
    *  - the only shuffles are the fingerprint window and the bounded
    *    (block, gram) candidate join inside Dedup.ngramJaccard;
    *  - the near-dup drop list (id2 of each surviving pair, keep-the-
    *    lowest-id rule) is broadcast into a left-anti join, so the
    *    surviving corpus never reshuffles.
    */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
      keepLang: String = "en", minQuality: Double = 0.45,
      n: Int = 3, minJaccard: Double = 0.5, maxGramDf: Int = 1000,
      fanScore: DataFrame => DataFrame = identity): DataFrame = {
    val scores = Text.langScores(col(textCol))
    // ONE scoring pass (guide §8: decide with small rows, move big
    // rows once). Every per-document signal (lang scores, quality,
    // token count, fingerprint) is computed in a single scan-speed
    // projection that emits METADATA ONLY — the text column is read
    // by the kernels but never carried. The surviving metadata
    // (~tens of bytes/doc — the guide's "80 GB for 2 billion rows"
    // regime, not corpus-sized) is persisted so both consumers (the
    // exact-dedup keeper aggregate and the final anti-join) read it
    // instead of re-running the signal kernels over the full corpus;
    // it is unpersisted before return, so the release is complete.
    // `fanScore` (callers pass the scale-adaptive fanOut) applies to
    // THIS scoring input only: the signal kernels are the funnel's one
    // compute-bound stage, while the text re-attach below is a plain
    // scan that would pay a fan exchange for nothing.
    val scoredMeta = fanScore(docs).select(
        col(idCol),
        Text.predictedLang(scores).as("predicted"),
        Text.qualityScore(col(textCol)).as("quality"),
        Text.wsTokenCount(col(textCol)).as("n_tokens"),
        Text.fingerprint(col(textCol)).as("__fp"))
      .filter(col("predicted") === keepLang && col("quality") >= minQuality)
      .persist()
    try {
      // exact dedup as an AGGREGATE, not a window: "first row per
      // fingerprint" = lexicographic min(struct(id, …)) — id is
      // unique, so the id field alone decides. The partial agg
      // collapses each fingerprint's rows map-side BEFORE the shuffle
      // (the j08_any pattern), and the exchange carries metadata only
      // (guide §2.3: project before the exchange — text is ~95% of
      // the surviving rows' bytes and never crosses it at all now).
      val exactMeta = scoredMeta
        .groupBy("__fp")
        .agg(min(struct(col(idCol), col("predicted"),
          col("quality"), col("n_tokens"))).as("__m"))
        .select(col(s"__m.$idCol").as(idCol),
          col("__m.predicted").as("predicted"),
          col("__m.quality").as("quality"),
          col("__m.n_tokens").as("n_tokens"))
      // re-attach text to the exact-dedup keepers for the gram
      // pipeline only — a plain (id, text) scan with NO signal
      // kernels, joined on the unique id (locally the keeper metadata
      // broadcasts; at scale this is the one text exchange, replacing
      // the fingerprint exchange that used to carry text). Keeper set
      // and text values are identical: id decided the min(struct)
      // before and decides the join now.
      val keeperDocs = docs.select(col(idCol), col(textCol))
        .join(exactMeta.select(col(idCol), col("predicted")), Seq(idCol))
      // ngramJaccard returns its pair-scale result as a persisted,
      // already-materialized handle (its internal gram cache is
      // released before it returns), so the broadcast drop list below
      // reads a cache instead of re-running the gram pipeline. The
      // funnel's own output — doc-id-level metadata, NO text column —
      // materializes into the returned persisted frame while that
      // pair cache is live, then the pair cache is released: the
      // caller's unpersist() on the returned handle is a real,
      // complete release (the dupClusters/semanticDedup discipline).
      val pairs = Dedup.ngramJaccard(keeperDocs, idCol, textCol, "predicted",
        n, minJaccard, maxGramDf)
      try {
        val drop = pairs.select(col("id2").as(idCol)).distinct()
        val res = exactMeta.join(broadcast(drop), Seq(idCol), "left_anti")
          .select(col(idCol), col("predicted"), col("quality"), col("n_tokens"))
          .persist()
        res.count()
        res
      } finally pairs.unpersist(blocking = false)
    } finally scoredMeta.unpersist(blocking = false)
  }

  /** The end-to-end pretraining corpus build — what everything in
    * this package composes into: curation funnel (lang-ID → quality →
    * exact dedup → near-dup removal) over the non-benchmark corpus,
    * benchmark decontamination of the survivors, then the
    * deterministic stratified mixing sample. Every stage is the same
    * audited building block its standalone key uses, so the scale
    * posture (one-scan signals, bounded joins, broadcast drop lists,
    * salted two-phase sampling) is inherited, and the whole output is
    * DuckDB-oracle-able end to end. */
  def pretrain(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, isBench: Column, caps: Map[String, Int],
      defaultCap: Int, minOverlap: Int = 5,
      fanScore: DataFrame => DataFrame = identity): DataFrame = {
    val corpus = docs.filter(!isBench)
    val bench = docs.filter(isBench)
    val kept = funnel(corpus, idCol, textCol, fanScore = fanScore)
    try {
      // re-attach text + stratum for decontamination and mixing (the
      // funnel deliberately drops text from its output)
      val keptDocs = docs
        .select(col(idCol), col(strataCol), col(textCol))
        .join(kept, Seq(idCol))
      val clean = Dedup.decontaminate(keptDocs, bench, idCol, textCol,
          minOverlap = minOverlap)
        .filter(!col("contaminated"))
        .drop(textCol, "n_hits", "contaminated")
      // materialize the (cap-bounded) mix before releasing the
      // funnel's persisted survivors — the semanticDedup epilogue
      val res = mixSample(clean, idCol, strataCol, caps, defaultCap).persist()
      res.count()
      res
    } finally kept.unpersist(blocking = false)
  }

  /** Deterministic stratified sampling for corpus mixing: keep the
    * first `cap(stratum)` documents of each stratum in id-HASH order —
    * an unbiased, seedless, engine-portable pick (md5 of the id
    * renders identically everywhere, unlike RNG sampling).
    *
    * Strata are mixing sources — single digits of them — so a window
    * partitioned on the bare strata column would sort an entire
    * stratum on ONE task at 100 TB. Instead: two-phase top-k.
    * Phase 1 salts each stratum into `salts` sub-partitions and takes
    * a LOCAL `row_number ≤ cap` per (stratum, salt) — exact, because
    * a row's rank within its salt group is ≤ its rank within the
    * stratum, so every true top-cap row survives. Phase 2 re-ranks
    * only the ≤ cap×salts survivors per stratum — the same `pick`
    * values the one-window plan would emit, without the global sort.
    * Caps are the mixing weights, so output size is Σ caps regardless
    * of corpus size.
    */
  def mixSample(docs: DataFrame, idCol: String, strataCol: String,
      caps: Map[String, Int], defaultCap: Int, salts: Int = 64): DataFrame = {
    val capCol: Column = caps.foldLeft(lit(defaultCap)) {
      case (acc, (s, k)) => when(col(strataCol) === s, k).otherwise(acc)
    }
    topKByHash(docs, idCol, strataCol, capCol, salts)
  }

  /** The shared two-phase per-stratum top-k (see mixSample's doc for
    * the exactness argument). `capCol` may be any expression valid on
    * `docs`' columns — a literal/when chain (mixSample) or a joined
    * per-stratum column (temperatureMix). */
  private def topKByHash(docs: DataFrame, idCol: String, strataCol: String,
      capCol: Column, salts: Int): DataFrame = {
    val local = docs
      .withColumn("__h", md5(col(idCol).cast("string")))
      .withColumn("__salt", pmod(xxhash64(col(idCol).cast("string")), lit(salts)))
      .withColumn("__lrn", row_number().over(
        Window.partitionBy(col(strataCol), col("__salt"))
          .orderBy(col("__h"), col(idCol))))
      .filter(col("__lrn") <= capCol)
    local
      .withColumn("__pick", row_number().over(
        Window.partitionBy(strataCol).orderBy(col("__h"), col(idCol))))
      .filter(col("__pick") <= capCol)
      .drop("__h", "__salt", "__lrn")
      .withColumnRenamed("__pick", "pick")
  }

  /** Temperature-weighted corpus mixing: per-source keep counts
    * ∝ n_s^alpha (alpha < 1 upweights small sources — the standard
    * pretraining mixture), realized as the same deterministic
    * two-phase md5-order top-k t05 uses, with the caps COMPUTED from
    * the data instead of given:
    *   cap_s = budget · w_s / Σw,  w_s = round(n_s^alpha · 10^6).
    * Weights round to integers BEFORE normalizing so cap arithmetic is
    * exact long division — no cross-engine float summation-order drift
    * can flip a floor. alpha = 0.5 routes through sqrt (correctly
    * rounded per IEEE 754, unlike pow, so it is bit-identical across
    * engines). Source counts are one partial-aggregated scan; the
    * weight total is a 1-row broadcast; caps broadcast-join back onto
    * the corpus — nothing corpus-sized shuffles beyond the sampler's
    * own salted top-k.
    */
  def temperatureMix(docs: DataFrame, idCol: String, strataCol: String,
      budget: Long, alpha: Double = 0.5, salts: Int = 64): DataFrame = {
    val counts = docs.groupBy(strataCol).agg(count(lit(1)).as("__ns"))
    val wExpr = if (alpha == 0.5) sqrt(col("__ns")) else pow(col("__ns"), alpha)
    val weights = counts.withColumn("__w",
      round(wExpr * 1000000).cast("long"))
    val caps = weights
      .crossJoin(broadcast(weights.agg(sum(col("__w")).as("__wsum"))))
      .withColumn("__cap", expr(s"($budget * __w) div __wsum"))
      .select(col(strataCol), col("__cap"))
    val withCap = docs.join(broadcast(caps), Seq(strataCol))
    topKByHash(withCap, idCol, strataCol, col("__cap"), salts)
      .drop("__cap")
  }

  /** Concat-and-chunk sequence packing — the standard pretraining
    * batch prep: documents are laid out in one deterministic global
    * order (md5 of the id — seedless, engine-portable), one separator
    * token between docs, and the token stream is cut into fixed
    * `seqLen` training sequences. Emits, per document, its global
    * token offset and which sequence/offset it lands in.
    *
    * The global running token count is a DISTRIBUTED prefix sum, not a
    * global window: the first `prefixChars` hex chars of the md5 are
    * an order-preserving bucket (a prefix of the sort key), so
    *  - phase 1 computes per-bucket cumulative sums in a window
    *    partitioned by bucket;
    *  - phase 2 lifts the 16^prefixChars per-bucket totals to the
    *    driver (metadata-scale, like Ivf's centroids), prefix-sums
    *    them, and broadcast-joins the exclusive bucket offsets back.
    * Per-task work is corpus/16^prefixChars: 2 hex chars (256 tasks)
    * fits the test SFs; at 100 TB set prefixChars = 4–5 (65k–1M
    * buckets) so a bucket's token stream fits one task. All arithmetic
    * is exact long math — the result is byte-identical to the
    * single-window spelling at any bucket count.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int = 2048, sepTokens: Int = 1, prefixChars: Int = 2): DataFrame = {
    require(seqLen > 0 && sepTokens >= 0 && prefixChars >= 1)
    val toks = docs.select(
        col(idCol),
        Text.wsTokenCount(col(textCol)).as("n_tokens"),
        md5(col(idCol).cast("string")).as("__h"))
      .withColumn("__n", col("n_tokens") + lit(sepTokens))
      .withColumn("__bkt", substring(col("__h"), 1, prefixChars))
    val local = toks.withColumn("__cum_local",
      sum(col("__n").cast("long")).over(
        Window.partitionBy("__bkt").orderBy(col("__h"), col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bucketTotals = local.groupBy("__bkt")
      .agg(max(col("__cum_local")).as("__tot"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets: Seq[(String, Long)] =
      if (bucketTotals.isEmpty) Seq.empty
      else bucketTotals
        .scanLeft(("", 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
        .sliding(2).map { case Array((_, off), (b, _)) => (b, off) }.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__bkt", "__off"))
    local.join(offDf, Seq("__bkt"))
      .withColumn("__cum", col("__off") + col("__cum_local"))
      .withColumn("start_off", col("__cum") - col("__n"))
      .select(
        col(idCol), col("n_tokens"), col("start_off"),
        expr(s"start_off div $seqLen").as("seq_id"),
        (col("start_off") % seqLen).as("seq_off"),
        (expr(s"(__cum - 1) div $seqLen") -
          expr(s"start_off div $seqLen") + 1).as("n_seqs"))
  }

  /** Deterministic global corpus shuffle — the "shuffle the whole
    * corpus before training" step every pretraining pipeline runs.
    * Each document gets a shard (0..nShards-1) and a position within
    * its shard, derived from the document's rank in seedless md5
    * order; shards are STRIDED over that order (shard = rank mod N,
    * pos = rank div N), so every shard is a uniform sample of the
    * corpus and shard sizes differ by at most one — no hot shard, no
    * RNG, identical output on any cluster size.
    *
    * The global rank is the same distributed prefix sum packSequences
    * uses (md5-prefix buckets → per-bucket window → metadata-scale
    * driver scan of 16^prefixChars bucket totals → broadcast offsets),
    * NOT a global window: per-task work is corpus/16^prefixChars. At
    * 100 TB raise prefixChars to 4–5 so a bucket fits one task.
    */
  def globalShuffle(docs: DataFrame, idCol: String, nShards: Int,
      prefixChars: Int = 2): DataFrame = {
    require(nShards > 0 && prefixChars >= 1)
    val base = docs
      .select(col(idCol), md5(col(idCol).cast("string")).as("__h"))
      .withColumn("__bkt", substring(col("__h"), 1, prefixChars))
    val local = base.withColumn("__lrn",
      row_number().over(
        Window.partitionBy("__bkt").orderBy(col("__h"), col(idCol)))
        .cast("long"))
    val bucketTotals = local.groupBy("__bkt")
      .agg(max(col("__lrn")).as("__tot"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets: Seq[(String, Long)] =
      if (bucketTotals.isEmpty) Seq.empty
      else bucketTotals
        .scanLeft(("", 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
        .sliding(2).collect { case Array((_, off), (b, _)) => (b, off) }.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__bkt", "__off"))
    local.join(offDf, Seq("__bkt"))
      .withColumn("__rank", col("__off") + col("__lrn") - 1)
      .select(col(idCol),
        pmod(col("__rank"), lit(nShards)).cast("int").as("shard"),
        expr(s"__rank div $nShards").as("pos"))
  }

  /** Size-balanced output sharding — the "write the final dataset as
    * ~equal-size shards" step (WebDataset/TFRecord-style shard files,
    * where a size-skewed shard becomes the slow file every epoch).
    * Documents are laid out in seedless md5 order (same decorrelated
    * order globalShuffle uses), their sizes prefix-summed, and a doc
    * starts shard k when its exclusive cumulative size crosses
    * k·shardSize — docs are never split, so shards exceed the budget
    * by at most one document. Deterministic on any cluster size.
    *
    * Same distributed prefix sum as packSequences (md5-prefix buckets
    * → per-bucket window → metadata-scale driver scan of the bucket
    * totals → broadcast offsets), never a global window; at 100 TB
    * raise prefixChars so one bucket fits one task.
    */
  def shardBySize(docs: DataFrame, idCol: String, sizeCol: Column,
      shardSize: Long, prefixChars: Int = 2): DataFrame = {
    require(shardSize > 0 && prefixChars >= 1)
    val sized = docs.select(col(idCol), sizeCol.cast("long").as("n_size"),
        md5(col(idCol).cast("string")).as("__h"))
      .withColumn("__bkt", substring(col("__h"), 1, prefixChars))
    val local = sized.withColumn("__cum_local",
      sum(col("n_size")).over(
        Window.partitionBy("__bkt").orderBy(col("__h"), col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bucketTotals = local.groupBy("__bkt")
      .agg(max(col("__cum_local")).as("__tot"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets: Seq[(String, Long)] =
      if (bucketTotals.isEmpty) Seq.empty
      else bucketTotals
        .scanLeft(("", 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
        .sliding(2).collect { case Array((_, off), (b, _)) => (b, off) }.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__bkt", "__off"))
    local.join(offDf, Seq("__bkt"))
      .withColumn("__start", col("__off") + col("__cum_local") - col("n_size"))
      .select(col(idCol), col("n_size"),
        col("__start").as("start_off"),
        expr(s"__start div $shardSize").cast("int").as("shard"))
  }

  /** Stable train/val/test assignment — the split that must never
    * move when the corpus is re-processed (a document changing split
    * between runs leaks eval data into training). The split is a pure
    * function of the id: the first 4 hex digits of
    * md5('split:' ‖ id) give a uniform bucket in [0, 65536), cut at
    * integer thresholds ⌊65536·trainPct/100⌋ and
    * ⌊65536·(trainPct+valPct)/100⌋ — exact integer compares, no float
    * fractions to drift cross-engine. The 'split:' salt decorrelates
    * the assignment from every other md5(id) use in this package
    * (sampling, sharding), so being sampled never biases the split.
    * Scan-speed column arithmetic: no shuffle, no state.
    */
  def datasetSplit(docs: DataFrame, idCol: String,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    val trainTh = 65536L * trainPct / 100
    val valTh = 65536L * (trainPct + valPct) / 100
    val bucket = conv(
      substring(md5(concat(lit("split:"), col(idCol).cast("string"))), 1, 4),
      16, 10).cast("long")
    docs.withColumn("split",
      when(bucket < trainTh, "train")
        .when(bucket < valTh, "val")
        .otherwise("test"))
  }
}
