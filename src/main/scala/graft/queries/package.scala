package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-registry plumbing shared by all operator groups.
  *
  * Determinism discipline (the driver hash-compares against DuckDB):
  *  - every query ends in a TOTAL deterministic ORDER BY, mirrored in
  *    the oracle SQL;
  *  - floating aggregates go through decimal(18,2) so the arithmetic
  *    is exact and engine/partition-order independent, then cast back
  *    to double (bit-identical in both engines);
  *  - inherently-float stats (corr/stddev) are rounded;
  *  - ORDER BY columns are never nullable unless null placement is
  *    spelled out on both sides (Spark asc = NULLS FIRST, DuckDB asc =
  *    NULLS LAST by default).
  */
package object queries {
  type QFn = (SparkSession, String) => DataFrame
  type QSqlFn = (SparkSession, String) => String

  /** A registered query: Spark plan + optional DuckDB oracle SQL.
    * No oracle ⇒ the driver records a weaker rows-only check and a
    * ScalaTest spec carries the semantics instead.
    *
    * `dynOracle` is the third kind (r10 verdict item 1): oracle SQL
    * that depends on fitted-model state — the k-means FIT stays
    * spec-verified (no portable ANSI spelling), but its centroid
    * matrix is spliced into the SQL as literals so the DETERMINISTIC
    * half (quantize / ADC scoring / probed search) is hash-verified
    * against DuckDB like any static oracle. Verify merges these into
    * oracle_sql.json per (session, sf dir). */
  final case class Q(fn: QFn, oracle: Option[String],
      dynOracle: Option[QSqlFn] = None)
  object Q {
    def apply(sql: String)(fn: QFn): Q = Q(fn, Some(sql))
    def rowsOnly(fn: QFn): Q = Q(fn, None)
    def dynamic(sqlFn: QSqlFn)(fn: QFn): Q = Q(fn, None, Some(sqlFn))
  }

  /** Run `f` in a fresh temp directory named after `prefix`, then
    * delete the directory and its files (`.idx` and `.proto` included).
    * The keys that use it adopt their file through a reader that builds
    * the frame on the driver, so the frame `f` returns no longer reads
    * the directory. */
  def withScratchDir[T](prefix: String)(f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Scale-adaptive fan-out for compute-heavy map work (guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"): the local testdata tables are single-row-group
    * parquet files, so Spark's split planner can give the scan stage
    * at most ONE partition — every per-row kernel downstream (codec
    * decode, regex/text signals, gram hashing) would run on one core
    * of `local[N]`. When the scan yields fewer splits than the
    * cluster's parallelism, redistribute the (tiny) rows once before
    * the heavy work; when the input already has ≥ parallelism splits
    * — the 100 TB case — this is a NO-OP, so no corpus-scale shuffle
    * is ever introduced. The repartition cost here is a few hundred
    * KB of ids/text crossing one exchange, against a 32× speedup of
    * the kernel stage. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact money arithmetic: double → decimal(12,2). Precision sized to
    * the data (money < 10^10) so products against rate() stay long-backed
    * (≤ precision 18) instead of promoting to boxed precision-38 Decimals
    * — the y01 pattern, measured ~13× faster on the q01 shape. */
  def dec(c: Column): Column = c.cast("decimal(12,2)")
  /** Exact rate arithmetic (discount/tax < 10): double → decimal(4,2). */
  def rate(c: Column): Column = c.cast("decimal(4,2)")
  /** Partial-agg-friendly exact sum of a money column, back to double.
    * The decimal(12,2) sum runs on DecSumExact's long accumulator
    * (plans/DecSumRewrite), as every long-backed decimal sum does. */
  def moneySum(c: Column): Column = sum(dec(c)).cast("double")
  /** Deterministic average: exact decimal sum, then one IEEE division. */
  def moneyAvg(c: Column): Column = sum(dec(c)).cast("double") / count(c)
}
