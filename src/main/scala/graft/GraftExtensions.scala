package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point — the zero-code way to get the
  * whole graft surface (native SimHash64/MinHash64 expressions + the
  * ClickHouse-dialect function names) in any session:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *
  * Functions are injected under the same rule ensureRegistered
  * applies (GraftFunctions.installed): names Spark already defines keep
  * Spark's builder, except the few whose dialect semantics differ
  * (`median`, the bounded reservoir), which are replaced from the
  * session's first statement.
  *
  * Plan rules: `ProjectionRewrite` and `CastTransformRewrite`
  * (optimizer), `DecSumRewrite` (pre-CBO) and `SortOnOnePartition`,
  * an AQE runtime rule that sorts a total order over at most one
  * minimum partition in that partition, without a range exchange.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.installed.foreach(ext.injectFunction)
    // projection auto-selection: matching aggregates over a table with
    // a declared PROJECTION read the materialized summary instead
    ext.injectOptimizerRule(session => graft.plans.ProjectionRewrite(session))
    // transform(arr, x -> casts(x)) → array-level Cast (codegen'd)
    ext.injectOptimizerRule(session => graft.plans.CastTransformRewrite(session))
    // long-backed decimal SUM → DecSumExact; pre-CBO, so it runs after
    // ProjectionRewrite has matched Sum
    ext.injectPreCBORule(_ => graft.plans.DecSumRewrite)
    // AQE runtime rule: a total order over at most one minimum
    // partition of materialized input sorts in that partition, with no
    // range exchange and no sampling job
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SortOnOnePartition)
  }
}
