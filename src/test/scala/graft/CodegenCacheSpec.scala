package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The codegen cache holds an analyst session's working set: a second
  * pass over the same queries reuses every generated class instead of
  * recompiling it. With Spark's 100-entry default the nine queries
  * below (~190 classes a round) evict each other and the second pass
  * recompiles almost all of them.
  */
class CodegenCacheSpec extends SparkSpec {
  /** The analyst-session pool: four dashboard queries, four heavier
    * reference analyses and one dedup resolve. */
  private val pool = Seq(
    "q01_agg_pushdown", "q08_topk_per_group", "q12_rollup", "q16_anti_join",
    "q05_window_rank", "q13_cube", "q20_funnel_cte", "q59_cohort_performance",
    "q45_dedup_resolve")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs every pool query once with all columns materialized; returns
    * the number of classes compiled meanwhile. */
  private def pass(): Long = {
    val before = compiles()
    pool.foreach { name =>
      run(name).collect()
      spark.catalog.clearCache()
    }
    compiles() - before
  }

  test("session sets the codegen cache capacity to the engine constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("analyst-session pool: second pass recompiles at most 2 classes") {
    val first = pass()
    val second = pass()
    assert(second <= 2, s"second pass compiled $second classes (first pass $first)")
  }
}
