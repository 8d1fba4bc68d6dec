package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The session's generated-class cache holds a whole query pass: running
  * the same queries again compiles almost nothing. Spark's default of 100
  * entries is smaller than the classes one pass of these queries
  * generates, so its LRU evicts each class before the next pass needs it. */
class CodegenCacheSpec extends SparkSpec {

  private val queries = Seq(
    "q06_multi_join", "q13_window_running", "q38b_window_range_supp",
    "q40_window_distribution", "q41_multi_distinct", "q63_range_join_auto",
    "tx_repetition", "tx_gopher_filter", "dd_minhash_sig", "dd_incremental")

  /** Classes compiled while the queries run once. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated pass compiles under a tenth of the classes of the first") {
    // the cache is sized when Spark's code generator first loads, which
    // must come after the session's builder
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt > 100)
    // start from an empty cache, so the first pass compiles every class it
    // generates whatever other suites ran before
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = pass()
    val second = pass()
    assert(first > 100, s"the query set must outgrow Spark's default cache; compiled $first")
    println(s"codegen: first pass $first classes, second pass $second")
    assert(second * 10 < first, s"second pass recompiled $second of $first classes")
  }
}
