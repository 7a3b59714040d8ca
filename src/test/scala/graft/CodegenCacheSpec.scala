package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graft.InternalBridge
import org.apache.spark.sql.internal.StaticSQLConf

/** Spark's generated-class cache holds the engine's working set, so a
  * repeated job compiles nothing. The cache is keyed on (context class
  * loader, source): in local mode each stage takes one entry for the
  * driver's validation compile and one for the task's, and Spark's default
  * of 100 entries made every repeated job of more than ~50 stages miss on
  * every lookup. */
class CodegenCacheSpec extends SparkSpec {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("sizeCodegenCache fills in a missing size and keeps a user's") {
    val unset = new SparkConf(false)
    InternalBridge.sizeCodegenCache(unset, 1024)
    assert(unset.get(key) == "1024")
    val user = new SparkConf(false).set(key, "7")
    InternalBridge.sizeCodegenCache(user, 1024)
    assert(user.get(key) == "7")
  }

  test("a repeated pass of 80 distinct aggregates (>100 generated classes) compiles nothing") {
    // each query's partial-aggregate stage embeds its own literal, so the
    // 80 queries need 80 distinct classes under each of the two loaders
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (i <- 1 to 80) spark.range(1000).selectExpr(s"sum(id * $i)").collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    assert(first > 100, s"the first pass compiled only $first classes: not beyond Spark's default cache")
    val second = pass()
    assert(second == 0, s"the repeated pass recompiled $second of the first pass's $first classes")
  }
}
