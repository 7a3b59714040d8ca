package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graft.InternalBridge
import org.apache.spark.sql.internal.StaticSQLConf
import graft.streaming.{ForkFreeCheckpointFileManager, StreamOps}

/** Spark's generated-class cache holds the engine's working set, so a
  * repeated job compiles nothing. The cache is keyed on (context class
  * loader, source): in local mode each stage takes one entry for the
  * driver's validation compile and one for the task's, and Spark's default
  * of 100 entries made every repeated job of more than ~50 stages miss on
  * every lookup. */
class CodegenCacheSpec extends SparkSpec {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
  private val checkpointKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("setEngineDefaults fills in every missing default and keeps a user's") {
    val unset = new SparkConf(false)
    InternalBridge.setEngineDefaults(unset)
    assert(unset.get(key) == "1024")
    assert(unset.get(checkpointKey) == classOf[ForkFreeCheckpointFileManager].getName)
    val user = new SparkConf(false).set(key, "7").set(checkpointKey, "my.Manager")
    InternalBridge.setEngineDefaults(user)
    assert(user.get(key) == "7")
    assert(user.get(checkpointKey) == "my.Manager")
  }

  test("a repeated pass of 80 distinct aggregates (>100 generated classes) compiles nothing") {
    // each query's partial-aggregate stage embeds its own literal, so the
    // 80 queries need 80 distinct classes under each of the two loaders
    def pass(): Long =
      compiles(for (i <- 1 to 80) spark.range(1000).selectExpr(s"sum(id * $i)").collect())
    val first = pass()
    assert(first > 100, s"the first pass compiled only $first classes: not beyond Spark's default cache")
    val second = pass()
    assert(second == 0, s"the repeated pass recompiled $second of the first pass's $first classes")
  }

  test("a second start of the same interval-join stream under withStatePartitions compiles nothing") {
    // every started query runs on a clone of its session; with per-session
    // artifact class loaders each start's tasks got a new loader, missed
    // the loader-keyed cache and compiled the stream's classes again
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_codegen_stream").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    Seq((1L, new java.sql.Timestamp(t0 + 10000), 5.0), (2L, new java.sql.Timestamp(t0 + 20000), 7.0))
      .toDF("k", "lts", "lv").write.parquet(s"$root/l")
    Seq((1L, new java.sql.Timestamp(t0 + 5000), 1.0), (2L, new java.sql.Timestamp(t0 + 19000), 3.0))
      .toDF("k", "rts", "rv").write.parquet(s"$root/r")
    def start(run: Int): Unit = StreamOps.withStatePartitions(spark, 2) { s =>
      val out = StreamOps.intervalJoin(
        s.readStream.schema(s.read.parquet(s"$root/l").schema).parquet(s"$root/l"),
        s.readStream.schema(s.read.parquet(s"$root/r").schema).parquet(s"$root/r"),
        "lts", "rts", by = Seq(("k", "k")), before = "15m", after = "0s",
        watermark = "0 seconds", joinType = "full_outer")
      val q = StreamOps.sinkFileStream(out, "parquet", s"$root/out$run", s"$root/ckpt$run",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try q.processAllAvailable() finally { q.stop(); StreamOps.releaseStateStores() }
    }
    val first = compiles(start(1))
    assert(first > 0, "the first start compiled nothing: the test measures no stream classes")
    val second = compiles(start(2))
    assert(second == 0, s"the second start recompiled $second of the first start's $first classes")
    assert(spark.read.parquet(s"$root/out2").count() == spark.read.parquet(s"$root/out1").count())
  }
}
