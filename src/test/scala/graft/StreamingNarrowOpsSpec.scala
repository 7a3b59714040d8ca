package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.{TextFunctions => T}

/** The new per-row kernels are NARROW expressions, so they must run
  * unchanged inside Structured Streaming micro-batches — that is the
  * streaming face of the cleanup/filter pipeline (clean → bloom-prefilter →
  * score a live crawl as it lands). Each test runs the SAME rows through a
  * MemoryStream and through batch and requires identical results. */
class StreamingNarrowOpsSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (1L, "the cat sat"),
    (2L, "café bar bar"),
    (3L, "zzqq zz"),
    (4L, ""))

  private def streamed(name: String, session: org.apache.spark.sql.SparkSession = spark)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = session.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = f(in.toDF.toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      session.table(name).orderBy("doc_id").collect().toSeq
    } finally q.stop()
  }

  test("cleanText: stream == batch") {
    def pipe(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), T.cleanText(col("text")).as("cleaned"))
    val got = streamed("graft_stream_clean")(pipe)
    val want = pipe(rows.toDF("doc_id", "text")).orderBy("doc_id").collect().toSeq
    assert(got.map(_.toString) == want.map(_.toString))
  }

  test("bloom prefilter: stream == batch") {
    val f = BloomFilter.create(64, 0.01)
    // insert fingerprints of two known texts via a tiny batch pass
    val fps = Seq("the cat sat", "zzqq zz").toDF("text")
      .select(T.fingerprint(col("text"))).as[Long].collect()
    fps.foreach(f.putLong)
    val bytes = graft.plans.BloomExprs.serialize(f)
    def pipe(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.plans.BloomExprs.mightContain(T.fingerprint(T.cleanText(col("text"))), bytes)
          .as("seen_before"))
    val got = streamed("graft_stream_bloom")(pipe)
    val want = pipe(rows.toDF("doc_id", "text")).orderBy("doc_id").collect().toSeq
    assert(got.map(_.toString) == want.map(_.toString))
    // the cleaned doc 1 ("the cat sat") must hit the filter
    assert(got.find(_.getLong(0) == 1L).get.getBoolean(1))
  }

  test("DSIR score: stream == batch") {
    val table = Array.tabulate(1 << 8)(i => (i % 7) * 0.25 - 0.5)
    def pipe(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        call_function("graft_dsir_score", T.tokens(col("text")), lit(table)).as("w"))
    // graft_dsir_score is reached by its SQL name: run on the extensions session
    val got = streamed("graft_stream_dsir", extSpark)(pipe)
    val want = pipe(extSpark.createDataFrame(rows).toDF("doc_id", "text"))
      .orderBy("doc_id").collect().toSeq
    assert(got.map(_.toString) == want.map(_.toString))
  }

  test("suggestStatePartitions: smallest count whose per-partition state fits the budget") {
    import graft.streaming.StreamOps.suggestStatePartitions
    // the measured q77s curve's two anchor points (r13 decomposition +
    // r15 sf10 probe): sf0.1 buffers ~9 MB (40k rows x ~225 B) -> 1
    // partition — the single-digit optimum the q77s face gates; the sf10
    // probe's ~3 GB heap-resident state -> 12 partitions at the 256 MB
    // default budget
    assert(suggestStatePartitions(20000, 2, 225) == 1)
    assert(suggestStatePartitions(2.0e6, 2, 750) == 12)
    // monotone in every volume input; inverse in the budget
    assert(suggestStatePartitions(4.0e6, 2, 750) >= 23)
    assert(suggestStatePartitions(2.0e6, 2, 750, maxPartitionStateBytes = 128L << 20) == 23)
    // zero traffic still returns a runnable count
    assert(suggestStatePartitions(0, 3600, 225) == 1)
  }

  test("sizedStatePartitionsForInput: partitions track input volume, not the session default") {
    import graft.streaming.StreamOps.sizedStatePartitionsForInput
    val dir = java.nio.file.Files.createTempDirectory("graft_sized_sp").toString
    spark.range(1000).toDF("id").write.mode("overwrite").parquet(dir)
    // a few-KB fixture sizes to 1 partition regardless of the session's
    // 32-partition default (guide §2: partitioning derives from data)
    assert(sizedStatePartitionsForInput(spark, Seq(dir)) == 1)
    // the budget conf is the scale dial: shrink it and the SAME input
    // derives proportionally more partitions (what a 100x SF does to the
    // default budget)
    val child = spark.newSession()
    child.conf.set("spark.graft.streaming.maxPartitionStateBytes", "4096")
    val n = sizedStatePartitionsForInput(child, Seq(dir))
    assert(n > 1, s"expected >1 partitions under a 4 KiB budget, got $n")
    // a missing path contributes zero bytes instead of failing the drive
    assert(sizedStatePartitionsForInput(spark, Seq(dir + "_nope")) == 1)
  }
}
