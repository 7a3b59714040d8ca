package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Misra–Gries heavy hitters (graft_topfreq): the three mergeable-summary
  * invariants vs exact counts, under randomized streams and partitionings. */
class FreqSpec extends SparkSpec {
  import spark.implicits._

  /** (token, est) entries of the sketch over `rows` at `parts` partitions. */
  private def sketch(rows: Seq[Seq[String]], k: Int, parts: Int): Map[String, Long] =
    rows.toDF("toks").repartition(parts)
      .agg(T.heavyHitters(col("toks"), k).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est")).as[(String, Long)]
      .collect().toMap

  private def assertContract(got: Map[String, Long], rows: Seq[Seq[String]],
                             k: Int, tag: String): Unit = {
    val exact = rows.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.iterator.map(_.size.toLong).sum
    val err = n / (k + 1) // integer floor; the true error count is an integer
    assert(got.size <= k, s"sketch tracked ${got.size} > k=$k ($tag)")
    got.foreach { case (t, est) =>
      assert(est <= exact(t), s"overestimate: $t est=$est true=${exact(t)} ($tag)")
      assert(exact(t) - est <= err,
        s"error bound: $t est=$est true=${exact(t)} err>$err n=$n k=$k ($tag)")
    }
    exact.foreach { case (t, c) =>
      if (c > err) assert(got.contains(t),
        s"guaranteed item missing: $t cnt=$c > n/(k+1)=$err ($tag)")
    }
  }

  private def checkContract(rows: Seq[Seq[String]], k: Int, parts: Int): Unit =
    assertContract(sketch(rows, k, parts), rows, k, s"parts=$parts")

  test("MG contract: zipf-ish random streams × k × partitionings") {
    for (seed <- 11 to 13; k <- Seq(4, 16, 64)) {
      val r = new scala.util.Random(seed)
      // zipf-ish: token i drawn with weight ~ 1/(i+1)
      val vocabSize = 200
      val cum = (0 until vocabSize).map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
      val z = cum.last
      def draw(): String = {
        val x = r.nextDouble() * z
        s"t${cum.indexWhere(_ >= x)}"
      }
      val rows = Seq.fill(300)(Seq.fill(1 + r.nextInt(20))(draw()))
      for (parts <- Seq(1, 4, 13)) checkContract(rows, k, parts)
    }
  }

  test("MG hand case: k=2 forces decrement rounds; heavy item survives") {
    // stream: a×6, b×3, c×2, d×1 (n=12, k=2 -> err <= 4); 'a' (6 > 4) must
    // be tracked on any arrival order
    val items = Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") :+ "d"
    for (seed <- 1 to 5) {
      val rows = new scala.util.Random(seed).shuffle(items).grouped(3).toSeq
      val got = sketch(rows, k = 2, parts = 3)
      assert(got.contains("a"), s"seed=$seed got=$got")
      assert(got("a") <= 6 && 6 - got("a") <= 4, s"seed=$seed got=$got")
    }
  }

  test("MG edge cases: k=1, empty/null arrays, nulls inside arrays") {
    val rows = Seq(Seq("x", "x", "x"), Seq.empty[String], Seq("y"))
    val got = sketch(rows, k = 1, parts = 2)
    assert(got.size <= 1)
    got.foreach { case (t, est) =>
      val exact = Map("x" -> 3L, "y" -> 1L)
      assert(est <= exact(t) && exact(t) - est <= 4 / 2)
    }
    // null array rows and null elements are skipped, not counted
    val withNulls = Seq((Seq("a", null, "a"), 1), (null, 2))
      .toDF("toks", "i")
      .agg(T.heavyHitters(col("toks"), 4).as("sk"))
      .select(explode(col("sk")).as("e")).select(col("e.item"), col("e.est"))
      .as[(String, Long)].collect().toMap
    assert(withNulls == Map("a" -> 2L))
  }

  test("typed k: integral widths accepted, bad k a clean ANALYSIS error (ADVICE r13)") {
    val df = extSpark.createDataFrame(Seq(Tuple1(Seq("a", "a", "b")))).toDF("toks")
    // a long-literal k (the natural Scala spelling) and an int k agree
    val viaLong = df.select(expr("graft_topfreq(toks, 4L)")).collect()
    val viaInt = df.select(expr("graft_topfreq(toks, 4)")).collect()
    assert(viaLong.toSeq == viaInt.toSeq)
    // non-integral / out-of-range k fail at analysis, not ClassCastException
    // deep in buffer creation
    for (bad <- Seq("'64'", "4.5", "0", "-3", "9999999999L")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(expr(s"graft_topfreq(toks, $bad)")).collect()
      }
      assert(e.getMessage.contains("graft_topfreq"), s"k=$bad: ${e.getMessage}")
    }
  }

  test("graft_topfreq lifts to Structured Streaming (multi-batch incremental merge holds the contract)") {
    // complete-mode streaming aggregation merges the MG buffer through the
    // state store across micro-batches — the merge path the mergeable-
    // summary bound exists for; one file per trigger forces real multi-
    // batch increments
    implicit val sp = spark
    val r = new scala.util.Random(7)
    val rows = Seq.fill(120)(Seq.fill(1 + r.nextInt(15))(s"t${r.nextInt(40)}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_mgstream").toString
    rows.toDF("toks").repartition(5).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val out = spark.readStream.option("maxFilesPerTrigger", 1).schema(schema)
      .parquet(dir)
      .agg(T.heavyHitters(col("toks"), 8).as("sk"))
    val qn = "graft_mgstream"
    val q = out.writeStream.outputMode("complete").format("memory").queryName(qn).start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.batchId >= 2, "fixture must span several micro-batches")
      val got = spark.table(qn).select(explode(col("sk")).as("e"))
        .select(col("e.item"), col("e.est")).as[(String, Long)].collect().toMap
      assertContract(got, rows, k = 8, tag = "streaming")
    } finally {
      q.stop(); spark.catalog.dropTempView(qn)
      graft.streaming.StreamOps.releaseStateStores()
    }
  }

  test("plan: global sketch is a partial ObjectHashAggregate, no token shuffle") {
    val df = Seq(Seq("a", "b"), Seq("a")).toDF("toks")
      .agg(T.heavyHitters(col("toks"), 8).as("sk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    // the exact-vocab alternative explodes then groups by token; the sketch
    // must not contain a Generate (explode) node at all
    assert(!plan.contains("Generate"), plan)
  }

  test("plan: GROUPED sketch (qd57 shape) keeps partial agg + one exchange on the group key") {
    // the r14 raw bench face's plan: per-group MG buffers must combine
    // map-side (partial ObjectHashAggregate below the exchange — the
    // exchange then carries O(groups × partitions × k) counters, never
    // tokens), with no Generate and exactly ONE shuffle
    val df = Seq(("en", Seq("a", "b")), ("fr", Seq("a")), ("en", Seq("b")))
      .toDF("lang", "toks")
      .groupBy(col("lang")).agg(T.heavyHitters(col("toks"), 8).as("sk"))
    val planStr = df.queryExecution.executedPlan.toString
    assert(!planStr.contains("Generate"), planStr)
    val lines = planStr.linesIterator.toSeq
    val aggLines = lines.zipWithIndex.filter(_._1.contains("ObjectHashAggregate"))
    val exLines = lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
    assert(exLines.length == 1, s"want exactly one exchange:\n$planStr")
    // partial + final agg with the exchange between them (plans print
    // top-down, so FINAL < exchange < PARTIAL by line index)
    assert(aggLines.length == 2, s"want partial+final ObjectHashAggregate:\n$planStr")
    assert(aggLines.head._2 < exLines.head._2 && exLines.head._2 < aggLines.last._2,
      s"no map-side combine below the exchange:\n$planStr")
  }
}
