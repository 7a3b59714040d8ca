package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.BloomExprs

/** Bloom-filter membership ([[graft.plans.BloomMightContainExpr]]) and the
  * two exact composites built on it: bloom-prefiltered decontamination
  * ([[graft.prep.Prep.contaminationBloom]]) and incremental snapshot dedup
  * ([[graft.dedup.Dedup.newSinceSnapshot]]), whose filters come from one
  * eager Spark `bloom_filter_agg` action over the reference set. The
  * load-bearing property in every test: the Bloom has NO false negatives, so
  * each composite equals its exact (filter-free) twin row-for-row — the
  * false-positive rate only moves work, never answers. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def filterOf(keys: Seq[Long], fpp: Double = 0.01): Array[Byte] = {
    val f = BloomFilter.create(math.max(keys.size.toLong, 64L), fpp)
    keys.foreach(f.putLong)
    BloomExprs.serialize(f)
  }

  test("no false negatives: every inserted key tests true") {
    val rnd = new scala.util.Random(7)
    val keys = Seq.fill(5000)(rnd.nextLong())
    val bytes = filterOf(keys)
    val n = keys.toDF("k")
      .filter(BloomExprs.mightContain(col("k"), bytes))
      .count()
    assert(n == keys.size, s"lost ${keys.size - n} inserted keys — bloom false negative")
  }

  test("false-positive rate on fresh keys stays near the configured fpp") {
    val rnd = new scala.util.Random(11)
    val inserted = Seq.fill(20000)(rnd.nextLong()).toSet
    val bytes = filterOf(inserted.toSeq, fpp = 0.01)
    val fresh = Iterator.continually(rnd.nextLong()).filterNot(inserted).take(20000).toSeq
    val fpCount = fresh.toDF("k")
      .filter(BloomExprs.mightContain(col("k"), bytes))
      .count()
    val rate = fpCount.toDouble / fresh.size
    // 3x slack over the configured 1%: the bound is statistical, not exact
    assert(rate <= 0.03, s"false-positive rate $rate way over configured 0.01")
  }

  test("null keys yield null, not a verdict") {
    val bytes = filterOf(Seq(1L, 2L, 3L))
    val got = Seq(Some(1L), None, Some(99L)).toDF("k")
      .select(BloomExprs.mightContain(col("k"), bytes).as("hit"))
      .collect()
    assert(got(0).getBoolean(0))
    assert(got(1).isNullAt(0))
  }

  test("SQL registration path matches the Column path") {
    val bytes = filterOf(Seq(10L, 20L))
    val df = extSpark.range(10L, 40L, 20L).toDF("k")
    df.createOrReplaceTempView("bloom_keys")
    val viaSql = extSpark.sql(
      s"SELECT graft_bloom_might_contain(k, X'${bytes.map("%02x".format(_)).mkString}') AS hit " +
        "FROM bloom_keys ORDER BY k").collect().map(_.getBoolean(0)).toSeq
    assert(viaSql == Seq(true, false))
  }

  // ---- randomized corpus for the composite == exact-twin tests -----------

  /** Docs with heavy cross-set duplication: a shared phrase pool guarantees
    * shingle overlap and exact-duplicate texts across splits; empty and
    * punctuation-only texts exercise the null/empty shingle paths. */
  private def corpus(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    val phrases = Vector.tabulate(12)(i =>
      Seq.fill(7)("w" + rnd.nextInt(40)).mkString(" ") + s" p$i")
    (0 until n).map { id =>
      val text = rnd.nextInt(10) match {
        case 0 => "" // empty
        case 1 => "???!!!" // normalizes to empty
        case 2 | 3 => phrases(rnd.nextInt(phrases.size)) // exact dup of a pool phrase
        case _ =>
          (Seq.fill(3 + rnd.nextInt(5))("w" + rnd.nextInt(60)) ++
            (if (rnd.nextBoolean()) Seq(phrases(rnd.nextInt(phrases.size))) else Nil))
            .mkString(" ")
      }
      (id.toLong, text)
    }.toDF("doc_id", "text")
  }

  test("contaminationBloom == contamination, randomized (3 trials)") {
    for (trial <- 1 to 3) {
      val docs = corpus(seed = 100 + trial, n = 300)
      val bench = docs.filter(col("doc_id") % 13 === 0)
      val exact = graft.prep.Prep.contamination(docs, bench, "doc_id", "text",
          shingleK = 3, minShared = 1)
        .select("doc_id", "n_shared", "contaminated").orderBy("doc_id").collect()
      val bloomed = graft.prep.Prep.contaminationBloom(docs, bench, "doc_id", "text",
          shingleK = 3, minShared = 1, fpp = 0.05)
        .select("doc_id", "n_shared", "contaminated").orderBy("doc_id").collect()
      assert(bloomed.toSeq == exact.toSeq, s"trial $trial: bloom path diverged from exact")
      // sanity: the corpus actually has contamination to find
      assert(exact.count(_.getBoolean(2)) > 0, s"trial $trial: degenerate corpus, no hits")
    }
  }

  test("newSinceSnapshot == exact anti-join on fingerprint, randomized (3 trials)") {
    import graft.functions.{TextFunctions => T}
    for (trial <- 1 to 3) {
      val docs = corpus(seed = 200 + trial, n = 300)
      val previous = docs.filter(col("doc_id") % 3 === 0)
      val current = docs.filter(col("doc_id") % 3 =!= 0)
      val expected = current.join(
          previous.select(T.fingerprint(col("text")).as("__pfp")).distinct(),
          T.fingerprint(current("text")) === col("__pfp"), "left_anti")
        .orderBy("doc_id").collect()
      val got = graft.dedup.Dedup.newSinceSnapshot(current, previous, "text", fpp = 0.05)
        .orderBy("doc_id").collect()
      assert(got.toSeq == expected.toSeq, s"trial $trial: bloom snapshot dedup diverged")
      // sanity: some rows dropped (dups existed) and some survived
      assert(got.length > 0 && got.length < current.count(),
        s"trial $trial: degenerate split (${got.length} of ${current.count()})")
    }
  }

  test("high fpp still yields exact results (prefilter moves work, not answers)") {
    val docs = corpus(seed = 999, n = 200)
    val previous = docs.filter(col("doc_id") % 2 === 0)
    val current = docs.filter(col("doc_id") % 2 =!= 0)
    // fpp=0.5: half the misses take the expensive verify path — result unchanged
    val loose = graft.dedup.Dedup.newSinceSnapshot(current, previous, "text", fpp = 0.5)
      .orderBy("doc_id").collect()
    val tight = graft.dedup.Dedup.newSinceSnapshot(current, previous, "text", fpp = 0.001)
      .orderBy("doc_id").collect()
    assert(loose.toSeq == tight.toSeq)
  }

  test("newSinceSnapshot with an empty previous snapshot keeps every current row") {
    val docs = corpus(seed = 31, n = 200)
    val firstCrawl = graft.dedup.Dedup.newSinceSnapshot(docs, docs.filter(col("doc_id") < 0), "text")
      .orderBy("doc_id").collect()
    assert(firstCrawl.toSeq == docs.orderBy("doc_id").collect().toSeq)
  }

  test("contaminationBloom with an empty bench flags nothing") {
    val docs = corpus(seed = 32, n = 200)
    val got = graft.prep.Prep.contaminationBloom(docs, docs.filter(col("doc_id") < 0),
        "doc_id", "text", shingleK = 3)
      .select("n_shared", "contaminated").collect()
    assert(got.length == 200)
    assert(got.forall(r => r.getLong(0) == 0L && !r.getBoolean(1)), "empty bench flagged a doc")
  }

  test("each op builds its filter in one bloom_filter_agg action, at most 2 jobs at call time") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = corpus(seed = 33, n = 200)
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    /** Jobs started on this thread while `body` runs. A marker job follows
      * `body`; the bus delivers events in order, so once the marker is seen
      * every job `body` started has been counted. */
    def jobsDuring(body: => Unit): Int = {
      sc.setJobGroup("bloom-op-call", "jobs started inside the library call")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("bloom-op-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains("bloom-op-marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(started.contains("bloom-op-marker"), "marker job never reached the listener")
      val n = started.toArray.count(_ == "bloom-op-call")
      started.clear()
      n
    }
    sc.addSparkListener(listener)
    try {
      val bench = docs.filter(col("doc_id") % 13 === 0)
      val previous = docs.filter(col("doc_id") % 3 === 0)
      val current = docs.filter(col("doc_id") % 3 =!= 0)
      // the partial-aggregate shuffle and the final aggregate: no count or
      // distinct pass before the build
      assert(jobsDuring(graft.prep.Prep.contaminationBloom(docs, bench, "doc_id", "text")) <= 2)
      assert(jobsDuring(graft.dedup.Dedup.newSinceSnapshot(current, previous, "text")) <= 2)
    } finally sc.removeSparkListener(listener)
  }
}
