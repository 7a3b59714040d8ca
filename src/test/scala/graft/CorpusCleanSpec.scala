package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Round-4 corpus-cleaning operators: cross-document span dedup, semantic
  * (embedding-cluster) dedup, and the deflate compression-ratio signal. */
class CorpusCleanSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------------- span dedup

  test("spanDedupGlobal keeps first occurrence of each span corpus-wide") {
    val df = Seq(
      (1L, "a b c d e f", "en"),  // spans(3): "a b c" | "d e f"
      (2L, "a b c x y z", "en"),  // "a b c" loses to doc 1 → keeps "x y z"
      (3L, "x y z", "fr"),        // loses to doc 2 pos 1 → empty
      (5L, "p q r p q r", "en")   // within-doc repeat collapses too
    ).toDF("doc_id", "text", "lang")
    val got = graft.dedup.Dedup.spanDedupGlobal(df, "doc_id", "text", spanWords = 3)
      .orderBy("doc_id").select("doc_id", "text", "lang").collect()
    assert(got.toSeq == Seq(
      Row(1L, "a b c d e f", "en"),
      Row(2L, "x y z", "en"),
      Row(3L, "", "fr"),
      Row(5L, "p q r", "en")))
  }

  test("spanDedupGlobal: null text comes back as empty, row never dropped") {
    val df = Seq((1L, "a b", "en"), (2L, null.asInstanceOf[String], "de"))
      .toDF("doc_id", "text", "lang")
    val got = graft.dedup.Dedup.spanDedupGlobal(df, "doc_id", "text", spanWords = 2)
      .orderBy("doc_id").select("doc_id", "text").collect()
    assert(got.toSeq == Seq(Row(1L, "a b"), Row(2L, "")))
  }

  test("spanDedupGlobal matches driver-side brute force on real documents") {
    val docs = sf("documents").select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
      .sortBy(_._1)
    val w = 20
    // brute force: global keep-first over (doc_id, pos)-ordered spans
    val seen = scala.collection.mutable.Set[String]()
    val expected = rows.map { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val spans = toks.grouped(w).map(_.mkString(" ")).toSeq
      val kept = spans.filter(s => seen.add(s))
      id -> kept.mkString(" ")
    }.toMap
    val got = graft.dedup.Dedup.spanDedupGlobal(docs, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected)
  }

  test("SpanHashPairsExpr: ceil(n/k) ragged windows, content-keyed, two independent hashes") {
    val ext = extSpark; import ext.implicits._
    def pairs(tokens: Seq[String], k: Int): Seq[(Long, Long)] =
      Seq(Tuple1(tokens)).toDF("t")
        .select(call_function("graft_span_hash_pairs", col("t"), lit(k)).as("hp"))
        .as[Seq[(Long, Long)]].head()
    // window count: ceil(n/k), empty array -> no windows, ragged tail kept
    assert(pairs(Seq(), 3).isEmpty)
    assert(pairs(Seq("a"), 3).length == 1)
    assert(pairs(Seq("a", "b", "c", "d"), 3).length == 2)
    assert(pairs((1 to 9).map(_.toString), 3).length == 3)
    // content-keyed: same window content hashes equal ACROSS documents and
    // positions; different content differs; the ragged tail ["d"] equals a
    // whole-window ["d"] elsewhere (exactly the string-join semantics)
    val p1 = pairs(Seq("a", "b", "c", "d"), 3)
    val p2 = pairs(Seq("a", "b", "c"), 3)
    val p3 = pairs(Seq("d"), 3)
    assert(p1(0) == p2(0) && p1(1) == p3(0))
    assert(p1(0) != p1(1))
    // token-boundary sensitivity: ["ab","c"] != ["a","bc"] (chained per-token
    // hashing distinguishes them; string-join would too: "ab c" != "a bc")
    assert(pairs(Seq("ab", "c"), 2) != pairs(Seq("a", "bc"), 2))
    // the two hashes are independent election keys (different seeds)
    val (uh, uh2) = p1(0)
    assert(uh != uh2)
  }

  test("lineDedupGlobal: length floor protects short lines, subject lines dedup corpus-wide") {
    val df = Seq(
      (1L, "a long boilerplate line\nok\nunique one"),
      (2L, "a long boilerplate line\nok\nsecond doc"),   // loses line 0, keeps short "ok"
      (3L, "a long boilerplate line")                    // loses everything → ""
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.lineDedupGlobal(df, "doc_id", "text", minChars = 10)
      .orderBy("doc_id").select("doc_id", "text").collect()
    assert(got.toSeq == Seq(
      Row(1L, "a long boilerplate line\nok\nunique one"),
      Row(2L, "ok\nsecond doc"),
      Row(3L, "")))
  }

  test("lineDedupGlobal: within-doc repeats of a subject line collapse, short repeats survive") {
    val df = Seq(
      (1L, "repeated long line here\nxy\nrepeated long line here\nxy")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.lineDedupGlobal(df, "doc_id", "text", minChars = 5)
      .select("text").as[String].head()
    assert(got == "repeated long line here\nxy\nxy")
  }

  // ------------------------------------------------------- semantic dedup

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    dot / math.sqrt(na * nb)
  }

  private def semCorpus = {
    // 3 well-separated direction groups; ids 0/1 and 10/11 are exact dups,
    // 20/21 near-dups (cos > 0.99), the rest mutually dissimilar
    val base = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(1f, 0f, 0f, 0f),
      10L -> Array(0f, 1f, 0f, 0f), 11L -> Array(0f, 1f, 0f, 0f),
      20L -> Array(0f, 0f, 1f, 0.05f), 21L -> Array(0f, 0f, 1f, 0f),
      30L -> Array(0.7f, 0.7f, 0f, 0f), 31L -> Array(0f, 0.7f, 0.7f, 0f),
      40L -> Array(0f, 0f, 0f, 1f))
    base.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
  }

  test("semanticDedup drops exact duplicates, keeps minimum id of each group") {
    val out = graft.dedup.Dedup.semanticDedup(semCorpus, "vec_id", "embedding",
      nlist = 4, threshold = 0.95, lloydIters = 1)
    val kept = out.select("vec_id").as[Long].collect().toSet
    // exact dups always share a cell → the larger id of each pair is gone
    assert(!kept.contains(1L) && kept.contains(0L))
    assert(!kept.contains(11L) && kept.contains(10L))
    // dissimilar vectors survive
    assert(kept.contains(30L) && kept.contains(31L) && kept.contains(40L))
  }

  test("semanticDedup precision: every dropped row has a >=threshold witness") {
    val vecs = semCorpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val kept = graft.dedup.Dedup.semanticDedup(semCorpus, "vec_id", "embedding",
      nlist = 4, threshold = 0.95, lloydIters = 1)
      .select("vec_id").as[Long].collect().toSet
    val dropped = vecs.keySet -- kept
    for (d <- dropped)
      assert(vecs.keys.exists(o => o != d && cosine(vecs(d), vecs(o)) >= 0.95),
        s"dropped $d has no >=0.95 neighbor")
  }

  test("semanticDedup is deterministic across runs") {
    def run() = graft.dedup.Dedup.semanticDedup(sf("embeddings"), "vec_id",
      "embedding", nlist = 8, threshold = 0.9, lloydIters = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(run() == run())
  }

  // ---------------------------------------------------- compression ratio

  test("deflate ratio matches java.util.zip exactly and ranks repetition < prose < noise") {
    val rep = "spam " * 500
    val prose = sf("documents").select("text").as[String].head()
    val ext = extSpark; import ext.implicits._
    val noise = {
      val rnd = new scala.util.Random(42)
      (1 to 2000).map(_ => (rnd.nextInt(94) + 33).toChar).mkString
    }
    val df = Seq((1L, rep), (2L, prose), (3L, noise)).toDF("id", "text")
      .select(col("id"), call_function("graft_deflate_ratio", col("text")).as("r"))
    val got = df.orderBy("id").as[(Long, Double)].collect().map(_._2)

    def direct(s: String): Double = {
      val b = s.getBytes("UTF-8")
      graft.plans.DeflateRatioExpr.compressedSize(b).toDouble / b.length
    }
    assert(got(0) == direct(rep) && got(1) == direct(prose) && got(2) == direct(noise))
    assert(got(0) < got(1) && got(1) < got(2))
    assert(got(0) < 0.05 && got(2) > 0.8)
  }

  test("compression-ratio gate lifts to Structured Streaming unchanged (stateless)") {
    import org.apache.spark.sql.types._
    val T = graft.functions.TextFunctions
    val base = java.nio.file.Files.createTempDirectory("compress_stream").toString
    val in = sf("documents").select("doc_id", "text").limit(50)
    in.write.mode("overwrite").parquet(s"$base/in")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def pipe(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), T.compressionRatio(col("text")).as("r"))
        .filter(col("r").between(0.25, 1.1))
    val q = graft.streaming.StreamOps.sinkFileStream(
      pipe(spark.readStream.schema(schema).parquet(s"$base/in")),
      "parquet", s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out").as[(Long, Double)].collect().toSet
    val batch = pipe(in).as[(Long, Double)].collect().toSet
    assert(got == batch && batch.nonEmpty)
  }

  test("deflate ratio null semantics: null and empty text yield null") {
    val ext = extSpark; import ext.implicits._
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(call_function("graft_deflate_ratio", col("text")).as("r"))
    assert(df.collect().forall(_.isNullAt(0)))
  }
}
