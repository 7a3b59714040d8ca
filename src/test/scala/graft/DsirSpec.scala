package graft

import org.apache.spark.sql.functions._
import graft.faces.Faces

import graft.prep.Prep

/** DSIR importance resampling (Xie et al., NeurIPS 2023):
  * [[graft.prep.Prep.importanceWeights]] (exact word features, the oracle
  * face), [[graft.prep.Prep.importanceWeightsMicro]] (integer micro-nats),
  * and [[graft.prep.Prep.importanceWeightsHashed]] (hashed features via the
  * narrow [[graft.plans.DsirScoreExpr]] kernel, the 100 TB face). */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "theorem proof lemma corollary theorem"),
    (3L, "the dog sat on the log"),
    (4L, "proof by induction on the lemma"),
    (5L, ""),
    (6L, "cat dog cat dog")).toDF("doc_id", "text")

  // target distribution: the mathematical docs
  private lazy val target = corpus.filter(col("doc_id").isin(2L, 4L))

  /** Reference implementation of the exact estimator, computed driver-side
    * with the same sorted-fold order the operator uses. */
  private def referenceWeights(docs: Seq[(Long, String)], tgt: Seq[String],
                               a: Double = 1.0): Map[Long, Double] = {
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val srcTok = docs.flatMap(d => toks(d._2))
    val tgtTok = tgt.flatMap(toks)
    val cs = srcTok.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ts = tgtTok.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = (cs.keySet ++ ts.keySet)
    val (v, ns, nt) = (vocab.size.toLong, srcTok.size.toLong, tgtTok.size.toLong)
    def lr(w: String) =
      math.log((ts.getOrElse(w, 0L) + a) / (nt + a * v)) -
        math.log((cs.getOrElse(w, 0L) + a) / (ns + a * v))
    docs.map { case (id, text) =>
      id -> toks(text).map(lr).sorted.foldLeft(0.0)(_ + _)
    }.toMap
  }

  test("exact weights match the driver-side reference formula") {
    val got = Prep.importanceWeights(corpus, target, "doc_id", "text")
      .select("doc_id", "dsir_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referenceWeights(
      corpus.as[(Long, String)].collect().toSeq,
      target.select("text").as[String].collect().toSeq)
    assert(got.keySet == want.keySet)
    for ((id, w) <- want)
      assert(math.abs(got(id) - w) <= 1e-12, s"doc $id: got ${got(id)} want $w")
  }

  test("directionality: target-like docs outweigh source-typical docs") {
    val w = Prep.importanceWeights(corpus, target, "doc_id", "text")
      .select("doc_id", "dsir_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 2/4 are the target exemplars; doc 6 shares no target vocabulary
    assert(w(2L) > w(6L) && w(4L) > w(6L),
      s"target-heavy docs should outscore: $w")
    // token-less doc scores exactly 0
    assert(w(5L) == 0.0)
  }

  test("micro-nat weights are the quantized double weights") {
    val dbl = Prep.importanceWeights(corpus, target, "doc_id", "text")
      .select("doc_id", "dsir_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val micro = Prep.importanceWeightsMicro(corpus, target, "doc_id", "text")
      .select("doc_id", "dsir_uweight").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, uw) <- micro) {
      // per-token quantization error is <= 0.5 micro-nats
      val nTok = corpus.filter(col("doc_id") === id)
        .select(size(graft.functions.TextFunctions.tokens(col("text")))).first().getInt(0)
      assert(math.abs(uw / 1e6 - dbl(id)) <= (nTok + 1) * 5e-7,
        s"doc $id: micro $uw vs double ${dbl(id)}")
    }
  }

  test("hashed weights match exact weights on a collision-free vocabulary") {
    val b = 1 << 16
    // confirm the vocabulary actually lands in distinct buckets
    val vocab = corpus.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .distinct()
      .select(pmod(xxhash64(col("w")), lit(b.toLong)).as("bk"))
    assert(vocab.count() == vocab.distinct().count(), "bucket collision in test vocab")
    // the hashed face smooths over the OCCUPIED bucket count, which on a
    // collision-free vocabulary equals the union vocab size — i.e. exactly
    // the exact face's denominators, so the two faces must agree per doc
    // (up to fp summation order; the exact face sorts contributions)
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val docs = corpus.as[(Long, String)].collect().toSeq
    val tgtTok = target.select("text").as[String].collect().toSeq.flatMap(toks)
    val srcTok = docs.flatMap(d => toks(d._2))
    val cs = srcTok.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ts = tgtTok.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vUnion = (cs.keySet ++ ts.keySet).size
    def lr(w: String) =
      math.log((ts.getOrElse(w, 0L) + 1.0) / (tgtTok.size + 1.0 * vUnion)) -
        math.log((cs.getOrElse(w, 0L) + 1.0) / (srcTok.size + 1.0 * vUnion))
    val want = docs.map { case (id, text) => id -> toks(text).map(lr).sum }.toMap
    val got = Prep.importanceWeightsHashed(corpus, target, "text", buckets = b)
      .select("doc_id", "dsir_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, w) <- want)
      assert(math.abs(got(id) - w) <= 1e-9 * (1 + math.abs(w)),
        s"doc $id: hashed ${got(id)} want $w")
    // and therefore the hashed face == the exact word-feature face here
    val exact = Prep.importanceWeights(corpus, target, "doc_id", "text")
      .select("doc_id", "dsir_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, w) <- exact)
      assert(math.abs(got(id) - w) <= 1e-9 * (1 + math.abs(w)),
        s"doc $id: hashed ${got(id)} vs exact $w")
  }

  test("resampleTopK: deterministic per salt, samples proportional to softmax") {
    val df = Seq((1L, math.log(9.0)), (2L, 0.0)).toDF("id", "lw")
    // same salt -> identical draw
    val a = Prep.resampleTopK(df, "lw", "id", 1, salt = 7L).select("id").as[Long].collect().toSeq
    val b = Prep.resampleTopK(df, "lw", "id", 1, salt = 7L).select("id").as[Long].collect().toSeq
    assert(a == b)
    // Gumbel-top-1 draws id=1 with probability 9/10; 300 independent salts
    val wins = (1 to 300).count { s =>
      Prep.resampleTopK(df, "lw", "id", 1, salt = s.toLong)
        .select("id").as[Long].head() == 1L
    }
    assert(wins > 300 * 0.82 && wins < 300 * 0.97,
      s"expected ~90% wins for the 9x-weighted doc, got $wins/300")
  }

  test("resampleTopK: draws without replacement") {
    val df = (1L to 20L).map(i => (i, 0.0)).toDF("id", "lw")
    val got = Prep.resampleTopK(df, "lw", "id", 8, salt = 3L)
      .select("id").as[Long].collect()
    assert(got.length == 8 && got.distinct.length == 8)
  }

  test("selectTopK: deterministic k-slice with id tiebreak") {
    val df = Seq((1L, 5.0), (2L, 7.0), (3L, 5.0), (4L, 7.0), (5L, 1.0))
      .toDF("id", "w")
    val got = Prep.selectTopK(df, "w", "id", 3).select("id").as[Long].collect().toSet
    // 7.0 x2, then the 5.0 tie resolves to the lower id
    assert(got == Set(2L, 4L, 1L))
  }

  test("qd41h hashed flagship selects (nearly) the exact flagship's documents") {
    // the hashed twin runs the same 3-stage selection with bucket-hashed
    // models; at 2^18 buckets over the synthetic vocabulary collisions are
    // rare, so the two top-50 cuts must agree on the vast majority of docs —
    // a coarse-but-real guard that the twin is the SAME pipeline, not a
    // lookalike. (Stage-1 gates are near-identical; residual daylight is
    // hashed-vs-exact score ties around the cut boundary.)
    val d = "/root/testdata/sf0.001"
    val exact = Faces("qd41_pipeline_quality_select").run(spark, d)
      .select("doc_id").as[Long].collect().toSet
    // the raw hashed pipeline is the qd41h BENCH face (the correctness face
    // wraps it in the overlap contract this test independently mirrors)
    val hashed = Faces("qd41h_pipeline_quality_select_hashed").benchRun(spark, d)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.size == 50 && hashed.size == 50)
    val overlap = (exact intersect hashed).size
    assert(overlap >= 40, s"hashed/exact flagship overlap $overlap/50")
    // and the contract query itself verdicts green (SF-portable booleans
    // since r18: n_selected_ok anchors the count to the scored pool,
    // overlap_ok is the same 40/50 floor stated fractionally)
    val row = Faces("qd41h_pipeline_quality_select_hashed").run(spark, d).head()
    assert(row.getBoolean(0) && row.getBoolean(1), row.toString)
  }
}
