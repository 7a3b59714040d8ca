package perfbench

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.{ConnectedComponents, Dedup}
import graft.functions.{Bpe, TextFunctions}
import graft.prep.Prep
import graft.similarity.Ivf
import graft.sources.IO

/** One LLM data-prep job over a generated corpus: quality gates, exact and
  * MinHash dedup, semantic dedup, decontamination, DSIR selection, BPE
  * tokenizing + packing, and written outputs. Stage outputs are persisted
  * between stages, as a real pipeline would, and released at the end.
  *
  * Checks: the generator labels every document with the gate it must fail
  * (or none), so the survivors of each gate and of exact/near dedup are
  * known without the engine; contamination is recomputed from exact
  * shingle overlap in plain Spark SQL. Approximate or engine-defined steps
  * (MinHash pairs, semantic dedup, DSIR weights, BPE merges, packing) are
  * checked against their contracts: every dropped row has a partner at or
  * above the threshold, the top-k cut is a top-k cut, token offsets add up.
  * The job has an odd number of ops, so the median op latency falls on one
  * op rather than between two. */
object CorpusPipeline extends Workload {
  private var docs, emb, bench, target: DataFrame = _
  private val topK = 200
  private val merges = 48
  private val budget = 2048L
  private val simThreshold = 0.98
  private val nlist = 8
  private val lloyd = 1
  private var warmMerges: Seq[(String, String)] = Nil

  def load(c: Ctx): Unit = {
    def scan(n: String) = IO.scanParquet(c.spark, c.path(c.data, s"$n.parquet"))
    docs = scan("documents"); emb = scan("embeddings"); bench = scan("bench"); target = scan("target")
  }

  private def shardsPath(c: Ctx) = c.path(c.work, "shards")
  private def selectedPath(c: Ctx) = c.path(c.work, "selected")
  private def withShard(df: DataFrame) = df.withColumn("shard", pmod(col("doc_id"), lit(4L)))

  def job(c: Ctx): Unit = {
    val held = ListBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val p = df.persist(StorageLevel.MEMORY_AND_DISK); held += p; p }
    var s1, s2, s3, pairs, s4, s5, sel: DataFrame = null
    try {
      c.query("c4_clean", "prep.Prep.c4Clean") {
        s1 = keep(Prep.c4Clean(docs, "text").filter(col("keep"))
          .select(col("doc_id"), col("kept_text").as("text"))); s1
      }
      c.query("gopher_quality", "prep.Prep.gopherQuality") {
        s2 = keep(Prep.gopherQuality(s1, "text").filter(col("gopher_keep")).select("doc_id", "text")); s2
      }
      c.query("quality_score", "functions.TextFunctions.qualityScore")(
        s2.select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q")))
      c.query("exact_dedup", "dedup.Dedup.exact") { s3 = keep(Dedup.exact(s2, Seq("text"), "doc_id")); s3 }
      c.query("minhash_pairs", "dedup.Dedup.minhashPairs") {
        pairs = keep(Dedup.minhashPairs(s3, "doc_id", "text")); pairs
      }
      c.query("near_dedup", "dedup.ConnectedComponents.dedupByComponents") {
        s4 = keep(ConnectedComponents.dedupByComponents(s3, "doc_id", pairs)); s4
      }
      c.query("ivf_index", "similarity.Ivf.buildIndex") {
        val (centroids, assigned) = Ivf.buildIndex(emb, nlist, idCol = "vec_id", vecCol = "embedding",
          lloydIters = lloyd)
        held += centroids; held += assigned
        assigned.select("vec_id", "cell")
      }
      c.query("semantic_dedup", "dedup.Dedup.semanticDedup")(
        Dedup.semanticDedup(emb, "vec_id", "embedding", nlist, simThreshold, lloyd))
      c.query("decontaminate", "prep.Prep.contaminationBloom") {
        s5 = keep(Prep.contaminationBloom(s4, bench, "doc_id", "text")
          .filter(!col("contaminated")).select("doc_id", "text")); s5
      }
      c.query("dsir_select", "prep.Prep.selectTopK") {
        sel = keep(Prep.selectTopK(Prep.importanceWeightsHashed(s5, target, "text", buckets = 1 << 12),
          "dsir_weight", "doc_id", topK).select("doc_id", "text", "dsir_weight")); sel
      }
      c.query("tokenize_pack", "prep.Prep.packGlobal") {
        val bpe = c.tracer.span("functions.Bpe.trainCorpus")(Bpe.trainCorpus(sel, "text", merges))
        if (c.job < 0) warmMerges = bpe
        Prep.packGlobal(sel.select(col("doc_id"), Bpe.tokenCount(col("text"), bpe).as("ntok")),
          Seq("doc_id"), "ntok", budget)
      }
      c.action("write_shards", "prep.Prep.writeShards") {
        Prep.writeShards(withShard(s5), shardsPath(c), "shard", 4)
        c.tracer.settle()
        () => Digest.of(c.spark.read.parquet(shardsPath(c)))
      }
      c.action("sink_selected", "sources.IO.sinkParquet") {
        IO.sinkParquet(sel, selectedPath(c))
        c.tracer.settle()
        () => Digest.of(c.spark.read.parquet(selectedPath(c)))
      }
    } finally {
      c.notePersisted()
      c.tracer.span("cache.unpersist")(c.release(held))
    }
  }

  private def check(what: String, ok: Boolean): Unit =
    if (!ok) throw new IllegalStateException(s"corpus_pipeline reference check failed: $what")

  override def checksWarmOutputs: Boolean = true

  def references(c: Ctx): Map[String, String] = {
    val spark = c.spark
    Seq("documents", "labels", "bench", "embeddings").foreach(n =>
      spark.read.parquet(c.path(c.data, s"$n.parquet")).createOrReplaceTempView(s"ref_$n"))
    def sql(q: String) = spark.sql(q)
    // every reference table is cached: later checks read each several times
    def view(name: String, q: String): Unit = sql(q).cache().createOrReplaceTempView(name)
    def same(a: DataFrame, b: DataFrame) = {
      val d = Digest.many(Seq("a" -> a, "b" -> b)); d("a") == d("b")
    }
    // 5-shingles over whitespace tokens, as plain SQL
    val shingles = """array_distinct(transform(sequence(0, size(tk) - 5),
        |  i -> array_join(slice(tk, i + 1, 5), ' ')))""".stripMargin
    val toks = "filter(split(text, '\\\\s+'), x -> x != '')"

    // gates, exact and near dedup: survivors known from the labels
    view("e1", """SELECT doc_id, text FROM ref_documents JOIN ref_labels USING (doc_id)
        |WHERE label NOT IN ('short', 'lorem', 'curly')""".stripMargin)
    view("e2", "SELECT e1.doc_id, text FROM e1 JOIN ref_labels USING (doc_id) WHERE label != 'symbol'")
    view("e3", "SELECT min(doc_id) doc_id, text FROM e2 GROUP BY text")
    view("e4", "SELECT e3.doc_id, text FROM e3 JOIN ref_labels USING (doc_id) WHERE label != 'near'")
    view("e3_sh", s"SELECT doc_id, text, $shingles sh FROM (SELECT doc_id, text, $toks tk FROM e3)")
    // decontamination: exact 5-shingle overlap with the eval set
    sql(s"SELECT explode($shingles) s FROM (SELECT $toks tk FROM ref_bench)").createOrReplaceTempView("bench_sh")
    view("e5", """SELECT doc_id, text FROM e4 WHERE doc_id NOT IN (
        |  SELECT DISTINCT doc_id FROM (SELECT doc_id, explode(sh) s FROM e3_sh)
        |  JOIN bench_sh USING (s))""".stripMargin)

    val w = c.warm

    // quality score: one score in [0, 1] per surviving document
    val qs = w("quality_score")
    check("quality_score range", qs.filter(col("q").isNull || col("q") < 0 || col("q") > 1).isEmpty &&
      same(qs.select("doc_id"), spark.table("e2").select("doc_id")))

    // MinHash pairs: exactly the (source, near copy) pairs of e3, and each
    // at or above the threshold by exact Jaccard
    w("minhash_pairs").createOrReplaceTempView("eng_pairs")
    val expectPairs = sql("""SELECT l.src id_a, e3.doc_id id_b FROM e3 JOIN ref_labels l USING (doc_id)
        |WHERE l.label = 'near'""".stripMargin)
    check("minhash_pairs set", same(w("minhash_pairs").select("id_a", "id_b"), expectPairs))
    check("minhash_pairs soundness", sql("""SELECT * FROM eng_pairs p
        |JOIN e3_sh a ON a.doc_id = p.id_a JOIN e3_sh b ON b.doc_id = p.id_b
        |WHERE size(array_intersect(a.sh, b.sh)) < 0.8 * size(array_union(a.sh, b.sh))""".stripMargin).isEmpty)

    // IVF index: every vector in exactly one of the nlist cells
    val cells = w("ivf_index")
    check("ivf_index cells", cells.filter(col("cell") < 0 || col("cell") >= nlist).isEmpty &&
      same(cells.select("vec_id"), spark.table("ref_embeddings").select("vec_id")))

    // semantic dedup: every dropped vector has a partner at cosine >= threshold
    w("semantic_dedup").createOrReplaceTempView("eng_sem")
    val cos = """aggregate(zip_with(a.embedding, b.embedding, (x, y) -> x * y), 0D, (s, v) -> s + v) /
        |sqrt(aggregate(a.embedding, 0D, (s, v) -> s + v * v) * aggregate(b.embedding, 0D, (s, v) -> s + v * v))""".stripMargin
    check("semantic_dedup soundness", sql(s"""SELECT a.vec_id FROM
        |(SELECT vec_id, embedding FROM ref_embeddings WHERE vec_id NOT IN (SELECT vec_id FROM eng_sem)) a
        |JOIN ref_embeddings b ON a.vec_id != b.vec_id
        |GROUP BY a.vec_id HAVING max($cos) < $simThreshold""".stripMargin).isEmpty)

    // DSIR: the top-k cut over the weights, ties broken by id
    val weights = Prep.importanceWeightsHashed(w("decontaminate"), target, "text", buckets = 1 << 12)
    val sel = w("dsir_select")
    val selRows = sel.collect()
    val worst = selRows.map(r => (r.getDouble(2), -r.getLong(0))).min
    check("dsir_select top-k", selRows.length == math.min(topK.toLong, spark.table("e5").count()) &&
      selRows.map(_.getLong(0)).distinct.length == selRows.length &&
      weights.filter(!col("doc_id").isin(selRows.map(_.getLong(0)).toIndexedSeq: _*) &&
        (col("dsir_weight") > worst._1 || (col("dsir_weight") === worst._1 && -col("doc_id") > worst._2)))
        .isEmpty)

    // BPE + packing: the requested merges; every word is at least one
    // token; offsets follow from the running token total in id order
    check("bpe_train merges",
      warmMerges.size == merges && warmMerges.forall { case (a, b) => a.nonEmpty && b.nonEmpty })
    w("tokenize_pack").createOrReplaceTempView("eng_pack")
    sel.createOrReplaceTempView("eng_sel")
    check("pack tokens", sql(s"""SELECT * FROM eng_pack JOIN eng_sel USING (doc_id)
        |WHERE ntok < size($toks)""".stripMargin).isEmpty)
    check("pack offsets", c.warmDigest("tokenize_pack") == Digest.of(sql(s"""SELECT doc_id, ntok,
        |floor(prev / $budget) seq_id, prev % $budget seq_offset FROM (SELECT *, coalesce(sum(ntok)
        |OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) prev
        |FROM eng_pack)""".stripMargin)))
    val exact = Digest.many(Seq("c4_clean" -> "e1", "gopher_quality" -> "e2", "exact_dedup" -> "e3",
      "near_dedup" -> "e4", "decontaminate" -> "e5").map { case (op, t) => op -> spark.table(t) } :+
      ("write_shards" -> withShard(spark.table("e5"))))
    spark.catalog.clearCache()

    val verified = Seq("quality_score", "minhash_pairs", "ivf_index", "semantic_dedup", "dsir_select",
      "tokenize_pack").map(op => op -> c.warmDigest(op))
    verified.toMap ++ exact + ("sink_selected" -> c.warmDigest("dsir_select"))
  }
}
