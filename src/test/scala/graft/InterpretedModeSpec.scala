package graft

/** Codegen-vs-interpreted differential over the expression-bearing contract
  * queries.
  *
  * Every custom Catalyst expression in `graft.plans` evaluates through two
  * independent paths: janino-compiled code (`doGenCode`, or the fallback
  * wrapper Spark generates for `CodegenFallback` nodes inside whole-stage
  * spans) and the interpreted `eval` used when codegen is disabled or
  * bails out (wide schemas, 64KB method limits, `NO_CODEGEN` factory
  * mode). A divergence between the two is a silent wrong-answer bug that
  * the DuckDB oracle can't see (the driver runs one mode only) — this spec
  * runs each selected query in a child session with
  * `spark.sql.codegen.wholeStage=false` and
  * `spark.sql.codegen.factoryMode=NO_CODEGEN` and requires the result
  * multiset to equal the default session's, bit-for-bit (same plan → same
  * fold orders, so even float aggregates must agree exactly).
  *
  * Streaming and IO-roundtrip faces are excluded: their cost is drive
  * machinery, not expression evaluation, and the stateful drives manage
  * their own sessions. Seeded sampling faces stay in — partitioning (which
  * pins their determinism) is unaffected by evaluation mode. */
class InterpretedModeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Expression-heavy faces: native expressions, decimal agg folds, chrono
    * formatting, ANN kernels, media decode, quality-filter char walks,
    * range-bucket ids. */
  private val Faces = Seq(
    "q01_groupby_agg", "q11_case_cast_math", "q12_str_funcs", "q13_dt_funcs",
    "q19_quantile", "q21_asof_backward", "q24_asof_nearest",
    "q26_rolling_rows", "q27_rolling_time", "q30_str_extra", "q31_dt_extra",
    "q32_list_ops", "q33_struct_ops", "q36_sample", "q37_quantile_modes",
    "q40_try_cast", "q55_strftime_iso", "q60_series_ops", "q69_list_sort",
    "q80_zorder_curve",
    // the unkeyed carry faces: RangeBucketExpr doGenCode vs eval
    "q41_asof_unkeyed", "q42_fill_global", "q45_rolling_global_rows",
    "q46_rolling_global_time", "qd23_pack_global", "qd24_shuffle",
    "qd03_ngram_jaccard", "qd04_minhash_pairs", "qd05_simhash_pairs",
    "qd06_langid", "qd07_token_stats", "qd08_quality", "qd11_repetition",
    "qd13_pii_redact", "qd25_rarity", "qd30_compress_ratio",
    "qd32_bpe_tokenize", "qd36_dsir_weights", "qd38_clean_text",
    "qd39_perplexity", "qd40_c4_filter", "qd43_html_extract",
    "qd44_gopher_quality", "qd46_dup_paragraphs", "qd48_blocklist",
    "qd50_bm25", "qd51_approx_distinct", "qd52_dup_ngrams",
    "qd54_stratified_sample", "qd55_heavy_hitters", "qd56_weighted_sample",
    "qm01_media_meta", "qm02_decode_features", "qm04_video_meta",
    "qs01_cosine_topk", "qs02_ann_lsh", "qs03_ann_ivf", "qs04_ann_pq")

  /** Composite faces: the flagship pipelines and the multi-stage dedup /
    * decontamination / packing operators — dozens of custom expressions
    * composed per query, so a single-path divergence anywhere surfaces as
    * an end-to-end multiset mismatch. */
  private val CompositeFaces = Seq(
    "q48_pipeline_asof_pivot", "q49_pipeline_dedup_keeplist",
    "q51_pipeline_data_prep", "q52_pipeline_corpus_build",
    "q53_pipeline_clean_pack", "q54_pipeline_crawl",
    "qd41_pipeline_quality_select", "qd41h_pipeline_quality_select_hashed",
    "qd10_dedup_components", "qd16_jaccard_prefix", "qd28_span_dedup",
    "qd29_semantic_dedup", "qd31_line_dedup", "qd33_salted_pairs",
    "qd34_decontaminate_bloom", "qd35_snapshot_dedup", "qd37_dsir_select",
    "qd45_sentence_dedup", "qd47_pack_spans", "qd53_leakage_safe_split")

  /** Deep value normalization (ADVICE r15): Row.toString would collapse
    * genuinely different values with equal renderings (null vs "null") and
    * false-fail on binary columns (Array[Byte].toString is identity-hash
    * based). Compare structural values instead: rows/arrays to Seq (byte
    * arrays included), maps to sorted pair lists. */
  private def norm(v: Any): Any = v match {
    case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
    case b: Array[Byte]              => b.toSeq
    case a: Array[_]                 => a.toSeq.map(norm)
    case s: scala.collection.Seq[_]  => s.toSeq.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_.toString)
    case other => other
  }

  private def multiset(rows: Array[org.apache.spark.sql.Row]): Map[Any, Int] =
    rows.map(norm(_)).groupBy(identity).map { case (k, v) => k -> v.length }

  private def interpSession(): org.apache.spark.sql.SparkSession = {
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interp
  }

  private def diverged(interp: org.apache.spark.sql.SparkSession,
                       names: Seq[String]): Seq[String] =
    names.flatMap { name =>
      val q = graft.faces.Faces(name).run
      val expect = multiset(q(spark, dir).collect())
      val got = multiset(q(interp, dir).collect())
      if (expect == got) None
      else {
        val onlyE = expect.keySet.diff(got.keySet).take(2)
        val onlyI = got.keySet.diff(expect.keySet).take(2)
        Some(s"$name: codegen-only=$onlyE interpreted-only=$onlyI " +
          s"(${expect.size} vs ${got.size} distinct rows)")
      }
    }

  test("interpreted evaluation == codegen evaluation on 58 expression-bearing queries") {
    val bad = diverged(interpSession(), Faces)
    assert(bad.isEmpty, s"interpreted mode diverged on:\n${bad.mkString("\n")}")
    // the knob never leaked into the shared session
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
  }

  test("interpreted evaluation == codegen evaluation on 20 composite pipeline faces") {
    val bad = diverged(interpSession(), CompositeFaces)
    assert(bad.isEmpty, s"interpreted mode diverged on:\n${bad.mkString("\n")}")
  }
}
