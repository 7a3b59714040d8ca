package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.InternalBridge
import org.apache.spark.sql.types.DataType

/** SparkSessionExtensions packaging for the library's native expressions.
  *
  * The idiomatic way to ship custom Catalyst expressions with a Spark
  * library: users add
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`) and every `graft_*` function
  * is available in SQL text from session start, on every session of the
  * cluster. This is the only table of `graft_*` names and only SQL uses it:
  * the library's Column builders construct their expressions directly, so
  * they work on any session, with or without these extensions.
  *
  * Injected functions:
  *  - `graft_cosine(a, b)`           — codegen cosine similarity
  *  - `graft_minhash(shingles, k)`   — k-permutation MinHash signature
  *  - `graft_simhash(tokens)`        — 64-bit SimHash sketch
  *  - `graft_shingles(tokens, k, distinct)` — word k-shingles, one loop/row
  *  - `graft_shingle_hashes(tokens, k)` — distinct XXH64 shingle hashes
  *  - `graft_top_ngram_share(tokens, n)` — top n-gram count share
  *  - `graft_langid(text)`           — stopword-dictionary language id
  *  - `graft_dup_line_stats(text)`   — duplicate-line fraction struct
  *  - `graft_cast_ansi(x, 'type')`   — strict cast, ANSI pinned on the node
  *  - `graft_replace_tz(ts, tz, ambiguous, non_existent)` — DST-policy
  *    wall-time reinterpretation
  *  - `graft_deflate_ratio(text)`    — deflate/raw compression-ratio signal
  *  - `graft_pq_encode/lut/adc(...)` — product-quantization ANN kernels
  *  - `graft_span_hash_pairs(tokens, k)` — stride-k window election hashes
  *  - `graft_nearest_cells(vec, cells, centroids, dim, p)` — IVF top-p cells
  *  - `graft_topk(score, id, k)`     — bounded-state per-group top-k agg
  *  - `graft_vec_sum(vec)`           — element-wise vector sum agg
  *  - `graft_bloom_might_contain(key, filter)` — Bloom membership prefilter
  *  - `graft_dsir_score(tokens, table)` — DSIR hashed-feature log weight
  *  - `graft_normalize_unicode(text, form)` — NFC/NFD/NFKC/NFKD
  *  - `graft_c4_keep_lines(text, minWords)` — C4 line filter, one pass
  *  - `graft_gopher_stats(text)` — Gopher quality statistics, one pass
  *  - `graft_blocklist_hits(text, phrases)` — Aho–Corasick blocklist gate
  *
  * It also sets the engine's session defaults
  * (`InternalBridge.engineDefaults`: the generated-class cache size and the
  * streaming checkpoint file manager) unless the user set them. The cache
  * size takes effect only when these extensions are installed at the JVM's
  * first session, before any query has compiled: the cache is built once,
  * at the first compile. And it drops the per-key provenance of the
  * context's Hadoop configuration (`InternalBridge.dropKeyProvenance`):
  * values are unchanged, but `getPropertySources` returns null, so each of
  * Spark's serializations of that configuration carries no per-key GZIP.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions.{intArg, literalArg}

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    InternalBridge.setEngineDefaults()

    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two numeric arrays"),
      (exprs: Seq[Expression]) => plans.CosineSimilarityExpr(exprs(0), exprs(1))))

    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(shingles, k) - k-permutation MinHash signature"),
      (exprs: Seq[Expression]) =>
        plans.MinHashSignatureExpr(exprs(0), intArg("graft_minhash", exprs(1), "k"))))

    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(tokens) - 64-bit SimHash sketch"),
      (exprs: Seq[Expression]) => plans.SimHash64Expr(exprs(0))))

    ext.injectFunction((FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(tokens, k, distinct) - word k-shingles, optionally deduped"),
      (exprs: Seq[Expression]) => plans.ShinglesExpr(exprs(0), intArg("graft_shingles", exprs(1), "k"),
        literalArg("graft_shingles", exprs(2), "distinct") match {
          case b: Boolean => b
          case other => throw new IllegalArgumentException(
            s"graft_shingles: distinct must be a BOOLEAN literal, got $other")
        })))

    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", "graft_shingle_hashes(tokens, k) - distinct XXH64 word k-shingle hashes"),
      (exprs: Seq[Expression]) =>
        plans.ShingleHashesExpr(exprs(0), intArg("graft_shingle_hashes", exprs(1), "k"))))

    ext.injectFunction((FunctionIdentifier("graft_top_ngram_share"),
      info("graft_top_ngram_share", "graft_top_ngram_share(tokens, n) - count share of the most frequent word n-gram"),
      (exprs: Seq[Expression]) =>
        plans.TopNgramShareExpr(exprs(0), intArg("graft_top_ngram_share", exprs(1), "n"))))

    ext.injectFunction((FunctionIdentifier("graft_langid"),
      info("graft_langid", "graft_langid(text) - stopword-dictionary language id (de/en/es/fr/zh/und)"),
      (exprs: Seq[Expression]) => plans.LangIdExpr(exprs(0))))

    ext.injectFunction((FunctionIdentifier("graft_dup_line_stats"),
      info("graft_dup_line_stats", "graft_dup_line_stats(text) - struct(dup_line_frac, dup_line_char_frac)"),
      (exprs: Seq[Expression]) => plans.DupLineStatsExpr(exprs(0))))

    ext.injectFunction((FunctionIdentifier("graft_cast_ansi"),
      info("graft_cast_ansi", "graft_cast_ansi(x, 'ddl-type') - strict cast (raises on overflow/malformed)"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions.Cast(
        exprs(0), DataType.fromDDL(literalArg("graft_cast_ansi", exprs(1), "type").toString), None,
        org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI)))

    ext.injectFunction((FunctionIdentifier("graft_replace_tz"),
      info("graft_replace_tz",
        "graft_replace_tz(ts, tz, ambiguous, non_existent) - wall-time reinterpretation with DST policies"),
      (exprs: Seq[Expression]) => plans.ReplaceTimeZoneExpr(exprs(0),
        literalArg("graft_replace_tz", exprs(1), "tz").toString,
        literalArg("graft_replace_tz", exprs(2), "ambiguous").toString,
        literalArg("graft_replace_tz", exprs(3), "non_existent").toString)))

    ext.injectFunction((FunctionIdentifier("graft_deflate_ratio"),
      info("graft_deflate_ratio", "graft_deflate_ratio(text) - deflate/raw byte-count compression ratio"),
      (exprs: Seq[Expression]) => plans.DeflateRatioExpr(exprs(0))))

    // array literals are decoded by plans.PqExprs.floats /
    // plans.BpeExprs.mergesOf etc.
    ext.injectFunction((FunctionIdentifier("graft_pq_encode"),
      info("graft_pq_encode", "graft_pq_encode(vec, codebook, m, ksub) - PQ sub-codes (argmin-L2)"),
      (exprs: Seq[Expression]) => plans.PqEncodeExpr(exprs(0), plans.PqExprs.floats(exprs(1)),
        intArg("graft_pq_encode", exprs(2), "m"), intArg("graft_pq_encode", exprs(3), "ksub"))))
    ext.injectFunction((FunctionIdentifier("graft_pq_lut"),
      info("graft_pq_lut", "graft_pq_lut(vec, codebook, m, ksub) - per-query ADC lookup table"),
      (exprs: Seq[Expression]) => plans.PqLutExpr(exprs(0), plans.PqExprs.floats(exprs(1)),
        intArg("graft_pq_lut", exprs(2), "m"), intArg("graft_pq_lut", exprs(3), "ksub"))))
    ext.injectFunction((FunctionIdentifier("graft_pq_adc"),
      info("graft_pq_adc", "graft_pq_adc(codes, lut, ksub) - asymmetric-distance score"),
      (exprs: Seq[Expression]) => plans.PqAdcExpr(exprs(0), exprs(1), intArg("graft_pq_adc", exprs(2), "ksub"))))

    ext.injectFunction((FunctionIdentifier("graft_bpe_encode"),
      info("graft_bpe_encode", "graft_bpe_encode(tokens, merges) - BPE sub-tokens under a trained merge table"),
      (exprs: Seq[Expression]) =>
        plans.BpeEncodeExpr(exprs(0), plans.BpeExprs.mergesOf(exprs(1)))))

    ext.injectFunction((FunctionIdentifier("graft_span_hash_pairs"),
      info("graft_span_hash_pairs", "graft_span_hash_pairs(tokens, k) - per-window (uh, uh2) election hashes, stride k"),
      (exprs: Seq[Expression]) => plans.SpanHashPairsExpr(exprs(0),
        intArg("graft_span_hash_pairs", exprs(1), "k"))))

    ext.injectFunction((FunctionIdentifier("graft_nearest_cells"),
      info("graft_nearest_cells", "graft_nearest_cells(vec, cells, centroids, dim, p) - top-p nearest IVF cells"),
      (exprs: Seq[Expression]) => plans.NearestCellsExpr(exprs(0), plans.AnnExprs.longs(exprs(1)),
        plans.AnnExprs.doubles(exprs(2)), intArg("graft_nearest_cells", exprs(3), "dim"),
        intArg("graft_nearest_cells", exprs(4), "p"))))

    ext.injectFunction((FunctionIdentifier("graft_topk"),
      info("graft_topk", "graft_topk(score, id, k) - bounded-state per-group top-k (best-first array<struct<id, score>>)"),
      (exprs: Seq[Expression]) => plans.BoundedTopKAgg(exprs(0), exprs(1),
        intArg("graft_topk", exprs(2), "k"))))

    ext.injectFunction((FunctionIdentifier("graft_topfreq"),
      info("graft_topfreq", "graft_topfreq(tokens, k) - Misra-Gries heavy hitters: k-counter mergeable summary (est desc array<struct<item, est>>)"),
      (exprs: Seq[Expression]) => plans.FreqSketchAgg(exprs(0), exprs(1))))

    ext.injectFunction((FunctionIdentifier("graft_vec_sum"),
      info("graft_vec_sum", "graft_vec_sum(vec) - element-wise sum of numeric arrays per group"),
      (exprs: Seq[Expression]) => plans.VecSumAgg(exprs(0))))

    ext.injectFunction((FunctionIdentifier("graft_normalize_unicode"),
      info("graft_normalize_unicode",
        "graft_normalize_unicode(text, 'NFC'|'NFD'|'NFKC'|'NFKD') - Unicode normalization"),
      (exprs: Seq[Expression]) =>
        plans.NormalizeUnicodeExpr(exprs(0), plans.UnicodeExprs.formOf(exprs(1)))))

    ext.injectFunction((FunctionIdentifier("graft_dsir_score"),
      info("graft_dsir_score",
        "graft_dsir_score(tokens, table) - DSIR log importance weight over a hashed-bucket log-ratio table"),
      (exprs: Seq[Expression]) =>
        plans.DsirScoreExpr(exprs(0), plans.AnnExprs.doubles(exprs(1)))))

    ext.injectFunction((FunctionIdentifier("graft_bloom_might_contain"),
      info("graft_bloom_might_contain",
        "graft_bloom_might_contain(key, filter) - Bloom membership test of a BIGINT key (filter = serialized spark BloomFilter binary literal)"),
      (exprs: Seq[Expression]) =>
        plans.BloomMightContainExpr(exprs(0), plans.BloomExprs.bytes(exprs(1)))))

    ext.injectFunction((FunctionIdentifier("graft_c4_keep_lines"),
      info("graft_c4_keep_lines",
        "graft_c4_keep_lines(text, minWords) - C4 line filter: struct<kept_text, n_kept_lines> in one pass"),
      (exprs: Seq[Expression]) =>
        plans.C4KeepLinesExpr(exprs(0), intArg("graft_c4_keep_lines", exprs(1), "minWords"))))

    ext.injectFunction((FunctionIdentifier("graft_gopher_stats"),
      info("graft_gopher_stats",
        "graft_gopher_stats(text) - Gopher quality statistics struct (words/lines/symbols/stopwords) in one pass"),
      (exprs: Seq[Expression]) => plans.GopherStatsExpr(exprs(0))))

    ext.injectFunction((FunctionIdentifier("graft_blocklist_hits"),
      info("graft_blocklist_hits",
        "graft_blocklist_hits(text, phrases) - distinct blocklist phrases present (Aho-Corasick, ASCII-CI)"),
      (exprs: Seq[Expression]) =>
        plans.BlocklistHitsExpr(exprs(0), plans.BlocklistHitsExpr.strings(exprs(1)))))
  }
}

object GraftExtensions {

  /** The value of SQL function `fn`'s literal argument `name`; a column or
    * NULL argument fails with both named. */
  private def literalArg(fn: String, e: Expression, name: String): Any = {
    require(e.foldable, s"$fn: $name must be a literal, got ${e.sql}")
    val v = e.eval()
    require(v != null, s"$fn: $name must not be NULL")
    v
  }

  private def intArg(fn: String, e: Expression, name: String): Int =
    literalArg(fn, e, name) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case other => throw new IllegalArgumentException(s"$fn: $name must be an INT literal, got $other")
    }

  /** Entries in Spark's generated-class cache (Spark's default is 100).
    * The cache is keyed on (context class loader, source), and in local
    * mode a stage compiles under two loaders (the driver's validation
    * compile and the task's), so each stage holds about two entries. At
    * 100, a repeated `perfbench` `corpus_pipeline` job missed on nearly
    * every lookup and recompiled ~207 classes. A whole recorded run leaves
    * 330 entries (368 for `frame_queries`), so 1,024 holds about three. */
  val CodegenCacheEntries = 1024
}
