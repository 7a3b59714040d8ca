package graft
package faces

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry._

/** The LLM data-prep and dedup faces: cleaning, quality signals, exact and
  * fuzzy dedup, decontamination, DSIR and perplexity selection, mixtures,
  * packing, tokenization, and the multi-stage pipelines built from them. */
object PrepFaces {

  /** qd48's demo blocklist: overlapping prefixes ("bad ...") and a nested
    * phrase pair ("casino bonus" contains "bonus") to exercise the
    * Aho-Corasick suffix output links; mirrored verbatim in the oracle. */
  private[graft] val DemoBlocklist: Seq[String] =
    Seq("bad phrase one", "badword", "casino bonus", "bonus", "zzz qqq")

  /** Fixed, training-shaped BPE merge table (qd49): every side is a base
    * symbol or an earlier merge's output — the "valid table" class real BPE
    * training always produces, and exactly the class where best-rank-first
    * encoding coincides with sequential rank-order application (the SQL
    * oracle's replace chain). English-suffix flavored so it actually fires
    * on the synthetic corpus. */
  private[graft] val fixedMerges: Seq[(String, String)] = Seq(
    ("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("i", "n"), ("in", "g"),
    ("ing", "</w>"), ("a", "n"), ("o", "n"), ("s", "</w>"), ("e", "r"),
    ("o", "r"), ("a", "t"), ("t", "</w>"), ("d", "</w>"), ("an", "d</w>"))

  /** qd50's query terms — shared by the Spark face and the generated oracle
    * so they cannot drift; 'zebra' never occurs in the corpus (df = 0),
    * exercising the zero-tf / max-idf path. */
  private[graft] val Bm25Terms: Seq[String] =
    Seq("hash", "join", "stream", "window", "zebra")

  /** BM25 oracle generator — the DuckDB rendering of [[graft.prep.Prep.bm25]]
    * with the expression tree mirrored verbatim (micro-unit quantization per
    * term before the exact integer sum). Shared by qd50's oracle and the
    * grammar-35 differential fuzz so Spark and SQL can never drift. k1/b are
    * emitted with full `Double.toString` precision so both engines parse the
    * identical double literal. */
  private[graft] def bm25OracleSql(terms: Seq[String], k1: Double, b: Double): String = {
    val toks = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    val k1s = java.lang.Double.toString(k1)
    val bs = java.lang.Double.toString(b)
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n    ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n    ")
    val dfdCols = terms.indices.map(i => s"CAST(df$i AS DOUBLE) AS dfd$i")
      .mkString(", ")
    val termSum = terms.indices.map { i =>
      s"CAST(floor(ln((n - dfd$i + 0.5) / (dfd$i + 0.5) + 1.0) * " +
        s"((tf$i * ($k1s + 1.0)) / (tf$i + $k1s * (1.0 - $bs + $bs * " +
        s"(CAST(len AS DOUBLE) / (CAST(tl AS DOUBLE) / n))))) * 1e6 + 0.5) AS BIGINT)"
    }.mkString("\n  + ")
    s"""WITH dd AS (
       |  SELECT doc_id, lang, $toks AS toks FROM documents
       |), d2 AS (SELECT doc_id, lang, toks, len(toks) AS len FROM dd),
       |m AS (
       |  SELECT count(*) AS n, sum(len) AS tl,
       |    $dfAggs
       |  FROM d2
       |), s AS (
       |  SELECT doc_id, lang, len, n, tl, $dfdCols,
       |    $tfCols
       |  FROM d2 CROSS JOIN m
       |)
       |SELECT doc_id, lang,
       |  $termSum AS bm25_uscore
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** The quality-selection flagship's stage pipeline, shared by exact qd41
    * and hashed qd41h, parameterised only by its two scoring steps:
    *
    *  - tokenize ONCE (r19, guide §1.2/§5) into a token table — before,
    *    every stage re-ran the whitespace tokenizer over corpus-scale text
    *    (~3.3 corpus-equivalents of regex splitting + parquet text decode
    *    per pipeline). Every stage reads pre-split arrays (Prep ops pass
    *    array<string> text columns through), and survivors carry only
    *    (doc_id, tk). Tokenization is deterministic, so every downstream
    *    value is bit-identical;
    *  - stage 1: `gate` the token table (the perplexity cut);
    *  - stage 2: drop survivors sharing any 5-shingle with the eval bench
    *    (Bloom-prefiltered exact decontamination);
    *  - stage 3: `score` the clean pool (DSIR weights, deterministic top-k).
    *
    * Inter-stage checkpoints: each stage's survivors feed MULTIPLE
    * downstream scans (stage 2 reads s1 twice: prefilter + verify
    * join-back; stage 3 reads s2 up to four times). Without the persist
    * every re-read re-runs the whole upstream pipeline — at 100 TB the
    * survivors-to-disk checkpoint between stages is the standard shape
    * (SCALE_CONTRACTS.md "flagship cache lifecycle"). DISK_ONLY (r12
    * directive 1b): under memory pressure MEMORY_AND_DISK evicts and the
    * downstream re-scans re-run the WHOLE upstream; DISK_ONLY bounds the
    * worst case at a local disk re-read. The scored result is BOUNDED, so it
    * localizes eagerly and ALL stage caches release before returning — a
    * long-lived session chaining flagship runs retains nothing. */
  private def qualitySelect(s: SparkSession, d: String)
                           (gate: DataFrame => DataFrame)
                           (score: DataFrame => DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.DISK_ONLY
    val toks = t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .persist(lvl)
    val s1 = gate(toks).select(col("doc_id"), col("tk")).persist(lvl)
    val s2 = graft.prep.Prep.contaminationBloom(s1, toks.filter(col("doc_id") % 89 === 0),
        "doc_id", "tk", shingleK = 5, minShared = 1, fpp = 0.01)
      .filter(!col("contaminated"))
      .select(col("doc_id"), col("tk"))
      .persist(lvl)
    try localize(s, score(s2))
    finally {
      s2.unpersist(blocking = true)
      s1.unpersist(blocking = true)
      toks.unpersist(blocking = true)
    }
  }

  /** qd40's dirty-corpus synthesis: 6-word lines, terminal '.' on
    * (i+doc_id)%3!=0 lines, 'javascript' every 7th line, page poison
    * ('{' / 'lorem ipsum') on doc_id%13 / %17. */
  private def qd40Dirty(docs: DataFrame): DataFrame = {
    val tf = graft.functions.TextFunctions
    val w = tf.tokens(col("text"))
    val nLines = greatest(ceil(size(w) / lit(6.0)).cast("int"), lit(1))
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      concat(
        concat_ws(" ", slice(w, i * 6 + 1, lit(6))),
        when(i % 7 === 0, lit(" javascript")).otherwise(lit("")),
        when((i + col("doc_id")) % 3 =!= 0, lit(".")).otherwise(lit(""))))
    val dirty = concat(
      array_join(lines, "\n"),
      when(col("doc_id") % 13 === 0, lit(" {")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0, lit("\nlorem ipsum.")).otherwise(lit("")))
    docs.select(col("doc_id"), dirty.as("text"))
  }

  /** qd40's operator stage: C4 line/page clean over a (doc_id, text) input. */
  private def qd40Run(input: DataFrame): DataFrame =
    graft.prep.Prep.c4Clean(input, "text")
      .select(col("doc_id"), col("n_kept_lines"), col("keep"), col("kept_text"))
      .orderBy(col("doc_id"))

  /** qd44's structured-corpus synthesis: 6-word lines, "- " bullets on
    * (i+doc_id)%5 lines, "..." vs "." endings on %7, " the"/" of" stopword
    * injection on %3/%4, " #" symbols on %11. */
  private def qd44Structured(docs: DataFrame): DataFrame = {
    val tf = graft.functions.TextFunctions
    val w = tf.tokens(col("text"))
    val nLines = greatest(ceil(size(w) / lit(6.0)).cast("int"), lit(1))
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      concat(
        when((i + col("doc_id")) % 5 === 0, lit("- ")).otherwise(lit("")),
        concat_ws(" ", slice(w, i * 6 + 1, lit(6))),
        when((i + col("doc_id")) % 3 === 0, lit(" the")).otherwise(lit("")),
        when((i + col("doc_id")) % 4 === 0, lit(" of")).otherwise(lit("")),
        when((i + col("doc_id")) % 11 === 0, lit(" #")).otherwise(lit("")),
        when((i + col("doc_id")) % 7 === 0, lit("...")).otherwise(lit("."))))
    docs.select(col("doc_id"), array_join(lines, "\n").as("text"))
  }

  /** qd44's operator stage: the full Gopher signal set + page verdict. */
  private def qd44Run(input: DataFrame): DataFrame =
    graft.prep.Prep.gopherQuality(input, "text")
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
        col("alpha_frac"), col("n_stopwords"), col("gopher_keep"))
      .orderBy(col("doc_id"))

  /** qd46's paragraph synthesis: 8-word paragraphs with an inner newline
    * (must fold to a space, not split the paragraph), every i%3==2
    * paragraph a copy of paragraph 0. */
  private def qd46Paras(docs: DataFrame): DataFrame = {
    val T = graft.functions.TextFunctions
    val w = T.tokens(col("text"))
    val nP = greatest(ceil(size(w) / lit(8.0)).cast("int"), lit(1))
    def para(j: Column) = concat(
      concat_ws(" ", slice(w, j * 8 + 1, lit(4))), lit("\n"),
      concat_ws(" ", slice(w, j * 8 + 5, lit(4))))
    val paras = transform(sequence(lit(0), nP - 1), i =>
      when(i % 3 === 2, para(lit(0))).otherwise(para(i)))
    docs.select(col("doc_id"), array_join(paras, "\n\n").as("text"))
  }

  /** qd46's operator stage: native one-pass dup-paragraph kernels. */
  private def qd46Run(s: SparkSession, input: DataFrame): DataFrame = {
    val T = graft.functions.TextFunctions
    input.select(col("doc_id"),
        T.dupParagraphFraction(col("text")).as("dup_para_frac"),
        T.dupParagraphCharFraction(col("text")).as("dup_para_char_frac"))
      .orderBy(col("doc_id"))
  }

  /** q54's crawl-page synthesis: deterministic HTML (6-word <p> lines,
    * javascript bait on i%7, unpunctuated lines on (i+doc_id)%3,
    * '{'-poison pages on doc_id%13). */
  private def q54Html(docs: DataFrame): DataFrame = {
    val T = graft.functions.TextFunctions
    val w = T.tokens(col("text"))
    val nL = greatest(ceil(size(w) / lit(6.0)).cast("int"), lit(1))
    val paras = transform(sequence(lit(0), nL - 1), i => concat(
      lit("<p>"),
      concat_ws(" ", slice(w, i * 6 + 1, lit(6))),
      when(i % 7 === 0, lit(" javascript")).otherwise(lit("")),
      when((i + col("doc_id")) % 3 =!= 0, lit(".")).otherwise(lit("")),
      lit("</p>")))
    val html = concat(
      lit("<html><head><style>p{x}</style><script>var i=0;</script></head><body>"),
      array_join(paras, ""),
      when(col("doc_id") % 13 === 0, lit("<p>{ x }.</p>")).otherwise(lit("")),
      lit("<!-- c --></body></html>"))
    docs.select(col("doc_id"), col("lang"), html.as("html"))
  }

  /** q54's operator chain over (doc_id, lang, html): htmlToText → C4 clean
    * → Gopher gate → boilerplate fingerprint dedup → chunk → rollup. */
  private def q54Run(input: DataFrame): DataFrame = {
    val P = graft.prep.Prep
    val T = graft.functions.TextFunctions
    val extracted = input.select(col("doc_id"), col("lang"),
      T.htmlToText(col("html")).as("text"))
    val gated = P.gopherQuality(
        P.c4Clean(extracted, "text").withColumnRenamed("keep", "c4_keep"),
        "kept_text", minWords = 20L, minStopwords = 0L)
      .filter(col("c4_keep") && col("gopher_keep"))
      .select(col("doc_id"), col("lang"), col("kept_text").as("text"))
    val deduped = graft.dedup.Dedup.exact(
        gated.withColumn("__fp",
          T.fingerprint(concat_ws(" ", slice(T.tokens(col("text")), 1, 3)))),
        Seq("__fp"), "doc_id")
      .drop("__fp")
    P.chunk(deduped, "doc_id", "text", chunkSize = 32, stride = 32,
        carryCols = Seq("lang"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("n_tokens"))
      .orderBy(col("lang"))
  }

  /** qd41's exact selection: perplexity gate, decontamination, DSIR top-50. */
  private def qd41Run(s: SparkSession, d: String): DataFrame = {
    val P = graft.prep.Prep
    qualitySelect(s, d) { toks =>
      // stage 1: perplexity gate (LM = every 11th doc, keep <= 3.5 nats/bigram)
      P.perplexityBigram(toks, toks.filter(col("doc_id") % 11 === 0), "doc_id", "tk")
        .filter(col("n_bigrams") > 0 &&
          col("nll_unats") <= lit(3500000L) * col("n_bigrams"))
    } { s2 =>
      // stage 3: DSIR micro-nat weights on the clean pool, deterministic cut
      P.selectTopK(
          P.importanceWeightsMicro(s2, s2.filter(col("doc_id") % 17 === 0),
            "doc_id", "tk"),
          "dsir_uweight", "doc_id", k = 50)
        .select(col("doc_id"), col("dsir_uweight"))
    }
  }

  /** qd41's HASHED twin — the same three-stage selection with every scoring
    * pass on its 100 TB face: perplexity and DSIR models are B-bounded
    * bucket arrays riding as plan literals, so BOTH scoring stages are
    * narrow maps (zero corpus shuffle; the only corpus-wide exchanges left
    * are the bloom-verify join and the top-k). This is the plan a real
    * corpus build runs — the qd41h BENCH face; the qd41h CORRECTNESS face
    * wraps it in the overlap contract against exact qd41, with the
    * scored-pool count riding along (`withPool`: `n_pool` on every selected
    * row, computed inside the same stage-cache lifecycle) as its SF-portable
    * selection-count anchor. */
  private def qd41hRun(s: SparkSession, d: String, withPool: Boolean): DataFrame = {
    val P = graft.prep.Prep
    qualitySelect(s, d) { toks =>
      // hashed perplexity gate: smoothed over its occupied-bucket support,
      // so its NLL sits on the exact face's scale and the SAME cut applies
      P.perplexityBigramHashed(toks, toks.filter(col("doc_id") % 11 === 0), "tk")
        .filter(col("n_bigrams") > 0 && col("ppl_nats") <= 3.5)
    } { s2 =>
      // hashed DSIR — scoring is one narrow expression over s2
      val weights = P.importanceWeightsHashed(s2,
        s2.filter(col("doc_id") % 17 === 0), "tk")
      val top = P.selectTopK(weights, "dsir_weight", "doc_id", k = 50)
        .select(col("doc_id"), col("dsir_weight"))
      // n_pool re-scans persisted s2 once — contract-face-only cost
      if (!withPool) top
      else top.crossJoin(weights.agg(count(lit(1)).as("n_pool")))
    }
  }

  // ------------------------------------------------------------- oracle SQL

  /** DuckDB mirror of TextFunctions.langScore — generated from the SAME
    * dictionaries so Spark and oracle can never drift. */
  private def langScoreSql(lang: String): String = {
    val words = graft.functions.TextFunctions.Stopwords.toMap.apply(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ($words)))"
  }

  /** langId mirror without ordering — nestable as a FROM subquery. */
  private def langPredSql: String = {
    val langs = graft.functions.TextFunctions.Stopwords.map(_._1)
    val scoreCols = langs.map(l => s"${langScoreSql(l)} AS s_$l").mkString(",\n  ")
    val allZero = langs.map(l => s"s_$l = 0").mkString(" AND ")
    val branches = langs.map { l =>
      val isMax = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $isMax THEN '$l'"
    }.mkString("\n    ")
    s"""WITH s AS (SELECT doc_id, lang,
       |  $scoreCols
       |FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN $allZero THEN 'und'
       |    $branches
       |    ELSE 'und' END AS lang_pred
       |FROM s""".stripMargin
  }

  private def langIdOracleSql: String =
    s"SELECT * FROM ($langPredSql) ORDER BY doc_id"

  /** Repetition-signal mirror (TextFunctions.dupLineFraction/
    * dupLineCharFraction/topNgramShare/repetitionOk) without ordering —
    * nestable as a FROM subquery. */
  private val repetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
      |  FROM documents
      |),
      |lrow AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, chr(10)), x -> x <> '')) AS line
      |  FROM documents
      |),
      |lg AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
      |       FROM lrow GROUP BY doc_id, line),
      |lagg AS (
      |  SELECT doc_id,
      |    CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dup_line_frac,
      |    CAST(sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS DOUBLE)
      |      / sum(c * len) AS dup_line_char_frac
      |  FROM lg GROUP BY doc_id),
      |s2 AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
      |    THEN [list_aggregate(w[i:i+1], 'string_agg', ' ') FOR i IN range(1, len(w))]
      |    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS s
      |  FROM toks WHERE len(w) > 0),
      |c2 AS (SELECT doc_id, s, count(*) AS c FROM s2 GROUP BY doc_id, s),
      |a2 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top2 FROM c2 GROUP BY doc_id),
      |s3 AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      |    THEN [list_aggregate(w[i:i+2], 'string_agg', ' ') FOR i IN range(1, len(w) - 1)]
      |    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS s
      |  FROM toks WHERE len(w) > 0),
      |c3 AS (SELECT doc_id, s, count(*) AS c FROM s3 GROUP BY doc_id, s),
      |a3 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top3 FROM c3 GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(lagg.dup_line_frac, 0.0) AS dup_line_frac,
      |  coalesce(lagg.dup_line_char_frac, 0.0) AS dup_line_char_frac,
      |  coalesce(a2.top2, 0.0) AS top2_share,
      |  coalesce(a3.top3, 0.0) AS top3_share,
      |  (coalesce(lagg.dup_line_frac, 0.0) <= 0.30
      |    AND coalesce(lagg.dup_line_char_frac, 0.0) <= 0.20
      |    AND coalesce(a2.top2, 0.0) <= 0.20 AND coalesce(a3.top3, 0.0) <= 0.18) AS rep_ok
      |FROM documents d
      |LEFT JOIN lagg ON d.doc_id = lagg.doc_id
      |LEFT JOIN a2 ON d.doc_id = a2.doc_id
      |LEFT JOIN a3 ON d.doc_id = a3.doc_id""".stripMargin

  /** DSIR weight computation shared by qd36/qd37: Laplace-smoothed unigram
    * models (target = doc_id % 17, source = whole corpus) over the shared
    * vocabulary. Per-word log-ratios are quantized to micro-nats
    * (`floor(lr*1e6 + 0.5)` — exact int64) BEFORE the per-doc sum, because
    * `ln` is the one op the two libms disagree on in the last ulp; the
    * integer sum is then order-independent and bitwise-exact. */
  private val dsirWeightsCte =
    s"""WITH ctok AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
      |  FROM documents
      |),
      |$dsirModelCtes,
      |weights AS (
      |  SELECT d.doc_id, d.lang, CAST(coalesce(ws.uw, 0) AS BIGINT) AS dsir_uweight
      |  FROM documents d LEFT JOIN wsum ws ON d.doc_id = ws.doc_id
      |)""".stripMargin

  /** The DSIR model over a `ctok(doc_id, w)` token CTE defined before it
    * (target = doc_id % 17 of those tokens): per-word micro-nat log-ratios
    * `lr(w, ulr)` and their per-doc sums `wsum(doc_id, uw)`. Shared by
    * [[dsirWeightsCte]] and qd41's oracle. */
  private lazy val dsirModelCtes =
    """ttok AS (SELECT w FROM ctok WHERE doc_id % 17 = 0),
      |cs AS (SELECT w, count(*) AS c FROM ctok GROUP BY w),
      |ts AS (SELECT w, count(*) AS c FROM ttok GROUP BY w),
      |vocab AS (SELECT w FROM cs UNION SELECT w FROM ts),
      |consts AS (SELECT (SELECT count(*) FROM vocab) AS v,
      |                  (SELECT count(*) FROM ctok) AS ns,
      |                  (SELECT count(*) FROM ttok) AS nt),
      |lr AS (
      |  SELECT vocab.w,
      |    CAST(floor((ln((coalesce(ts.c, 0) + 1.0) / (nt + 1.0 * v)) -
      |                ln((coalesce(cs.c, 0) + 1.0) / (ns + 1.0 * v))) * 1000000.0 + 0.5)
      |         AS BIGINT) AS ulr
      |  FROM vocab LEFT JOIN cs ON vocab.w = cs.w
      |             LEFT JOIN ts ON vocab.w = ts.w, consts
      |),
      |wsum AS (
      |  SELECT t.doc_id, sum(lr.ulr) AS uw
      |  FROM ctok t JOIN lr ON t.w = lr.w
      |  GROUP BY t.doc_id
      |)""".stripMargin

  /** Shared DuckDB shingle CTE (5-gram, whitespace tokens) mirroring
    * TextFunctions.tokens + shingles. */
  private val shingleCte =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
      |  FROM documents
      |),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 5
      |    THEN [list_aggregate(w[i:i+4], 'string_agg', ' ') FOR i IN range(1, len(w) - 3)]
      |    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS s
      |  FROM toks
      |)""".stripMargin

  /** The qd03 exact-Jaccard pair query as a nestable subquery (DuckDB allows
    * CTEs inside FROM subqueries) — reused by the connected-components
    * oracle so the edge list cannot drift from qd03's. */
  private lazy val jaccardPairsSql: String =
    s"""$shingleCte,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b
       |FROM p JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5""".stripMargin

  /** Exact 5-shingle Jaccard pairs (>= 0.5) with their similarity: qd03's
    * oracle, and qd16's verbatim (only its candidate-generation plan
    * differs on the Spark side). */
  private lazy val ngramJaccardSql: String =
    s"""$shingleCte,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b, CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
       |FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** qd03's Jaccard pairs closed under recursive reach: opens a
    * `WITH RECURSIVE` chain ending in `comp(id, component)`, every paired
    * doc mapped to its cluster's minimum doc_id (unpaired docs absent).
    * Shared by the qd10, qd53 and q49 oracles. */
  private lazy val componentsCte: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT id_a, id_b FROM ($jaccardPairsSql)
       |),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |),
       |comp AS (SELECT src AS id, least(src, min(dst)) AS component
       |         FROM reach GROUP BY src)""".stripMargin

  /** The qd39 perplexity model as CTEs over a `toks(doc_id, tk)` CTE
    * defined before it: the add-1 bigram LM on every 11th doc, scored per
    * doc bigram as `scored(doc_id, unll)` (micro-nat quantized). Shared by
    * the qd39 and qd41 oracles. */
  private val perplexityCtes: String =
    """lmtk AS (SELECT tk FROM toks WHERE doc_id % 11 = 0),
      |vv AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(tk) AS w FROM lmtk)),
      |c1 AS (
      |  SELECT w1, count(*) AS c1 FROM (
      |    SELECT unnest(tk[1:len(tk)-1]) AS w1 FROM lmtk WHERE len(tk) >= 2
      |  ) GROUP BY w1
      |),
      |c12 AS (
      |  SELECT bg, count(*) AS c12 FROM (
      |    SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS bg
      |    FROM lmtk WHERE len(tk) >= 2
      |  ) GROUP BY bg
      |),
      |docbg AS (
      |  SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS bg
      |  FROM toks WHERE len(tk) >= 2
      |),
      |scored AS (
      |  SELECT d.doc_id,
      |    CAST(floor((ln(coalesce(c1.c1, 0) + 1.0 * vv.v) -
      |                ln(coalesce(c12.c12, 0) + 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS unll
      |  FROM docbg d
      |  LEFT JOIN c12 ON d.bg = c12.bg
      |  LEFT JOIN c1 ON string_split(d.bg, ' ')[1] = c1.w1, vv
      |)""".stripMargin

  /** qd49 oracle: BPE-encode each word by replaying [[fixedMerges]] as a
    * sequential replace chain over a delimiter-framed symbol string
    * (`␟t␟h␟e␟</w>␟` with ␟ = chr(31), absent from the corpus). One
    * left-to-right non-overlapping `replace` per merge IS `Bpe.mergeOnce`,
    * and for a valid table sequential application equals the encoder's
    * best-rank-first loop (see the qd49 query comment). Sub-token count per
    * word = delimiters − 1. */
  private lazy val bpeEncodeFixedSql: String = {
    val D = "chr(31)"
    def q(x: String) = "'" + x.replace("'", "''") + "'"
    val init = D + " || regexp_replace(w, '(.)', '" + "\\1' || " + D + ", 'g') || '</w>' || " + D
    val chain = fixedMerges.foldLeft(init) { case (acc, (a, b)) =>
      "replace(" + acc + ", " + D + " || " + q(a) + " || " + D + " || " + q(b) + " || " + D +
        ", " + D + " || " + q(a + b) + " || " + D + ")"
    }
    """WITH words AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
      |  FROM documents
      |),
      |enc AS (SELECT doc_id, """.stripMargin + chain + """ AS s FROM words),
      |per_doc AS (
      |  SELECT doc_id, sum(length(s) - length(replace(s, chr(31), '')) - 1) AS n
      |  FROM enc GROUP BY doc_id
      |)
      |SELECT d.doc_id, CAST(coalesce(p.n, 0) AS INT) AS n_bpe_tokens
      |FROM documents d LEFT JOIN per_doc p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB mirror of TextFunctions.htmlToText over an `html` column: the
    * SAME RE2-portable regex chain and entity order. Shared by the qd43
    * and q54 oracles. */
  private val htmlToTextSql: String =
    """trim(
      |  regexp_replace(
      |    regexp_replace(
      |      replace(replace(replace(replace(replace(replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)[ \t\n\r\f]*>', ' ', 'g'),
      |              '(?s)<!--.*?-->', ' ', 'g'),
      |            '(?i)</?(br|pre|p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|article|header|footer)\b[^>]*>', chr(10), 'g'),
      |          '<[^>]*>', ' ', 'g'),
      |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
      |      '[ \t\r\f]+', ' ', 'g'),
      |    ' ?\n[\n ]*', chr(10), 'g'),
      |  ' ' || chr(10))""".stripMargin

  /** The exact decontamination oracle: docs sharing any 5-gram shingle
    * with the eval bench (doc_id % `benchMod` = 0). Shared by qd18 and
    * qd34, whose Bloom prefilter must be invisible in the result. */
  private def decontaminationSql(benchMod: Int): String =
    s"""$shingleCte,
       |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % $benchMod = 0),
       |hits AS (
       |  SELECT sh.doc_id, count(*) AS n_shared
       |  FROM sh JOIN bsh ON sh.s = bsh.s
       |  GROUP BY sh.doc_id
       |)
       |SELECT d.doc_id, d.lang,
       |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
       |  coalesce(h.n_shared, 0) >= 1 AS contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** qd28's span dedup as CTEs: whitespace tokens, 20-word
    * non-overlapping spans, keep-first by (doc_id, pos), and each doc's
    * surviving spans re-joined as `k(doc_id, text)`. Shared by the qd28
    * and q53 oracles. */
  private val spanDedupCtes: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id,
      |    unnest([list_aggregate(w[i*20+1:i*20+20], 'string_agg', ' ')
      |            FOR i IN range(CAST(ceil(len(w) / 20.0) AS BIGINT))]) AS span,
      |    unnest(range(CAST(ceil(len(w) / 20.0) AS BIGINT))) AS pos
      |  FROM t
      |),
      |r AS (
      |  SELECT doc_id, pos, span,
      |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      |  FROM c
      |),
      |k AS (
      |  SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS text
      |  FROM r WHERE rn = 1 GROUP BY doc_id
      |)""".stripMargin

  /** qd22/qd42's mixture frame: per-doc token counts `d`, per-language
    * totals `tot`, then the salted-bucket rollup of the docs kept under a
    * per-language `r(lang, rate)` that `rateCtes` defines over `tot`. */
  private def mixtureSql(rateCtes: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
       |  FROM documents
       |),
       |tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tok FROM d GROUP BY lang),
       |$rateCtes
       |SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens
       |FROM d JOIN r ON d.lang = r.lang
       |WHERE ((doc_id + 1) % 1000000007) * 2654435761 % 1000000007 % 1000 < rate
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** The prefix-sum packing shared by the qd23 and qd47 oracles: each
    * doc's whitespace-token count and the exclusive running total `prev`
    * in doc_id order. */
  private val packedSql: String =
    """  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      |    FROM documents
      |  )""".stripMargin

  /** qd52 mirror: the same injected repetition (doc_id % 4 phrase copies),
    * then per n in 5..10 the same all-occurrences duplicate-char fraction —
    * n-grams via the qd11 list-comprehension windows, grouped by the n-gram
    * STRING (the expression counts strings too, so a 64-bit-collision
    * divergence is impossible), `length()` counting codepoints in both
    * engines. Both sides divide long-exact char counts as doubles, so the
    * fractions are bitwise-identical. */
  private lazy val dupNgramOracleSql: String = {
    val ns = (5 to 10).toSeq
    val ctes = ns.map { n =>
      s"""s$n AS (SELECT doc_id, unnest(CASE WHEN len(w) >= $n
         |  THEN [list_aggregate(w[i:i+${n - 1}], 'string_agg', ' ') FOR i IN range(1, len(w) - ${n - 2})]
         |  ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS s
         |  FROM toks WHERE len(w) > 0),
         |c$n AS (SELECT doc_id, s, count(*) AS c, length(s) AS len FROM s$n GROUP BY doc_id, s),
         |a$n AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(c * len) AS DOUBLE) AS f
         |  FROM c$n GROUP BY doc_id)""".stripMargin
    }.mkString(",\n")
    val fields = ns.map(n => s"  coalesce(a$n.f, 0.0) AS dup${n}_frac").mkString(",\n")
    val gate = graft.functions.TextFunctions.DupNgramThresholds
      .map { case (n, thr) => s"coalesce(a$n.f, 0.0) <= $thr" }.mkString(" AND ")
    val joins = ns.map(n => s"LEFT JOIN a$n ON d.doc_id = a$n.doc_id").mkString("\n")
    s"""WITH base AS (
       |  SELECT doc_id, text || ' ' || repeat('rep' || CAST(doc_id % 5 AS VARCHAR)
       |    || ' alpha beta gamma delta epsilon ', CAST(doc_id % 4 AS INT)) AS text
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
       |  FROM base),
       |$ctes
       |SELECT d.doc_id,
       |$fields,
       |  ($gate) AS ngram_ok
       |FROM documents d
       |$joins
       |ORDER BY d.doc_id""".stripMargin
  }

  val faces: Seq[Face] = Seq(
    // ---- training-data pipeline operators (driver north-star extensions) ----

    // exact dedup: deterministic keep-first per key group
    Face("qd01_dedup_exact", (s, d) => {
      graft.dedup.Dedup.exact(t(s, d, "documents"), Seq("lang", "source"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle =
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // fingerprint dedup: count distinct normalized-text fingerprints per lang
    // (oracle counts distinct normalized text — equal iff no 64-bit collisions)
    Face("qd02_fingerprint", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(countDistinct(graft.functions.TextFunctions.fingerprint(col("text"))).as("n_fp"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }, oracle =
      """SELECT lang,
        |  count(DISTINCT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS n_fp,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // exact n-gram Jaccard near-dup pairs (5-gram shingles, tau=0.5)
    Face("qd03_ngram_jaccard", (s, d) => {
      graft.dedup.Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          shingleK = 5, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }, oracle = ngramJaccardSql),

    // MinHash LSH near-dup pairs, emitted as a driver-checkable verdict
    // (same pattern as the qs02-qs04 recall contracts): the query verifies
    // its own pairs against the EXACT prefix-filtered Jaccard join —
    // precision (every found pair really has J >= 0.5; measured min 0.857
    // across SFs, the synthetic near-dups are strong) and recall (every
    // exact pair at J >= 0.7 is found; 32 bands x 4 rows misses such a pair
    // with p ~ 2e-4, measured 0 missed). The raw pair lists stay pinned by
    // the Chernoff-band ScalaTest spec.
    Face("qd04_minhash_pairs", (s, d) => {
      val docs = t(s, d, "documents")
      val D = graft.dedup.Dedup
      val mh = D.minhashPairs(docs, "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 5, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val exact = D.ngramJaccardPairsPrefix(docs, "doc_id", "text",
        shingleK = 5, threshold = 0.5)
      val falsePos = mh.join(exact.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      val missedHi = exact.filter(col("jaccard") >= 0.7)
        .select(col("id_a"), col("id_b"))
        .join(mh, Seq("id_a", "id_b"), "left_anti")
      mh.agg(count(lit(1)).as("__n"))
        .crossJoin(falsePos.agg(count(lit(1)).as("__fp")))
        .crossJoin(missedHi.agg(count(lit(1)).as("__miss")))
        .select((col("__n") >= 1).as("found_pairs"),
          (col("__fp") === 0).as("precision_ok"),
          (col("__miss") === 0).as("recall_ok"))
    }, oracle =
      // Sketch-dedup verdict contracts (same pattern as the ANN recall rows
      // of SimilarityFaces): the Spark query verifies its approximate pairs against the
      // exact metric in-engine and emits booleans the oracle states.
      "SELECT true AS found_pairs, true AS precision_ok, true AS recall_ok",
    // raw MinHash-LSH candidate pairs (the qd04 contract's operator half;
    // its exact-verify half is qd16's workload, benched there)
    bench = Some((s, d) => {
      graft.dedup.Dedup.minhashPairs(t(s, d, "documents"), "doc_id", "text",
        numHashes = 128, bands = 32, shingleK = 5, threshold = 0.5)
    })),

    // SimHash near-dup pairs (4-chunk pigeonhole blocking, hamming <= 3),
    // verdict-emitting: SimHash approximates token-FREQUENCY similarity
    // (not shingle overlap), so the verification metric is token-multiset
    // cosine — every found pair must clear 0.6 (measured min 0.77/0.78 at
    // sf0.001/sf0.01). Hamming/monotonicity behavior stays spec-pinned.
    Face("qd05_simhash_pairs", (s, d) => {
      val docs = t(s, d, "documents")
      val T = graft.functions.TextFunctions
      val pairs = graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text",
          chunks = 4, maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val tf = docs.select(col("doc_id"), explode(T.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).cast("double").as("c"))
      val norms = tf.groupBy(col("doc_id")).agg(sum(col("c") * col("c")).as("n2"))
      val dots = pairs
        .join(tf.select(col("doc_id").as("id_a"), col("w"), col("c").as("ca")), Seq("id_a"))
        .join(tf.select(col("doc_id").as("id_b"), col("w"), col("c").as("cb")), Seq("id_b", "w"))
        .groupBy(col("id_a"), col("id_b")).agg(sum(col("ca") * col("cb")).as("dot"))
      // precision as a RATE, not min-over-pairs (r14): SimHash is a
      // probabilistic blocker, so as the corpus (and pair count) grows an
      // occasional sub-threshold candidate is EXPECTED — a min() verdict
      // fails by construction at scale while saying nothing about the
      // operator. Measured cos>=0.6 rates: 1.0 / 1.0 / 0.998 at
      // sf0.001/0.01/0.1 (525 pairs, one at 0.543); floor 0.95 with margin.
      pairs
        .join(dots, Seq("id_a", "id_b"), "left")
        .join(norms.select(col("doc_id").as("id_a"), col("n2").as("na")), "id_a")
        .join(norms.select(col("doc_id").as("id_b"), col("n2").as("nb")), "id_b")
        .select((coalesce(col("dot"), lit(0.0)) / sqrt(col("na") * col("nb"))).as("__cos"))
        .agg(count(lit(1)).as("__n"),
          avg(when(col("__cos") >= 0.6, 1.0).otherwise(0.0)).as("__rate"))
        .select((col("__n") >= 1).as("found_pairs"),
          (col("__rate") >= 0.95).as("precision_ok"))
    }, oracle = "SELECT true AS found_pairs, true AS precision_ok",
    // raw SimHash pigeonhole candidate pairs
    bench = Some((s, d) => {
      graft.dedup.Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
        chunks = 4, maxHamming = 3)
    })),

    // heuristic language ID (stopword scoring; oracle generated from the
    // same dictionaries — see langIdOracleSql)
    Face("qd06_langid", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }, oracle = langIdOracleSql),

    // token counting: whitespace + BPE-ish regex pre-tokenizer
    Face("qd07_token_stats", (s, d) => {
      val T = graft.functions.TextFunctions
      t(s, d, "documents")
        .select(col("doc_id"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"),
          T.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
          T.nChars(col("text")).cast("long").as("n_chars"),
          T.meanTokenLen(col("text")).as("mean_tok_len"))
        .orderBy(col("doc_id"))
    }, oracle = {
      val bpe = graft.functions.TextFunctions.BpePattern.replace("'", "''")
      s"""SELECT doc_id,
         |  len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
         |  len(regexp_extract_all(text, '$bpe')) AS n_bpe,
         |  length(text) AS n_chars,
         |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |    / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS mean_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // quality scoring: length/alnum/stopword signals + composite
    Face("qd08_quality", (s, d) => {
      val T = graft.functions.TextFunctions
      t(s, d, "documents")
        .select(col("doc_id"),
          T.alnumRatio(col("text")).as("alnum_ratio"),
          T.stopwordRatio(col("text")).as("stop_ratio"),
          T.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, oracle = {
      val enScore = langScoreSql("en")
      s"""SELECT doc_id,
         |  CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS alnum_ratio,
         |  CAST($enScore AS DOUBLE)
         |    / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS stop_ratio,
         |  (CASE WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) BETWEEN 10 AND 100000
         |        THEN 1.0 ELSE 0.0 END * 0.4)
         |  + (CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 0.4)
         |  + (least(CAST($enScore AS DOUBLE)
         |      / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) * 10.0, 1.0) * 0.2) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // embedding near-dup pairs: exact cosine >= 0.35 within label blocks
    Face("qd09_embedding_dedup", (s, d) => {
      graft.dedup.Dedup.embeddingCosinePairs(t(s, d, "embeddings"), "vec_id",
          "embedding", "label", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
        |      / sqrt(list_sum(list_transform(a.v, x -> x * x)) * list_sum(list_transform(b.v, x -> x * x))) AS cosine
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |) WHERE cosine >= 0.35 ORDER BY id_a, id_b""".stripMargin),

    // duplicate-cluster resolution: connected components (iterative min-label
    // propagation) over the exact-Jaccard near-dup graph
    Face("qd10_dedup_components", (s, d) => {
      val pairs = graft.dedup.Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", shingleK = 5, threshold = 0.5)
      graft.dedup.ConnectedComponents.components(pairs)
        .orderBy(col("id"))
    }, oracle =
      s"""$componentsCte
         |SELECT id, component FROM comp ORDER BY id""".stripMargin),

    // Gopher-style repetition signals: duplicate-line ratios + top-n-gram
    // count shares, and the combined keep/drop gate
    Face("qd11_repetition", (s, d) => {
      val T = graft.functions.TextFunctions
      t(s, d, "documents")
        .select(col("doc_id"),
          T.dupLineFraction(col("text")).as("dup_line_frac"),
          T.dupLineCharFraction(col("text")).as("dup_line_char_frac"),
          T.topNgramShare(col("text"), 2).as("top2_share"),
          T.topNgramShare(col("text"), 3).as("top3_share"),
          T.repetitionOk(col("text")).as("rep_ok"))
        .orderBy(col("doc_id"))
    }, oracle =
      // Repetition signals: line ratios via per-line GROUP BY (counts exact,
      // each ratio one division — bit-identical doubles), top-n-gram shares
      // via non-distinct shingle unnest. documents contain no '\n' and no
      // token-less text at any SF, so the LEFT JOIN/coalesce guards (empty-
      // line docs -> 0.0 line fracs; zero-token docs -> 0.0 shares, matching
      // TopNgramShareExpr's empty-array branch) never fire on testdata.
      s"SELECT * FROM ($repetitionSql) ORDER BY doc_id"),

    // URL canonicalization + crawl-style URL dedup: messy URLs are built
    // deterministically from (source, doc_id) so both engines normalize the
    // same inputs — mixed-case host, default port, www, tracking params,
    // unsorted query, fragment, trailing slash all get canonicalized, then
    // the first doc per canonical URL wins
    Face("qd12_url_dedup", (s, d) => {
      val U = graft.functions.UrlFunctions
      val docs = t(s, d, "documents").withColumn("url",
        concat(lit("https://WWW."), col("source"), lit(".Example.COM:443/Path/"),
          (col("doc_id") % 7).cast("string"), lit("/?b=2&utm_source=x&a=1#frag")))
      U.dedupByUrl(docs, "url", "doc_id")
        .select(col("doc_id"), col("source"),
          U.normalize(col("url")).as("url_norm"),
          U.host(col("url")).as("host"),
          U.domain(col("url")).as("domain"))
        .orderBy(col("doc_id"))
    }, oracle =
      // URL canonicalization mirror: each regex step matches UrlFunctions
      // one-to-one (RE2-safe syntax on both engines)
      """WITH u AS (
        |  SELECT doc_id, source,
        |    'https://WWW.' || source || '.Example.COM:443/Path/'
        |      || CAST(doc_id % 7 AS VARCHAR) || '/?b=2&utm_source=x&a=1#frag' AS url
        |  FROM documents
        |),
        |n AS (
        |  SELECT doc_id, source,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        |    regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        |  FROM u
        |),
        |parts AS (
        |  SELECT doc_id, source, sch,
        |    regexp_replace(regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)),
        |      ':[0-9]+$', ''), '^www\.', '') AS host,
        |    regexp_extract(regexp_replace(rest, '^[^/?]+', ''), '^([^?]*)', 1) AS rawpath,
        |    regexp_extract(rest, '\?(.*)$', 1) AS q
        |  FROM n
        |),
        |norm AS (
        |  SELECT doc_id, source, host,
        |    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |    sch || '://' || host ||
        |    (CASE WHEN regexp_replace(rawpath, '/$', '') = '' THEN '/'
        |          ELSE regexp_replace(rawpath, '/$', '') END) ||
        |    (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) AS url_norm
        |  FROM (SELECT *, list_sort(list_filter(string_split(q, '&'),
        |          p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=') AND p <> '')) AS kept
        |        FROM parts)
        |)
        |SELECT doc_id, source, url_norm, host, domain FROM (
        |  SELECT *, row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) AS rn FROM norm
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // PII scrubbing: synthetic emails/IPs/phones appended deterministically
    // per row (documents carry none), then redacted + counted. Phone digit
    // counts straddle the 7-digit minimum so the boundary is exercised.
    Face("qd13_pii_redact", (s, d) => {
      val T = graft.functions.TextFunctions
      val withPii = t(s, d, "documents").withColumn("pii_text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com ip 10.0.0."), (col("doc_id") % 256).cast("string"),
          lit(" tel +1555"), (col("doc_id") % 10000).cast("string")))
      withPii.select(col("doc_id"),
          T.redactPii(col("pii_text")).as("redacted"),
          T.matchCount(col("pii_text"), T.EmailRe).cast("long").as("n_emails"),
          T.matchCount(col("pii_text"), T.Ipv4Re).cast("long").as("n_ips"),
          T.matchCount(col("pii_text"), T.PhoneRe).cast("long").as("n_phones"))
        .orderBy(col("doc_id"))
    }, oracle = {
      // PII mirror: same construction + the same RE2-safe patterns applied in
      // the same order (email -> ip -> phone)
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      val phone = "\\+[0-9]{7,15}"
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || ' tel +1555' || CAST(doc_id % 10000 AS VARCHAR) AS pii_text
         |  FROM documents
         |)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS redacted,
         |  len(regexp_extract_all(pii_text, '$email')) AS n_emails,
         |  len(regexp_extract_all(pii_text, '$ip')) AS n_ips,
         |  len(regexp_extract_all(pii_text, '$phone')) AS n_phones
         |FROM p ORDER BY doc_id""".stripMargin
    }),

    // corpus vocabulary: distributed word-count with a frequency floor
    Face("qd14_vocab", (s, d) => {
      graft.functions.TextFunctions.vocab(t(s, d, "documents"), "text", minCount = 50L)
        .orderBy(col("n").desc, col("token"))
    }, oracle =
      // vocabulary mirror: unnest + group by with the same floor
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |) GROUP BY token HAVING count(*) >= 50
        |ORDER BY n DESC, token""".stripMargin),

    // token-budget corpus cap: keep documents (in doc_id order) until each
    // language's cumulative token budget is reached — the standard way a
    // training mix caps a source. One window per lang partition; the
    // cumulative sum is integer-exact so the cut point is deterministic.
    Face("qd15_token_budget", (s, d) => {
      val T = graft.functions.TextFunctions
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 10000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }, oracle =
      // token-budget mirror: same cumulative window, sum cast to BIGINT
      """SELECT doc_id, lang, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens
        |    FROM documents
        |  )
        |) WHERE cum_tokens <= 10000
        |ORDER BY doc_id""".stripMargin),

    // prefix-filtered exact Jaccard (AllPairs/PPJoin candidate generation):
    // same answer as qd03 — the oracle is shared — but candidates join only
    // on each doc's rarest shingles, the 100 TB-safe plan when boilerplate
    // n-grams make the shingle-keyed self-join fan out quadratically
    Face("qd16_jaccard_prefix", (s, d) => {
      graft.dedup.Dedup.ngramJaccardPairsPrefix(t(s, d, "documents"), "doc_id", "text",
          shingleK = 5, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      // Prefix-filtered exact Jaccard returns the SAME pairs as the
      // co-occurrence formulation — qd03's oracle verbatim (only the Spark
      // candidate-generation plan differs)
      ngramJaccardSql),

    // deterministic hash split + stratified subsampling: content-keyed
    // buckets from exact modular arithmetic (reproducible across engines,
    // stable under retries, zero shuffle), 80/10/10 split, then per-lang
    // keep rates en=500‰ / zh=250‰ / rest=1000‰ on an independent salt
    Face("qd17_hash_split", (s, d) => {
      val P = graft.prep.Prep
      t(s, d, "documents")
        .withColumn("bucket", P.hashBucket(col("doc_id"), 1000))
        .withColumn("split", P.split(col("doc_id"), trainPm = 800, validPm = 100))
        .filter(P.stratifiedKeep(col("doc_id"), col("lang"),
          Map("en" -> 500, "zh" -> 250), defaultPm = 1000))
        .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }, oracle =
      // hash split mirror: identical exact-int64 modular arithmetic
      // (salt 0 for the split bucket, salt 1 for the subsample draw)
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 AS bucket,
        |    ((doc_id + 1) % 1000000007) * 2654435761 % 1000000007 % 1000 AS sbucket
        |  FROM documents
        |)
        |SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < 800 THEN 'train'
        |       WHEN bucket < 900 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b
        |WHERE sbucket < (CASE WHEN lang = 'en' THEN 500
        |                      WHEN lang = 'zh' THEN 250 ELSE 1000 END)
        |ORDER BY doc_id""".stripMargin),

    // benchmark decontamination: docs sharing any 5-gram shingle with the
    // eval subset (doc_id % 97 == 0) are flagged; the benchmark shingle set
    // is broadcast so the corpus is never shuffled
    Face("qd18_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      graft.prep.Prep.contamination(docs, bench, "doc_id", "text",
          shingleK = 5, minShared = 1)
        .select(col("doc_id"), col("lang"), col("n_shared"), col("contaminated"))
        .orderBy(col("doc_id"))
    }, oracle =
      // decontamination mirror: same 5-gram shingle sets (string-valued here,
      // XXH64-hashed in Spark — counts agree absent 64-bit collisions),
      // benchmark = doc_id % 97 == 0
      decontaminationSql(benchMod = 97)),

    // context-window chunking: 64-token chunks, stride 48 (16-token
    // overlap) — narrow map + generator, no shuffle
    Face("qd19_chunk", (s, d) => {
      graft.prep.Prep.chunk(t(s, d, "documents"), "doc_id", "text",
          chunkSize = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracle =
      // chunking mirror: same start offsets (0, 48, … while < max(n-16, 1)),
      // same clamped 64-token slices; string_agg over an empty slice is NULL
      // in DuckDB where Spark's concat_ws gives '' — hence the coalesce
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id,
        |    unnest([st // 48 FOR st IN range(0, greatest(len(w) - 16, 1), 48)]) AS chunk_id,
        |    unnest([len(w[st+1:st+64]) FOR st IN range(0, greatest(len(w) - 16, 1), 48)]) AS n_chunk_tokens,
        |    unnest([coalesce(list_aggregate(w[st+1:st+64], 'string_agg', ' '), '')
        |            FOR st IN range(0, greatest(len(w) - 16, 1), 48)]) AS chunk_text
        |  FROM toks
        |)
        |SELECT doc_id, chunk_id, n_chunk_tokens, chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // sequence packing (concat-then-chunk): per-lang doc_id-ordered token
    // stream cut into 2048-token training sequences; each doc reports the
    // sequence id + offset where it begins
    Face("qd20_pack", (s, d) => {
      graft.prep.Prep.pack(t(s, d, "documents"), "lang", "doc_id", "text",
          budget = 2048L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy(col("doc_id"))
    }, oracle =
      // packing mirror: exclusive running sum per lang, integer div/mod
      """SELECT doc_id, lang, n_tokens,
        |  prev // 2048 AS seq_id, prev % 2048 AS seq_offset
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM (
        |    SELECT doc_id, lang,
        |      CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |    FROM documents
        |  )
        |)
        |ORDER BY doc_id""".stripMargin),

    // FLAGSHIP training-data-prep pipeline: language-ID gate (prediction
    // must agree with the label) → quality gate → Gopher repetition gate →
    // exact fingerprint dedup (keep-first) → per-(lang, source) corpus
    // stats. Every stage is deterministic, so the whole pipeline is
    // oracle-checkable end-to-end — the way single-op tests can't check
    // stage interactions. Aggregates are chosen order-independent
    // (count / integer sum / max) so distributed execution is bit-stable.
    Face("q51_pipeline_data_prep", (s, d) => {
      val T = graft.functions.TextFunctions
      val scored = t(s, d, "documents").select(
        col("doc_id"), col("lang"), col("source"), col("text"),
        T.langId(col("text")).as("lang_pred"),
        T.qualityScore(col("text")).as("quality"),
        T.tokenCount(col("text")).as("n_tokens"))
      val kept = scored.filter(col("lang_pred") === col("lang") &&
        col("quality") >= 0.5 && T.repetitionOk(col("text")))
      graft.dedup.Dedup.byFingerprint(kept, "text", "doc_id")
        .groupBy(col("lang_pred"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          max(col("quality")).as("max_quality"))
        .orderBy(col("lang_pred"), col("source"))
    }, oracle = {
      // Flagship pipeline mirror: langid + quality (qd08's expression) +
      // repetition + fingerprint dedup + order-independent aggregates.
      // sum() is CAST to BIGINT (DuckDB sums to HUGEINT, which would
      // hash-mismatch Spark's LongType).
      val enScore = langScoreSql("en")
      s"""WITH base AS (
         |  SELECT d.doc_id, d.source, lp.lang_pred, d.text,
         |    (CASE WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) BETWEEN 10 AND 100000
         |          THEN 1.0 ELSE 0.0 END * 0.4)
         |    + (CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 0.4)
         |    + (least(CAST($enScore AS DOUBLE)
         |        / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) * 10.0, 1.0) * 0.2) AS quality,
         |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS fp
         |  FROM documents d
         |  JOIN ($langPredSql) lp ON d.doc_id = lp.doc_id
         |  JOIN ($repetitionSql) rep ON d.doc_id = rep.doc_id
         |  WHERE lp.lang_pred = lp.lang AND rep.rep_ok
         |),
         |ded AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM base WHERE quality >= 0.5
         |)
         |SELECT lang_pred, source,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  max(quality) AS max_quality
         |FROM ded WHERE rn = 1
         |GROUP BY lang_pred, source
         |ORDER BY lang_pred, source""".stripMargin
    }),

    // data mixing: per-lang keep rates hit target token shares within a
    // 10k-token budget (tiny driver-side rate table, zero-shuffle keep
    // filter); per-lang kept totals are the oracle-checked output
    Face("qd22_mixture", (s, d) => {
      val P = graft.prep.Prep
      val T = graft.functions.TextFunctions
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))
      val rates = P.mixtureRatesPm(docs, "lang", "n_tokens",
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.1),
        tokenBudget = 10000L)
      docs.filter(P.stratifiedKeep(col("doc_id"), col("lang"), rates, defaultPm = 0))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("lang"))
    }, oracle =
      // mixture mirror: same rate formula with every operand forced DOUBLE so
      // both engines run the identical left-to-right fp ops (DuckDB parses
      // bare decimal literals as DECIMAL, which would round differently),
      // same salt-1 bucket arithmetic as stratifiedKeep
      mixtureSql(
      """r AS (
        |  SELECT lang, least(1000, CAST(floor(
        |    CAST(1000.0 AS DOUBLE) *
        |    (CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
        |               WHEN 'de' THEN CAST(0.2 AS DOUBLE)
        |               WHEN 'es' THEN CAST(0.15 AS DOUBLE)
        |               WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
        |               WHEN 'zh' THEN CAST(0.1 AS DOUBLE)
        |               ELSE CAST(0 AS DOUBLE) END) * 10000 / tok) AS BIGINT)) AS rate
        |  FROM tot
        |)""".stripMargin)),

    // temperature mixture (p_i ∝ n_i^0.5): sqrt-share rates derived from the
    // data itself, then the same deterministic stratified keep as qd22 —
    // upweights the low-token languages relative to proportional sampling
    Face("qd42_temperature_mixture", (s, d) => {
      val P = graft.prep.Prep
      val T = graft.functions.TextFunctions
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))
      val shares = P.temperatureShares(docs, "lang", "n_tokens", alpha = 0.5)
      val rates = P.mixtureRatesPm(docs, "lang", "n_tokens", shares, tokenBudget = 10000L)
      docs.filter(P.stratifiedKeep(col("doc_id"), col("lang"), rates, defaultPm = 0))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("lang"))
    }, oracle =
      // temperature-mixture mirror: sqrt is correctly-rounded IEEE (unlike
      // pow), the denominator folds ascending, every other op is the qd22
      // rate/bucket arithmetic
      mixtureSql(
      """den AS (
        |  SELECT list_reduce(list_sort(list(sqrt(CAST(tok AS DOUBLE)))), (a, b) -> a + b) AS den
        |  FROM tot
        |),
        |r AS (
        |  SELECT lang, least(1000, CAST(floor(
        |    CAST(1000.0 AS DOUBLE) * (sqrt(CAST(tok AS DOUBLE)) / den) * 10000 / tok
        |  ) AS BIGINT)) AS rate
        |  FROM tot, den
        |)""".stripMargin)),

    // HTML → text extraction (the crawl step BEFORE every quality gate):
    // each doc is wrapped in a deterministic page — invisible script/style
    // (with entity-bait contents), a comment, tags, and the core named
    // entities — and htmlToText must recover exactly text + decoded suffix.
    // The regex chain is RE2-portable, so the oracle runs the SAME chain
    Face("qd43_html_extract", (s, d) => {
      val T = graft.functions.TextFunctions
      val html = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script>var i=0; if (i<1 && true) { i = 2; }</script></head><body><h1>"),
        col("text"),
        lit("</h1><!-- hidden\ncomment --><p>Tom &amp; Jerry &lt;3 " +
          "&quot;quoted&quot; &#39;s&#39;&nbsp;fin.</p></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), T.htmlToText(html).as("extracted"))
        .withColumn("n_chars", length(col("extracted")).cast("long"))
        .orderBy(col("doc_id"))
    }, oracle =
      // HTML mirror: the page wrapper around each doc, then htmlToTextSql
      // (chr(10) embeds the comment's newline without breaking stripMargin)
      ("""WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style><script>var i=0; if (i<1 && true) { i = 2; }</script></head><body><h1>'
        |    || text ||
        |    '</h1><!-- hidden' || chr(10) || 'comment --><p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&#39;&nbsp;fin.</p></body></html>'
        |    AS html
        |  FROM documents
        |)
        |, x AS (
        |  SELECT doc_id,
        |    """ + htmlToTextSql + """ AS extracted
        |  FROM h
        |)
        |SELECT doc_id, extracted, CAST(length(extracted) AS BIGINT) AS n_chars
        |FROM x ORDER BY doc_id""").stripMargin),

    // Gopher quality rules (Rae et al. 2021 §A1.1): the flat corpus gets
    // deterministic structure — 6-word lines, "- " bullets on (i+doc_id)%5
    // lines, "..." vs "." endings on %7, " the"/" of" stopword injection on
    // %3/%4, " #" symbols on %11 — then gopherQuality computes the full
    // signal set and page verdict, every rule mirrored in the oracle
    Face("qd44_gopher_quality", (s, d) =>
      qd44Run(qd44Structured(t(s, d, "documents"))),
    oracle =
      // Gopher mirror: same synthesized structure, every statistic recomputed
      // with list functions, thresholds verbatim; mean/ratio doubles are one
      // int64/int64 division each so they compare bit-exactly
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents
        |),
        |built AS (
        |  SELECT doc_id,
        |    [ CASE WHEN (i + doc_id) % 5 = 0 THEN '- ' ELSE '' END
        |        || list_aggregate(w[i*6+1 : i*6+6], 'string_agg', ' ')
        |        || CASE WHEN (i + doc_id) % 3 = 0 THEN ' the' ELSE '' END
        |        || CASE WHEN (i + doc_id) % 4 = 0 THEN ' of' ELSE '' END
        |        || CASE WHEN (i + doc_id) % 11 = 0 THEN ' #' ELSE '' END
        |        || CASE WHEN (i + doc_id) % 7 = 0 THEN '...' ELSE '.' END
        |      FOR i IN range(0, greatest(CAST(ceil(len(w) / 6.0) AS INT), 1)) ] AS lines
        |  FROM toks
        |),
        |dirty AS (
        |  SELECT doc_id, list_aggregate(lines, 'string_agg', chr(10)) AS text FROM built
        |),
        |st AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tw,
        |    string_split(text, chr(10)) AS lns
        |  FROM dirty
        |),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(len(tw) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(tw, x -> length(x))) AS BIGINT) AS word_chars,
        |    CAST(len(list_filter(tw, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      sw -> list_contains(tw, sw))) AS BIGINT) AS stop_hits,
        |    CAST(len(lns) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lns, l -> l LIKE '•%' OR l LIKE '- %')) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(lns, l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS ellipsis_lines,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) / 3
        |      + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS symbols
        |  FROM st
        |)
        |SELECT doc_id, n_words,
        |  CASE WHEN n_words > 0 THEN CAST(word_chars AS DOUBLE) / n_words END AS mean_word_len,
        |  CASE WHEN n_words > 0 THEN CAST(symbols AS DOUBLE) / n_words END AS symbol_ratio,
        |  CAST(bullet_lines AS DOUBLE) / n_lines AS bullet_frac,
        |  CAST(ellipsis_lines AS DOUBLE) / n_lines AS ellipsis_frac,
        |  CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words END AS alpha_frac,
        |  stop_hits AS n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND CAST(word_chars AS DOUBLE) / n_words >= 3.0
        |    AND CAST(word_chars AS DOUBLE) / n_words <= 10.0
        |    AND CAST(symbols AS DOUBLE) / n_words <= 0.1
        |    AND CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9
        |    AND CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3
        |    AND CAST(alpha_words AS DOUBLE) / n_words >= 0.8
        |    AND stop_hits >= 2) AS gopher_keep
        |FROM agg ORDER BY doc_id""".stripMargin,
    bench = Some((s, d) =>
      qd44Run(fixtureScan(s, d, "qd44")(qd44Structured(t(s, d, "documents")))))),

    // FOURTH FLAGSHIP — crawl-to-corpus: deterministic HTML pages (6-word
    // <p> lines, javascript bait on i%7, unpunctuated lines on (i+doc_id)%3,
    // '{'-poison pages on doc_id%13) → htmlToText (block tags become line
    // structure) → C4 line/page clean → Gopher quality gate (relaxed knobs
    // for the short synthetic docs) → leading-3-token boilerplate dedup →
    // 32-token chunking → per-lang corpus stats. Every stage oracle-mirrored
    Face("q54_pipeline_crawl", (s, d) =>
      q54Run(q54Html(t(s, d, "documents"))),
    oracle =
      // crawl flagship mirror: page synthesis, the qd43 extraction chain, the
      // qd40 C4 rules, the qd44 Gopher statistics (relaxed thresholds, stop
      // clause dropped because minStopwords=0 is trivially true), dedup by the
      // normalized 3-token prefix (the string the fingerprint hashes), qd19's
      // chunk-start arithmetic, and the final per-lang rollup
      ("""WITH toks0 AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents
        |),
        |built AS (
        |  SELECT doc_id, lang,
        |    [ '<p>' || list_aggregate(w[i*6+1 : i*6+6], 'string_agg', ' ')
        |        || CASE WHEN i % 7 = 0 THEN ' javascript' ELSE '' END
        |        || CASE WHEN (i + doc_id) % 3 <> 0 THEN '.' ELSE '' END
        |        || '</p>'
        |      FOR i IN range(0, greatest(CAST(ceil(len(w) / 6.0) AS INT), 1)) ] AS paras
        |  FROM toks0
        |),
        |page AS (
        |  SELECT doc_id, lang,
        |    '<html><head><style>p{x}</style><script>var i=0;</script></head><body>'
        |    || list_aggregate(paras, 'string_agg', '')
        |    || CASE WHEN doc_id % 13 = 0 THEN '<p>{ x }.</p>' ELSE '' END
        |    || '<!-- c --></body></html>' AS html
        |  FROM built
        |),
        |ext AS (
        |  SELECT doc_id, lang,
        |    """ + htmlToTextSql + """ AS text
        |  FROM page
        |),
        |c4 AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split(text, chr(10)), l ->
        |      l[-1] IN ('.', '!', '?', '"')
        |      AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM ext
        |),
        |c4k AS (
        |  SELECT doc_id, lang,
        |    coalesce(list_aggregate(kept, 'string_agg', chr(10)), '') AS ktext,
        |    (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |      AND NOT contains(text, '{')) AS c4_keep
        |  FROM c4
        |),
        |gst AS (
        |  SELECT doc_id, lang, ktext, c4_keep,
        |    list_filter(string_split_regex(ktext, '\s+'), x -> x <> '') AS tw,
        |    string_split(ktext, chr(10)) AS lns
        |  FROM c4k
        |),
        |gagg AS (
        |  SELECT doc_id, lang, ktext, c4_keep, tw,
        |    CAST(len(tw) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(tw, x -> length(x))) AS BIGINT) AS word_chars,
        |    CAST(len(list_filter(tw, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(lns) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lns, l -> l LIKE '•%' OR l LIKE '- %')) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(lns, l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS ellipsis_lines,
        |    CAST((length(ktext) - length(replace(ktext, '#', '')))
        |      + (length(ktext) - length(replace(ktext, '...', ''))) / 3
        |      + (length(ktext) - length(replace(ktext, '…', ''))) AS BIGINT) AS symbols
        |  FROM gst
        |),
        |gated AS (
        |  SELECT doc_id, lang, ktext, tw
        |  FROM gagg
        |  WHERE c4_keep
        |    AND n_words >= 20 AND n_words <= 100000
        |    AND CAST(word_chars AS DOUBLE) / n_words >= 3.0
        |    AND CAST(word_chars AS DOUBLE) / n_words <= 10.0
        |    AND CAST(symbols AS DOUBLE) / n_words <= 0.1
        |    AND CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9
        |    AND CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3
        |    AND CAST(alpha_words AS DOUBLE) / n_words >= 0.8
        |),
        |keyed AS (
        |  SELECT doc_id, lang, tw,
        |    trim(regexp_replace(regexp_replace(lower(
        |      coalesce(list_aggregate(tw[1:3], 'string_agg', ' '), '')),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS key
        |  FROM gated
        |),
        |ded AS (
        |  SELECT doc_id, lang, tw FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn FROM keyed
        |  ) WHERE rn = 1
        |),
        |ch AS (
        |  SELECT doc_id, lang,
        |    unnest([len(tw[st+1 : st+32]) FOR st IN range(0, greatest(len(tw), 1), 32)]) AS n_chunk_tokens
        |  FROM ded
        |)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens
        |FROM ch GROUP BY lang ORDER BY lang""").stripMargin,
    bench = Some((s, d) =>
      q54Run(fixtureScan(s, d, "q54")(q54Html(t(s, d, "documents")))))),

    // single-stream packing via the boundary-carry scale path (no grouped
    // window): results are partition-count-independent, so a plain global
    // window is the oracle
    Face("qd23_pack_global", (s, d) => {
      val T = graft.functions.TextFunctions
      graft.prep.Prep.packGlobal(
          t(s, d, "documents")
            .withColumn("n_tokens", T.tokenCount(col("text")).cast("long")),
          Seq("doc_id"), "n_tokens", budget = 1024L)
        .select(col("doc_id"), col("n_tokens"), col("seq_id"), col("seq_offset"))
        .orderBy(col("doc_id"))
    }, oracle =
      s"""SELECT doc_id, n_tokens, prev // 1024 AS seq_id, prev % 1024 AS seq_offset
        |FROM (
        |$packedSql
        |)
        |ORDER BY doc_id""".stripMargin),

    // phrase-blocklist page gate (C4 "bad words"): deterministic phrase
    // injections (mixed case on %7, nested phrase pair on %13 — "casino
    // bonus" must count BOTH itself and its suffix "bonus"), hits counted
    // by one Aho-Corasick pass, mirrored by per-phrase contains in SQL
    Face("qd48_blocklist", (s, d) => {
      val T = graft.functions.TextFunctions
      val dirty = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" Bad Phrase One")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" some badword here")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" casino bonus spin")).otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"),
          T.blocklistHits(dirty, DemoBlocklist).as("hits"))
        .withColumn("keep", col("hits") === 0)
        .orderBy(col("doc_id"))
    }, oracle =
      // global-pack mirror: one unpartitioned exclusive running sum — what
      // the Spark side computes distributed via per-partition sums + a
      // broadcast offset carry
      // blocklist mirror: per-phrase contains over the same injected text
      // (the O(phrases x text) formulation the Aho-Corasick pass replaces)
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' Bad Phrase One' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' some badword here' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN ' casino bonus spin' ELSE '' END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_filter(
        |    ['bad phrase one', 'badword', 'casino bonus', 'bonus', 'zzz qqq'],
        |    p -> contains(lower(t), p))) AS INT) AS hits,
        |  CAST(len(list_filter(
        |    ['bad phrase one', 'badword', 'casino bonus', 'bonus', 'zzz qqq'],
        |    p -> contains(lower(t), p))) AS INT) = 0 AS keep
        |FROM dirty ORDER BY doc_id""".stripMargin),

    // attention-mask spans over the packed corpus: one row per (sequence,
    // doc fragment), straddling docs split at every budget boundary —
    // narrow generator over qd23's packing, zero extra shuffle
    Face("qd47_pack_spans", (s, d) => {
      val T = graft.functions.TextFunctions
      graft.prep.Prep.packSpans(
          graft.prep.Prep.packGlobal(
            t(s, d, "documents")
              .withColumn("n_tokens", T.tokenCount(col("text")).cast("long")),
            Seq("doc_id"), "n_tokens", budget = 1024L),
          budget = 1024L, idCol = "doc_id")
        .orderBy(col("doc_id"), col("seq_id"))
    }, oracle =
      // pack-spans mirror: the qd23 prefix-sum packing, then one span per
      // budget-boundary-delimited fragment (integer interval arithmetic)
      s"""WITH packed AS (
        |$packedSql
        |),
        |sp AS (
        |  SELECT doc_id, prev, n_tokens,
        |    unnest(range(prev // 1024, (prev + n_tokens - 1) // 1024 + 1)) AS seq_id
        |  FROM packed WHERE n_tokens > 0
        |)
        |SELECT doc_id, seq_id,
        |  greatest(prev, seq_id * 1024) - seq_id * 1024 AS span_start,
        |  least(prev + n_tokens, (seq_id + 1) * 1024) - greatest(prev, seq_id * 1024) AS span_len
        |FROM sp ORDER BY doc_id, seq_id""".stripMargin),

    // near-dup decontamination (MinHash-banded vs broadcast benchmark) —
    // sketch-based, no SQL oracle; rows-only + recall property in PrepSpec
    // verdict-emitting (the per-doc minhash estimates are hash-valued, so
    // the contract verifies the CLASSIFICATION against the exact shingle
    // jaccard vs the benchmark): soundness — every flagged doc really
    // shares >= 0.6 exact max-J with some bench doc (the flagged set is the
    // bench docs themselves, J = 1, plus their strong near-dups, J >= 0.86);
    // completeness — every doc at exact max-J >= 0.9 is flagged (banded
    // minhash misses such a doc with p ~ 1e-4; measured clean separation:
    // unflagged docs top out at exact 0.009)
    Face("qd21_decontaminate_neardup", (s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val flags = graft.prep.Prep.contaminationNearDup(docs, bench, "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 5, threshold = 0.8)
        .select(col("doc_id"), col("contaminated"))
      // exact per-doc max jaccard vs bench: bench shingle sets broadcast
      // (the small side by construction), corpus stays narrow until the
      // per-doc max agg
      val bsh = broadcast(bench.select(col("doc_id").as("__bid"),
        graft.dedup.Dedup.distinctShingleHashes(col("text"), 5).as("__bs"),
        size(graft.dedup.Dedup.distinctShingleHashes(col("text"), 5)).as("__bn")))
      val exactJ = docs.select(col("doc_id"),
          graft.dedup.Dedup.distinctShingleHashes(col("text"), 5).as("__cs"))
        .withColumn("__cn", size(col("__cs")))
        .crossJoin(bsh)
        .withColumn("__i", size(array_intersect(col("__cs"), col("__bs"))))
        .withColumn("__j", when(col("__cn") + col("__bn") - col("__i") > 0,
          col("__i").cast("double") / (col("__cn") + col("__bn") - col("__i")))
          .otherwise(lit(0.0)))
        .groupBy(col("doc_id")).agg(max(col("__j")).as("__maxj"))
      val joined = flags.join(exactJ, Seq("doc_id"))
      joined.agg(
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("__nc"),
          sum(when(col("contaminated") && col("__maxj") < 0.6, 1L).otherwise(0L)).as("__unsound"),
          sum(when(col("__maxj") >= 0.9 && !col("contaminated"), 1L).otherwise(0L)).as("__missed"))
        .select((col("__nc") >= 1).as("found_some"),
          (col("__unsound") === 0).as("soundness_ok"),
          (col("__missed") === 0).as("completeness_ok"))
    }, oracle = "SELECT true AS found_some, true AS soundness_ok, true AS completeness_ok",
    // raw near-dup decontamination flags — the contract face additionally
    // recomputes every doc's exact max-Jaccard against the bench set for
    // the sketch-vs-exact verdict (correctness-only)
    bench = Some((s, d) => {
      graft.prep.Prep.contaminationNearDup(t(s, d, "documents"),
          t(s, d, "documents").filter(col("doc_id") % 97 === 0),
          "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 5, threshold = 0.8)
        .select(col("doc_id"), col("contaminated"))
    })),

    // deterministic global training-order shuffle: multiplicative-hash key
    // + dense global position via range partition + broadcast count carry
    // (no single-task window); the same permutation on any engine
    Face("qd24_shuffle", (s, d) => {
      graft.prep.Prep.shuffled(t(s, d, "documents"), "doc_id", salt = 7L)
        .select(col("doc_id"), col("lang"), col("shuffle_key"), col("shuffle_pos"))
        .orderBy(col("shuffle_pos"))
    }, oracle =
      // shuffle mirror: identical exact-int64 multiplicative-hash key, dense
      // rank from one global row_number (what Spark computes distributed via
      // per-partition ranks + a broadcast count carry)
      """SELECT doc_id, lang, shuffle_key,
        |  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS shuffle_pos
        |FROM (
        |  SELECT doc_id, lang,
        |    ((doc_id + 7) % 1000000007) * 2654435761 % 1000000007 AS shuffle_key
        |  FROM documents
        |)
        |ORDER BY shuffle_pos""".stripMargin),

    // unigram-rarity scoring: per-doc OOV share + mean corpus frequency
    // against the corpus's own floored vocabulary — the integer-exact
    // stand-in for LM-perplexity quality filtering
    Face("qd25_rarity", (s, d) => {
      val T = graft.functions.TextFunctions
      val docs = t(s, d, "documents")
      T.rarityStats(docs, "doc_id", "text", T.vocab(docs, "text", minCount = 50L))
        .orderBy(col("doc_id"))
    }, oracle =
      // rarity mirror: same tokenization, same floored vocabulary, exact
      // integer counts; the only fp ops are the two single final divisions
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |),
        |v AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY token HAVING count(*) >= 50
        |)
        |SELECT t.doc_id,
        |  count(*) AS n_tokens,
        |  count(v.n) AS n_invocab,
        |  CAST(count(*) - count(v.n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_share,
        |  CASE WHEN count(v.n) > 0
        |    THEN CAST(sum(v.n) AS DOUBLE) / CAST(count(v.n) AS DOUBLE) END AS mean_token_freq
        |FROM toks t LEFT JOIN v ON t.token = v.token
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // shuffled packing (operator interaction): documents packed into
    // training sequences in deterministic-shuffle order — the order a real
    // corpus build packs in. One range exchange on the hash key; the packer
    // never sees a single-task window
    Face("qd26_shuffle_pack", (s, d) => {
      val T = graft.functions.TextFunctions
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))
        .withColumn("shuffle_key", graft.prep.Prep.shuffleKey(col("doc_id"), 7L))
      graft.prep.Prep.packGlobal(docs, Seq("shuffle_key", "doc_id"), "n_tokens",
          budget = 1024L)
        .select(col("doc_id"), col("shuffle_key"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy(col("doc_id"))
    }, oracle =
      // shuffle-pack mirror: one unpartitioned exclusive running sum in
      // hash-key order (Spark computes it distributed via per-partition sums
      // + a broadcast offset carry over the range partitioning)
      """SELECT doc_id, shuffle_key, n_tokens,
        |  prev // 1024 AS seq_id, prev % 1024 AS seq_offset
        |FROM (
        |  SELECT doc_id, shuffle_key, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM (
        |    SELECT doc_id,
        |      ((doc_id + 7) % 1000000007) * 2654435761 % 1000000007 AS shuffle_key,
        |      CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |    FROM documents
        |  )
        |)
        |ORDER BY doc_id""".stripMargin),

    // deterministic up-sampling (epoch repetition): zh×3, en×2, others
    // dropped — the up-weighting half of a data mix; narrow generator,
    // exact row multiset on any engine
    Face("qd27_upsample", (s, d) => {
      graft.prep.Prep.upsample(t(s, d, "documents"), col("lang"),
          Map("zh" -> 3, "en" -> 2), defaultFactor = 0)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }, oracle =
      // upsample mirror: per-lang repeat factors via generate_series; factor-0
      // strata produce no rows
      """SELECT doc_id, lang, CAST(epoch AS INTEGER) AS epoch
        |FROM (
        |  SELECT doc_id, lang,
        |    unnest(range(1, 1 + (CASE lang WHEN 'zh' THEN 3
        |                                   WHEN 'en' THEN 2
        |                                   ELSE 0 END))) AS epoch
        |  FROM documents
        |)
        |ORDER BY doc_id, epoch""".stripMargin),

    // cross-document span dedup (C4-style duplicate-span removal on fixed
    // 20-word windows): every distinct span survives once corpus-wide,
    // documents reassembled from their surviving spans
    Face("qd28_span_dedup", (s, d) => {
      graft.dedup.Dedup.spanDedupGlobal(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
          "doc_id", "text", spanWords = 20)
        .select(col("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
    }, oracle =
      // span-dedup mirror: same tokenization (\s+, empties dropped), same
      // 20-word non-overlapping windows, keep-first by (doc_id, pos) as a
      // row_number window (the Spark side's groupBy-min is the same winner),
      // documents reassembled with single-space joins
      (spanDedupCtes + """
        |SELECT d.doc_id, d.lang, coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // trainable BPE tokenizer (Sennrich ACL'16) — merge-ORDER oracle on a
    // deterministic fixture: every document carries the classic
    // running-example corpus (low x5, lower x2, newest x6, widest x3), so
    // the distributed word-frequency table is the classic table scaled by
    // ndocs — uniform scaling preserves every argmax and every count tie,
    // making the 10-merge sequence (which exercises three distinct
    // lexicographic tie-breaks) SF-invariant and hand-derivable; the oracle
    // states it as literals. This hash-pins the FULL distributed training
    // path (explode → map-side-combined word table → bounded vocab cut →
    // incremental merge learner) end to end. The real-corpus train+encode
    // workload stays the BENCH twin of this face (`bench` below); encode
    // itself is hash-pinned by qd49's DuckDB replay and BpeSpec.
    Face("qd32_bpe_tokenize", (s, d) => {
      import s.implicits._
      val classic = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
      val fixture = t(s, d, "documents").select(col("doc_id"))
        .withColumn("text", lit(classic))
      graft.functions.Bpe.trainCorpus(fixture, "text", numMerges = 10)
        .zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
        .toDF("m_rank", "m_left", "m_right")
        .orderBy(col("m_rank"))
    }, oracle =
      // BPE merge-order fixture oracle: the classic Sennrich corpus (low x5,
      // lower x2, newest x6, widest x3) repeated per document scales every
      // pair count by ndocs, so the greedy merge sequence is SF-invariant.
      // Hand derivation (count, tie-break on lexicographically smallest pair):
      //   es(9) over {es,st,t</w>} ties → est(9) over {est,t</w>} →
      //   est</w>(9) → lo(7) over {lo,ow} → low(7) →
      //   ew(6) over {ew,ne,w·est</w>} → ewest</w>(6) over {ew·est</w>,n·ew} →
      //   newest</w>(6) → low</w>(5) → dest</w>(3) over {d·est</w>,id,wi}
      """SELECT CAST(r AS INTEGER) AS m_rank, l AS m_left, rt AS m_right
        |FROM (VALUES
        |  (0, 'e', 's'), (1, 'es', 't'), (2, 'est', '</w>'),
        |  (3, 'l', 'o'), (4, 'lo', 'w'),
        |  (5, 'e', 'w'), (6, 'ew', 'est</w>'), (7, 'n', 'ewest</w>'),
        |  (8, 'low', '</w>'), (9, 'd', 'est</w>')) AS t(r, l, rt)
        |ORDER BY m_rank""".stripMargin,
    // trainable BPE on the REAL corpus (distributed word-frequency table →
    // corpus-exact merges → narrow-map encode) — the original qd32 workload
    bench = Some((s, d) => {
      val B = graft.functions.Bpe
      val T = graft.functions.TextFunctions
      val docs = t(s, d, "documents")
      val merges = B.trainCorpus(docs, "text", numMerges = 40)
      docs.select(col("doc_id"),
          T.tokenCount(col("text")).as("n_words"),
          B.tokenCount(col("text"), merges).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    })),

    // the ENCODE half of the tokenizer under a FIXED merge table — the
    // oracle-checkable face qd32's trained pipeline can't have (sequential
    // merge LEARNING has no SQL formulation, but applying a known table
    // does). The oracle replays the same merges as a sequential replace
    // chain over delimiter-framed symbols; for a valid (training-shaped)
    // table that is exactly best-rank-first encoding, because a merge can
    // only ever CREATE pairs that rank after it (its output symbol did not
    // exist earlier), so ranks fire in table order either way.
    Face("qd49_bpe_encode_fixed", (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
          graft.functions.Bpe.tokenCount(col("text"), fixedMerges).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }, oracle =
      // BPE encode under the fixed merge table (the trainable pipeline's
      // encode half): full replay in DuckDB
      bpeEncodeFixedSql),

    // two-sided salted self-join (the AQE-off skew fallback): within-lang
    // document pairs — lang is the realistic hot blocking key (few values,
    // thousands of docs each). The salted plan must be row-for-row the
    // plain self-join, which IS the DuckDB oracle
    Face("qd33_salted_pairs", (s, d) => {
      graft.operators.Skew.saltedSelfJoin(
          t(s, d, "documents").select(col("lang"), col("doc_id")),
          "lang", "doc_id", nSalts = 8)
        .filter(col("doc_id") < col("doc_id_b"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("doc_id") + col("doc_id_b")).as("id_sum"))
        .orderBy(col("lang"))
    }, oracle =
      // line-dedup mirror: same separator split (empties kept), length-gated
      // row_number winner, lines below the floor pass unconditionally,
      // separator-joined reassembly
      """SELECT a.lang, count(*) AS n_pairs,
        |  CAST(sum(a.doc_id + b.doc_id) AS BIGINT) AS id_sum
        |FROM documents a JOIN documents b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |GROUP BY a.lang ORDER BY a.lang""".stripMargin),

    // bloom-prefiltered exact decontamination: same semantics as qd18 (other
    // bench split), but the corpus-side membership test is a narrow Bloom
    // prefilter and only survivors reach the exact verify join — the oracle
    // is the exact-join SQL because the bloom has no false negatives
    Face("qd34_decontaminate_bloom", (s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 89 === 0)
      graft.prep.Prep.contaminationBloom(docs, bench, "doc_id", "text",
          shingleK = 5, minShared = 1, fpp = 0.01)
        .select(col("doc_id"), col("lang"), col("n_shared"), col("contaminated"))
        .orderBy(col("doc_id"))
    }, oracle =
      // bloom decontamination mirror: the EXACT shingle-join SQL (bench =
      // doc_id % 89) — the bloom prefilter must be invisible in the result
      decontaminationSql(benchMod = 89)),

    // incremental-crawl dedup: keep current-split docs whose fingerprint is
    // new vs the prior-snapshot split. The synthetic corpus has no full-text
    // duplicates, so the fingerprint runs over the first two tokens (a
    // deliberate collision surface, same spirit as qd31's transform); the
    // oracle is the plain anti-join — the Bloom path must reproduce it
    // exactly because false positives are re-verified and there are no
    // false negatives
    Face("qd35_snapshot_dedup", (s, d) => {
      val docs = t(s, d, "documents").withColumn("head",
        concat_ws(" ", slice(graft.functions.TextFunctions.tokens(col("text")), 1, 2)))
      val previous = docs.filter(col("doc_id") % 3 === 0)
      val current = docs.filter(col("doc_id") % 3 =!= 0)
      graft.dedup.Dedup.newSinceSnapshot(current, previous, "head", fpp = 0.01)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle =
      // snapshot-dedup mirror: plain anti-join on the normalized two-token
      // head (string-valued here, XXH64-hashed in Spark — equal absent 64-bit
      // collisions); NOT IN is null-safe because the corpus has no null text
      """WITH h AS (
        |  SELECT doc_id, lang, source,
        |    trim(regexp_replace(regexp_replace(lower(
        |      array_to_string(list_filter(string_split_regex(text, '\s+'), x -> x <> '')[1:2], ' ')),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |),
        |prev AS (SELECT DISTINCT nt FROM h WHERE doc_id % 3 = 0)
        |SELECT doc_id, lang, source FROM h
        |WHERE doc_id % 3 <> 0 AND nt NOT IN (SELECT nt FROM prev)
        |ORDER BY doc_id""".stripMargin),

    // DSIR importance weights (exact word-feature face, micro-nat
    // quantization so the per-doc sum is integer-exact cross-engine):
    // target = every 17th doc as the "high quality" exemplar set, source =
    // the whole corpus
    Face("qd36_dsir_weights", (s, d) => {
      val docs = t(s, d, "documents")
      val target = docs.filter(col("doc_id") % 17 === 0)
      graft.prep.Prep.importanceWeightsMicro(docs, target, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("dsir_uweight"))
        .orderBy(col("doc_id"))
    }, oracle =
      s"""$dsirWeightsCte
         |SELECT doc_id, lang, dsir_uweight FROM weights
         |ORDER BY doc_id""".stripMargin),

    // DSIR selection: deterministic top-50 slice by weight (ties by id) —
    // TakeOrderedAndProject, never a full sort
    Face("qd37_dsir_select", (s, d) => {
      val docs = t(s, d, "documents")
      val target = docs.filter(col("doc_id") % 17 === 0)
      graft.prep.Prep.selectTopK(
          graft.prep.Prep.importanceWeightsMicro(docs, target, "doc_id", "text"),
          "dsir_uweight", "doc_id", k = 50)
        .select(col("doc_id"), col("dsir_uweight"))
    }, oracle =
      // selection mirror: same weights, same deterministic tiebreak — the
      // driver compare is order-insensitive, so only WHICH 50 rows matters
      s"""$dsirWeightsCte
         |SELECT doc_id, dsir_uweight FROM weights
         |ORDER BY dsir_uweight DESC, doc_id LIMIT 50""".stripMargin),

    // unicode cleanup (the C4/CCNet pre-filter step): NFC-normalize +
    // control-char strip. The synthetic corpus is clean ASCII, so each doc
    // gets a deterministic dirty suffix (BEL + decomposed 'café' + US) that
    // the cleanup must compose and strip — mirrored verbatim in the oracle
    Face("qd38_clean_text", (s, d) => {
      val tf = graft.functions.TextFunctions
      t(s, d, "documents")
        .select(col("doc_id"),
          tf.cleanText(concat(col("text"), lit("\u0007 cafe\u0301 \u001f")))
            .as("cleaned"))
        .withColumn("n_chars", length(col("cleaned")))
        .orderBy(col("doc_id"))
    }, oracle =
      // cleanup mirror: DuckDB's nfc_normalize is the same Unicode standard
      // the JDK implements; the control-char class is shared verbatim
      """SELECT doc_id,
        |  nfc_normalize(regexp_replace(
        |    text || chr(7) || ' cafe' || chr(769) || ' ' || chr(31),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS cleaned,
        |  CAST(length(nfc_normalize(regexp_replace(
        |    text || chr(7) || ' cafe' || chr(769) || ' ' || chr(31),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))) AS INT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // CCNet-style perplexity: bigram-LM NLL (micro-nat ints) under an add-1
    // LM trained on every 11th doc; the keep gate compares integer
    // cross-products so it is exact too
    Face("qd39_perplexity", (s, d) => {
      val docs = t(s, d, "documents")
      val lmSet = docs.filter(col("doc_id") % 11 === 0)
      graft.prep.Prep.perplexityBigram(docs, lmSet, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("nll_unats"))
        .withColumn("keep",
          col("n_bigrams") > 0 && col("nll_unats") <= lit(3500000L) * col("n_bigrams"))
        .orderBy(col("doc_id"))
    }, oracle =
      // perplexity mirror: same add-1 bigram LM (lm = doc_id % 11), same
      // micro-nat quantization per bigram, integer sums and an integer
      // cross-product keep gate
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
        |  FROM documents
        |),
        |$perplexityCtes,
        |agg AS (SELECT doc_id, count(*) AS nb, sum(unll) AS nll FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(a.nll, 0) AS BIGINT) AS nll_unats,
        |  coalesce(a.nb, 0) > 0 AND coalesce(a.nll, 0) <= 3500000 * coalesce(a.nb, 0) AS keep
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // C4 line/page quality rules (Raffel et al. 2020 §2.2): the flat word
    // corpus gets deterministic structure first — 6-word lines, terminal '.'
    // on (i+doc_id)%3!=0 lines, a 'javascript' mention every 7th line, page
    // poison ('{' / 'lorem ipsum') on doc_id%13 / %17 — then c4Clean must
    // keep exactly the punctuated, clean, >=3-word lines and flag pages
    Face("qd40_c4_filter", (s, d) =>
      qd40Run(qd40Dirty(t(s, d, "documents"))),
    oracle =
      // C4 mirror: identical integer line construction, then the same three
      // line rules and two page rules over the rebuilt text
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents
        |),
        |built AS (
        |  SELECT doc_id,
        |    [ list_aggregate(w[i*6+1 : i*6+6], 'string_agg', ' ')
        |        || CASE WHEN i % 7 = 0 THEN ' javascript' ELSE '' END
        |        || CASE WHEN (i + doc_id) % 3 <> 0 THEN '.' ELSE '' END
        |      FOR i IN range(0, greatest(CAST(ceil(len(w) / 6.0) AS INT), 1)) ] AS lines
        |  FROM toks
        |),
        |dirty AS (
        |  SELECT doc_id,
        |    list_aggregate(lines, 'string_agg', chr(10))
        |      || CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END
        |      || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum.' ELSE '' END AS text
        |  FROM built
        |),
        |cleaned AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)), l ->
        |      l[-1] IN ('.', '!', '?', '"')
        |      AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM dirty
        |)
        |SELECT doc_id,
        |  CAST(len(kept) AS INT) AS n_kept_lines,
        |  len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{') AS keep,
        |  coalesce(list_aggregate(kept, 'string_agg', chr(10)), '') AS kept_text
        |FROM cleaned ORDER BY doc_id""".stripMargin,
    // fixture-scan twins (r10 directive 4): the synthesized input columns
    // materialize to a per-SF parquet once per JVM; the bench face times
    // the OPERATOR over a scan while the contract face keeps the in-query
    // formula construction the oracle recomputes
    bench = Some((s, d) =>
      qd40Run(fixtureScan(s, d, "qd40")(qd40Dirty(t(s, d, "documents")))))),

    // THIRD FLAGSHIP pipeline — quality-driven selection: CCNet perplexity
    // gate → Bloom-prefiltered exact decontamination → DSIR importance
    // weighting → deterministic top-50. Exercises the round-6 operator set
    // END-TO-END (each stage's model retrains on the previous stage's
    // survivors) where qd34/qd36/qd37/qd39 test the pieces in isolation.
    Face("qd41_pipeline_quality_select", qd41Run, oracle =
      // flagship mirror: the qd39 perplexity CTEs gate s1, the qd34 shingle
      // join flags s2 (bench drawn from ALL docs, intersected with s1), the
      // qd36 DSIR CTEs retrain on the s2 pool, LIMIT 50 with the id tiebreak
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
        |  FROM documents
        |),
        |$perplexityCtes,
        |s1 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, count(*) AS nb, sum(unll) AS nll FROM scored GROUP BY doc_id
        |  ) WHERE nll <= 3500000 * nb
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(tk) >= 5
        |    THEN [list_aggregate(tk[i:i+4], 'string_agg', ' ') FOR i IN range(1, len(tk) - 3)]
        |    ELSE [list_aggregate(tk, 'string_agg', ' ')] END) AS s
        |  FROM toks
        |),
        |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 89 = 0),
        |contaminated AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bsh ON sh.s = bsh.s),
        |s2 AS (
        |  SELECT doc_id FROM s1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |),
        |ctok AS (SELECT t.doc_id, unnest(t.tk) AS w FROM toks t JOIN s2 ON t.doc_id = s2.doc_id),
        |$dsirModelCtes
        |SELECT s2.doc_id, CAST(coalesce(ws.uw, 0) AS BIGINT) AS dsir_uweight
        |FROM s2 LEFT JOIN wsum ws ON s2.doc_id = ws.doc_id
        |ORDER BY dsir_uweight DESC, s2.doc_id LIMIT 50""".stripMargin),

    // qd41h — the hashed flagship as a VERDICT CONTRACT (round 10): run the
    // hashed twin AND the exact oracle-anchored face, emit the selection
    // overlap verdict the oracle states. SF-PORTABLE since r18 (r17
    // verdict item 2: the old `n_selected=50` oracle constant was
    // sf0.1-scoped — at sf1 the rotated-text fixture defeats the
    // perplexity gates, the scored pool drops below k, and the face was
    // the single red row of the first sf1 oracle pass). The contract now
    // states invariants that travel across SF:
    //   n_selected_ok — the top-k cut selected exactly min(50, pool):
    //     anchors the selection count to the pipeline's own scored-pool
    //     size instead of a fixture-scoped constant;
    //   overlap_ok   — hashed∩exact ≥ 80% of min(n_hashed, n_exact):
    //     the same 40/50 floor at every driver SF (measured 49/50 at
    //     sf0.001, 44/50 at sf0.01 — residual daylight is hashed-vs-exact
    //     score ties at the cut boundary), degrading honestly to vacuous
    //     when either side selects nothing. The absolute anchor lives in
    //     qd41's own fully-DuckDB-replayed oracle; a collision regression
    //     or pipeline divergence still flips this face red. The raw hashed
    //     pipeline ([[qd41hRun]]) stays the BENCH face — the plan a real
    //     corpus build runs — and DsirSpec pins the overlap at spec level.
    Face("qd41h_pipeline_quality_select_hashed", (s, d) => {
      val hashed = qd41hRun(s, d, withPool = true)
      val exact = qd41Run(s, d).select(col("doc_id"))
      hashed.agg(count(lit(1)).as("n_hashed"),
          first(col("n_pool")).as("n_pool"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(hashed.select(col("doc_id")).join(exact, "doc_id")
          .agg(count(lit(1)).as("__ov")))
        .select(
          (col("n_hashed") ===
            least(lit(50L), coalesce(col("n_pool"), lit(0L)))).as("n_selected_ok"),
          (col("__ov") * 5 >= least(col("n_hashed"), col("n_exact")) * 4)
            .as("overlap_ok"))
    }, oracle =
      // hashed flagship vs exact flagship selection-overlap contract —
      // SF-portable verdict booleans (r18): the count anchors to the
      // pipeline's own scored pool, the overlap floor is fractional
      "SELECT true AS n_selected_ok, true AS overlap_ok",
    // the raw hashed flagship (the contract face runs this PLUS exact qd41)
    bench = Some((s, d) => qd41hRun(s, d, withPool = false))),

    // duplicate-PARAGRAPH repetition signals (Gopher §A1.1's paragraph
    // variants): 8-word paragraphs with an inner newline (must fold to a
    // space, not split the paragraph), every i%3==2 paragraph a copy of
    // paragraph 0 — dup fractions computed by the native line-stats kernel
    // over the blank-line→sentinel transform
    Face("qd46_dup_paragraphs", (s, d) =>
      qd46Run(s, qd46Paras(t(s, d, "documents"))),
    oracle =
      // dup-paragraph mirror: same synthesis, same blank-line→sentinel
      // transform, dup fractions via group-count aggregation (one division
      // each, so the doubles compare bit-exactly)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents
        |),
        |built AS (
        |  SELECT doc_id,
        |    [ CASE WHEN i % 3 = 2
        |        THEN coalesce(list_aggregate(w[1:4], 'string_agg', ' '), '') || chr(10)
        |          || coalesce(list_aggregate(w[5:8], 'string_agg', ' '), '')
        |        ELSE coalesce(list_aggregate(w[i*8+1 : i*8+4], 'string_agg', ' '), '') || chr(10)
        |          || coalesce(list_aggregate(w[i*8+5 : i*8+8], 'string_agg', ' '), '')
        |      END
        |      FOR i IN range(0, greatest(CAST(ceil(len(w) / 8.0) AS INT), 1)) ] AS paras
        |  FROM toks
        |),
        |dirty AS (
        |  SELECT doc_id, list_aggregate(paras, 'string_agg', chr(10) || chr(10)) AS text
        |  FROM built
        |),
        |pl AS (
        |  SELECT doc_id,
        |    replace(replace(regexp_replace(text, '\n{2,}', chr(1), 'g'),
        |      chr(10), ' '), chr(1), chr(10)) AS text
        |  FROM dirty
        |),
        |lrow AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, chr(10)), x -> x <> '')) AS line
        |  FROM pl
        |),
        |lg AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
        |       FROM lrow GROUP BY doc_id, line),
        |lagg AS (
        |  SELECT doc_id,
        |    CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dup_para_frac,
        |    CAST(sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS DOUBLE)
        |      / sum(c * len) AS dup_para_char_frac
        |  FROM lg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(l.dup_para_frac, 0.0) AS dup_para_frac,
        |  coalesce(l.dup_para_char_frac, 0.0) AS dup_para_char_frac
        |FROM documents d LEFT JOIN lagg l USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    bench = Some((s, d) =>
      qd46Run(s, fixtureScan(s, d, "qd46")(qd46Paras(t(s, d, "documents")))))),

    // cross-document SENTENCE dedup: every word becomes a one-word sentence
    // ("w1. w2. ... wn.") — the same deliberate collision surface as qd31 —
    // and common sentences >= 5 chars dedup corpus-wide (first (doc,
    // position) wins); short sentences always survive
    Face("qd45_sentence_dedup", (s, d) => {
      graft.dedup.Dedup.sentenceDedupGlobal(
          t(s, d, "documents").select(col("doc_id"), col("lang"),
            concat(replace(col("text"), lit(" "), lit(". ")), lit(".")).as("text")),
          "doc_id", "text", minChars = 5)
        .select(col("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
    }, oracle =
      // sentence-dedup mirror: the same sentinel-split segmentation (RE2 `\1`
      // backreference = Java `$1`), keep-first election by (doc, position),
      // single-space reassembly
      """WITH src AS (
        |  SELECT doc_id, lang, replace(text, ' ', '. ') || '.' AS text FROM documents
        |),
        |seg AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(list_transform(
        |      string_split(regexp_replace(text, '([.!?]+) +', '\1' || chr(1), 'g'), chr(1)),
        |      x -> trim(x)), x -> x <> '') AS ss
        |  FROM src
        |),
        |l AS (
        |  SELECT doc_id, unnest(ss) AS u, unnest(range(len(ss))) AS pos FROM seg
        |),
        |r AS (
        |  SELECT doc_id, pos, u,
        |    CASE WHEN length(u) >= 5
        |         THEN row_number() OVER (PARTITION BY u ORDER BY doc_id, pos)
        |         ELSE 1 END AS rn
        |  FROM l
        |),
        |k AS (
        |  SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text
        |  FROM r WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT d.doc_id, d.lang, coalesce(k.text, '') AS text
        |FROM src d LEFT JOIN k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // cross-document LINE dedup (the literal C4 step): spaces become line
    // breaks so every word is a line — common words >= 4 chars dedup
    // corpus-wide (first (doc, position) wins), short words always survive
    Face("qd31_line_dedup", (s, d) => {
      graft.dedup.Dedup.lineDedupGlobal(
          t(s, d, "documents").select(col("doc_id"), col("lang"),
            translate(col("text"), " ", "\n").as("text")),
          "doc_id", "text", sep = "\n", minChars = 4)
        .select(col("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH src AS (
        |  SELECT doc_id, lang, replace(text, ' ', chr(10)) AS text FROM documents
        |),
        |s AS (SELECT doc_id, lang, string_split(text, chr(10)) AS ls FROM src),
        |l AS (
        |  SELECT doc_id, unnest(ls) AS line, unnest(range(len(ls))) AS pos FROM s
        |),
        |r AS (
        |  SELECT doc_id, pos, line,
        |    CASE WHEN length(line) >= 4
        |         THEN row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
        |         ELSE 1 END AS rn
        |  FROM l
        |),
        |k AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM r WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT d.doc_id, d.lang, coalesce(k.text, '') AS text
        |FROM src d LEFT JOIN k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // semantic dedup (SemDeDup): k-means cells over embeddings, drop all but
    // the min id of every within-cell cosine>=0.3 group (the synthetic
    // embeddings are near-orthogonal, so 0.3 plays the role 0.9+ plays for
    // real encoders — same dial as qd09). k-means output has no SQL oracle;
    // CorpusCleanSpec pins exact-dup recall, precision, and determinism
    // verdict-emitting: the survivor set depends on k-means cell blocking,
    // so the contract is SOUNDNESS against the exact metric — every dropped
    // vector must have at least one other vector at exact cosine >= the 0.3
    // threshold (a drop without a justifying near-duplicate partner means
    // the op removed unique data, the one failure semantic dedup must never
    // have). Cell-blocking recall stays pinned by the SemDeDup witness spec.
    Face("qd29_semantic_dedup", (s, d) => {
      val emb = t(s, d, "embeddings")
      val surv = graft.dedup.Dedup.semanticDedup(emb, "vec_id", "embedding",
        nlist = 8, threshold = 0.3, lloydIters = 2)
      val drops = emb.select(col("vec_id"), col("embedding"))
        .join(surv.select(col("vec_id")), Seq("vec_id"), "left_anti")
      // justification scan: dropped side is the small side — broadcast it
      // against the full corpus, exact cosine, per-drop max
      val justified = emb.select(col("vec_id").as("__oid"), col("embedding").as("__ov"))
        .join(broadcast(drops.select(col("vec_id").as("__did"), col("embedding").as("__dv"))),
          col("__oid") =!= col("__did"))
        .select(col("__did"),
          graft.plans.CosineSimilarityExpr.cosine(col("__dv"), col("__ov")).as("__cos"))
        .groupBy(col("__did")).agg(max(col("__cos")).as("__maxcos"))
      drops.agg(count(lit(1)).as("__nd"))
        .crossJoin(justified.agg(
          sum(when(col("__maxcos") < 0.3, 1L).otherwise(0L)).as("__unjust")))
        .select((col("__nd") >= 1).as("dropped_some"),
          (coalesce(col("__unjust"), lit(0L)) === 0).as("all_drops_justified"))
    }, oracle = "SELECT true AS dropped_some, true AS all_drops_justified",
    // raw SemDeDup survivors — the contract face additionally runs the
    // exact-cosine justification scan over every dropped vector
    // (correctness-only, like qd04's exact-verify half)
    bench = Some((s, d) => {
      graft.dedup.Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", nlist = 8, threshold = 0.3, lloydIters = 2)
    })),

    // compression-ratio quality signal: deflate/raw byte ratio per document
    // + the quality gate it feeds. DuckDB has no deflate, so the contract
    // is a VERDICT row (the qd41h/qs02-qs04 pattern): the native
    // DeflateRatioExpr output is recomputed per row by an INDEPENDENT
    // java.util.zip UDF (its own Deflater, the spec-pinned level-6/nowrap
    // parameters CompressSpec also pins byte-exactly) and must match
    // bit-for-bit; the oracle states the expected verdict plus the
    // SQL-expressible aggregates. An expression regression flips the hash
    // red where the previous rows-only check was blind. The raw per-row
    // operator stays the BENCH face.
    Face("qd30_compress_ratio", (s, d) => {
      val T = graft.functions.TextFunctions
      val refRatio = udf((text: String) => {
        if (text == null || text.isEmpty) null.asInstanceOf[java.lang.Double]
        else {
          val bytes = text.getBytes("UTF-8")
          val dfl = new java.util.zip.Deflater(6, true)
          dfl.setInput(bytes); dfl.finish()
          val sink = new Array[Byte](8192)
          var total = 0L
          while (!dfl.finished()) total += dfl.deflate(sink)
          dfl.end()
          java.lang.Double.valueOf(total.toDouble / bytes.length)
        }
      })
      t(s, d, "documents")
        .select(col("doc_id"),
          T.compressionRatio(col("text")).as("ratio"),
          refRatio(col("text")).as("ref_ratio"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_total"),
          count(col("ratio")).as("n_rated"),
          (count(lit(1)) === sum(when(col("ratio") === col("ref_ratio") ||
            (col("ratio").isNull && col("ref_ratio").isNull), 1L).otherwise(0L)))
            .as("ratio_ok"))
    }, oracle =
      // deflate-ratio verdict contract: DuckDB cannot deflate, so the query
      // proves every native-expression ratio equals an independent
      // java.util.zip recomputation and the oracle states the verdict plus
      // the SQL-expressible token/row aggregates (zero-no_oracle, r10 d3)
      """SELECT count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT)
        |    AS n_tokens_total,
        |  count(*) FILTER (WHERE length(text) > 0) AS n_rated,
        |  true AS ratio_ok
        |FROM documents""".stripMargin,
    // raw per-row deflate walk + gate — the contract face additionally
    // recomputes every ratio through the independent UDF reference
    bench = Some((s, d) => {
      val T = graft.functions.TextFunctions
      t(s, d, "documents")
        .select(col("doc_id"),
          T.compressionRatio(col("text")).as("compress_ratio"),
          T.tokenCount(col("text")).as("n_tokens"))
        .withColumn("keep", col("compress_ratio").between(0.25, 1.1))
        .orderBy(col("doc_id"))
    })),

    // SECOND FLAGSHIP pipeline — corpus build: benchmark decontamination →
    // deterministic train split → context-window chunking → sequence
    // packing → per-(lang, sequence) stats. Exercises the prep operators
    // END-TO-END (chunker output feeds the packer through a composite
    // order key) where qd17–qd20 test them in isolation.
    Face("q52_pipeline_corpus_build", (s, d) => {
      val P = graft.prep.Prep
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val clean = P.contamination(docs, bench, "doc_id", "text",
          shingleK = 5, minShared = 1)
        .filter(!col("contaminated"))
        .filter(P.split(col("doc_id"), 800, 100) === "train")
      val chunks = P.chunk(clean, "doc_id", "text",
        chunkSize = 64, stride = 48, carryCols = Seq("lang"))
      P.packByTokens(chunks, "lang", Seq("doc_id", "chunk_id"),
          "n_chunk_tokens", budget = 512L)
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_chunk_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("seq_id"))
    }, oracle =
      // corpus-build flagship mirror: decontaminate (shared-shingle anti
      // filter) -> train-bucket arithmetic -> chunk comprehension -> packing
      // window keyed (doc_id, chunk_id) -> BIGINT-cast aggregates
      """WITH toks0 AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 5
        |    THEN [list_aggregate(w[i:i+4], 'string_agg', ' ') FOR i IN range(1, len(w) - 3)]
        |    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS s
        |  FROM toks0
        |),
        |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |contam AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bsh ON sh.s = bsh.s),
        |clean AS (
        |  SELECT doc_id, lang, w FROM toks0
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 800
        |),
        |c AS (
        |  SELECT doc_id, lang,
        |    unnest([st // 48 FOR st IN range(0, greatest(len(w) - 16, 1), 48)]) AS chunk_id,
        |    unnest([len(w[st+1:st+64]) FOR st IN range(0, greatest(len(w) - 16, 1), 48)]) AS n_chunk_tokens
        |  FROM clean
        |),
        |p AS (
        |  SELECT doc_id, lang, chunk_id, n_chunk_tokens,
        |    CAST(coalesce(sum(n_chunk_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 512 AS seq_id
        |  FROM c
        |)
        |SELECT lang, seq_id, count(*) AS n_chunks,
        |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY lang, seq_id
        |ORDER BY lang, seq_id""".stripMargin),

    // THIRD FLAGSHIP pipeline — C4-style cleaning: cross-document span
    // dedup → token-count floor → global sequence packing. Exercises the
    // round-4 span dedup INSIDE a chain (its reassembled text feeds the
    // tokenizer of the packer) where qd28 tests it in isolation
    Face("q53_pipeline_clean_pack", (s, d) => {
      val T = graft.functions.TextFunctions
      val deduped = graft.dedup.Dedup.spanDedupGlobal(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text", spanWords = 20)
      val filtered = deduped
        .withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))
        .filter(col("n_tokens") >= 10)
      // r18 (verdict item 4): sample the packer's split points from the RAW
      // doc_id scan, not from `filtered` — the packer's own sampling job
      // would otherwise re-run the whole span-dedup pipeline just to read
      // the key column (measured: the q53 job timeline paid the dedup
      // twice). The survivor ids are a subset of the raw ids, so the raw
      // quantiles only skew bucket sizes, never results.
      graft.prep.Prep.packGlobal(filtered, Seq("doc_id"), "n_tokens", budget = 512L,
          sampleFrom = Some(t(s, d, "documents").select(col("doc_id"))))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy(col("doc_id"))
    }, oracle =
      // clean→filter→pack flagship mirror: qd28's span-dedup CTEs feed a
      // token floor and the global-pack exclusive running sum
      (spanDedupCtes + """,
        |f AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(len(list_filter(string_split_regex(coalesce(k.text, ''), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents d LEFT JOIN k USING (doc_id)
        |),
        |p AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM f WHERE n_tokens >= 10
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor(prev / 512) AS BIGINT) AS seq_id,
        |  prev % 512 AS seq_offset
        |FROM p
        |ORDER BY doc_id""".stripMargin)),

    // composite pipeline: near-dup pairs → connected components → keeper per
    // cluster (min id) → anti-join the corpus down to the keep-list — the
    // full dedup flow a training-data pipeline runs
    Face("q49_pipeline_dedup_keeplist", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleK = 5, threshold = 0.5)
      val comps = graft.dedup.ConnectedComponents.components(pairs)
      val losers = comps.filter(col("id") =!= col("component")).select(col("id"))
      docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle =
      s"""$componentsCte
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
        |ORDER BY doc_id""".stripMargin),

    // Okapi BM25 corpus scoring against a fixed query-term list (incl. a
    // zero-df term exercising the absent-term path): ONE bounded model
    // aggregation broadcast back, then narrow per-row scoring — the
    // retrieval scorer a curation pipeline uses for quality-weighted
    // selection. The oracle SQL is GENERATED from the same term list
    // ([[Bm25Terms]]) so the two sides cannot drift.
    Face("qd50_bm25", (s, d) => {
      graft.prep.Prep.bm25(t(s, d, "documents"), "doc_id", "text", Bm25Terms)
        .select(col("doc_id"), col("lang"), col("bm25_uscore"))
        .orderBy(col("doc_id"))
    }, oracle = bm25OracleSql(Bm25Terms, k1 = 1.2, b = 0.75)),

    // HLL cardinality estimation (approx_count_distinct, rsd=0.02) — the
    // 100 TB cardinality tool (vocabulary sizes, dedup-key counts, join-key
    // explosion checks): sketches merge map-side, so the plan is one
    // partial-agg exchange regardless of key cardinality. Contract face
    // (the qd04 pattern): exact per-group distincts are hash-checked
    // against DuckDB, and the sketch estimate must land within 3x rsd of
    // exact (HLL++ is deterministic — no seed, no flake) — an estimator
    // regression flips the verdict booleans red.
    Face("qd51_approx_distinct", (s, d) => {
      val ev = t(s, d, "events")
      ev.groupBy(col("event_type")).agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("__au"),
          countDistinct(col("event_id")).as("exact_events"),
          approx_count_distinct(col("event_id"), 0.02).as("__ae"))
        .select(col("event_type"), col("exact_users"), col("exact_events"),
          (abs(col("__au") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.06).as("users_ok"),
          (abs(col("__ae") - col("exact_events")).cast("double") /
            col("exact_events") <= 0.06).as("events_ok"))
        .orderBy(col("event_type"))
    }, oracle =
      // qd51: exact distincts recomputed; the oracle states the EXPECTED
      // sketch verdict (within 3x rsd) so an estimator regression hashes red
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(DISTINCT event_id) AS exact_events,
        |  true AS users_ok, true AS events_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // raw HLL sketch aggregation (the qd51 contract's operator half; the
    // exact countDistinct there is verification workload, not the operator)
    bench = Some((s, d) => {
      t(s, d, "events").groupBy(col("event_type")).agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          approx_count_distinct(col("event_id"), 0.02).as("approx_events"))
        .orderBy(col("event_type"))
    })),

    // Gopher §A1.2 duplicate-n-gram character gates — the repetition
    // signals qd11's line/top-n-gram kernels don't cover (Rae et al. 2021
    // Table A1: drop when dup-{5..10}-gram char fraction exceeds
    // 0.15/0.14/0.13/0.12/0.11/0.10). Repetition is injected
    // deterministically — doc_id % 4 copies of a doc-keyed six-word phrase
    // appended to each document, so both engines see the same duplicated
    // n-grams and the verdict varies across the corpus. The struct profile
    // is materialized ONCE (separate projection — CollapseProject won't
    // inline a non-trivial producer into 12 field uses), so all six
    // fractions plus the gate cost one native pass per row.
    Face("qd52_dup_ngrams", (s, d) => {
      val T = graft.functions.TextFunctions
      val docs = t(s, d, "documents").withColumn("rep_text",
        concat(col("text"), lit(" "),
          call_function("repeat",
            concat(lit("rep"), (col("doc_id") % 5).cast("string"),
              lit(" alpha beta gamma delta epsilon ")),
            (col("doc_id") % 4).cast("int"))))
      val prof = docs.withColumn("__p", T.dupNgramProfile(col("rep_text"), 5, 10))
      // coalesce each fraction to 0.0 (ADVICE r13): the native profile is
      // null-intolerant, while the DuckDB mirror LEFT JOINs per-n fractions
      // and coalesces a missing one to 0.0 / the gate to TRUE — a NULL text
      // row (none in the current fixtures) must agree on both sides
      def frac(n: Int): Column =
        coalesce(col("__p").getField(s"dup${n}_frac"), lit(0.0))
      prof.select(
          col("doc_id") +:
          (5 to 10).map(n => frac(n).as(s"dup${n}_frac")) :+
          T.DupNgramThresholds
            .map { case (n, thr) => frac(n) <= thr }
            .reduce(_ && _).as("ngram_ok"): _*)
        .orderBy(col("doc_id"))
    }, oracle = dupNgramOracleSql),

    // Leakage-safe train/valid/test split: qd17's exact modular-hash
    // assignment keyed on qd10's near-dup cluster representative instead of
    // the raw doc_id — every member of a duplicate cluster lands in the
    // same split, so near-duplicates of a training document can never leak
    // into validation/test. Singletons represent themselves.
    Face("qd53_leakage_safe_split", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleK = 5, threshold = 0.5)
      graft.prep.Prep.leakageSafeSplit(docs, "doc_id", pairs,
          trainPm = 800, validPm = 100)
        .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }, oracle =
      // qd53 mirror: qd10's recursive-reach components (LEFT JOIN so
      // singletons keep themselves as representative) feeding qd17's exact
      // int64 modular arithmetic on the representative
      s"""$componentsCte,
         |rep AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |b AS (SELECT doc_id, rep,
         |        (rep % 1000000007) * 2654435761 % 1000000007 % 1000 AS bucket
         |      FROM rep)
         |SELECT doc_id, rep, bucket,
         |  CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin),

    // Exact-k deterministic per-stratum sample: each language keeps its 25
    // smallest-shuffle-key docs — exact-size where qd17's rate filter is
    // only exact-in-expectation, reproducible on any engine/cluster/retry.
    // One bounded partial agg (graft_topk reduces every partition to <=k
    // entries per stratum before the exchange — no global sort, no
    // per-stratum window, so a 90%-one-language corpus has no hot-key
    // cliff) plus a broadcast join back for the payload columns.
    Face("qd54_stratified_sample", (s, d) => {
      graft.prep.Prep.stratifiedSampleExact(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "lang", k = 25, salt = 7L)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("rk"))
    }, oracle =
      // qd54 mirror: the same exact int64 key arithmetic (salt 7), ranked per
      // stratum — the oracle may window-sort freely; the Spark side must NOT
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id + 7) % 1000000007) * 2654435761 % 1000000007
        |    ) AS rk
        |  FROM documents
        |)
        |SELECT lang, rk, doc_id, n_chars FROM r WHERE rk <= 25
        |ORDER BY lang, rk""".stripMargin),

    // Bounded-memory heavy hitters (Misra–Gries, mergeable) — the
    // approximate complement to qd14's exact vocabulary, graded like qd51:
    // the deterministic exact top-10 rows carry corpus-wide contract
    // verdicts that the algorithm's invariants make provably TRUE on any
    // partitioning (membership of sub-threshold tokens is arrival-order
    // dependent by nature, so the sketch's borderline set is asserted
    // through the contract, never enumerated). Sketch state: 64 counters
    // per partition vs the exact path's full-vocabulary shuffle.
    Face("qd55_heavy_hitters", (s, d) => {
      val T = graft.functions.TextFunctions
      val k = 64
      val docs = t(s, d, "documents")
      val exact = docs.select(explode(T.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val total = exact.agg(sum(col("cnt")).as("__n")) // 1-row broadcast
      val sketch = docs.agg(T.heavyHitters(T.tokens(col("text")), k).as("__sk"))
        .select(explode(col("__sk")).as("e"))
        .select(col("e.item").as("token"), col("e.est").as("est")) // <= k rows
      val err = floor(col("__n") / (k + 1))
      val checks = exact.join(broadcast(sketch), Seq("token"), "left")
        .crossJoin(broadcast(total))
        .agg(
          min(when(col("est").isNull, true).otherwise(col("est") <= col("cnt")))
            .as("no_overestimate"),
          min(when(col("est").isNull, true).otherwise(col("cnt") - col("est") <= err))
            .as("bound_ok"),
          min(when(col("cnt") > err, col("est").isNotNull).otherwise(true))
            .as("heavy_present"))
      docs.select(explode(T.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(10)
        .crossJoin(broadcast(checks))
        .orderBy(col("cnt").desc, col("token"))
    }, oracle =
      // qd55 mirror: exact top-10 with the same tokenizer; the contract
      // booleans are provably TRUE by the Misra–Gries invariants (no
      // overestimate; underestimate <= n/(k+1); every token above that
      // threshold tracked), so the oracle asserts them as literals
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |)
        |SELECT token, count(*) AS cnt,
        |  TRUE AS no_overestimate, TRUE AS bound_ok, TRUE AS heavy_present
        |FROM toks GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 10""".stripMargin,
    // raw Misra–Gries sketch aggregation (the qd55 contract's operator
    // half, r13 directive 5: the contract face's exact token groupBy +
    // top-k is verification workload — the term that grows with data; the
    // operator a 100 TB user runs is the bounded-counter sketch alone)
    bench = Some((s, d) => {
      val T = graft.functions.TextFunctions
      t(s, d, "documents")
        .agg(T.heavyHitters(T.tokens(col("text")), 64).as("__sk"))
        .select(explode(col("__sk")).as("e"))
        .select(col("e.item").as("token"), col("e.est").as("est"))
    })),

    // qd55's GROUPED face: one Misra–Gries summary per language — the
    // per-group bounded-buffer path (ObjectHashAggregate holds k counters
    // per (lang, partition); the exchange carries langs × partitions × k
    // counters). Same contract discipline: exact per-lang top-3 rows carry
    // per-lang verdicts the MG invariants make provably true (n and the
    // n/(k+1) bound are PER GROUP).
    Face("qd57_heavy_hitters_by_lang", (s, d) => {
      val T = graft.functions.TextFunctions
      val k = 64
      val docs = t(s, d, "documents")
      val exact = docs.select(col("lang"), explode(T.tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
      val totals = exact.groupBy(col("lang")).agg(sum(col("cnt")).as("__n"))
      val sketch = docs.groupBy(col("lang"))
        .agg(T.heavyHitters(T.tokens(col("text")), k).as("__sk"))
        .select(col("lang"), explode(col("__sk")).as("e"))
        .select(col("lang"), col("e.item").as("token"), col("e.est").as("est"))
      val err = floor(col("__n") / (k + 1))
      val checks = exact.join(broadcast(sketch), Seq("lang", "token"), "left")
        .join(broadcast(totals), Seq("lang"))
        .groupBy(col("lang"))
        .agg(
          min(when(col("est").isNull, true).otherwise(col("est") <= col("cnt")))
            .as("no_overestimate"),
          min(when(col("est").isNull, true).otherwise(col("cnt") - col("est") <= err))
            .as("bound_ok"),
          min(when(col("cnt") > err, col("est").isNotNull).otherwise(true))
            .as("heavy_present"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("cnt").desc, col("token"))
      exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .join(broadcast(checks), Seq("lang"))
        .select(col("lang"), col("rk").cast("long").as("rk"), col("token"),
          col("cnt"), col("no_overestimate"), col("bound_ok"), col("heavy_present"))
        .orderBy(col("lang"), col("rk"))
    }, oracle =
      // qd57 mirror: exact per-lang top-3 with the same tokenizer; the
      // per-lang contract booleans are provably TRUE (the MG invariants hold
      // per group with per-group n)
      """WITH toks AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |), exact AS (
        |  SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token
        |), r AS (
        |  SELECT lang, token, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
        |  FROM exact
        |)
        |SELECT lang, rk, token, cnt,
        |  TRUE AS no_overestimate, TRUE AS bound_ok, TRUE AS heavy_present
        |FROM r WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    // raw GROUPED Misra–Gries sketch (qd57's operator half — one bounded
    // summary per language, k counters per (lang, partition))
    bench = Some((s, d) => {
      val T = graft.functions.TextFunctions
      t(s, d, "documents").groupBy(col("lang"))
        .agg(T.heavyHitters(T.tokens(col("text")), 64).as("__sk"))
        .select(col("lang"), explode(col("__sk")).as("e"))
        .select(col("lang"), col("e.item").as("token"), col("e.est").as("est"))
    })),

    // Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-Res):
    // 40 docs drawn ∝ n_chars via the deterministic top-k-by-ln(u)/w
    // reservoir — the quality-weighted corpus-selection primitive. One
    // bounded partial agg (no per-row RNG state, no global sort) + a
    // broadcast join back; content-keyed u, so any engine reproduces the
    // exact sample (the oracle mirrors the formula verbatim).
    Face("qd56_weighted_sample", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val keys = graft.prep.Prep.weightedSampleKeys(
        docs, "doc_id", "n_chars", k = 40, salt = 11L)
      docs.join(broadcast(keys), Seq("doc_id"))
        .select(col("rk"), col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("rk"))
    }, oracle =
      // qd56 mirror: the same A-Res key — u = (shuffleKey+1)/(P+1) exact in
      // double on both engines; the only libm call is one ln of an identical
      // quotient (score gaps across the corpus are ~1e-3, ulp-level ln
      // disagreement cannot flip a rank)
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    ln((((doc_id + 11) % 1000000007) * 2654435761 % 1000000007 + 1)
        |       / 1000000008.0) / n_chars AS score
        |  FROM documents WHERE n_chars > 0
        |), r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rk
        |  FROM s
        |)
        |SELECT rk, doc_id, lang, n_chars FROM r WHERE rk <= 40
        |ORDER BY rk""".stripMargin),
  )
}
