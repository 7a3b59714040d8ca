package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import graft.plans.{BlocklistHitsExpr, DeflateRatioExpr, DupLineStatsExpr, DupNgramProfileExpr,
  FreqSketchAgg, LangIdExpr, NormalizeUnicodeExpr, TopNgramShareExpr, UnicodeExprs}

/** Text-analysis functions for large-scale training-data pipelines: token
  * counting, language ID, quality scoring, document fingerprinting.
  *
  * Everything here composes Spark built-ins (codegen'd, fully distributed, no
  * UDFs), and each op is designed so a DuckDB oracle can mirror it exactly:
  * literal-space tokenization, integer scores, and sequential-fold arithmetic.
  */
object TextFunctions {

  /** Whitespace tokenization (regex \s+), empty-trailing removed. No
    * lambda: Spark's `filter` is interpreted and keeps the operator out of
    * whole-stage codegen; `split` yields no null elements, so
    * `array_remove` drops exactly the empty strings. */
  def tokens(text: Column): Column = array_remove(split(text, "\\s+"), "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word token count: a GPT-2-style pre-tokenizer regex —
    * contractions, letter runs, digit runs, punctuation runs. A real BPE
    * merge table would refine these counts; the regex pass is the
    * distributed-scan part and is what runs over 100 TB. */
  val BpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Language-ID stopword dictionaries (top function words per language —
    * public-knowledge lists). Deterministic and tiny by design so the scoring
    * is SQL-mirrorable. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf", "zu"),
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "los", "las", "de", "y", "en", "que", "una", "es", "por"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est", "dans", "que"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就", "不", "人"),
  )

  /** Per-language stopword hit count over lowercased tokens. */
  def langScore(text: Column, lang: String): Column = {
    val dict = Stopwords.toMap.apply(lang)
    size(filter(tokens(lower(text)), t => t.isin(dict.map(lit): _*)))
  }

  /** Heuristic language ID: the first language (in fixed de<en<es<fr<zh
    * order) whose stopword score is maximal; "und" (undetermined) when all
    * scores are zero. */
  def langId(text: Column): Column =
    column(LangIdExpr(expression(text))) // one native pass

  /** [[langId]]'s original HOF formulation — kept as the executable spec
    * (PipelineSpec asserts equivalence against the native expression).
    * Avoid in hot paths: every lambda instance carries fresh variable ids,
    * so Catalyst cannot subexpression-eliminate the ~50 langScore
    * references the CASE chain expands to (measured ~150 tokenizations
    * per row in a langid+filter pipeline). */
  def langIdHof(text: Column): Column = {
    val scores = Stopwords.map { case (lang, _) => lang -> langScore(text, lang) }
    val allZero = scores.map(_._2 === 0).reduce(_ && _)
    val chain = scores.foldRight(lit("und")) { case ((lang, s), elseC) =>
      val isMax = scores.filter(_._1 != lang).map(o => s >= o._2).reduce(_ && _)
      when(isMax && !allZero, lit(lang)).otherwise(elseC)
    }
    chain
  }

  /** Quality-score components (all deterministic ratios):
    * n_chars, n_tokens, mean token length, alnum-space ratio,
    * English-stopword ratio. */
  def nChars(text: Column): Column = length(text)
  def alnumRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z0-9 ]", "")).cast("double") / length(text)
  def stopwordRatio(text: Column): Column =
    langScore(text, "en").cast("double") / tokenCount(text)
  def meanTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: weighted blend of the component
    * signals, the shape a Gopher/C4-style filter uses. */
  def qualityScore(text: Column): Column = {
    val lenScore = when(tokenCount(text).between(10, 100000), lit(1.0)).otherwise(lit(0.0))
    val alnum = alnumRatio(text)
    val stop = least(stopwordRatio(text) * lit(10.0), lit(1.0))
    (lenScore * lit(0.4)) + (alnum * lit(0.4)) + (stop * lit(0.2))
  }

  /** Compression-ratio quality signal — deflate(text)/utf8(text) byte
    * ratio via [[graft.plans.DeflateRatioExpr]]. Low = degenerate
    * repetition, ~0.6-0.8 = prose, >1 = incompressible noise. Null for
    * null/empty text. */
  def compressionRatio(text: Column): Column =
    column(DeflateRatioExpr(expression(text)))

  /** Unicode normalization ([[graft.plans.NormalizeUnicodeExpr]]). NFC for
    * canonical composition (oracle-able vs DuckDB's nfc_normalize), NFKC to
    * also fold compatibility characters (ligatures, full-width forms). An
    * unknown `form` throws here, when the column is built. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    column(NormalizeUnicodeExpr(expression(text), UnicodeExprs.form(form)))

  /** Control characters that survive no cleanup: C0 except tab/newline/CR,
    * plus DEL. Kept as a plain character class so any engine's regex strips
    * the identical set. */
  val ControlCharClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Web-corpus text cleanup (the C4/CCNet pre-filter step): strip
    * non-whitespace control characters, THEN NFC-normalize — in that order
    * the op is idempotent (NFC emits no control characters, so a second
    * strip is a no-op), whereas normalize-first leaves `e + BEL + U+0301`
    * uncomposed until the strip and a second pass would change the text
    * again (spec-pinned). Composes with [[normalized]]/[[fingerprint]]
    * downstream so visually-identical text dedups identically. */
  def cleanText(text: Column): Column =
    normalizeUnicode(regexp_replace(text, ControlCharClass, ""))

  /** Normalized text for fingerprinting: lowercase, collapse whitespace,
    * strip non-alphanumerics. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** 64-bit document fingerprint over normalized text (xxhash64). Equal
    * fingerprints ⇔ equal normalized text (modulo 2^-64 collisions). */
  def fingerprint(text: Column): Column = xxhash64(normalized(text))

  /** Word k-shingles from a token array; documents shorter than k yield one
    * whole-document shingle. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - lit(k)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))

  // ---- repetition signals (Gopher-style, Rae et al. 2021 §A1.1) ----------
  // Boilerplate-heavy documents (navigation menus, SEO spam, templated
  // pages) repeat lines and n-grams; these ratios are the standard
  // length-normalized filters. All counts are exact ints and every ratio is
  // ONE division, so a SQL oracle reproduces the doubles bit-for-bit.

  /** Non-empty lines of a document ('\n'-split). */
  def lines(text: Column): Column =
    filter(split(text, "\n"), l => l =!= lit(""))

  /** Fraction of non-empty lines that are duplicates of an earlier line:
    * (n_lines − n_distinct) / n_lines; 0.0 for line-less documents.
    * Native one-pass [[graft.plans.DupLineStatsExpr]] (lambda-free, so
    * Catalyst CSE can merge repeated uses). */
  def dupLineFraction(text: Column): Column =
    dupLineStats(text).getField("dup_line_frac")

  /** Fraction of characters that sit inside duplicated lines (any line
    * occurring more than once contributes ALL its occurrences' characters):
    * a character-weighted twin of [[dupLineFraction]] — a page repeating one
    * long boilerplate block scores high even when unique short lines
    * dominate the line count. */
  def dupLineCharFraction(text: Column): Column =
    dupLineStats(text).getField("dup_line_char_frac")

  private def dupLineStats(text: Column): Column =
    column(DupLineStatsExpr(expression(text)))

  /** [[dupLineFraction]]'s HOF formulation — executable spec only. */
  def dupLineFractionHof(text: Column): Column = {
    val ls = lines(text)
    when(size(ls) === 0, lit(0.0)).otherwise(
      (size(ls) - size(array_distinct(ls))).cast("double") / size(ls))
  }

  /** [[dupLineCharFraction]]'s HOF formulation — executable spec only:
    * the nested per-line filter is O(lines²) interpreted lambdas, the
    * reason the native expression exists. */
  def dupLineCharFractionHof(text: Column): Column = {
    val ls = lines(text)
    val totalChars = aggregate(ls, lit(0L), (acc, l) => acc + length(l))
    val dupChars = aggregate(ls, lit(0L), (acc, l) =>
      acc + when(size(filter(ls, x => x === l)) > 1, length(l).cast("long")).otherwise(0L))
    when(totalChars === 0, lit(0.0)).otherwise(dupChars.cast("double") / totalChars)
  }

  /** Paragraph view of a document for the duplicate-PARAGRAPH signals
    * (Gopher §A1.1 lists both line and paragraph variants): blank-line
    * separated blocks become single lines — runs of 2+ newlines turn into a
    * U+0001 sentinel, remaining single newlines fold to spaces, the
    * sentinel becomes the line break — so the native line-stats kernel
    * applies unchanged. */
  private def paragraphsAsLines(text: Column): Column =
    translate(translate(
      regexp_replace(text, "\n{2,}", ""), "\n", " "), "", "\n")

  /** [[dupLineFraction]] over blank-line-separated paragraphs. */
  def dupParagraphFraction(text: Column): Column =
    dupLineFraction(paragraphsAsLines(text))

  /** [[dupLineCharFraction]] over blank-line-separated paragraphs. */
  def dupParagraphCharFraction(text: Column): Column =
    dupLineCharFraction(paragraphsAsLines(text))

  /** Count share of the most frequent word n-gram (native
    * [[graft.plans.TopNgramShareExpr]] one-pass loop). */
  def topNgramShare(text: Column, n: Int): Column =
    column(TopNgramShareExpr(expression(tokens(text)), n))

  /** Duplicate-n-gram character fractions for n in [minN, maxN] as one
    * struct(dup{minN}_frac … dup{maxN}_frac) — the Gopher §A1.2 signals
    * (fraction of characters inside word n-grams occurring more than once,
    * all occurrences counted, no positional overlap accounting; see
    * [[graft.plans.DupNgramProfileExpr]] for the exact contract). One
    * native pass materializes the token array once for all n. */
  def dupNgramProfile(text: Column, minN: Int, maxN: Int): Column =
    column(DupNgramProfileExpr(expression(tokens(text)), minN, maxN))

  /** Single-n convenience view of [[dupNgramProfile]]. */
  def dupNgramCharFraction(text: Column, n: Int): Column =
    dupNgramProfile(text, n, n).getField(s"dup${n}_frac")

  /** [[dupNgramCharFraction]]'s HOF formulation — executable spec only:
    * builds the n-gram array with `transform`+`slice`, then the same
    * O(m²) nested-filter duplicate accounting as
    * [[dupLineCharFractionHof]]. */
  def dupNgramCharFractionHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val grams = when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
    val totalChars = aggregate(grams, lit(0L), (acc, g) => acc + length(g))
    val dupChars = aggregate(grams, lit(0L), (acc, g) =>
      acc + when(size(filter(grams, x => x === g)) > 1, length(g).cast("long")).otherwise(0L))
    when(totalChars === 0, lit(0.0)).otherwise(dupChars.cast("double") / totalChars)
  }

  // ---- PII scrubbing -----------------------------------------------------
  // Training corpora redact obvious PII before anything else sees the text.
  // Patterns are deliberately simple, RE2-compatible (portable to the SQL
  // oracle), and applied in a fixed order so engines agree byte-for-byte.

  /** Email addresses → `<EMAIL>`. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 → `<IP>`.
    *
    * Portability edge (found by the grammar-17 differential fuzz): `\b` is
    * the ONE construct here whose semantics differ between Java regex
    * (Spark) and RE2 (DuckDB oracle) — Java's `\b` is Unicode-aware, RE2's
    * is ASCII, so an IPv4 abutting a non-ASCII word character ("…3.4世")
    * has a boundary under RE2 but not under Java: RE2 redacts, Spark does
    * not. This library pins the Spark/Java behavior (DifferentialSpec
    * asserts it); ASCII-adjacent contexts — the space the qd13 oracle
    * exercises — agree byte-for-byte. RE2 has no lookaround, so there is no
    * portable boundary formulation that preserves adjacent-match behavior;
    * the divergence is documented rather than papered over. */
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  /** International-format phone numbers (+ then 7-15 digits) → `<PHONE>`. */
  val PhoneRe = "\\+[0-9]{7,15}"

  /** Redact emails, IPv4s and international phone numbers (fixed order:
    * email first so its digits cannot be half-eaten by the phone rule). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of matches of `re` in `text` (regexp_extract_all size). */
  def matchCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  // ---- HTML → text extraction ---------------------------------------------
  // The step BEFORE every quality/dedup gate in a crawl pipeline: strip
  // markup down to the visible text (CommonCrawl WET-style). Deliberately a
  // deterministic regex chain, not a DOM parser: every pattern below is
  // backreference-free and uses explicit character classes, so Java regex
  // (Spark, codegen'd regexp_replace) and RE2 (DuckDB oracle) agree
  // byte-for-byte, and the whole transform stays a narrow codegen'd map.

  /** `<script>`/`<style>` elements vanish WITH their contents (their text was
    * never visible); non-greedy so adjacent elements don't merge. */
  val HtmlInvisibleRe = "(?is)<(script|style)[^>]*>.*?</(script|style)[ \\t\\n\\r\\f]*>"
  /** HTML comments, including multi-line. */
  val HtmlCommentRe = "(?s)<!--.*?-->"
  /** Block-level element boundaries (either side) plus `<br>` — these become
    * LINE BREAKS so downstream line-based gates ([[graft.prep.Prep.c4Clean]],
    * bullet/ellipsis line fractions) see the page's visual structure. The
    * set is the common block elements; an unknown tag falls through to
    * [[HtmlTagRe]] and becomes a space. */
  val HtmlBlockTagRe =
    "(?i)</?(br|pre|p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|article|header|footer)\\b[^>]*>"
  /** Any remaining tag (open/close/self-closing/doctype). */
  val HtmlTagRe = "<[^>]*>"
  /** Horizontal whitespace runs → single space (explicit class: Java and
    * RE2 disagree on `\s`'s unicode coverage; `\n` is line structure and
    * handled by [[HtmlNewlineRunRe]]). */
  val HtmlSpaceRe = "[ \\t\\r\\f]+"
  /** Newline runs (with interleaved spaces) → one newline. */
  val HtmlNewlineRunRe = " ?\\n[\\n ]*"

  /** Number of DISTINCT blocklist phrases present in the document
    * (ASCII-case-insensitive substring containment) — the C4 "bad words"
    * page gate is `blocklistHits(text, list) === 0`. ONE Aho–Corasick pass
    * regardless of list size ([[graft.plans.BlocklistHitsExpr]]) where the
    * declarative `filter(phrases, p => contains(lower(text), p))` rescans
    * the document once per phrase. Phrases must be lowercase. */
  def blocklistHits(text: Column, phrases: Seq[String]): Column =
    column(BlocklistHitsExpr(expression(text), phrases.toArray))

  // ---- sentence segmentation ----------------------------------------------

  /** A sentence boundary: a run of terminal punctuation followed by spaces.
    * RE2 has no lookbehind, so the portable formulation inserts a `\u0001`
    * sentinel AFTER the punctuation via backreference replacement (`$1` in
    * Java, `\1` in RE2 — each engine's own syntax, same semantics) and
    * splits on the sentinel. */
  val SentenceBoundaryRe = "([.!?]+) +"

  /** Sentence list of a document: segments keep their terminal punctuation,
    * edges are trimmed, empty segments drop. Deliberately heuristic (an
    * abbreviation like "e.g. x" splits) — the standard trade for a
    * dictionary-free segmenter; sentence-level dedup is collision-tolerant
    * by design. */
  def sentences(text: Column): Column =
    filter(
      transform(
        split(regexp_replace(text, SentenceBoundaryRe, "$1\u0001"), "\u0001", -1),
        s => trim(s)),
      s => s =!= "")

  /** Visible text of an HTML document: invisible elements and comments
    * removed with their contents, block-element boundaries turned into
    * newlines (so line-based quality gates see the page structure), other
    * tags replaced by spaces (so `a</td><td>b` keeps its word boundary),
    * the five core named entities plus `&#39;` decoded (`&amp;` LAST so
    * `&amp;lt;` single-decodes to `&lt;`, exactly like a real entity
    * decoder), horizontal whitespace collapsed per line, newline runs
    * collapsed, and the ends trimmed of spaces and newlines. Documented
    * subset: numeric entities beyond `&#39;` are left as-is — the quality
    * gates downstream treat them as symbols. Portability caveat (tag NAMES
    * only): Java's `(?i)` folds ASCII while RE2 also simple-folds exotic
    * case pairs (long s U+017F → s, Kelvin U+212A → k), so a tag spelled
    * `<ſcript>` parses differently across engines — no real document does
    * this; the fuzz grammar pins the realistic input space. */
  def htmlToText(text: Column): Column = {
    val noMarkup = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, HtmlInvisibleRe, " "),
          HtmlCommentRe, " "),
        HtmlBlockTagRe, "\n"),
      HtmlTagRe, " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noMarkup) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(
      regexp_replace(
        regexp_replace(decoded, HtmlSpaceRe, " "),
        HtmlNewlineRunRe, "\n"),
      " \n")
  }

  /** Corpus vocabulary: one row per token with its corpus frequency,
    * `minCount` floor. One explode + one map-side-combinable groupBy —
    * the canonical distributed word-count; at 100 TB the shuffle carries
    * only (token, partial count) pairs. */
  def vocab(df: org.apache.spark.sql.DataFrame, textCol: String,
            minCount: Long = 1L): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Bounded-memory heavy hitters over per-row token arrays: Misra–Gries
    * with k counters ([[graft.plans.FreqSketchAgg]]), mergeable across
    * partitions with the n/(k+1) underestimate guarantee. The approximate
    * complement to [[vocab]]: where the exact count shuffles every distinct
    * token, the sketch exchanges O(k × partitions) counters — the right
    * trade when only the heavy tail matters (stopword discovery,
    * boilerplate detection) on a corpus whose vocabulary itself is too
    * large to shuffle comfortably. Aggregate column: use inside `.agg`. */
  def heavyHitters(tokensCol: Column, k: Int): Column =
    column(FreqSketchAgg(expression(tokensCol), Literal(k)).toAggregateExpression())

  /** Unigram-rarity document statistics against a `(token, n)` vocabulary
    * (typically [[vocab]] of the same corpus): per document,
    * `n_tokens` (occurrences), `n_invocab` (occurrences whose token is in
    * the vocabulary), `oov_share`, and `mean_token_freq` (mean corpus
    * frequency of in-vocab occurrences; null when none are). The
    * integer-count proxy for CCNet-style LM perplexity filtering — high
    * `oov_share` flags gibberish/encoding damage, extreme `mean_token_freq`
    * flags stopword-soup boilerplate — chosen over log-prob scores so
    * every number is exact integer arithmetic plus ONE final division,
    * which any engine reproduces bit-identically (no libm in sight).
    *
    * Scale shape: explode → shuffle keyed on token to meet the vocabulary
    * (broadcast when it is small enough — Catalyst decides from stats) →
    * map-side-combinable groupBy on doc id. Two exchanges total; nothing
    * driver-side. Documents with zero tokens yield no row (explode of an
    * empty list), mirroring SQL unnest semantics.
    */
  def rarityStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    toks.join(vocab.select(col("token"), col("n").as("__vn")), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__vn")).as("n_invocab"),
        sum(col("__vn")).as("__vsum"))
      .withColumn("oov_share",
        (col("n_tokens") - col("n_invocab")).cast("double") / col("n_tokens").cast("double"))
      .withColumn("mean_token_freq",
        when(col("n_invocab") > 0,
          col("__vsum").cast("double") / col("n_invocab").cast("double")))
      .drop("__vsum")
  }

  /** Gopher-style repetition gate: true when the document is NOT
    * repetition-dominated. Thresholds follow the published filter family
    * (dup-line ≤ 0.30, dup-line-chars ≤ 0.20 like Gopher; top-2-gram ≤ 0.20,
    * top-3-gram ≤ 0.18 from the same table). */
  def repetitionOk(text: Column): Column =
    (dupLineFraction(text) <= 0.30) && (dupLineCharFraction(text) <= 0.20) &&
      (topNgramShare(text, 2) <= 0.20) && (topNgramShare(text, 3) <= 0.18)

  /** Gopher §A1.2 duplicate-n-gram thresholds: a document is dropped when
    * the duplicate-{5..10}-gram character fraction exceeds
    * 0.15/0.14/0.13/0.12/0.11/0.10 respectively (Rae et al. 2021 Table A1). */
  val DupNgramThresholds: Seq[(Int, Double)] =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** The FULL Gopher repetition gate (§A1.2): [[repetitionOk]]'s line +
    * top-n-gram gates, the paragraph twins, and the duplicate-{5..10}-gram
    * character gates — true when the document is not repetition-dominated.
    * One [[dupNgramProfile]] pass serves all six n-gram gates. */
  def gopherRepetitionOk(text: Column): Column = {
    val prof = dupNgramProfile(text, 5, 10)
    val ngramOk = DupNgramThresholds
      .map { case (n, thr) => prof.getField(s"dup${n}_frac") <= thr }
      .reduce(_ && _)
    repetitionOk(text) &&
      (dupParagraphFraction(text) <= 0.30) &&
      (dupParagraphCharFraction(text) <= 0.20) && ngramOk
  }
}
