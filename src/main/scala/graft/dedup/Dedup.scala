package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}
import graft.plans.{BloomExprs, CosineSimilarityExpr, SimHash64Expr, SketchExprs, SpanHashPairsExpr}

/** Deduplication operators for training-data pipelines, all shuffle-lean:
  *
  *  - exact / fingerprint: one hash-groupBy (map-side combine applies)
  *  - MinHash LSH: shingle → signature (no shuffle) → band explode →
  *    bucket self-join (shuffle on band hash only) → signature-estimate filter
  *  - SimHash: 64-bit sketch → pigeonhole chunk blocking → hamming filter
  *  - n-gram Jaccard: exact pairwise via shingle co-occurrence counting
  *    (shuffle on shingle; the join fans out only where shingles collide)
  *  - embedding cosine: blocked self-join + exact cosine threshold
  *
  * At 100 TB the candidate-pair joins are the cost center; every variant
  * keys its shuffle on the blocking value (band bucket / chunk / shingle /
  * block key) so AQE can split skewed buckets, and nothing ever collects to
  * the driver.
  */
object Dedup {

  /** Distinct word k-shingle XXH64 values ([[graft.plans.ShingleHashesExpr]]):
    * every shuffle keyed on a shingle moves 8 bytes instead of the shingle
    * string, and no shingle string is ever materialized. Same seed as the
    * minhash-internal shingle hash, so a MinHash over these values equals
    * one over the string shingles. */
  private[graft] def distinctShingleHashes(text: Column, k: Int): Column =
    SketchExprs.shingleHashes(T.tokens(text), k)

  /** Exact dedup: keep the row with the smallest `orderCol` per duplicate
    * group (deterministic, unlike dropDuplicates). */
  def exact(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    exactByKey(df, struct(keys.map(col).toIndexedSeq: _*), orderCol)

  /** [[exact]] keyed on an arbitrary expression (e.g. a normalized-URL or
    * fingerprint column that need not be materialized first).
    *
    * groupBy + `min_by`, NOT a window over the key: map-side combine
    * collapses a hot duplicate key to one candidate row per partition
    * BEFORE the exchange, where `row_number().over(partitionBy(key))`
    * funnels every occurrence of the key into a single un-splittable
    * window task — the boilerplate-skew cliff [[keepFirstUnits]] already
    * avoids for the same reason. Ties on a non-unique `orderCol` resolve
    * arbitrarily (as they did under the window formulation); pass a unique
    * id for deterministic keeps. The ordering rides inside a struct because
    * `min_by` SKIPS rows whose bare ordering value is null — a group whose
    * rows all had null `orderCol` would collapse to one all-NULL phantom
    * row; a struct with a null field still participates and sorts
    * nulls-first, the window's `orderBy` default. */
  def exactByKey(df: DataFrame, key: Column, orderCol: String): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.groupBy(key.as("__k"))
      .agg(min_by(struct(cols.map(col): _*), struct(col(orderCol))).as("__w"))
      .select(cols.map(c => col("__w").getField(c).as(c)): _*)
  }

  /** Fingerprint dedup: exact dedup over the normalized-text fingerprint. */
  def byFingerprint(df: DataFrame, textCol: String, orderCol: String): DataFrame =
    exact(df.withColumn("__fp", T.fingerprint(col(textCol))), Seq("__fp"), orderCol)
      .drop("__fp")

  /** Incremental-crawl dedup: rows of `current` whose normalized-text
    * fingerprint does NOT appear in `previous` (the prior snapshot) — the
    * standard "new since last crawl" step, equivalent to a plain left-anti
    * join on [[graft.functions.TextFunctions.fingerprint]] but with the prior
    * snapshot shipped as a Bloom filter instead of a join side.
    *
    * Shape at 100 TB: the prior snapshot's fingerprint set is far too big to
    * broadcast exactly, and an anti shuffle-join would move the ENTIRE current
    * crawl. Instead: (1) rows whose fingerprint misses the Bloom are
    * definitely new (no false negatives) and pass through NARROW — that is
    * ~all of a typical crawl; (2) only the Bloom hits — true dups plus
    * fpp·|current| false positives — pay an exact anti-join that lets the
    * false positives back through. The union is row-for-row the exact
    * anti-join (oracle qd35), but the shuffled fraction is ≈ the true dup
    * rate + fpp instead of 1.0. */
  def newSinceSnapshot(current: DataFrame, previous: DataFrame,
                       textCol: String, fpp: Double = 0.01): DataFrame = {
    // the snapshot fingerprints are read twice, not three times: the Bloom
    // build (EAGER, no distinct: a repeated insert sets no new bit) and the
    // lazy rescue anti-join inside the caller's action; no persist. Item
    // estimate: the optimizer's row count, else its size over the row width
    // with a 4x overshoot (file sources report COMPRESSED bytes). Sizing only
    // trades filter bits against fpp: the rescue anti-join removes every
    // false positive.
    val prevFps = previous.select(T.fingerprint(col(textCol)).as("__fp"))
    val stats = previous.queryExecution.optimizedPlan.stats
    val items = math.max(64L, stats.rowCount.map(_.toLong).getOrElse {
      val rowBytes = math.max(1, previous.schema.defaultSize)
      (stats.sizeInBytes.min(BigInt(1L << 50)) / rowBytes + 1).toLong * 4L
    })
    val cur = current.withColumn("__fp", T.fingerprint(col(textCol)))
    val hit = BloomExprs.mightContain(col("__fp"), prevFps, "__fp", items, fpp)
    val definitelyNew = cur.filter(!hit)
    val rescuedFalsePositives = cur.filter(hit)
      .join(prevFps.distinct(), Seq("__fp"), "left_anti")
    definitelyNew.unionByName(rescuedFalsePositives).drop("__fp")
  }

  /** Candidate near-duplicate pairs via MinHash + LSH banding.
    * Returns (idA, idB, jaccard_est) with idA < idB, est >= threshold. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, bands: Int = 32, shingleK: Int = 5,
                   threshold: Double = 0.8): DataFrame = {
    // native sketch expressions (tight loops), no persist: only (id, band,
    // bucket) flows through the self-join shuffle, and signatures re-attach
    // by id for the estimate. The three plan references to `sigs` share one
    // logical subplan, so ReuseExchange collapses them to two physical
    // computations (the band-bucket exchange feeds both candidate sides; the
    // id exchange feeds both re-attach sides) and the op retains no cache.
    val sigs = df.select(col(idCol).as("id"),
        SketchExprs.minhash(distinctShingleHashes(col(textCol), shingleK), numHashes)
          .as("sig"))
    val bandsDf = sigs
      .withColumn("bh", explode(H.bandHashes(col("sig"), numHashes, bands)))
      .select(col("id"), col("bh.band"), col("bh.bucket"))
    val a = bandsDf.alias("a"); val b = bandsDf.alias("b")
    val cand = a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        H.minhashJaccardEstimate(col("__sa"), col("__sb")).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
  }

  /** Drop near-duplicates found by MinHash LSH: of each candidate pair, the
    * larger id is dropped (transitive chains collapse to their smallest id
    * after one pass on this data; full connected components would iterate). */
  def dedupByMinhash(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 128, bands: Int = 32, shingleK: Int = 5,
                     threshold: Double = 0.8): DataFrame = {
    val drops = minhashPairs(df, idCol, textCol, numHashes, bands, shingleK, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Candidate pairs via SimHash: pigeonhole chunk blocking + hamming bound.
    * Returns (idA, idB, hamming) with hamming <= maxHamming < chunks. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   chunks: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < chunks, "pigeonhole blocking needs maxHamming < chunks")
    val sims = df.select(col(idCol).as("id"),
        column(SimHash64Expr(expression(T.tokens(lower(col(textCol)))))).as("sim"))
      .withColumn("blk", explode(H.simhashBlocks(col("sim"), chunks)))
      .select(col("id"), col("sim"), col("blk.chunk"), col("blk.key"))
    val a = sims.alias("a"); val b = sims.alias("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        H.hamming64(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard pairs via shingle co-occurrence: shared-count join
    * on distinct shingles, |A∩B| / (|A|+|B|−|A∩B|) >= threshold. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, threshold: Double = 0.5): DataFrame = {
    // the exploded shingle set feeds three consumers (both self-join sides
    // and the per-doc counts); the identical subplans dedupe via
    // ReuseExchange instead of a persist, so nothing stays cached after the
    // caller's action. Shingles travel as 8-byte hashes: the self-join
    // shuffle is the cost center and its key width dominates exchange volume.
    val sh = df.select(col(idCol).as("id"),
        explode(distinctShingleHashes(col(textCol), shingleK)).as("s"))
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val shared = sh.alias("a")
      .join(sh.alias("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    * family: Bayardo et al. WWW'07, Xiao et al. WWW'08) — same results as
    * [[ngramJaccardPairs]], different candidate generation:
    *
    *  1. global shingle document-frequencies (one groupBy)
    *  2. each doc's shingle set sorted ascending by (df, shingle-hash) —
    *     rarest first under one global order (any consistent total order
    *     satisfies the prefix-filter proof)
    *  3. candidates join only on each doc's PREFIX: the first
    *     `n − ⌈t·n⌉ + 1` shingles. For any pair with J ≥ t, the
    *     minimum-ranked common shingle provably lies in BOTH prefixes, so
    *     no qualifying pair is missed; a length filter `t·n_a ≤ n_b` prunes
    *     further (candidates are generated with id_a < id_b only).
    *  4. exact verification: `array_intersect` on the full sorted sets.
    *
    * Why it scales where co-occurrence counting doesn't: the shuffle fanout
    * of a shingle-keyed self-join is Σ_s df(s)² over ALL shingles — hot
    * shingles (boilerplate n-grams) explode quadratically. Here only the
    * RAREST shingles of each doc enter the join, exactly the ones with
    * bounded df, and the full-set verification touches only surviving
    * candidates. At 100 TB this is the difference between a bounded
    * candidate set and a runaway shuffle.
    *
    * Residual skew (a shared shingle hot on BOTH sides of the candidate
    * self-join) is AQE's job — SkewBucketSpec asserts the runtime split on
    * the qd16 shape; on clusters running with AQE off, route the candidate
    * join through [[graft.operators.Skew.saltedSelfJoin]] instead.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              shingleK: Int = 5, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    val sh = df.select(col(idCol).as("id"),
      explode(distinctShingleHashes(col(textCol), shingleK)).as("s"))
    // document frequency via map-side-combined groupBy + join-back, NOT a
    // count-over-Window.partitionBy(s): a window partition is one task, so
    // a corpus-hot boilerplate shingle (df in the millions at 100 TB) would
    // funnel every one of its rows into a single un-splittable straggler.
    // The groupBy's partial aggregation collapses the hot shingle to one
    // (s, count) row per input partition BEFORE its shuffle, and the
    // join-back is a sort-merge join AQE skew-split can break up — the
    // exploded stream still crosses the wire once; only the combined
    // per-partition partials are a second (much smaller) shuffle.
    val dfTab = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // per-doc sorted shingle array (rarest-first global order) + set size;
    // feeds candidate generation AND verification. No persist: the three
    // references share the aggregation's exchange, so ReuseExchange computes
    // the heavy upstream (shingle explode + df join) once per action and the
    // op leaves no cache behind.
    val sets = sh.join(dfTab, "s")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("arr"),
        count(lit(1)).as("n"))
    // arr keeps (df, s) structs: df is a pure function of s, so set ops on
    // the structs equal set ops on the shingles — and carrying df lets the
    // candidate join drop df=1 prefix shingles (below), which by definition
    // occur in ONE document and can never produce a cross-document match.
    // prefix length n - ceil(t*n) + 1 (>= 1). The epsilon keeps a borderline
    // real-valued t*n from rounding UP past an integer boundary and shrinking
    // the prefix below what the proof needs (pruning must only ever relax).
    val p = (col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + lit(1)).cast("int")
    val pref = sets.select(col("id"), col("n"), explode(slice(col("arr"), lit(1), p)).as("e"))
      .filter(col("e").getField("df") >= 2)
      .select(col("id"), col("n"), col("e").getField("s").as("s"))
    val cand = pref.alias("a")
      .join(pref.alias("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
        col("b.n").cast("double") >= lit(threshold) * col("a.n") - lit(1e-9) &&
        col("a.n").cast("double") >= lit(threshold) * col("b.n") - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verification intersects PLAIN shingle-hash arrays: df is a pure
    // function of s, so |A∩B| over s equals |A∩B| over (df, s) structs —
    // and long-array intersection halves the bytes and the comparator cost.
    // The arrays are re-sorted ascending-by-s (the struct sort was by
    // (df, s)) BELOW the id exchange — a cheap narrow per-doc sort — so the
    // intersection is a sorted merge with the PPJoin early exit
    // ([[graft.plans.SortedLongInterSizeExpr]]): a candidate pair that can
    // no longer reach the threshold bails after a few elements instead of
    // paying array_intersect's full per-pair hash set. -1 marks proven
    // failures; survivors carry the exact size, so jaccard is unchanged.
    def sarr = array_sort(transform(col("arr"), e => e.getField("s")))
    cand
      .join(sets.select(col("id").as("id_a"), sarr.as("__aa"), col("n").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), sarr.as("__ab"), col("n").as("n_b")), "id_b")
      .withColumn("__inter", SketchExprs.sortedInterSize(col("__aa"), col("__ab"), threshold))
      .filter(col("__inter") >= 0)
      .withColumn("jaccard",
        col("__inter").cast("double") / (col("n_a") + col("n_b") - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Cross-document span dedup (C4-style duplicate-span removal, adapted to
    * fixed word windows): every document is cut into non-overlapping
    * `spanWords`-token spans, each distinct span text is kept exactly once
    * across the WHOLE corpus (first occurrence in (id, position) order —
    * deterministic), and documents are reassembled from their surviving
    * spans. Documents reduced to nothing come back as empty text, never
    * dropped — span dedup is a cleaning step, not a row filter.
    *
    * Scale shape: the global keep-first decision is a hash groupBy on the
    * span (map-side combine collapses hot boilerplate spans BEFORE the
    * shuffle — the reason this is a groupBy-min and not a window over the
    * span), the winner join matches each exploded span to exactly one
    * winner row (no fanout), and reassembly shuffles on document id.
    * Whitespace inside spans is normalized to single spaces by
    * tokenization, as the reassembled text is joined with " ". */
  def spanDedupGlobal(df: DataFrame, idCol: String, textCol: String,
                      spanWords: Int = 20): DataFrame = {
    require(spanWords > 0, s"spanWords must be positive, got $spanWords")
    val toks = T.tokens(col(textCol))
    val nSpans = ceil(size(toks).cast("double") / spanWords).cast("int")
    // span STRINGS are built only where text is needed (reassembly); the
    // election hashes chain per-token XXH64 in one native pass
    // ([[graft.plans.SpanHashPairsExpr]]) — same ceil(n/k) ragged-tail
    // windows, zero span-string allocation on the units branches
    val spanArr = when(size(toks) > lit(0),
        transform(sequence(lit(0), nSpans - lit(1)),
          i => array_join(slice(toks, i * spanWords + lit(1), lit(spanWords)), " ")))
      .otherwise(array().cast("array<string>"))
    val hashed = column(SpanHashPairsExpr(expression(toks), spanWords))
    keepFirstUnits(df, idCol, textCol, spanArr, lit(true), " ", hashed)
  }

  /** Cross-document LINE dedup — the literal C4 step: split on a separator
    * (paragraph/sentence/line), keep each distinct line of at least
    * `minChars` characters once corpus-wide (first (id, position) wins),
    * lines below the floor always survive (bullet points, headers, and
    * blank lines are not boilerplate evidence). Same keep-first machinery,
    * null semantics, and scale shape as [[spanDedupGlobal]]. */
  def lineDedupGlobal(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n", minChars: Int = 0): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    keepFirstUnits(df, idCol, textCol, lines, length(col("__unit")) >= minChars, sep)
  }

  /** Corpus-wide SENTENCE dedup — the granularity of Lee et al. 2021's
    * substring dedup that line/span dedup bracket from either side: units
    * are [[graft.functions.TextFunctions.sentences]] segments (terminal
    * punctuation kept), each distinct sentence of at least `minChars` chars
    * survives once corpus-wide (first (id, position) wins), short sentences
    * always survive. Reassembly joins with a single space, so the cleaned
    * document is single-spaced prose. Same keep-first machinery, null
    * semantics, and scale shape as [[spanDedupGlobal]]. */
  def sentenceDedupGlobal(df: DataFrame, idCol: String, textCol: String,
                          minChars: Int = 0): DataFrame =
    keepFirstUnits(df, idCol, textCol, T.sentences(col(textCol)),
      length(col("__unit")) >= minChars, " ")

  /** Shared keep-first core: explode `unitsArr` with positions, elect one
    * global winner per distinct unit value among rows satisfying
    * `subject` (a predicate over `__unit`; non-subject units always
    * survive), reassemble per document with `joinSep`. The winner election
    * is a groupBy-min — map-side combine collapses hot boilerplate units
    * BEFORE the shuffle (the reason this is not a window over the unit).
    *
    * Scale shape: every hash-keyed shuffle (winner election, winner join,
    * per-doc keep-list) carries 8-byte `xxhash64(__unit)` keys and integer
    * positions — NEVER the unit text; documents reassemble by re-deriving
    * the unit array narrowly and picking surviving positions, so text
    * crosses exactly one shuffle (the by-id reassembly join). A second
    * independent hash rides along for verification: a 64-bit `__uh`
    * collision between two DIFFERENT unit texts is caught at the winner
    * join (`__uh2` mismatch ⇒ the unit is not the winner's text ⇒ it
    * survives), so a collision can only ever under-dedup, never corrupt a
    * document — and needs a same-128-bit-pair inside one corpus to do even
    * that. Rows are never dropped: documents reduced to nothing (and null
    * texts) come back as empty text. */
  private def keepFirstUnits(df: DataFrame, idCol: String, textCol: String,
                             unitsArr: Column, subject: Column,
                             joinSep: String,
                             hashedUnits: Column = null): DataFrame = {
    val others = df.columns.filter(c => c != idCol && c != textCol)
    // deliberately NOT persisted: the exploded unit stream feeds both the
    // winner election and the keep-list join, but measuring a
    // MEMORY_AND_DISK persist here (sf0.1, 3 warm reps) LOST — q53
    // 3.4→5.1 s, qd31 1.5→1.7 s, qd28 unchanged. Materializing one small
    // row per token-span costs more than re-running the narrow tokenize +
    // hash, which is exactly the at-scale call too (storage pressure vs
    // recompute of a cheap codegen'd map). See SCALE_CONTRACTS.md.
    //
    // hashedUnits (optional): a pre-hashed array<struct<uh, uh2>> aligned
    // with unitsArr positions. When given, the units stream never builds
    // unit STRINGS at all (spans: SpanHashPairsExpr chains token hashes);
    // `subject` must then not reference __unit (span dedup passes
    // lit(true)). Election/join semantics are unchanged — both hashes stay
    // internal keys, consistent because every derivation of the stream
    // shares the one expression.
    val units =
      if (hashedUnits != null)
        df.select(col(idCol).as("__id"),
            posexplode(hashedUnits).as(Seq("__pos", "__hp")))
          .select(col("__id"), col("__pos"),
            col("__hp").getField("uh").as("__uh"),
            col("__hp").getField("uh2").as("__uh2"),
            subject.as("__subj"))
      else df.select(col(idCol).as("__id"),
        posexplode(unitsArr).as(Seq("__pos", "__unit")))
      .select(col("__id"), col("__pos"),
        xxhash64(col("__unit")).as("__uh"),
        xxhash64(col("__unit"), lit(1L)).as("__uh2"),
        subject.as("__subj"))
    // (__id, __pos) is unique per unit row, so __uh2 never tie-breaks the min
    val winners = units.filter(col("__subj"))
      .groupBy(col("__uh"))
      .agg(min(struct(col("__id"), col("__pos"), col("__uh2"))).as("__w"))
      .select(col("__uh"), col("__w.__id").as("__wid"), col("__w.__pos").as("__wpos"),
        col("__w.__uh2").as("__wuh2"))
    val keptPos = units.join(winners, Seq("__uh"), "left")
      .filter(col("__wid").isNull ||
        (col("__id") === col("__wid") && col("__pos") === col("__wpos")) ||
        col("__uh2") =!= col("__wuh2"))
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(col("__pos"))).as("__kp"))
    df.withColumn("__units_re", unitsArr)
      .join(keptPos, df(idCol) === keptPos("__id"), "left")
      .select(col(idCol) +: others.map(col) :+
        coalesce(
          when(col("__kp").isNotNull,
            array_join(transform(col("__kp"),
              p => element_at(col("__units_re"), p + lit(1))), joinSep)),
          lit("")).as(textCol): _*)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): cluster
    * embeddings with k-means, then inside each cluster greedily drop the
    * larger id of every cosine-≥-threshold pair.
    *
    * Greedy-pairwise semantics, stated precisely: a row is dropped iff ANY
    * smaller-id row in its cell is ≥-threshold similar to it — even if that
    * smaller id was itself dropped. When similarity is NOT transitive
    * (1~2, 2~3, 1≁3), the chain {1,2,3} therefore keeps only 1: this is
    * deliberate one-pass behavior (each dropped row has a concrete
    * ≥-threshold witness, which the precision spec asserts), trading the
    * "keep one per connected group" guarantee for a single join pass.
    * Callers wanting group semantics should feed [[embeddingCosinePairs]]
    * into [[ConnectedComponents]] and keep each component's minimum, as
    * q49 does for MinHash pairs.
    *
    * The cluster assignment IS the blocking key: pair work is confined to
    * cells, the corpus shuffles once on cell id
    * ([[graft.similarity.Ivf.buildIndex]] — centroids broadcast, Lloyd
    * refinement optional), and the within-cell self-join is (cell)-keyed so
    * AQE can split oversized cells. Exact duplicates always share a cell
    * (identical vectors score identically against every centroid), so
    * exact-dup recall is 1.0 by construction; near-dup recall degrades only
    * across cell boundaries — the paper's trade. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, threshold: Double, lloydIters: Int = 2,
                    seed: Long = 42L): DataFrame = {
    val (_, assigned) = graft.similarity.Ivf.buildIndex(
      df.select(col(idCol), col(vecCol)), nlist, seed, idCol, vecCol, lloydIters)
    // release the index handle BEFORE building the result plan: the trained
    // centroid table already rode into `assigned`'s lineage as a plan
    // literal (assignCells collects it eagerly at build time), so the plan
    // below recomputes only the narrow assignment + cell exchange — once,
    // shared by both self-join sides via ReuseExchange — and this op leaves
    // no cache blocks behind (CacheHygieneSpec). Lloyd refinement cost was
    // already paid eagerly inside buildIndex.
    assigned.unpersist(blocking = true)
    val drops = embeddingCosinePairs(assigned, idCol, vecCol, "cell", threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold within blocks
    * (blockCol keys the self-join shuffle; pass a constant column for a full
    * cross scan — quadratic, only for small corpora or after LSH). */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, threshold: Double): DataFrame = {
    // native codegen cosine: bit-identical to the HOF fold (PipelineSpec
    // asserts it), ~64x less per-element interpreter overhead
    val e = df.select(col(idCol).as("id"), col(blockCol).as("blk"), col(vecCol).as("v"))
    e.alias("a")
      .join(e.alias("b"), col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        CosineSimilarityExpr.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding near-duplicate pairs with NO precomputed block column:
    * banded sign-LSH candidates (any-band match, see
    * [[graft.similarity.Ann.lshBandBuckets]]) verified by exact cosine —
    * candidates below `threshold` never survive, so precision is exact;
    * only recall is probabilistic. The self-join shuffle is keyed on
    * (band,bucket) so AQE can split hot buckets; per-band bucket count
    * 2^bandBits bounds pair work. Dials: more `bandBits` = cheaper + lower
    * recall at moderate similarity; more `bands` = recall back up at
    * proportional cost (the same banding trade MinHash makes). */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        threshold: Double, bandBits: Int = 8, bands: Int = 4,
                        seed: Long = 42L): DataFrame = {
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("blk", explode(
        graft.similarity.Ann.lshBandBuckets(col("v"), dim, bandBits, bands, seed)))
    e.alias("a")
      .join(e.alias("b"), col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        CosineSimilarityExpr.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct() // a pair can match in several bands
  }
}
