package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import graft.plans.BpeEncodeExpr

/** Trainable byte-pair-encoding tokenizer (Sennrich/Haddow/Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016) — the
  * real merge-table BPE that [[TextFunctions.bpeTokenCount]]'s pre-tokenizer
  * regex approximates.
  *
  * Division of labor (same pattern as [[graft.similarity.Pq]]):
  *  - TRAIN runs driver-side over an explicitly bounded, hash-ranked sample:
  *    merge learning is a sequential algorithm over a word-frequency table
  *    (each merge depends on the last), and the sample's word table is tiny
  *    next to the corpus. The output — an ordered merge list — is a few KB.
  *  - ENCODE is distributed and corpus-shaped: the merge ranks ride into
  *    [[graft.plans.BpeEncodeExpr]] as a plan literal and every document
  *    tokenizes in a narrow map, no shuffle, no driver involvement.
  *
  * Word model (stated once, shared by BOTH trainers): a word is a maximal
  * run of non-whitespace characters — `\s+` split with empties dropped,
  * exactly [[TextFunctions.tokens]] semantics. [[train]] applies it
  * driver-side (`String.split("\\s+")` + nonEmpty filter), [[trainCorpus]]
  * distributed (`TextFunctions.tokens`); the two agree on every input
  * including punctuation-adjacent words ("end." is one word) — BpeSpec
  * pins this with a punctuation-heavy corpus. Words split to single
  * code-point symbols plus a terminal `</w>`; merges never cross word
  * boundaries. Deterministic: ties on pair frequency break on the
  * lexicographically smallest pair.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Split a word into its initial BPE symbols — by Unicode code point,
    * not Java char, so surrogate pairs (emoji, rare CJK) stay whole
    * instead of becoming lone surrogates that UTF-8 cannot represent. */
  def symbols(word: String): Vector[String] =
    word.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp))) :+ EndOfWord

  /** Learn up to `numMerges` merges from a deterministic `sampleN`-document
    * sample. Stops early when no adjacent pair occurs twice. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            sampleN: Int = 2000, idCol: String = null, seed: Long = 42L): Seq[(String, String)] = {
    // hash-rank for determinism in BOTH paths: a bare limit() would take
    // whichever partitions materialize first
    val rankKey = if (idCol == null) col(textCol) else col(idCol)
    val ranked = df.select(col(textCol), xxhash64(rankKey, lit(seed)).as("__r"))
      .orderBy(col("__r")).limit(sampleN).select(col(textCol))
    val texts = ranked.collect().map(r => Option(r.getString(0)).getOrElse(""))
    val wordFreq = new scala.collection.mutable.HashMap[String, Long]()
    for (t <- texts; w <- t.split("\\s+") if w.nonEmpty)
      wordFreq.update(w, wordFreq.getOrElse(w, 0L) + 1L)
    learnMerges(wordFreq.toMap, numMerges)
  }

  /** Learn merges from the WHOLE corpus — the 100 TB shape: the word
    * frequency table is built distributed (one explode + map-side-combined
    * groupBy over the corpus), and only the top-`maxVocab` (frequency,
    * word)-ranked vocabulary reaches the driver, so driver memory is
    * bounded by the vocabulary cut, not the corpus. Exact BPE when the
    * vocabulary fits the cut; merge frequencies are corpus-true either
    * way, unlike sample-based [[train]]. */
  def trainCorpus(df: DataFrame, textCol: String, numMerges: Int,
                  maxVocab: Int = 100000): Seq[(String, String)] = {
    val wf = df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxVocab)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    learnMerges(wf, numMerges)
  }

  /** Incremental merge learning (the fast path both trainers share).
    *
    * The naive formulation recounts every adjacent pair over the whole word
    * table per merge — O(numMerges × vocab × wordLen) driver time, hours at
    * a real tokenizer's numMerges≈32k. This is the classic incremental
    * algorithm instead (Sennrich's reference implementation ships the same
    * structure): maintain
    *  - a live pair→count map,
    *  - a pair→{word index} inverted index, so a merge touches ONLY the
    *    words that actually contain the merged pair, and
    *  - a lazy-deletion max-heap over (count, pair) for the argmax: every
    *    time a pair's count changes it gets a fresh heap entry; stale
    *    entries are discarded on pop by checking against the live count.
    * Per merge the cost is O(occurrences of the merged pair), not O(vocab).
    *
    * Selection is identical to the naive argmax: highest count wins, ties
    * break on the lexicographically smallest (left, right) pair; merging
    * stops when no pair occurs at least twice. [[learnMergesNaive]] keeps
    * the direct transcription and BpeSpec asserts byte-identical output.
    */
  private[graft] def learnMerges(wordFreq: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    type Pair = (String, String)
    val entries = wordFreq.toArray
    val syms = entries.map { case (w, _) => symbols(w) }
    val freqs = entries.map(_._2)

    val counts = new scala.collection.mutable.HashMap[Pair, Long]()
    val index = new scala.collection.mutable.HashMap[Pair, scala.collection.mutable.Set[Int]]()

    // Add (sign=+1) or retract (sign=-1) one word's adjacent pairs from the
    // live count + index, recording every pair whose count moved.
    def scan(wi: Int, sign: Long, touched: scala.collection.mutable.Set[Pair]): Unit = {
      val s = syms(wi); val f = freqs(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * f
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        if (sign > 0) index.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
        else index.get(p).foreach { set => set -= wi; if (set.isEmpty) index.remove(p) }
        if (touched != null) touched += p
        i += 1
      }
    }

    var wi = 0
    while (wi < entries.length) { scan(wi, 1L, null); wi += 1 }

    // Max-heap by (count, then lexicographically smallest pair): entries are
    // (-count, left, right) under a reversed tuple ordering, so dequeue()
    // yields exactly the pair the naive minBy((-c, a, b)) would pick.
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering.Long, Ordering.String, Ordering.String).reverse)
    for ((p, c) <- counts if c >= 2L) heap.enqueue((-c, p._1, p._2))

    val merges = scala.collection.mutable.ArrayBuffer[Pair]()
    var done = false
    while (!done && merges.length < numMerges) {
      var best: Pair = null
      while (best == null && heap.nonEmpty) {
        val (negC, a, b) = heap.dequeue()
        val p = (a, b)
        // Stale entries (count changed since push) are discarded: every
        // count change pushed a fresh entry, so the live count — if still
        // >= 2 — has its own representative in the heap.
        if (counts.getOrElse(p, 0L) == -negC) best = p
      }
      if (best == null) done = true
      else {
        merges += best
        val affected = index.get(best).map(_.toArray.sorted).getOrElse(Array.empty[Int])
        val touched = scala.collection.mutable.Set[Pair]()
        for (w <- affected) {
          scan(w, -1L, touched)
          syms(w) = mergeOnce(syms(w), best)
          scan(w, 1L, touched)
        }
        for (p <- touched) {
          val c = counts.getOrElse(p, 0L)
          if (c >= 2L) heap.enqueue((-c, p._1, p._2))
        }
      }
    }
    merges.toSeq
  }

  /** Direct transcription of the BPE merge loop (recount all pairs each
    * iteration) — the readable reference [[learnMerges]] is checked against
    * in BpeSpec. Not used by the trainers. */
  private[graft] def learnMergesNaive(wordFreq: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] =
      wordFreq.iterator.map { case (w, f) => symbols(w) -> f }.toMap
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var continue = true
    while (continue && merges.length < numMerges) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts.update(p, counts.getOrElse(p, 0L) + f)
      }
      val best = counts.filter(_._2 >= 2)
      if (best.isEmpty) continue = false
      else {
        val (pair, _) = best.minBy { case ((a, b), c) => (-c, a, b) }
        merges += pair
        words = words.map { case (syms, f) => (mergeOnce(syms, pair), f) }
      }
    }
    merges.toSeq
  }

  /** Replace every adjacent (a, b) with a+b, left to right. */
  def mergeOnce(syms: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += (syms(i) + syms(i + 1)); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Reference encoder (drives the expression's spec): apply merges to one
    * word by ascending rank until no ranked pair remains. */
  def encodeWord(word: String, rank: Map[(String, String), Int]): Vector[String] = {
    var syms = symbols(word)
    var continue = syms.length > 1
    while (continue) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      for (i <- 0 until syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
      }
      if (bestIdx < 0) continue = false
      else {
        syms = mergeOnce(syms, (syms(bestIdx), syms(bestIdx + 1)))
        if (syms.length < 2) continue = false
      }
    }
    syms
  }

  /** Distributed encode: whitespace-token array column → flat sub-token
    * array ([[graft.plans.BpeEncodeExpr]]; merges travel in the plan). */
  def encodeCol(tokens: Column, merges: Seq[(String, String)]): Column =
    column(BpeEncodeExpr(expression(tokens), merges.toVector))

  /** Sub-token count per document under a trained merge table. */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column =
    size(encodeCol(TextFunctions.tokens(text), merges))

  /** Deterministic token→id vocabulary for a trained merge table — the
    * other half of the tokenizer artifact (a merge list alone cannot map
    * sub-tokens to ids for model input). Ids are assigned: base symbols
    * first (every distinct code-point symbol in the corpus word table plus
    * `</w>`, sorted lexicographically), then one token per merge in rank
    * order (`a+b` concatenated). Every sub-token [[encodeWord]] can emit
    * for corpus-covered characters therefore has an id; unseen characters
    * at serving time are the caller's unk policy, exactly as in Sennrich's
    * artifact format. The base-symbol scan is distributed (explode +
    * distinct); only the bounded distinct-symbol set reaches the driver. */
  def vocabulary(df: DataFrame, textCol: String,
                 merges: Seq[(String, String)]): Seq[(String, Int)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val baseSymbols = df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .distinct()
      .as[String]
      .flatMap(w => symbols(w))
      .distinct()
      .collect()
      .sorted
    val mergedTokens = merges.map { case (a, b) => a + b }
    // two different merges can spell the same token text (("a","bc") and
    // ("ab","c") both make "abc"); keep the first occurrence — ids stay
    // dense and the text→id map well-defined
    (baseSymbols.toSeq ++ mergedTokens).distinct
      .zipWithIndex.map { case (t, i) => (t, i) }
  }

  /** Persist a trained merge table as a tiny rank-ordered parquet — the
    * tokenizer artifact a corpus build trains once and every downstream
    * job (and the serving side) reloads byte-identically. */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a merge table saved by [[saveMerges]], rank order restored. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, String)] =
    // select by NAME: a reordered or hand-produced artifact must not
    // silently swap merge pair sides
    spark.read.parquet(path).orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
}
