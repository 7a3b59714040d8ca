package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions for the dedup pipeline.
  *
  * A higher-order-function formulation (nested `transform`/`aggregate`
  * lambdas over `xxhash64`) runs on Catalyst's interpreted path with
  * per-element dispatch — measured ~75 ms per document for a 128-hash
  * MinHash at 46 shingles (bench qd04: 755 s at sf0.1). These expressions
  * do the math in one tight JVM loop per row:
  * hash each shingle once (XXH64 over the UTF-8 bytes), then derive the k
  * signature positions with multiply-add universal mixing — ~1000× less
  * expression-tree overhead.
  */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with KernelCodegen {
  require(numHashes >= 1, s"minhash: numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"minhash expects array<string|long>, got $other")
  }

  private lazy val preHashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  // deterministic odd multiply-add constants (splitmix-style stream)
  private lazy val (mulA, addB): (Array[Long], Array[Long]) = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = { s += 0x9e3779b97f4a7c15L; var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31) }
    (Array.fill(numHashes)(next() | 1L), Array.fill(numHashes)(next()))
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = if (preHashed) arr.getLong(i) else {
        val s = arr.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      }
      var j = 0
      while (j < numHashes) {
        val m = mulA(j) * h + addB(j)
        if (m < sig(j)) sig(j) = m
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over a token array: each token's XXH64 (seed 42, the
  * seed of Spark's `xxhash64`) votes +1/-1 per bit; an output bit is set
  * iff its vote is positive. One loop per row. */
case class SimHash64Expr(child: Expression) extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"simhash expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word k-shingles from a token array in one tight loop per row — same
  * semantics as `TextFunctions.shingles` (+ optional `array_distinct`
  * fusion, first-occurrence order), which documents the HOF formulation.
  *
  * The HOF version (`transform(sequence, i => concat_ws(" ", slice(...)))`)
  * runs on Catalyst's interpreted lambda path: per-shingle `slice` array
  * copies and expression-tree dispatch measured ~0.7 ms/doc at sf0.1 — the
  * single biggest cost in qd03/qd04/q49 (3.7 s of qd04's 4.5 s was shingle
  * construction, not the LSH joins). This loop builds each shingle with one
  * `UTF8String.concatWs` call: byte copies only, no per-element dispatch.
  *
  * Differs from the HOF only on a NULL token array: returns NULL (standard
  * null-intolerant expression) where the HOF yields `[""]`.
  */
case class ShinglesExpr(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression with KernelCodegen {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"shingles expects array<string>, got $other")
  }

  private val Sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 } // null elems stay null; concatWs skips them
    if (n < k) {
      new GenericArrayData(Array[Any](UTF8String.concatWs(Sep, toks: _*)))
    } else {
      val window = new Array[UTF8String](k)
      val m = n - k + 1
      if (distinct) {
        val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
        var i = 0
        while (i < m) {
          System.arraycopy(toks, i, window, 0, k)
          seen.add(UTF8String.concatWs(Sep, window: _*))
          i += 1
        }
        new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
      } else {
        val out = new Array[Any](m)
        var i = 0
        while (i < m) {
          System.arraycopy(toks, i, window, 0, k)
          out(i) = UTF8String.concatWs(Sep, window: _*)
          i += 1
        }
        new GenericArrayData(out)
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word k-shingle XXH64 hashes (seed 42, same as
  * [[MinHashSignatureExpr]]'s internal shingle hash) from a token array —
  * `array<long>` out, one loop per row.
  *
  * The candidate-generation shuffles of the exact-Jaccard joins key on the
  * shingle value; shuffling the ~(5·word) byte shingle STRING pays its
  * serialization + comparison on every exchange row. Hashing at the source
  * makes every downstream key a fixed 8 bytes — the join/groupBy semantics
  * are unchanged absent 64-bit collisions (for pair counting a collision
  * additionally needs BOTH colliding shingles inside the same candidate
  * pair; at 2^-64 per pair this is below any practical corpus size).
  * Fusing shingle→hash here also skips materializing the shingle strings
  * entirely (no concat allocation survives the loop).
  */
case class ShingleHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"shingle_hashes expects array<string>, got $other")
  }

  private val Sep = UTF8String.fromString(" ")

  private def hash(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    if (n < k) {
      new GenericArrayData(Array[Any](hash(UTF8String.concatWs(Sep, toks: _*))))
    } else {
      val window = new Array[UTF8String](k)
      val m = n - k + 1
      val seen = new java.util.LinkedHashSet[java.lang.Long](m * 2)
      var j = 0
      while (j < m) {
        System.arraycopy(toks, j, window, 0, k)
        seen.add(hash(UTF8String.concatWs(Sep, window: _*)))
        j += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-window election hash pairs for span dedup, stride = window size k
  * (non-overlapping spans, last window ragged), `array<struct<uh, uh2>>`
  * out — one struct per span, windows ordered by position.
  *
  * Replaces `transform(sequence…) → slice → array_join → xxhash64(span)×2`
  * in [[graft.dedup.Dedup]]'s span-dedup units branch: the span STRING was
  * built twice per span (once per hash) only to be hashed and thrown away.
  * Here both hashes chain per-token XXH64 over the window in ONE pass
  * (`h = XXH64(tok_bytes, h)`, seeds 42/77) with zero string allocation.
  * Chaining needs no separator: tokens carry no whitespace (\s+ split), so
  * the per-token hash boundary itself is the separator, and two windows
  * chain-collide only accidentally at 64 bits — the same collision class
  * the old string hash had, still verified by the independent second hash
  * at the winner join (collision ⇒ under-dedup only). Both hashes are
  * INTERNAL election keys (never compared against anything derived
  * differently), so hash-function identity with `xxhash64(string)` is not
  * required — only self-consistency between the two derivations of the
  * units stream, which share this expression.
  */
case class SpanHashPairsExpr(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  require(k >= 1, s"span size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("uh", LongType, nullable = false),
    StructField("uh2", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"span_hash_pairs expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = (n + k - 1) / k
    val out = new Array[Any](m)
    var w = 0
    while (w < m) {
      var h1 = 42L
      var h2 = 77L
      var j = w * k
      val end = math.min(n, j + k)
      while (j < end) {
        // null elements hash as absent (internal callers never yield them;
        // a SQL caller's containsNull array must not NPE)
        val s = arr.getUTF8String(j)
        if (s != null) {
          h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), h1)
          h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), h2)
        }
        j += 1
      }
      out(w) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h1, h2))
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Share of the most frequent word n-gram among all n-grams of a token
  * array (Gopher-style repetition signal: Rae et al. 2021 §A1.1 use the
  * top-2/3/4-gram character share; this is the count-share twin with the
  * same windowed-shingle loop as [[ShingleHashesExpr]], non-distinct).
  * Returns 0.0 for an empty token array; documents shorter than n count
  * their single whole-text shingle (share 1.0 — maximally repetitive by
  * convention, callers length-gate first). Counting keys on the shingle
  * XXH64, so two different n-grams colliding at 64 bits would merge
  * counts — negligible per-document.
  */
case class TopNgramShareExpr(child: Expression, n: Int)
    extends UnaryExpression with KernelCodegen {
  require(n >= 1, s"ngram size must be >= 1, got $n")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"top_ngram_share expects array<string>, got $other")
  }

  private val Sep = UTF8String.fromString(" ")

  private def hash(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    if (num == 0) return java.lang.Double.valueOf(0.0)
    val toks = new Array[UTF8String](num)
    var i = 0
    while (i < num) { toks(i) = arr.getUTF8String(i); i += 1 }
    val counts = new java.util.HashMap[java.lang.Long, Int]()
    var total = 0
    var maxC = 0
    def add(h: Long): Unit = {
      val c = counts.merge(h, 1, (a, b) => a + b)
      total += 1
      if (c > maxC) maxC = c
    }
    if (num < n) {
      add(hash(UTF8String.concatWs(Sep, toks: _*)))
    } else {
      val window = new Array[UTF8String](n)
      var j = 0
      val m = num - n + 1
      while (j < m) {
        System.arraycopy(toks, j, window, 0, n)
        add(hash(UTF8String.concatWs(Sep, window: _*)))
        j += 1
      }
    }
    java.lang.Double.valueOf(maxC.toDouble / total)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Duplicate-line ratios in one pass per row: struct(dup_line_frac,
  * dup_line_char_frac) over non-empty '\n'-split lines — the Gopher line
  * signals. Same semantics as the HOF pair
  * `TextFunctions.{dupLineFractionHof, dupLineCharFractionHof}` (kept as
  * the executable spec), but the char-fraction HOF is O(lines²) nested
  * interpreted lambdas — a real web page has hundreds of boilerplate
  * lines, exactly the input this filter exists for. Here: one hash count
  * per line, one accumulation pass. Line-less documents → (0.0, 0.0).
  */
case class DupLineStatsExpr(child: Expression) extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"dup_line_stats expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val lines = input.asInstanceOf[UTF8String].toString.split("\n").filter(_.nonEmpty)
    if (lines.isEmpty)
      return org.apache.spark.sql.catalyst.InternalRow(0.0, 0.0)
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < lines.length) { counts.merge(lines(i), 1, (a, b) => a + b); i += 1 }
    var totalChars = 0L
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // codepoint count matches Spark's length()/UTF8String.numChars
      val occChars = e.getKey.codePointCount(0, e.getKey.length).toLong * e.getValue
      totalChars += occChars
      if (e.getValue > 1) dupChars += occChars
    }
    val dupLineFrac = (lines.length - counts.size).toDouble / lines.length
    val dupCharFrac = if (totalChars == 0) 0.0 else dupChars.toDouble / totalChars
    org.apache.spark.sql.catalyst.InternalRow(dupLineFrac, dupCharFrac)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Duplicate word-n-gram character fractions for a RANGE of n in one pass
  * per row — the Gopher repetition signals the line/top-n-gram kernels don't
  * cover (Rae et al. 2021 §A1.2 gate on the fraction of characters inside
  * duplicated {5..10}-grams). Returns struct(dup{minN}_frac … dup{maxN}_frac)
  * of doubles.
  *
  * Contract per n (documented deviation from positional-coverage
  * implementations, chosen because it is exactly SQL-mirrorable): n-grams
  * are space-joined token windows; every occurrence of an n-gram that
  * appears more than once contributes ALL its occurrences' characters —
  * frac = Σ_{g: c_g ≥ 2} c_g·len(g) / Σ_g c_g·len(g), the same
  * all-occurrences convention as [[DupLineStatsExpr]]'s char fraction, with
  * len counted in codepoints (matches `length()` both in Spark and DuckDB).
  * No positional overlap accounting: a character belonging to two distinct
  * duplicated n-grams is counted under both — a stricter (higher) signal
  * than coverage-marking, identical on the boilerplate-block inputs the
  * filter exists for. Token arrays shorter than n count their single
  * whole-array shingle (count 1 → fraction 0.0 — same convention as
  * [[TopNgramShareExpr]]); empty arrays → all fractions 0.0.
  *
  * Why a multi-n profile instead of one expression per n: six separate
  * calls would walk the token array six times per row; here the token
  * array is materialized once and each n adds only its own window walk.
  * Counting keys on the n-gram STRING (not a 64-bit hash) so the fraction
  * can never diverge from the string-grouped SQL oracle.
  */
case class DupNgramProfileExpr(child: Expression, minN: Int, maxN: Int)
    extends UnaryExpression with KernelCodegen {
  require(minN >= 1 && maxN >= minN,
    s"ngram range must satisfy 1 <= minN <= maxN, got [$minN, $maxN]")

  override def dataType: DataType = StructType(
    (minN to maxN).map(n => StructField(s"dup${n}_frac", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"dup_ngram_profile expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    val fracs = new Array[Any](maxN - minN + 1)
    if (num == 0) {
      java.util.Arrays.fill(fracs, 0.0d)
      return org.apache.spark.sql.catalyst.InternalRow.fromSeq(fracs.toIndexedSeq)
    }
    val toks = new Array[String](num)
    var i = 0
    while (i < num) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
    var n = minN
    while (n <= maxN) {
      val counts = new java.util.HashMap[String, Int]()
      if (num < n) {
        counts.put(toks.mkString(" "), 1)
      } else {
        val sb = new java.lang.StringBuilder
        var j = 0
        val m = num - n + 1
        while (j < m) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(toks(j + k))
            k += 1
          }
          counts.merge(sb.toString, 1, (a, b) => a + b)
          j += 1
        }
      }
      var totalChars = 0L
      var dupChars = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val occChars = e.getKey.codePointCount(0, e.getKey.length).toLong * e.getValue
        totalChars += occChars
        if (e.getValue > 1) dupChars += occChars
      }
      fracs(n - minN) = if (totalChars == 0) 0.0 else dupChars.toDouble / totalChars
      n += 1
    }
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(fracs.toIndexedSeq)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Stopword-dictionary language ID in one pass per row — same semantics as
  * the HOF formulation `TextFunctions.langIdHof` (lowercase, \s+ tokens,
  * per-language stopword hit counts, first language in dictionary order
  * whose score is maximal, "und" when all zero), which stays as the
  * executable spec.
  *
  * Why native: the HOF CASE chain references `langScore` ~50 times and
  * every lambda instance carries fresh variable ExprIds, so no Catalyst
  * rule can subexpression-eliminate them — the executed plan of a
  * langid+filter pipeline re-tokenized each row ~150×. Here the text is
  * lowercased and tokenized exactly once and all dictionaries are matched
  * against one token stream.
  *
  * NULL text → NULL (standard null-intolerant expression), where the HOF
  * CASE chain and the SQL oracle both fall through to "und" — irrelevant
  * on the non-null corpus but worth knowing if a caller feeds raw scrapes;
  * `coalesce(langId(c), lit("und"))` restores the HOF behavior.
  */
case class LangIdExpr(child: Expression) extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"langid expects string, got $other")
  }

  private lazy val dicts = graft.functions.TextFunctions.Stopwords
  private lazy val numLangs = dicts.size
  // token -> indices of every language listing it (dictionaries may share
  // function words, e.g. es/fr "que")
  private lazy val tokenLangs: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    for (((_, words), i) <- dicts.zipWithIndex; w <- words) {
      val prev = m.get(w)
      m.put(w, if (prev == null) Array(i) else prev :+ i)
    }
    m
  }
  private lazy val langNames = dicts.map(p => UTF8String.fromString(p._1)).toArray
  private val Und = UTF8String.fromString("und")

  override def nullSafeEval(input: Any): Any = {
    // UTF8String.toLowerCase is locale-independent (matches `lower()`);
    // String.split("\\s+") is the same java.util.regex path as `split()`
    val toks = input.asInstanceOf[UTF8String].toLowerCase.toString.split("\\s+")
    val scores = new Array[Int](numLangs)
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        val ls = tokenLangs.get(toks(i))
        if (ls != null) { var j = 0; while (j < ls.length) { scores(ls(j)) += 1; j += 1 } }
      }
      i += 1
    }
    var best = -1; var bestScore = 0
    var k = 0
    while (k < numLangs) {
      if (scores(k) > bestScore) { best = k; bestScore = scores(k) }
      k += 1
    }
    if (best < 0) Und else langNames(best)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Size of the intersection of two SORTED ascending long arrays (distinct
  * elements — set semantics), with the PPJoin-style positional early exit:
  * given the Jaccard threshold t, a pair needs
  * `|A∩B| >= r = ceil(t·(|A|+|B|)/(1+t))` to pass, so the merge bails with
  * -1 the moment `inter_so_far + min(remaining_a, remaining_b) < r` — for a
  * failing pair that is usually a few elements in, not the full scan.
  * `array_intersect` can't do this: it builds a hash set of one side per
  * row-pair and always touches every element of both (and the qd16 verify
  * stage is exactly row-pair-heavy). Survivors return the EXACT size, so the
  * caller's jaccard value is unchanged; -1 only ever replaces pairs that are
  * provably below threshold (the epsilon relaxes r downward — bailing never
  * fires on a borderline pass). */
case class SortedLongInterSizeExpr(left: Expression, right: Expression,
                                   threshold: Double)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with KernelCodegen {

  require(threshold > 0.0 && threshold <= 1.0,
    s"graft_sorted_inter_size: threshold must be in (0,1], got $threshold")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_inter_size expects (array<long>, array<long>), got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val ab = b.asInstanceOf[ArrayData]
    val na = aa.numElements()
    val nb = ab.numElements()
    val r = math.ceil(threshold * (na + nb) / (1.0 + threshold) - 1e-9).toInt
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < r) return Int.box(-1)
      val va = aa.getLong(i)
      val vb = ab.getLong(j)
      if (va == vb) { inter += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    Int.box(inter)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SketchExprs {
  /** Distinct XXH64 word `k`-shingle hashes of a token array ([[ShingleHashesExpr]]). */
  def shingleHashes(tokens: Column, k: Int): Column =
    column(ShingleHashesExpr(expression(tokens), k))

  /** `numHashes`-permutation MinHash signature of a shingle array ([[MinHashSignatureExpr]]). */
  def minhash(shingles: Column, numHashes: Int): Column =
    column(MinHashSignatureExpr(expression(shingles), numHashes))

  /** |a ∩ b| of two ascending long arrays, or -1 once the pair provably
    * misses Jaccard `threshold` ([[SortedLongInterSizeExpr]]). */
  def sortedInterSize(a: Column, b: Column, threshold: Double): Column =
    column(SortedLongInterSizeExpr(expression(a), expression(b), threshold))
}
