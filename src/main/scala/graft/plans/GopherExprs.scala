package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher document-quality statistics (Rae et al. 2021, "Scaling Language
  * Models: Methods, Analysis & Insights from Training Gopher", §A1.1) in ONE
  * native pass per document.
  *
  * The rule set needs per-word stats (count, total chars, alphabetic-char
  * words, required-stopword hits) and per-line stats (count, bullet starts,
  * ellipsis ends) plus symbol counts — declaratively that is an explode (a
  * shuffle) or a stack of interpreted higher-order lambdas (the qd40
  * lesson); here it is a single char walk. Returns
  * `struct<n_words, word_chars, alpha_words, stop_hits, n_lines,
  * bullet_lines, ellipsis_lines, symbols>` (all BIGINT); the rule
  * thresholds stay declarative in [[graft.prep.Prep.gopherQuality]] so the
  * DuckDB oracle mirrors them in plain SQL.
  *
  * Parity contract with the SQL mirror (qd44): words are maximal runs
  * separated by Java's ASCII `\s` class (the `TextFunctions.tokens` model);
  * alphabetic means containing `[A-Za-z]`; stopword hits count DISTINCT
  * members of the 8-word set {the, be, to, of, and, that, have, with}
  * present as exact tokens; lines split on `\n` (an empty document is one
  * empty line); a bullet line starts with `•` or `- `; an ellipsis line
  * ends with `...` or `…`; symbols = `#` chars + non-overlapping
  * left-to-right `...` occurrences (the `replace`-count convention) + `…`
  * chars.
  */
case class GopherStatsExpr(child: Expression)
    extends UnaryExpression with KernelCodegen {

  import GopherStatsExpr._

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("word_chars", LongType, nullable = false),
    StructField("alpha_words", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("bullet_lines", LongType, nullable = false),
    StructField("ellipsis_lines", LongType, nullable = false),
    StructField("symbols", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gopher_stats expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.length
    var nWords = 0L; var wordChars = 0L; var alphaWords = 0L
    var nLines = 0L; var bulletLines = 0L; var ellipsisLines = 0L
    var symbols = 0L; var stopMask = 0

    var wordStart = -1
    var wordHasAlpha = false
    var lineStart = 0

    def endWord(endExcl: Int): Unit = if (wordStart >= 0) {
      nWords += 1
      // code points, not UTF-16 units: Spark/DuckDB length() (the declared
      // parity contract) counts an astral char (emoji) as ONE
      wordChars += s.codePointCount(wordStart, endExcl)
      if (wordHasAlpha) alphaWords += 1
      val w = endExcl - wordStart
      if (w >= 2 && w <= 4) {
        var k = 0
        while (k < Stopwords.length) {
          if (regionEquals(s, wordStart, endExcl, Stopwords(k))) stopMask |= 1 << k
          k += 1
        }
      }
      wordStart = -1; wordHasAlpha = false
    }

    def endLine(endExcl: Int): Unit = {
      nLines += 1
      val n = endExcl - lineStart
      if (n >= 1 && (s.charAt(lineStart) == '•' ||
          (n >= 2 && s.charAt(lineStart) == '-' && s.charAt(lineStart + 1) == ' ')))
        bulletLines += 1
      if ((n >= 3 && s.charAt(endExcl - 1) == '.' && s.charAt(endExcl - 2) == '.' &&
          s.charAt(endExcl - 3) == '.') || (n >= 1 && s.charAt(endExcl - 1) == '…'))
        ellipsisLines += 1
      lineStart = endExcl + 1
    }

    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (ws) endWord(i)
      else {
        if (wordStart < 0) wordStart = i
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) wordHasAlpha = true
      }
      if (c == '\n') endLine(i)
      if (c == '#' || c == '…') symbols += 1
      i += 1
    }
    endWord(len); endLine(len)

    // non-overlapping left-to-right "..." occurrences (replace-count parity)
    i = 0
    while (i + 2 < len) {
      if (s.charAt(i) == '.' && s.charAt(i + 1) == '.' && s.charAt(i + 2) == '.') {
        symbols += 1; i += 3
      } else i += 1
    }

    new GenericInternalRow(Array[Any](nWords, wordChars, alphaWords,
      java.lang.Long.bitCount(stopMask.toLong & 0xffffffffL).toLong,
      nLines, bulletLines, ellipsisLines, symbols))
  }

  override def prettyName: String = "graft_gopher_stats"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherStatsExpr {

  /** Gopher §A1.1's required-stopword set, fixed order (bit i of the
    * presence mask). All members are 2–4 chars — the word-length gate in
    * the scan skips the comparisons for everything else. */
  val Stopwords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  private def regionEquals(s: String, a: Int, b: Int, t: String): Boolean = {
    if (b - a != t.length) return false
    var i = 0
    while (i < t.length) {
      if (s.charAt(a + i) != t.charAt(i)) return false
      i += 1
    }
    true
  }
}
