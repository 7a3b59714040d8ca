package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** C4 line filter (Raffel et al. 2020 §2.2) as ONE native pass per document.
  *
  * Exact twin of the declarative formulation
  * `filter(split(text,"\n"), l => substring(l,-1,1) ∈ {.!?"} &&
  * size(filter(split(l,"\\s+"), _≠"")) ≥ minWords && !lower(l).contains("javascript"))`
  * — but that tree is four interpreted higher-order lambdas allocating a
  * words array per LINE; this expression walks the document's chars once,
  * counting word runs and matching the sentinel in place (no per-line
  * splits, no arrays). Returns `struct<kept_text string, n_kept_lines int>`
  * so both outputs come from the single pass; CollapseProject does not
  * duplicate non-cheap expressions, so projecting both fields keeps one
  * evaluation per row.
  *
  * Parity notes (each fuzz-checked against the lambda formulation in
  * PrepSpec): split-on-'\n' keeps empty segments, which the terminal-
  * punctuation rule rejects anyway; word runs use Java's ASCII `\s` class
  * (minus '\n', which cannot appear inside a line); the "javascript"
  * sentinel is matched ASCII-case-insensitively — the only Unicode
  * lowercasings that map INTO its letters (e.g. İ → i + combining dot)
  * break the byte sequence under `lower().contains` too, so verdicts agree.
  *
  * Reference scope: C4 cleaning is part of the training-data superset, not
  * the ErrorLSC/Polars.NET surface (SURVEY §2 north-star ops).
  */
case class C4KeepLinesExpr(child: Expression, minWordsPerLine: Int)
    extends UnaryExpression with CodegenFallback {

  require(minWordsPerLine >= 0,
    s"graft_c4_keep_lines: minWordsPerLine must be >= 0, got $minWordsPerLine")

  override def dataType: DataType = StructType(Seq(
    StructField("kept_text", StringType, nullable = false),
    StructField("n_kept_lines", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_c4_keep_lines expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.length
    val sb = new java.lang.StringBuilder
    var nKept = 0
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == '\n') {
        if (keepLine(s, start, i)) {
          if (nKept > 0) sb.append('\n')
          sb.append(s, start, i)
          nKept += 1
        }
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(sb.toString), nKept))
  }

  /** One scan of line s[a,b): terminal punctuation, >= minWords word runs,
    * no case-insensitive "javascript". */
  private def keepLine(s: String, a: Int, b: Int): Boolean = {
    if (a >= b) return false
    val last = s.charAt(b - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    var words = 0
    var inWord = false
    var i = a
    while (i < b) {
      val c = s.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r'
      if (ws) inWord = false
      else if (!inWord) { words += 1; inWord = true }
      i += 1
    }
    words >= minWordsPerLine && !containsJsAsciiCi(s, a, b)
  }

  private def containsJsAsciiCi(s: String, a: Int, b: Int): Boolean = {
    val t = "javascript"
    val tl = t.length
    var i = a
    val end = b - tl
    while (i <= end) {
      var k = 0
      var ok = true
      while (ok && k < tl) {
        val c = s.charAt(i + k)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        if (lc != t.charAt(k)) ok = false else k += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  override def prettyName: String = "graft_c4_keep_lines"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object C4Exprs {

  private[graft] def intArg(e: Expression, name: String): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"$name: expected a foldable INT literal argument, got $other")
  }
}
