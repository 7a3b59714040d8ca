package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization ([[java.text.Normalizer]]) as a native expression —
  * the first step of every web-corpus cleanup (C4/CCNet normalize before
  * fingerprinting and filtering so that visually-identical text hashes
  * identically: "café" composed vs decomposed is one document, not two).
  *
  * Spark exposes no normalization function, so this wraps the JDK's
  * (Unicode-standard NFC/NFD/NFKC/NFKD) in an eval-only kernel: per-row
  * String work IS the cost, codegen would add nothing. The fast path skips
  * allocation entirely when the input is already normalized (true for
  * ~every ASCII/web document — `Normalizer.isNormalized` is a cheap scan).
  *
  * Cross-engine: DuckDB's `nfc_normalize` implements the same standard, so
  * NFC pipelines are oracle-able (qd38); NFKC/NFD/NFKD have no DuckDB twin
  * and are spec-verified.
  */
case class NormalizeUnicodeExpr(child: Expression, form: Normalizer.Form)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_normalize_unicode expects STRING, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (Normalizer.isNormalized(s, form)) input
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }

  override def prettyName: String = "graft_normalize_unicode"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeExprs {

  private[graft] def formOf(e: Expression): Normalizer.Form = form(String.valueOf(e.eval()))

  /** The normalization form named `name` (case-insensitive). */
  private[graft] def form(name: String): Normalizer.Form =
    try Normalizer.Form.valueOf(name.toUpperCase(java.util.Locale.ROOT))
    catch {
      case _: IllegalArgumentException => throw new IllegalArgumentException(
        s"graft_normalize_unicode: form must be one of NFC/NFD/NFKC/NFKD, got '$name'")
    }
}
