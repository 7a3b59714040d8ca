package graft.plans

import java.util.zip.Deflater

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compression-ratio quality signal: deflate(text).length / utf8(text).length.
  *
  * Highly repetitive machine-generated text compresses far below natural
  * language, so the ratio is a standard cheap quality filter for training
  * corpora (one of the RedPajama/Gopher-family document signals; pairs with
  * [[graft.functions.TextFunctions.dupLineFraction]] and
  * `topNgramShare`). Ratios: ~0.0x for degenerate repetition, ~0.6-0.8 for
  * prose, >1 for incompressible noise (deflate overhead exceeds savings).
  *
  * Per-row cost is the deflate loop itself, so following the house rule for
  * sketch expressions this is eval-only ([[CodegenFallback]]); the Deflater
  * (which owns native zlib state) is reused per thread rather than allocated
  * per row, and compressed bytes are counted, never materialized.
  */
case class DeflateRatioExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  // empty (non-null) input also yields null, so the output is nullable
  // even over a non-nullable child — without this the optimizer could
  // fold isNull checks to false for empty documents
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"deflate_ratio expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.isEmpty) null
    else DeflateRatioExpr.compressedSize(bytes).toDouble / bytes.length
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateRatioExpr {

  // Deflater holds native zlib state — construct once per thread, reset per
  // row. Level pinned (not DEFAULT_COMPRESSION) so the signal is stable
  // across JDKs even if the default level ever moves; nowrap drops the
  // 6-byte zlib envelope that would bias short documents.
  private val deflaters = ThreadLocal.withInitial[Deflater](() =>
    new Deflater(6, true))
  private val sinks = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](8192))

  /** Deflated byte count of `bytes`; output is counted into a scratch buffer
    * and discarded, so memory stays O(8 KB) regardless of document size. */
  def compressedSize(bytes: Array[Byte]): Long = {
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val sink = sinks.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(sink)
    total
  }
}
