package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** DSIR scoring kernel (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023): per-document log importance weight
  * under hashed bag-of-words models of a target distribution vs the raw
  * corpus.
  *
  * The weight of a document is Σ over its tokens of
  * `log p̂_target(bucket(w)) − log p̂_source(bucket(w))`, where `bucket(w)`
  * is `xxhash64(w) mod B` (DSIR's feature hashing) and both models are
  * Laplace-smoothed bucket-count distributions. The per-bucket log-ratio
  * table is precomputed once (B doubles — 2 MiB at B=2^18) and rides in the
  * plan as a single array literal, so scoring the 100 TB corpus is a NARROW
  * map: hash, look up, accumulate — no join, no shuffle, no per-token row
  * explosion. The exact word-feature twin that backs the DuckDB oracle lives
  * in [[graft.prep.Prep.importanceWeights]]; this kernel is its scale path
  * ([[graft.prep.Prep.importanceWeightsHashed]]).
  *
  * Hash parity: same `XXH64(seed=42)` as Spark's `xxhash64` and the shingle
  * kernels ([[ShingleHashesExpr]]), so bucket assignments computed here agree
  * with any `pmod(xxhash64(w), B)` the model-building aggregation uses.
  */
case class DsirScoreExpr(child: Expression, table: Array[Double])
    extends UnaryExpression with KernelCodegen {

  require(table != null && table.nonEmpty, "graft_dsir_score: empty log-ratio table")

  private val buckets = table.length

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dsir_score expects array<string> tokens, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      // null elements contribute nothing: internal callers (Prep.tokens)
      // never yield them, but a SQL caller may pass
      // containsNull arrays and must not kill the task
      if (!toks.isNullAt(i)) {
        val w = toks.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), 42L)
        val b = ((h % buckets) + buckets) % buckets
        sum += table(b.toInt)
      }
      i += 1
    }
    sum
  }

  override def prettyName: String = "graft_dsir_score"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirExprs {

  /** Sum of `table`'s log-ratio weights over `tokens`' hashed buckets ([[DsirScoreExpr]]). */
  def score(tokens: Column, table: Array[Double]): Column =
    column(DsirScoreExpr(expression(tokens), table))
}
