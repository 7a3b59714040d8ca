package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership as a narrow plan-literal expression — the scale
  * lever for "is this key in a reference set?" when the reference set is too
  * big for an exact broadcast hash set but the lookup must stay on the scan
  * side of the 100 TB corpus.
  *
  * Why a Bloom and not the existing broadcast-set join: an exact broadcast
  * hash relation costs ~40+ bytes per distinct key (object headers + hash
  * table slack), a Bloom costs ~10 BITS per key at fpp=1e-2 — a reference
  * set of 10^9 shingle hashes is ~1.2 GiB of filter vs ~40+ GiB of hash
  * table. The filter guarantees NO false negatives, so it composes into
  * EXACT operators as a prefilter: scan-side `might_contain` drops
  * ~everything, and only the surviving ≈ |true hits| + fpp·|corpus keys|
  * rows pay the exact verification join ([[graft.prep.Prep.contaminationBloom]],
  * [[graft.dedup.Dedup.newSinceSnapshot]]).
  *
  * The serialized filter rides in the plan as a literal — the same mechanism
  * Spark's own InjectRuntimeFilter uses for its runtime bloom pruning and the
  * same way the PQ codebook / IVF centroid literals ship
  * ([[PqExprs]], [[AnnExprs]]): one copy per task binary, no extra exchange.
  * Keep plan-literal filters ≤ ~100 MiB (≈10^8 keys at 1e-2); beyond that,
  * split the reference set and AND the verdicts, or fall back to the exact
  * shuffle join.
  *
  * Reference twin: ErrorLSC/Polars.NET has no Bloom surface — this is part of
  * the training-data-pipeline superset (SURVEY §2 north-star ops).
  */
case class BloomMightContainExpr(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression with CodegenFallback {

  require(filterBytes != null && filterBytes.nonEmpty,
    "graft_bloom_might_contain: empty filter payload")

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_might_contain expects a BIGINT key (xxhash64 the value first), got $other")
  }

  // deserialized once per task instance (the expression is shipped inside the
  // serialized plan; @transient keeps the live filter out of re-serialization)
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override def prettyName: String = "graft_bloom_might_contain"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomExprs {

  /** Serialize a filter for use as a plan literal. */
  def serialize(filter: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    filter.writeTo(bos)
    bos.toByteArray
  }

  /** Column-API membership test: `mightContain(keyCol, bytes)` — true if the
    * long key MIGHT be in the set (never false for an inserted key). */
  def mightContain(key: Column, filterBytes: Array[Byte]): Column =
    column(BloomMightContainExpr(expression(key), filterBytes))

  private[graft] def bytes(e: Expression): Array[Byte] = e.eval() match {
    case b: Array[Byte] => b
    case other => throw new IllegalArgumentException(
      s"graft_bloom_might_contain: filter argument must be a foldable BINARY literal, got $other")
  }
}
