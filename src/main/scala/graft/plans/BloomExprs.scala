package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership as a narrow plan-literal expression: ~10 bits per
  * key at fpp=1e-2 against ~40+ bytes for an exact broadcast hash set. A
  * Bloom filter has no false negatives, so it composes into exact operators
  * as a prefilter ([[graft.prep.Prep.contaminationBloom]],
  * [[graft.dedup.Dedup.newSinceSnapshot]]).
  *
  * The filter is the BINARY that Spark's `bloom_filter_agg` returns (the
  * format its own `might_contain` reads). It rides in the plan as a
  * constructor field, not a `Literal` child, so plan strings, the SQL UI
  * and every AQE plan update print `graft_bloom_might_contain(key)` instead
  * of the filter's hex (megabytes per plan for a corpus-scale filter).
  * Code-generated: the generated row loop calls [[mightContainLong]] on the
  * referenced expression, which parses the filter once per task.
  *
  * Reference twin: Polars.NET has no Bloom surface (SURVEY §2). */
case class BloomMightContainExpr(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

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

  /** The per-row entry point the generated code calls. */
  def mightContainLong(key: Long): Boolean = filter.mightContainLong(key)

  override def nullSafeEval(input: Any): Any = mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContain", this, classOf[BloomMightContainExpr].getName)
    defineCodeGen(ctx, ev, key => s"$ref.mightContainLong($key)")
  }

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

  /** True if `key` MIGHT be a value of `set`'s BIGINT column `setCol`; false
    * for every key when `set` is empty. Builds the filter EAGERLY: one
    * Spark `bloom_filter_agg` action over `set`, sized for `expectedItems`
    * at `fpp` and capped by Spark at 4,000,000 items / 8 MiB
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`). */
  def mightContain(key: Column, set: DataFrame, setCol: String,
                   expectedItems: Long, fpp: Double): Column = {
    val agg = new BloomFilterAggregate(expression(col(setCol)), Literal(expectedItems),
      Literal(BloomFilter.optimalNumOfBits(expectedItems, fpp)))
    set.agg(column(agg.toAggregateExpression())).head().getAs[Array[Byte]](0) match {
      case null => lit(false) // bloom_filter_agg over no rows is NULL
      case bytes => mightContain(key, bytes)
    }
  }

  private[graft] def bytes(e: Expression): Array[Byte] = e.eval() match {
    case b: Array[Byte] => b
    case other => throw new IllegalArgumentException(
      s"graft_bloom_might_contain: filter argument must be a foldable BINARY literal, got $other")
  }
}
