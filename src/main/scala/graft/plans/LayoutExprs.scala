package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** `graft_bucketize(v, boundaries)` → int: index of the first bucket whose
  * upper boundary exceeds `v`, by binary search over a SORTED literal
  * boundary array (the plan-literal-model pattern of DsirScoreExpr /
  * NearestCellsExpr): `v < b(0)` → 0, `v >= b(last)` → boundaries.length.
  * O(log B) per row with zero per-row allocation, vs the O(B) interpreted
  * lambda of an `aggregate(boundaries, ...)` HOF formulation.
  *
  * The layout use ([[graft.operators.Layout.writeZOrderedByRank]]): map a
  * skewed/unbounded column onto its quantile rank so the Z-curve sees a
  * near-uniform bounded dimension — raw bit-masking (`pmod`) drops the high
  * bits and scrambles locality for any column wider than `2^bits`. */
case class BucketizeExpr(child: Expression, boundaries: Array[Double])
    extends UnaryExpression with CodegenFallback {

  require(boundaries.nonEmpty, "graft_bucketize: boundaries must be non-empty")
  require(boundaries.zip(boundaries.tail).forall { case (a, b) => a <= b },
    "graft_bucketize: boundaries must be sorted ascending")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bucketize expects a numeric value, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = child.dataType match {
      case DoubleType => input.asInstanceOf[Double]
      case FloatType => input.asInstanceOf[Float].toDouble
      case LongType => input.asInstanceOf[Long].toDouble
      case IntegerType => input.asInstanceOf[Int].toDouble
      case ShortType => input.asInstanceOf[Short].toDouble
      case ByteType => input.asInstanceOf[Byte].toDouble
      case _: DecimalType => input.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    }
    // first index with boundaries(i) > v
    var lo = 0
    var hi = boundaries.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (boundaries(mid) > v) hi = mid else lo = mid + 1
    }
    lo
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LayoutExprs {
  /** Bucket index of `v` under the sorted `boundaries` ([[BucketizeExpr]]). */
  def bucketize(v: Column, boundaries: Array[Double]): Column =
    column(BucketizeExpr(expression(v), boundaries))
}
