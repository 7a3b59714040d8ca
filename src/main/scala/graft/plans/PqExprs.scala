package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou/Douze/Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) for the ANN scale path:
  *
  *  - [[PqEncodeExpr]]: vector → m sub-codes (argmin-L2 against each
  *    subspace's centroids) — the corpus compression step, a narrow map.
  *  - [[PqLutExpr]]: query vector → per-subspace inner-product lookup table
  *    (m·ksub floats) — computed once per query row.
  *  - [[PqAdcExpr]]: (codes, lut) → asymmetric-distance score, m table
  *    lookups and adds per corpus row instead of a dim-wide float dot.
  *
  * The codebook rides in the expression as a plan literal (layout
  * `[m][ksub][subDim]` flattened): it is tiny by construction (m·ksub·subDim
  * floats, e.g. 16·dim for ksub=16) and reaches every executor inside the
  * serialized plan — the same mechanism the sign-LSH plane literals use.
  */
case class PqEncodeExpr(child: Expression, codebook: Array[Float], m: Int, ksub: Int)
    extends UnaryExpression with KernelCodegen {

  // validate BEFORE the division: m*ksub == 0 (reachable via the
  // graft_pq_* SQL functions) must fail with this message, not an
  // ArithmeticException from the subDim computation
  require(m > 0 && ksub > 0, s"pq_encode: m and ksub must be positive, got m=$m ksub=$ksub")
  private val subDim = codebook.length / (m * ksub)
  // mirror the require in Pq.train: a codebook/m/ksub mismatch must fail
  // loudly at plan construction, not silently misalign centroid reads
  require(subDim > 0 && codebook.length == m * ksub * subDim,
    s"pq_encode: codebook length ${codebook.length} is not m*ksub*subDim for m=$m ksub=$ksub")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"pq_encode expects array<float|double>, got $other")
  }

  // lazy: a Column builder constructs this before its child is resolved
  private lazy val isDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    require(vec.numElements() == m * subDim,
      s"pq_encode: vector dim ${vec.numElements()} != m*subDim ${m * subDim}")
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val vOff = mi * subDim
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < ksub) {
        val cOff = (mi * ksub + j) * subDim
        var dist = 0.0
        var d = 0
        while (d < subDim) {
          val x = (if (isDouble) vec.getDouble(vOff + d) else vec.getFloat(vOff + d)) -
            codebook(cOff + d)
          dist += x * x
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query inner-product lookup table: lut[mi*ksub + j] =
  * dot(query_sub(mi), centroid(mi, j)). On unit-normalized inputs the ADC
  * sum of these entries estimates cosine similarity. */
case class PqLutExpr(child: Expression, codebook: Array[Float], m: Int, ksub: Int)
    extends UnaryExpression with KernelCodegen {

  require(m > 0 && ksub > 0, s"pq_lut: m and ksub must be positive, got m=$m ksub=$ksub")
  private val subDim = codebook.length / (m * ksub)
  require(subDim > 0 && codebook.length == m * ksub * subDim,
    s"pq_lut: codebook length ${codebook.length} is not m*ksub*subDim for m=$m ksub=$ksub")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"pq_lut expects array<float|double>, got $other")
  }

  // lazy: a Column builder constructs this before its child is resolved
  private lazy val isDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    require(vec.numElements() == m * subDim,
      s"pq_lut: vector dim ${vec.numElements()} != m*subDim ${m * subDim}")
    val lut = new Array[Double](m * ksub)
    var mi = 0
    while (mi < m) {
      val vOff = mi * subDim
      var j = 0
      while (j < ksub) {
        val cOff = (mi * ksub + j) * subDim
        var dot = 0.0
        var d = 0
        while (d < subDim) {
          dot += (if (isDouble) vec.getDouble(vOff + d) else vec.getFloat(vOff + d)) *
            codebook(cOff + d)
          d += 1
        }
        lut(mi * ksub + j) = dot
        j += 1
      }
      mi += 1
    }
    new GenericArrayData(lut)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric-distance score: m lookups + adds per corpus row. */
case class PqAdcExpr(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with KernelCodegen {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"pq_adc expects (array<int> codes, array<double> lut), got $other")
  }

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val lut = lutAny.asInstanceOf[ArrayData]
    var score = 0.0
    var mi = 0
    val m = codes.numElements()
    while (mi < m) {
      score += lut.getDouble(mi * ksub + codes.getInt(mi))
      mi += 1
    }
    score
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqExprs {
  private[graft] def floats(e: Expression): Array[Float] = {
    val arr = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(arr.getFloat)
  }

  /** Per-query ADC lookup table of `vec` under `codebook` ([[PqLutExpr]]). */
  def lut(vec: Column, codebook: Array[Float], m: Int, ksub: Int): Column =
    column(PqLutExpr(expression(vec), codebook, m, ksub))

  /** Asymmetric-distance score of `codes` against a query's `lut` ([[PqAdcExpr]]). */
  def adc(codes: Column, lut: Column, ksub: Int): Column =
    column(PqAdcExpr(expression(codes), expression(lut), ksub))
}
