package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen cosine similarity over two numeric-array columns.
  *
  * The HOF formulation (`graft.functions.VectorFunctions.cosine`) allocates a
  * lambda frame per element; this expression compiles to a single primitive
  * loop inside whole-stage codegen — the version an ANN scan over 100 TB of
  * embeddings wants. Built as a Column by [[CosineSimilarityExpr.cosine]];
  * SQL text reaches it as `graft_cosine` through [[graft.GraftExtensions]].
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"graft_cosine expects arrays, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(a: NumericType, _), ArrayType(b: NumericType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_cosine expects two numeric arrays, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val et1 = elemType(left); val et2 = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = numAt(x, i, et1); val yv = numAt(y, i, et2)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null else dot / math.sqrt(na * nb)
  }

  private def numAt(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case ShortType => arr.getShort(i).toDouble
    case ByteType => arr.getByte(i).toDouble
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et1 = elemType(left); val et2 = elemType(right)
    nullSafeCodeGen(ctx, ev, (arr1, arr2) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val getX = CodeGenerator.getValue(arr1, et1, i)
      val getY = CodeGenerator.getValue(arr2, et2, i)
      s"""
         |int $n = java.lang.Math.min($arr1.numElements(), $arr2.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double)($getX);
         |  double $yv = (double)($getY);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarityExpr {
  /** Cosine similarity of two numeric-array columns; null when either norm is 0. */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarityExpr(expression(a), expression(b)))
}
