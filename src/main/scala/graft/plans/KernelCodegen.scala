package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** Whole-stage codegen for a native kernel: the one code path every
  * `graft.plans` scalar kernel mixes in.
  *
  * The generated code runs the children's generated code in place (fused
  * with the scan or projection that feeds them) and makes one call per row
  * into the kernel's interpreted entry on the expression object itself
  * (`ctx.addReferenceObj`). So the kernel's loop, its null semantics and its
  * parse-once `@transient lazy val`s serve both paths. Spark's
  * `CodegenFallback` references the same object, but runs the children
  * interpreted and keeps the whole operator out of whole-stage codegen.
  *
  * The entry is `nullSafeEval`, called with each child's value only when
  * none is null, as in Spark's null-intolerant expressions. A kernel that
  * takes null inputs as values sets [[nullAware]]: the generated code then
  * calls [[evalInputs]] with all the children's values, nulls included.
  * Primitives are boxed and unboxed explicitly (`valueOf`/`xxxValue()`):
  * janino does not autobox everywhere. */
trait KernelCodegen extends Expression {

  /** True for a kernel whose per-row entry is [[evalInputs]]. */
  protected def nullAware: Boolean = false

  /** Per-row entry of a [[nullAware]] kernel: the children's values in
    * order, null for a null child. */
  def evalInputs(inputs: Array[Any]): Any =
    throw new UnsupportedOperationException(s"$prettyName is null-intolerant")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    val inputs = children.map(_.genCode(ctx))
    val args = children.zip(inputs).map { case (c, in) =>
      if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${in.value})"
      else in.value.toString
    }
    val result = ctx.freshName("result")
    val javaType = CodeGenerator.javaType(dataType)
    val unboxed =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $result).${javaType}Value()"
      else s"($javaType) $result"
    val assign =
      if (nullable) s"${ev.isNull} = $result == null;\nif (!${ev.isNull}) ${ev.value} = $unboxed;"
      else s"${ev.value} = $unboxed;"
    // plain joins, no stripMargin: the children's code must reach janino
    // as generated
    val body =
      if (nullAware) {
        val arr = ctx.freshName("inputs")
        val fill = inputs.zip(args).zipWithIndex.map { case ((in, a), i) =>
          s"$arr[$i] = ${in.isNull} ? null : $a;"
        }
        (inputs.map(_.code.toString) ++ Seq(s"Object[] $arr = new Object[${children.length}];") ++
          fill ++ Seq(s"Object $result = $ref.evalInputs($arr);", assign)).mkString("\n")
      } else {
        // Spark's null-intolerant order: a child runs only after the ones
        // before it are non-null
        children.zip(inputs).foldRight(
          s"Object $result = $ref.nullSafeEval(${args.mkString(", ")});\n$assign") {
          case ((c, in), inner) =>
            s"${in.code}\n${ctx.nullSafeExec(c.nullable, in.isNull.toString)(inner)}"
        }
      }
    val declareNull = if (nullable) s"boolean ${ev.isNull} = true;\n" else ""
    val declared = s"$declareNull$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};\n"
    ev.copy(code = code"$declared$body", isNull = if (nullable) ev.isNull else FalseLiteral)
  }
}
