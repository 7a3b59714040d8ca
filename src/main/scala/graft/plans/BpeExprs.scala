package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed BPE application: word-token array → flat sub-token array
  * under a trained merge table ([[graft.functions.Bpe]]). The merge ranks
  * ride in the plan (a few KB) and each row tokenizes in one tight loop —
  * the corpus-scan half of BPE, shuffle-free by construction. Semantics are
  * pinned to `Bpe.encodeWord` (spec-asserted): per word, repeatedly merge
  * the lowest-rank adjacent pair until none remains. */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"bpe_encode expects array<string>, got $other")
  }

  // space-joined pair key is collision-free: symbols come from
  // whitespace-split tokens, so no symbol ever contains a space
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, i) }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val out = scala.collection.mutable.ArrayBuffer[UTF8String]()
    var t = 0
    while (t < toks.numElements()) {
      // callable from SQL as graft_bpe_encode with arbitrary arrays: skip
      // null elements instead of NPE-ing the task
      if (toks.isNullAt(t)) { t += 1 }
      else {
      val word = toks.getUTF8String(t).toString
      var syms = graft.functions.Bpe.symbols(word)
      var continue = syms.length > 1
      while (continue) {
        var bestIdx = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.get(syms(i) + " " + syms(i + 1))
          if (r != null && r < bestRank) { bestRank = r; bestIdx = i }
          i += 1
        }
        if (bestIdx < 0) continue = false
        else {
          syms = graft.functions.Bpe.mergeOnce(syms, (syms(bestIdx), syms(bestIdx + 1)))
          if (syms.length < 2) continue = false
        }
      }
      syms.foreach(s => out += UTF8String.fromString(s))
      t += 1
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeExprs {
  private[graft] def mergesOf(e: Expression): Seq[(String, String)] = {
    val arr = e.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      val p = arr.getArray(i)
      (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
    }
  }
}
