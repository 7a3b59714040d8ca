package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Phrase-blocklist matching — the C4 "bad words" page gate (Raffel et al.
  * 2020 §2.2 drops any page containing a phrase from a blocklist) — as ONE
  * Aho–Corasick pass per document.
  *
  * The declarative formulation `size(filter(lit(phrases), p ->
  * contains(lower(text), p)))` rescans the document once per phrase
  * (O(phrases × text)); real blocklists run to hundreds of phrases, so the
  * scan cost multiplies exactly where the corpus is largest. This
  * expression compiles the phrase set into an Aho–Corasick automaton once
  * per task (the phrases ride as a plan-literal array, the automaton is a
  * transient lazy) and counts DISTINCT phrases present in O(text) —
  * presence count, not occurrence count, matching the `filter`+`contains`
  * semantics the oracle mirrors.
  *
  * Matching is case-insensitive substring containment under the SAME fold
  * `lower()` applies: ASCII A–Z, plus the two code points that lower INTO
  * ASCII letters — U+0130 İ (→ i + combining dot, fed as the same two
  * chars) and U+212A Kelvin (→ k) — so obfuscations like "POKER"
  * cannot slip past the native gate while blocking under the declarative
  * one. Phrases are expected lowercase ASCII (real blocklists are);
  * equivalence with `contains(lower(text), p)` is fuzz-checked in
  * PipelineSpec including both special code points.
  */
case class BlocklistHitsExpr(child: Expression, phrases: Array[String])
    extends UnaryExpression with KernelCodegen {

  require(phrases != null && phrases.nonEmpty,
    "graft_blocklist_hits: empty phrase list")
  require(phrases.forall(_.nonEmpty),
    "graft_blocklist_hits: blank phrase in the list")
  // the documented equivalence with contains(lower(text), p) holds only for
  // lowercase-ASCII phrases (the matcher folds TEXT, never phrases) — fail
  // fast instead of silently diverging on e.g. 'Café'
  require(phrases.forall(_.forall(c => c < 0x80 && !(c >= 'A' && c <= 'Z'))), {
    val bad = phrases.filter(_.exists(c => c >= 0x80 || (c >= 'A' && c <= 'Z')))
    s"graft_blocklist_hits: phrases must be lowercase ASCII (the fold is " +
      s"applied to the text side only); offending: ${bad.mkString("'", "', '", "'")}"
  })

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_blocklist_hits expects string, got $other")
  }

  // built once per task instance; the serialized plan carries only the
  // phrase strings
  @transient private lazy val automaton = BlocklistHitsExpr.build(phrases)

  override def nullSafeEval(input: Any): Any =
    automaton.distinctHits(input.asInstanceOf[UTF8String].toString)

  override def prettyName: String = "graft_blocklist_hits"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BlocklistHitsExpr {

  /** Aho–Corasick over lowercased-ASCII chars. Nodes in flat arrays; child
    * maps as per-node sorted arrays (alphabets here are tiny, binary search
    * beats a 64K-wide table per node). */
  final class Automaton(gotoChar: Array[Array[Char]], gotoNext: Array[Array[Int]],
                        fail: Array[Int], out: Array[Array[Int]], nPatterns: Int) {

    private def step(state: Int, c: Char): Int = {
      var s = state
      while (true) {
        val idx = java.util.Arrays.binarySearch(gotoChar(s), c)
        if (idx >= 0) return gotoNext(s)(idx)
        if (s == 0) return 0
        s = fail(s)
      }
      0 // unreachable
    }

    /** Number of DISTINCT patterns occurring in `text` under the same
      * folding `lower()` applies: ASCII A–Z plus the two Unicode code
      * points that lower INTO ASCII letters — U+0130 İ → 'i' + U+0307
      * (two chars, fed in sequence exactly as `lower()` inserts them) and
      * U+212A Kelvin → 'k'. */
    def distinctHits(text: String): Int = {
      val seen = new Array[Boolean](nPatterns)
      var found = 0
      var s = 0
      def feed(c: Char): Unit = {
        s = step(s, c)
        val hits = out(s)
        var k = 0
        while (k < hits.length) {
          if (!seen(hits(k))) { seen(hits(k)) = true; found += 1 }
          k += 1
        }
      }
      var i = 0
      val n = text.length
      while (i < n && found < nPatterns) {
        val c0 = text.charAt(i)
        if (c0 == '\u0130') { feed('i'); feed('\u0307') }
        else if (c0 == '\u212A') feed('k')
        else feed(if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0)
        i += 1
      }
      found
    }
  }

  def build(patterns: Array[String]): Automaton = {
    // trie construction
    val children = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.TreeMap.empty[Char, Int])
    val ends = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { c =>
        s = children(s).getOrElse(c, {
          children += scala.collection.mutable.TreeMap.empty[Char, Int]
          ends += Nil
          val id = children.size - 1
          children(s)(c) = id
          id
        })
      }
      ends(s) = pi :: ends(s)
    }
    // BFS failure links; output sets merge the fail chain
    val n = children.size
    val fail = new Array[Int](n)
    val out = Array.fill(n)(List.empty[Int])
    for (i <- 0 until n) out(i) = ends(i)
    val queue = scala.collection.mutable.Queue.empty[Int]
    children(0).foreach { case (_, v) => fail(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      children(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(v) = children(f).getOrElse(c, 0)
        // a depth-1 node resolves to itself via the root transition
        if (fail(v) == v) fail(v) = 0
        // fail(v) is shallower, so its out-set is already chain-complete
        out(v) = out(v) ::: out(fail(v))
        queue += v
      }
    }
    new Automaton(
      children.map(_.keys.toArray).toArray,
      children.map(_.values.toArray).toArray,
      fail, out.map(_.toArray), patterns.length)
  }

  private[graft] def strings(e: Expression): Array[String] = e.eval() match {
    case a: ArrayData =>
      val out = a.toObjectArray(StringType).map {
        case s: UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"graft_blocklist_hits: phrase list must be all strings, got $other")
      }
      out
    case other => throw new IllegalArgumentException(
      s"graft_blocklist_hits: phrases must be a foldable ARRAY<STRING> literal, got $other")
  }
}
