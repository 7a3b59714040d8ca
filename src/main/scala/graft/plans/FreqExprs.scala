package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-memory heavy hitters: the approximate complement to qd14's exact
  * vocabulary, the way qd51's HLL contract complements exact distinct.
  *
  * `graft_topfreq(tokens, k)` runs the Misra–Gries frequent-items summary
  * (Misra & Gries 1982) with k counters per aggregation buffer, merged with
  * the subtract-(k+1)th-count rule of Agarwal et al. 2013 ("Mergeable
  * Summaries", PODS'12): union-sum both counter sets, and if more than k
  * survive, subtract the (k+1)-th largest count from every counter and drop
  * the non-positive ones. The summary guarantees, over any partitioning and
  * any merge tree (partition-count invariant by construction):
  *
  *  - NO overestimate: est(t) <= true(t) for every tracked t;
  *  - bounded underestimate: true(t) - est(t) <= n/(k+1), n = total items;
  *  - guaranteed presence: every t with true(t) > n/(k+1) is tracked.
  *
  * 100 TB shape: state is k counters per (group, partition) — constants,
  * not corpus — with map-side partial aggregation, so the exchange moves
  * O(k × partitions) entries where the exact vocabulary shuffles every
  * distinct token. The decrement step is O(k) but amortized: each round
  * pays one arrival per live counter, so total decrement work is bounded
  * by total arrivals.
  */
case class FreqSketchAgg(items: Expression, kExpr: Expression,
                         mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqBuffer] with BinaryLike[Expression] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def left: Expression = items
  override def right: Expression = kExpr
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topfreq"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("graft_topfreq: k must be foldable")
    // typed-k guard (ADVICE r13, mirroring BoundedTopKAgg): an untyped
    // foldable k (64L, '64') previously passed analysis and threw
    // ClassCastException at buffer creation instead of a clean error
    else if (!Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_topfreq: k must be an integral literal, got ${kExpr.dataType}")
    else {
      // evaluate the foldable k exactly ONCE (ADVICE r14: the guard used to
      // eval it up to three times, and a foldable whose eval throws — e.g. a
      // failing literal expression — escaped as a raw exception instead of
      // a clean analysis failure)
      val kv: Either[Throwable, Any] =
        try Right(kExpr.eval()) catch { case e: Throwable => Left(e) }
      kv match {
        case Left(e) =>
          TypeCheckResult.TypeCheckFailure(
            s"graft_topfreq: k failed to evaluate: ${e.getMessage}")
        case Right(v)
            if v == null || v.asInstanceOf[Number].longValue() < 1 ||
              v.asInstanceOf[Number].longValue() > Int.MaxValue =>
          TypeCheckResult.TypeCheckFailure(
            s"graft_topfreq: k must be in [1, ${Int.MaxValue}], got $v")
        case _ => items.dataType match {
          case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
          case other => TypeCheckResult.TypeCheckFailure(
            s"graft_topfreq expects array<string> items, got $other")
        }
      }
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): FreqBuffer = {
    require(k > 0, s"graft_topfreq: k must be positive, got $k")
    new FreqBuffer(k)
  }

  override def update(buffer: FreqBuffer, input: InternalRow): FreqBuffer = {
    val arr = items.eval(input)
    if (arr != null) {
      val a = arr.asInstanceOf[ArrayData]
      var i = 0
      val n = a.numElements()
      while (i < n) {
        if (!a.isNullAt(i)) buffer.add(a.getUTF8String(i).toString)
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: FreqBuffer, other: FreqBuffer): FreqBuffer = {
    buffer.mergeFrom(other); buffer
  }

  override def eval(buffer: FreqBuffer): Any = {
    // est desc, item asc: a deterministic ORDER for whatever the summary
    // tracks (membership of sub-threshold items is arrival-order dependent
    // by nature — consumers assert the CONTRACT, not the borderline set)
    import scala.jdk.CollectionConverters._
    val entries = buffer.counts.entrySet().asScala.toArray
      .map(e => (e.getKey, e.getValue.longValue()))
      .sortBy { case (item, est) => (-est, item) }
    new GenericArrayData(entries.map { case (item, est) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(item), est))
    })
  }

  override def serialize(buffer: FreqBuffer): Array[Byte] = {
    import scala.jdk.CollectionConverters._
    val entries = buffer.counts.entrySet().asScala.toArray
    val payloads = entries.map(e => e.getKey.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.allocate(
      8 + payloads.map(_.length + 12).sum)
    bb.putInt(buffer.k).putInt(entries.length)
    entries.zip(payloads).foreach { case (e, bytes) =>
      bb.putInt(bytes.length).put(bytes).putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FreqBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new FreqBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val arr = new Array[Byte](len)
      bb.get(arr)
      buf.counts.put(new String(arr, "UTF-8"), bb.getLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(items = newLeft, kExpr = newRight)
}

/** Misra–Gries counter set: ≤ k live counters. */
final class FreqBuffer(val k: Int) {
  val counts = new java.util.HashMap[String, java.lang.Long]()

  def add(item: String): Unit = {
    val c = counts.get(item)
    if (c != null) counts.put(item, c + 1L)
    else if (counts.size < k) counts.put(item, 1L)
    else {
      // classic MG decrement round: the arrival and one unit of every live
      // counter are all "spent" — k+1 stream items per round, so rounds
      // (= the per-item underestimate) never exceed n/(k+1)
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  def mergeFrom(other: FreqBuffer): Unit = {
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = counts.get(e.getKey)
      counts.put(e.getKey, if (c == null) e.getValue else c + e.getValue)
    }
    if (counts.size > k) {
      // subtract the (k+1)-th largest count from all; <= k survive and each
      // buffer's error bound adds, keeping the global n/(k+1) guarantee
      val vals = new Array[Long](counts.size)
      var i = 0
      val vi = counts.values().iterator()
      while (vi.hasNext) { vals(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val sub = vals(vals.length - (k + 1)) // (k+1)-th largest
      val ei = counts.entrySet().iterator()
      while (ei.hasNext) {
        val e = ei.next()
        if (e.getValue <= sub) ei.remove() else e.setValue(e.getValue - sub)
      }
    }
  }
}
