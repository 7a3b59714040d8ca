package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Bucket id of a (possibly multi-column) order-key tuple against a SORTED
  * plan-literal bound table — the lexicographic-tuple generalization of
  * [[BucketizeExpr]]'s binary search, built for
  * [[graft.operators.RangeId.withRangeId]] (r17 verdict item 3).
  *
  * The id is `count(b in bounds : key sorts strictly AFTER b)` under the
  * per-field `asc` directions with Spark's default null placement (asc:
  * nulls FIRST, desc: nulls LAST) — bit-identical to the `Σ
  * when(sortsAfter(b), 1)` chain it replaces (RangeIdSpec pins the
  * equivalence), but O(log P) comparisons per row instead of O(P): at a
  * production shuffle-partition count (P ≈ 2000) the linear chain evaluated
  * ~2000 lexicographic predicates on EVERY row of EVERY global (unkeyed)
  * operator; the search does ~11. Code size is O(1) (the bound table is a
  * referenced object, never generated code) where the when-chain's
  * generated code grew O(P) and fell out of whole-stage codegen's method
  * limits long before that.
  *
  * Code-generated through [[KernelCodegen]]: the key children run inside
  * the surrounding whole-stage codegen span and each row pays one call into
  * [[evalInputs]]. Nulls are keys, so the kernel is null-aware.
  *
  * `bounds` rows hold CATALYST-INTERNAL values (UTF8String, micros longs,
  * Decimal, ...) in children order and must be strictly increasing under
  * the key ordering — [[graft.operators.RangeId.sampleBounds]] guarantees
  * both. Field comparisons use Spark's own interpreted orderings
  * (UTF8String binary order for strings, unsigned lexicographic for
  * binary), so the id agrees with what `repartitionByRange`/`orderBy`
  * would compute for the same directions. */
case class RangeBucketExpr(children: Seq[Expression], asc: Seq[Boolean],
                           bounds: Array[Array[Any]])
    extends Expression with KernelCodegen {

  require(children.nonEmpty && children.length == asc.length,
    s"graft_range_bucket: ${children.length} keys vs ${asc.length} directions")
  require(bounds.forall(_.length == children.length),
    "graft_range_bucket: bound arity must match key arity")

  override def nullable: Boolean = false
  override protected def nullAware: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_range_bucket"
  // the bound table is data, not a child expression — fold nothing
  override def foldable: Boolean = false

  @transient private lazy val fieldOrds: Array[Ordering[Any]] =
    children.map(c => org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(c.dataType)).toArray
  @transient private lazy val ascArr: Array[Boolean] = asc.toArray

  /** Spark-order lexicographic compare of the evaluated key tuple against a
    * bound row: per-field null-aware compare (null first), direction flip
    * per field, first non-zero field wins. */
  private def cmp(key: Array[Any], bound: Array[Any]): Int = {
    var i = 0
    while (i < key.length) {
      val x = key(i)
      val y = bound(i)
      val c =
        if (x == null && y == null) 0
        else if (x == null) -1
        else if (y == null) 1
        else fieldOrds(i).compare(x, y)
      val d = if (ascArr(i)) c else -c
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Binary search shared by the interpreted and generated paths: first
    * index whose bound the key does NOT sort after == the count of bounds
    * it does sort after (bounds strictly increasing). */
  override def evalInputs(key: Array[Any]): Any = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(key, bounds(mid)) > 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def eval(input: InternalRow): Any = {
    val key = new Array[Any](children.length)
    var i = 0
    while (i < key.length) { key(i) = children(i).eval(input); i += 1 }
    evalInputs(key)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
