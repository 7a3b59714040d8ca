package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** ANN scale kernels that delete the two shuffle amplifiers of the naive
  * formulation (reference capability: `native_shim` has no ANN — these back
  * the training-data-pipeline extension surface):
  *
  *  - [[NearestCellsExpr]]: vector → its top-p nearest IVF cells, with the
  *    centroid table riding in the plan as a literal (same mechanism as the
  *    PQ codebook in [[PqEncodeExpr]]). Corpus cell assignment becomes a
  *    NARROW map — the crossJoin(centroids) + per-row window it replaces
  *    shuffled N·nlist rows to compute an argmax that needs no shuffle.
  *  - [[BoundedTopKAgg]]: per-group top-k as a bounded-state aggregate
  *    (size-k sorted buffer, map-side partial aggregation). The
  *    `Window.partitionBy(query)` + row_number it replaces materialized
  *    EVERY scored corpus row of a query in one task; this exchanges only
  *    Q×partitions×k buffer entries and merges k-sized partials.
  *
  * Ordering parity with the window formulation is exact: score descending,
  * nulls last, ties broken by ascending id — and cosine arithmetic matches
  * [[CosineSimilarityExpr]] term-for-term, so assignments and ranks are
  * bit-identical to the plans they replace.
  */
case class NearestCellsExpr(child: Expression, cellIds: Array[Long],
                            centroids: Array[Double], dim: Int, p: Int)
    extends UnaryExpression with KernelCodegen {

  require(dim > 0 && cellIds.length * dim == centroids.length,
    s"nearest_cells: ${cellIds.length} cells x dim $dim != ${centroids.length} centroid floats")
  require(p > 0, s"nearest_cells: p must be positive, got $p")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"nearest_cells expects a numeric array, got $other")
  }

  // lazy: a Column builder constructs this before its child is resolved
  private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  // NULL embedding reproduces the crossJoin+window formulation it replaced:
  // cosine is null against every centroid, so the sim-desc-nulls-last,
  // cell-asc window order assigned the LOWEST p cell ids. Returning them —
  // rather than null, which the caller's explode() would silently drop —
  // keeps the parity exact and keeps null-embedding corpus rows visible in
  // the index instead of vanishing.
  override def nullable: Boolean = false
  override protected def nullAware: Boolean = true
  override def eval(input: InternalRow): Any = evalInputs(Array(child.eval(input)))
  override def evalInputs(inputs: Array[Any]): Any = inputs(0) match {
    case null => ArrayData.toArrayData(cellIds.sorted.take(math.min(p, cellIds.length)))
    case v => nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val nlist = cellIds.length
    val m = math.min(p, nlist)
    // top-m insertion buffers, ordering (sim desc nulls-last, cell asc);
    // ascending-cell iteration + strictly-better insertion = cell-asc ties
    val topSim = new Array[Double](m)
    val topNull = new Array[Boolean](m)
    val topCell = new Array[Long](m)
    var size = 0
    var j = 0
    while (j < nlist) {
      val off = j * dim
      val n = math.min(vec.numElements(), dim)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = CosineSimilarityExpr.numAt(vec, i, elemType); val yv = centroids(off + i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val isNull = na == 0.0 || nb == 0.0
      val sim = if (isNull) 0.0 else dot / math.sqrt(na * nb)
      var pos = size
      while (pos > 0 && {
        val better =
          if (!isNull && topNull(pos - 1)) true
          else if (isNull && !topNull(pos - 1)) false
          else !isNull && sim > topSim(pos - 1)
        better
      }) pos -= 1
      if (pos < m) {
        val end = math.min(size, m - 1)
        var s = end
        while (s > pos) {
          topSim(s) = topSim(s - 1); topNull(s) = topNull(s - 1); topCell(s) = topCell(s - 1)
          s -= 1
        }
        topSim(pos) = sim; topNull(pos) = isNull; topCell(pos) = cellIds(j)
        if (size < m) size += 1
      }
      j += 1
    }
    val out = new Array[Long](size)
    System.arraycopy(topCell, 0, out, 0, size)
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bounded per-group top-k buffer: ≤ k entries, kept sorted best-first
  * (score desc, nulls last, id asc), duplicate ids collapsed keeping the
  * BETTER-ranked (score, id) entry. In the ANN pipelines a duplicate id
  * always carries an identical score (the same scored pair arriving via
  * another block/probe), but `graft_topk` is callable from SQL and a
  * SQL caller may feed differing scores for one id — keeping the best makes
  * the result independent of partition/merge arrival order, matching the
  * determinism of the window+distinct formulation this replaces. */
final class TopKBuffer(val k: Int) {
  var size: Int = 0
  val ids = new Array[Long](k)
  val scores = new Array[Double](k)
  val nulls = new Array[Boolean](k)

  private def betterThan(s: Double, isNull: Boolean, id: Long, i: Int): Boolean = {
    if (!isNull && nulls(i)) true
    else if (isNull && !nulls(i)) false
    else if (!isNull && s != scores(i)) s > scores(i)
    else id < ids(i)
  }

  def insert(s: Double, isNull: Boolean, id: Long): Unit = {
    if (size == k && !betterThan(s, isNull, id, k - 1)) return
    // duplicate id: the buffer is sorted best-first, so an existing entry at
    // i outranks the incoming one unless betterThan says otherwise — keep
    // the better of the two (same id + same score compares NOT better, so
    // the identical-score fast path still returns here).
    var i = 0
    while (i < size) {
      if (ids(i) == id) {
        if (!betterThan(s, isNull, id, i)) return
        var j = i
        while (j < size - 1) {
          ids(j) = ids(j + 1); scores(j) = scores(j + 1); nulls(j) = nulls(j + 1)
          j += 1
        }
        size -= 1
        i = size
      } else i += 1
    }
    var pos = size
    while (pos > 0 && betterThan(s, isNull, id, pos - 1)) pos -= 1
    if (pos >= k) return
    val end = math.min(size, k - 1)
    var j = end
    while (j > pos) {
      ids(j) = ids(j - 1); scores(j) = scores(j - 1); nulls(j) = nulls(j - 1)
      j -= 1
    }
    ids(pos) = id; scores(pos) = s; nulls(pos) = isNull
    if (size < k) size += 1
  }
}

/** `graft_topk(score, id, k)` → array<struct<id, score>> of the group's k
  * best rows, best first. A [[TypedImperativeAggregate]], so Spark plans it
  * as ObjectHashAggregate with a PARTIAL stage: each input partition reduces
  * to ≤ k entries per group before the exchange. */
case class BoundedTopKAgg(score: Expression, id: Expression, k: Int,
                          mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression] {

  require(k > 0, s"graft_topk: k must be positive, got $k")

  override def left: Expression = score
  override def right: Expression = id
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def checkInputDataTypes(): TypeCheckResult = (score.dataType, id.dataType) match {
    case (DoubleType, IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_topk expects (double score, int|long id), got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", id.dataType, nullable = false),
    StructField("score", DoubleType, nullable = true))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val idAny = id.eval(input)
    if (idAny != null) {
      val idVal = idAny match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      val sAny = score.eval(input)
      if (sAny == null) buffer.insert(0.0, isNull = true, idVal)
      else buffer.insert(sAny.asInstanceOf[Double], isNull = false, idVal)
    }
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) {
      buffer.insert(other.scores(i), other.nulls(i), other.ids(i))
      i += 1
    }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val isInt = id.dataType == IntegerType
    val rows = new Array[Any](buffer.size)
    var i = 0
    while (i < buffer.size) {
      val idOut: Any = if (isInt) buffer.ids(i).toInt else buffer.ids(i)
      val scoreOut: Any = if (buffer.nulls(i)) null else buffer.scores(i)
      rows(i) = new GenericInternalRow(Array[Any](idOut, scoreOut))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buffer.size * 17)
    bb.putInt(buffer.k).putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putLong(buffer.ids(i)).putDouble(buffer.scores(i))
        .put(if (buffer.nulls(i)) 1.toByte else 0.toByte)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      buf.ids(i) = bb.getLong(); buf.scores(i) = bb.getDouble(); buf.nulls(i) = bb.get() == 1
      i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(score = newLeft, id = newRight)
}

/** `graft_vec_sum(vec)` → array<double>: element-wise sum of numeric-array
  * rows. Bounded state (one dim-length double array per group per
  * partition) with map-side partial aggregation — a Lloyd/centroid mean
  * over a cell shuffles ONE array per (cell, partition) instead of
  * corpus×dim posexploded element rows. Null vectors are skipped (pair
  * with `count(vec)` for the mean); ragged inputs zero-extend. */
case class VecSumAgg(child: Expression,
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  override def nullable: Boolean = true
  override def prettyName: String = "graft_vec_sum"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_vec_sum expects a numeric array, got $other")
  }

  // lazy: a Column builder constructs this before its child is resolved
  private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  private def grown(buf: Array[Double], n: Int): Array[Double] =
    if (buf.length >= n) buf else java.util.Arrays.copyOf(buf, n)

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val arr = v.asInstanceOf[ArrayData]
      val out = grown(buffer, arr.numElements())
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) out(i) += CosineSimilarityExpr.numAt(arr, i, elemType)
        i += 1
      }
      out
    }
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] = {
    val out = grown(buffer, other.length)
    var i = 0
    while (i < other.length) { out(i) += other(i); i += 1 }
    out
  }

  override def eval(buffer: Array[Double]): Any =
    if (buffer.isEmpty) null else ArrayData.toArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buffer.length * 8)
    bb.putInt(buffer.length)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](bb.getInt())
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AnnExprs {
  // shared with GraftExtensions' injections (single source of literal decode)
  private[graft] def longs(e: Expression): Array[Long] =
    e.eval().asInstanceOf[ArrayData].toLongArray()
  private[graft] def doubles(e: Expression): Array[Double] =
    e.eval().asInstanceOf[ArrayData].toDoubleArray()

  /** Per-group top-`k` `(id, score)` structs, best first ([[BoundedTopKAgg]]);
    * an aggregate column, for use inside `.agg`. */
  def topK(score: Column, id: Column, k: Int): Column =
    column(BoundedTopKAgg(expression(score), expression(id), k).toAggregateExpression())
}
