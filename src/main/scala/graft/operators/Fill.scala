package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** forward_fill / backward_fill with optional limit
  * (reference: native_shim/src/expr.rs:1066-1101).
  *
  * Polars fills are positional on frame order; in a distributed plan an
  * explicit order column is required (documented semantic delta, SURVEY §7.1).
  * The `limit` variant bounds the fill distance in rows: implemented by also
  * carrying the row position of the last non-null and comparing distances —
  * still two window passes over one shuffle, no driver-side loops.
  *
  * The Column API with empty `partitionBy` is a single-partition global
  * window — fine inside a keyed group, a scale hazard standalone. For an
  * UNKEYED fill over a whole frame use [[fillGlobal]]: range-partitioned with
  * a broadcast boundary-carry pass, every partition fills in parallel.
  */
object Fill {

  def forwardFill(c: Column, order: Seq[Column], partitionBy: Seq[Column] = Seq.empty,
                  limit: Option[Int] = None): Column =
    fill(c, order, partitionBy, limit, forward = true)

  def backwardFill(c: Column, order: Seq[Column], partitionBy: Seq[Column] = Seq.empty,
                   limit: Option[Int] = None): Column =
    fill(c, order, partitionBy, limit, forward = false)

  private def fill(c: Column, order: Seq[Column], partitionBy: Seq[Column],
                   limit: Option[Int], forward: Boolean): Column = {
    val ordered = if (forward) order else order.map(_.desc)
    val w0 =
      (if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.toIndexedSeq: _*)
       else Window.partitionBy()).orderBy(ordered.toIndexedSeq: _*)
    val w = w0.rowsBetween(Window.unboundedPreceding, 0)
    val filled = last(c, ignoreNulls = true).over(w)
    limit match {
      case None => filled
      case Some(n) =>
        val rn = row_number().over(w0)
        val lastPos = max(when(c.isNotNull, rn)).over(w)
        when(c.isNotNull, c).otherwise(when(rn - lastPos <= lit(n), filled))
    }
  }

  /** Unkeyed whole-frame fill at scale (expr.rs:1066-1101, no partition case).
    *
    *   1. range-bucket on the fill order ([[RangeId.bucketed]]) — each
    *      partition computes its local fill (and the global row number via
    *      a broadcast prefix-sum of per-partition counts) fully in parallel;
    *   2. each partition's LAST non-null per column (one row per partition,
    *      ≤ shuffle-partitions rows total) gets a prefix carry over partition
    *      id — the value a partition inherits from all earlier ones — and is
    *      broadcast back onto the rows.
    *
    * One range exchange over the data plus a tiny single-partition window
    * over P rows; no task ever sees more than its own range. `limit` bounds
    * the fill distance in GLOBAL row positions across partition boundaries.
    */
  def fillGlobal(df: DataFrame, cols: Seq[String], order: Seq[Column],
                 forward: Boolean = true, limit: Option[Int] = None): DataFrame = {
    val ordered = (if (forward) order else order.map(_.desc)).toIndexedSeq
    val parted = RangeId.bucketed(df, order, order.map(_ => forward))
    val w0 = Window.partitionBy("__pid").orderBy(ordered: _*)
    val w = w0.rowsBetween(Window.unboundedPreceding, 0)
    val withRn = parted.withColumn("__rn", row_number().over(w0))

    // per-partition stats: row count + last non-null (value, local position) per column
    val statAggs = count(lit(1)).as("__cnt") +:
      cols.map(cn => max(when(col(cn).isNotNull, struct(col("__rn").as("p"), col(cn).as("v")))).as(s"__last_$cn"))
    // offsets: rows before this partition; carried: latest earlier non-null globalized
    var stats = withRn.groupBy("__pid").agg(statAggs.head, statAggs.tail.toIndexedSeq: _*)
      .withColumn("__off", RangeId.offset(col("__cnt")))
    for (cn <- cols) stats = stats
      .withColumn(s"__g_$cn", struct((col(s"__last_$cn.p") + col("__off")).as("p"), col(s"__last_$cn.v").as("v")))
      .withColumn(s"__carry_$cn", last(when(col(s"__last_$cn").isNotNull, col(s"__g_$cn")), ignoreNulls = true).over(RangeId.before))
    val bounds = stats.select(col("__pid") +: col("__off") +: cols.map(cn => col(s"__carry_$cn")): _*)

    val joined = withRn.join(broadcast(bounds), Seq("__pid"))
      .withColumn("__grn", col("__rn") + col("__off"))
    val outCols = df.columns.map { cn =>
      if (!cols.contains(cn)) col(cn)
      else {
        val c = col(cn)
        val localFill = last(c, ignoreNulls = true).over(w)
        val localPos = max(when(c.isNotNull, col("__rn"))).over(w)
        val carried = col(s"__carry_$cn")
        val localOk = limit.map(n => col("__rn") - localPos <= lit(n)).getOrElse(lit(true))
        val carryOk = limit.map(n => col("__grn") - carried("p") <= lit(n)).getOrElse(lit(true))
        when(c.isNotNull, c)
          .otherwise(when(localPos.isNotNull, when(localOk, localFill))
          .otherwise(when(carryOk, carried("v"))))
          .as(cn)
      }
    }
    joined.select(outCols.toIndexedSeq: _*)
  }
}
