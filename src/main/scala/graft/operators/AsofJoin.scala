package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Durations

/** As-of join — the reference's one genuinely novel relational operator
  * (reference: native_shim/src/lazy.rs:501-569 `pl_lazy_join_asof`; strategy
  * map at lazy.rs:526-531, tolerance parse at lazy.rs:533-547; C#
  * LazyFrame.cs:529-572; README.md:44-58 trades/quotes example).
  *
  * Spark has no asof primitive. The scalable formulation is the union+window
  * composition: tag rows by side, sort each `by`-group by (time, side-tag),
  * and carry the most recent right-side row forward with
  * `last(struct, ignoreNulls)` — ONE shuffle on (by, time), no range-join row
  * explosion, skew-safe under AQE. A range-join would be O(|L|·|R|) per group;
  * this is O((|L|+|R|) log) via sort — the plan you want at 100 TB.
  *
  * Strategies: backward (match latest right.time <= left.time), forward
  * (earliest right.time >= left.time), nearest (closer of the two; ties →
  * backward, matching Polars). `allowEq=false` makes the comparisons strict.
  * Tolerance (duration string or µs) nulls out matches farther than the bound.
  *
  * Nearest runs as ONE window pass too: the backward match is
  * `last(__rstruct) over range(-inf, 0]` and the forward match
  * `first(__rstruct) over range[0, +inf)` on the SAME (by, __t) sort — Spark
  * plans both frames into a single WindowExec, so nearest costs one exchange
  * like backward, not two plans + an id join.
  */
object AsofJoin {

  sealed trait Strategy
  case object Backward extends Strategy
  case object Forward extends Strategy
  case object Nearest extends Strategy

  def join(left: DataFrame, right: DataFrame,
           leftOn: String, rightOn: String,
           by: Seq[(String, String)] = Seq.empty, // (leftBy, rightBy) pairs
           strategy: Strategy = Backward,
           tolerance: Option[String] = None,
           allowEq: Boolean = true): DataFrame = {

    val tolUs: Option[Long] = tolerance.map(Durations.parseMicros)

    // right-side payload = all right columns except the on/by keys
    val rightByCols = by.map(_._2)
    val payloadCols = right.columns.filterNot(c => c == rightOn || rightByCols.contains(c)).toSeq
    // resolve output-name collisions with the Polars "_right" suffix
    val leftNames = left.columns.toSet
    val outName: Map[String, String] =
      payloadCols.map(c => c -> (if (leftNames.contains(c)) s"${c}_right" else c)).toMap

    strategy match {
      case Nearest =>
        nearest(left, right, leftOn, rightOn, by, tolUs, allowEq, payloadCols, outName)
      case _ =>
        directional(left, right, leftOn, rightOn, by, strategy == Backward, tolUs, allowEq,
          payloadCols, outName)
    }
  }

  /** Union both sides into one frame shaped (by..., __t µs, __side, __rstruct,
    * left columns) — the shared prep for every strategy. */
  private def unionPrep(left: DataFrame, right: DataFrame,
                        leftOn: String, rightOn: String,
                        by: Seq[(String, String)],
                        payloadCols: Seq[String]): DataFrame = {
    val byOut = by.map(_._1)
    val tUs = (c: Column) => unix_micros(c.cast("timestamp"))

    val lPrep = left
      .withColumn("__t", tUs(col(leftOn)))
      .withColumn("__side", lit(1))

    // right payload packed into one struct → a single last()/first() window call
    val rStruct = struct((col(rightOn).as("__rt") +:
      payloadCols.map(c => col(c).as(c))).toIndexedSeq: _*)
    val rPrep0 = right
      .withColumn("__t", tUs(col(rightOn)))
      .withColumn("__side", lit(0))
      .withColumn("__rstruct", rStruct)
    val rPrep = by.foldLeft(rPrep0) { case (acc, (lb, rb)) =>
      if (lb == rb) acc else acc.withColumnRenamed(rb, lb)
    }

    val lCols = left.columns.toSeq
    val commonSel: Seq[String] = byOut ++ Seq("__t", "__side")
    val lSel = lPrep.select((commonSel.map(col) ++ Seq(lit(null).cast(rPrep.schema("__rstruct").dataType).as("__rstruct")) ++
      lCols.filterNot(byOut.contains).map(col)).toIndexedSeq: _*)
    val rSel = rPrep.select((commonSel.map(col) ++ Seq(col("__rstruct")) ++
      lCols.filterNot(byOut.contains).map(c => lit(null).cast(left.schema(c).dataType).as(c))).toIndexedSeq: _*)

    lSel.unionByName(rSel)
  }

  /** One directional pass (backward or forward) of the union+window plan. */
  private def directional(left: DataFrame, right: DataFrame,
                          leftOn: String, rightOn: String,
                          by: Seq[(String, String)],
                          backward: Boolean,
                          tolUs: Option[Long],
                          allowEq: Boolean,
                          payloadCols: Seq[String],
                          outName: Map[String, String]): DataFrame = {
    val byOut = by.map(_._1)
    val lCols = left.columns.toSeq
    val unioned = unionPrep(left, right, leftOn, rightOn, by, payloadCols)

    // sort: time asc; at equal time, right rows first iff equality allowed
    // (so last() sees them); reversed for forward via descending time order.
    val sideOrder = if (allowEq) col("__side").asc else col("__side").desc
    val tOrd = if (backward) col("__t").asc else col("__t").desc
    // the carried match column, named as [[unkeyed]] names it
    val m = if (backward) "__bm" else "__fm"

    val matched =
      if (by.nonEmpty) {
        val w = Window.partitionBy(byOut.map(col).toIndexedSeq: _*)
          .orderBy(tOrd, sideOrder)
          .rowsBetween(Window.unboundedPreceding, 0)
        unioned.withColumn(m, last(col("__rstruct"), ignoreNulls = true).over(w))
      } else {
        unkeyed(unioned, sideOrder, Seq(backward))
      }
    val onlyLeft = matched.filter(col("__side") === 1)

    // tolerance: null the match when |l.t - r.t| > tol
    val withTol = tolUs match {
      case Some(us) =>
        onlyLeft.withColumn(m,
          when(abs(col("__t") - unix_micros(col(s"$m.__rt").cast("timestamp"))) <= lit(us),
            col(m)))
      case None => onlyLeft
    }

    val base = lCols.map(col) ++
      payloadCols.map(c => col(s"$m.$c").as(outName(c)))
    withTol.select(base.toIndexedSeq: _*)
  }

  /** Nearest = backward ∧ forward over ONE exchange. Both matches are the
    * SAME running carry the directional passes use (`last(__rstruct) over
    * rows[-inf, 0]` with the (time, side-tag) sort — proven by the q21/q23
    * oracles), computed as two window columns whose orderings differ only in
    * time direction. Same partition keys ⇒ Spark plans ONE exchange with a
    * re-sort between the two WindowExecs — nearest costs a single shuffle
    * like backward (the old implementation ran the whole plan twice and
    * re-joined on monotonically_increasing_id: 3 shuffles + an id join).
    *
    * Running rows-frames are load-bearing here: the tempting one-sort
    * formulation — forward as `first() over range[0, +inf)` — plans an
    * UnboundedFollowing frame, which Spark evaluates by rebuilding the
    * aggregate buffer from each row to partition end: O(n²) per partition,
    * exactly the sliding-frame trap README documents. Two O(n) running
    * frames + one extra sort beat one quadratic frame at any useful size.
    */
  private def nearest(left: DataFrame, right: DataFrame,
                      leftOn: String, rightOn: String,
                      by: Seq[(String, String)],
                      tolUs: Option[Long],
                      allowEq: Boolean,
                      payloadCols: Seq[String],
                      outName: Map[String, String]): DataFrame = {
    val byOut = by.map(_._1)
    val lCols = left.columns.toSeq
    val unioned = unionPrep(left, right, leftOn, rightOn, by, payloadCols)

    // at equal time, right rows enter the carry iff equality is allowed —
    // identical tie rule to the directional passes
    val sideOrder = if (allowEq) col("__side").asc else col("__side").desc

    val matched =
      if (by.nonEmpty) {
        val byCols = byOut.map(col).toIndexedSeq
        val wB = Window.partitionBy(byCols: _*).orderBy(col("__t").asc, sideOrder)
          .rowsBetween(Window.unboundedPreceding, 0)
        val wF = Window.partitionBy(byCols: _*).orderBy(col("__t").desc, sideOrder)
          .rowsBetween(Window.unboundedPreceding, 0)
        unioned
          .withColumn("__bm", last(col("__rstruct"), ignoreNulls = true).over(wB))
          .withColumn("__fm", last(col("__rstruct"), ignoreNulls = true).over(wF))
      } else {
        unkeyed(unioned, sideOrder, Seq(true, false))
      }

    val onlyLeft = matched.filter(col("__side") === 1)

    // tolerance nulls each directional candidate independently, then the
    // nearer survivor wins (ties → backward, matching Polars)
    def dist(m: Column) = abs(col("__t") - unix_micros(m.getField("__rt").cast("timestamp")))
    val withTol = tolUs match {
      case Some(us) =>
        onlyLeft
          .withColumn("__bm", when(dist(col("__bm")) <= lit(us), col("__bm")))
          .withColumn("__fm", when(dist(col("__fm")) <= lit(us), col("__fm")))
      case None => onlyLeft
    }
    val useB = col("__fm").isNull ||
      (col("__bm").isNotNull && dist(col("__bm")) <= dist(col("__fm")))
    val out = lCols.map(col) ++ payloadCols.map { c =>
      when(useB, col("__bm").getField(c)).otherwise(col("__fm").getField(c)).as(outName(c))
    }
    withTol.select(out.toIndexedSeq: _*)
  }

  /** Scale path for as-of WITHOUT `by` keys (legal in the reference,
    * lazy.rs:501-569); a bare `Window.partitionBy()` would serialize the
    * whole dataset through one task. `backward` lists the carries to run
    * (true → `__bm`, false → `__fm`; nearest runs both):
    *
    *   1. range-bucket on `__t` alone ([[RangeId.bucketed]]) — equal times
    *      always share a bucket, so the in-bucket (time, side) sort resolves
    *      allowEq exactly like the keyed path, and every bucket runs its
    *      running carry (`last(__rstruct, ignoreNulls)`) in parallel;
    *   2. each bucket's extreme right rows (≤P summary rows) get a prefix
    *      (backward) / suffix (forward) carry over the bucket order and are
    *      broadcast back to patch rows the bucket itself could not match.
    *
    * Earlier buckets hold strictly smaller times and later ones strictly
    * larger, so a patched match always satisfies the allowEq edge — no
    * equality guard on the boundary. */
  private def unkeyed(unioned: DataFrame, sideOrder: Column,
                      backward: Seq[Boolean]): DataFrame = {
    val parted = RangeId.bucketed(unioned, Seq(col("__t")), Seq(true))
    def name(b: Boolean) = if (b) "__bm" else "__fm"
    val running = backward.foldLeft(parted) { (acc, b) =>
      val w = Window.partitionBy("__pid")
        .orderBy(if (b) col("__t").asc else col("__t").desc, sideOrder)
        .rowsBetween(Window.unboundedPreceding, 0)
      acc.withColumn(name(b), last(col("__rstruct"), ignoreNulls = true).over(w))
    }
    // per-bucket extreme right rows; (t, rstruct) structs compare by time
    // first, so max/min pick the latest/earliest right row of the bucket
    val pick = when(col("__side") === 0, struct(col("__t"), col("__rstruct")))
    val edges = backward.map(b => (if (b) max(pick) else min(pick)).as(name(b) + "_e"))
    val carried = backward.foldLeft(
        parted.groupBy("__pid").agg(edges.head, edges.tail: _*)) { (acc, b) =>
      val e = col(name(b) + "_e")
      acc.withColumn(name(b) + "_e",
        if (b) last(e, ignoreNulls = true).over(RangeId.before)
        else first(e, ignoreNulls = true).over(RangeId.after))
    }
    backward.foldLeft(running.join(broadcast(carried), Seq("__pid"), "left")) { (acc, b) =>
      acc.withColumn(name(b), coalesce(col(name(b)), col(name(b) + "_e.__rstruct")))
    }.drop("__pid" +: backward.map(name(_) + "_e"): _*)
  }
}
