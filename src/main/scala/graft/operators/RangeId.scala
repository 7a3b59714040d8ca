package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Deterministic, VALUE-derived range-bucket ids and the shared carry plan
  * of the global (unkeyed) operators (`Rolling.fixedGlobal`/`timeGlobal`,
  * `Fill.fillGlobal`, `Prep.shuffled`/`packGlobal`, `AsofJoin`'s unkeyed
  * path). Every one of them runs the same plan, built here:
  * [[bucketed]] (value-derived bucket id → hash exchange on it) → a
  * ≤P-row per-bucket summary → a prefix/suffix window over the summary
  * ([[before]]/[[after]]/[[offset]]) → broadcast join back onto the rows.
  *
  * WHY THIS EXISTS (r17 sf1-oracle catch): those operators used
  * `repartitionByRange` + `spark_partition_id()`, then referenced the
  * partitioned frame from SEVERAL plan subtrees (the data rows, the
  * per-partition offset/boundary aggregates, the context-duplication
  * candidates). Catalyst prunes each subtree independently, so the range
  * exchange instances are NOT canonically equal and ReuseExchange cannot
  * dedupe them — and `RangePartitioner` samples its split points with a
  * seed derived from each instance's RDD id, so two instances can pick
  * DIFFERENT boundaries. The `spark_partition_id` spaces then disagree
  * and the boundary math silently corrupts a partition edge. At sf0.1 and
  * below the sampling is effectively exhaustive and the instances agree —
  * the bug first fired on the sf1 oracle pass (q45: one spurious rolling
  * restart; q46: an undercounted window; nondeterministic across runs).
  *
  * The fix: make the bucket id a PURE FUNCTION of the order-key values.
  * One bounded, seeded, driver-side sample of the key columns picks
  * `nPart - 1` split points ONCE at plan-construction time; they ride
  * into the plan as literals inside a codegen-friendly comparison chain
  * (`id = Σ_b [key sorts after b]` — lexicographic over the key columns,
  * honoring per-column direction and Spark's null placement). Every plan
  * branch then computes the identical id for a row no matter how AQE
  * partitions, coalesces, or re-samples any physical exchange; equal keys
  * always share a bucket (ties never split). Downstream, the operators
  * hash-partition on the id column (`repartition(n, col(id))`), which any
  * window over `partitionBy(id)` reuses exchange-free.
  *
  * Driver-side bound (SCALE_CONTRACTS.md): the sample collect holds
  * `max(2, ceil(60·nPart / inputPartitions))` keys per input partition —
  * ~60·nPart total rows of ONLY the key columns. Unweighted sample
  * quantiles (unlike Spark's weighted re-sampling) can skew bucket SIZES
  * under heavily imbalanced input partitions — a performance trade, never
  * correctness: the operators' offset/boundary math is bucket-size
  * agnostic, and an empty bucket simply contributes no rows.
  */
private[graft] object RangeId {

  /** Spark's BinaryType order: unsigned lexicographic bytes, shorter
    * prefix first — java's signed-byte compare would misorder 0x80+. */
  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Spark-SQL-order comparison of two non-null key values. Strings
    * compare as UTF-8 binary (Spark semantics), NOT java.lang.String
    * UTF-16 order — a split point between surrogate-bearing strings must
    * agree with the engine's sort; binary compares unsigned. Complex key
    * types never reach here: [[withRangeId]] rejects them at
    * plan-construction time. */
  private def compareAny(x: Any, y: Any): Int = (x, y) match {
    case (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    case (a: Array[Byte], b: Array[Byte]) => compareBytes(a, b)
    case (a: java.lang.Comparable[_], _) =>
      a.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"RangeId: unorderable key type ${x.getClass.getName}")
  }

  /** Total order over key rows: field-by-field with per-field direction,
    * Spark default null placement (asc: nulls FIRST, desc: nulls LAST). */
  private final class KeyOrdering(asc: Array[Boolean])
      extends Ordering[Row] with Serializable {
    override def compare(a: Row, b: Row): Int = {
      var i = 0
      while (i < asc.length) {
        val x = a.get(i)
        val y = b.get(i)
        val c =
          if (x == null && y == null) 0
          else if (x == null) -1
          else if (y == null) 1
          else compareAny(x, y)
        val d = if (asc(i)) c else -c
        if (d != 0) return d
        i += 1
      }
      0
    }
  }

  /** `df` plus an `idCol` in `[0, nPart)` that is a pure function of the
    * `keys` tuple under the per-column `asc` directions: equal tuples share
    * an id, and id order equals tuple sort order. Runs one bounded sampling
    * job eagerly (see object doc).
    *
    * The id rides into the plan as ONE
    * [[graft.plans.RangeBucketExpr]] — binary search over the sorted bound
    * table, O(log nPart) comparisons per row (r17 verdict item 3: the
    * previous `Σ when(sortsAfter(b), 1)` literal chain evaluated all
    * nPart−1 lexicographic predicates on every row, O(P) work and O(P)
    * generated code at a production shuffle-partition count).
    *
    * `sampleFrom` (r17 verdict item 4): where to SAMPLE the split points —
    * defaults to `df` itself. When `df` sits atop an expensive pipeline
    * (q53: packGlobal over span-dedup survivors), the sampling job re-runs
    * that whole lineage just to look at the key columns; a caller that
    * owns a CHEAP frame with the same key distribution (the raw scan the
    * pipeline started from) passes it here and the sampling job collapses
    * to a pruned scan. Correctness never depends on which rows informed
    * the split points — the id stays a pure function of the key values
    * under whatever bound table was picked; a skewed sample only skews
    * bucket SIZES (the object-doc trade). The frame must expose the `keys`
    * columns with the same types. */
  def withRangeId(df: DataFrame, keys: Seq[Column], asc: Seq[Boolean],
                  nPart: Int, idCol: String,
                  sampleFrom: Option[DataFrame] = None): DataFrame = {
    require(keys.nonEmpty && keys.length == asc.length,
      s"RangeId: ${keys.length} keys vs ${asc.length} directions")
    require(nPart >= 1, s"RangeId: nPart must be positive, got $nPart")
    // fail-fast key-type check (ADVICE r17): complex key types would
    // otherwise surface as an opaque compareAny IllegalArgumentException
    // from inside the sampling job — reject them HERE, at plan
    // construction, with the column named. Atomic types (numerics,
    // string, binary, date/timestamp, decimal, boolean) all order
    // correctly through the sampled-bounds chain.
    val keySchema = df.select(keys: _*).schema
    keySchema.fields.foreach { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.MapType =>
          throw new IllegalArgumentException(
            s"RangeId: order key '${f.name}' has complex type " +
              s"${f.dataType.simpleString} — global (unkeyed) operators " +
              "require atomic order-key types (numeric, string, binary, " +
              "date/timestamp, decimal, boolean)")
        case _ => ()
      }
    }
    // sampleFrom type fail-fast (ADVICE r18): the catalyst converters below
    // are built from df's key schema but applied to rows sampled from
    // sampleFrom — a type mismatch would surface as an opaque
    // ClassCastException (or silently misordered bounds for coincidentally-
    // compatible runtime classes) instead of a named error
    sampleFrom.foreach { sf =>
      val sfTypes = sf.select(keys: _*).schema.fields.map(_.dataType).toSeq
      val dfTypes = keySchema.fields.map(_.dataType).toSeq
      require(sfTypes == dfTypes,
        s"RangeId: sampleFrom key types ${sfTypes.map(_.simpleString)} != " +
          s"df key types ${dfTypes.map(_.simpleString)}")
    }
    val boundRows = sampleBounds(sampleFrom.getOrElse(df), keys, asc, nPart)
    if (boundRows.isEmpty) df.withColumn(idCol, lit(0))
    else {
      // external sample Rows -> catalyst-internal bound rows (UTF8String,
      // micros longs, Decimal, ...) so the expression compares in the
      // engine's own value domain
      val convs = keySchema.fields.map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType))
      val internalBounds = boundRows.map { r =>
        Array.tabulate[Any](convs.length)(i => convs(i)(r.get(i)))
      }.toArray
      val bucket = graft.plans.RangeBucketExpr(
        keys.map(org.apache.spark.sql.graft.InternalBridge.expression),
        asc, internalBounds)
      df.withColumn(idCol, org.apache.spark.sql.graft.InternalBridge.column(bucket))
    }
  }

  /** `df` bucketed for a boundary-carry plan: a `__pid` range-bucket id
    * over the session's shuffle-partition count ([[withRangeId]]), then
    * hash-repartitioned on it so any window over `partitionBy("__pid")`
    * runs exchange-free. Every plan branch derived from the result —
    * the data rows, the per-bucket summary — computes the identical id
    * from the row's own keys, so no exchange-instance agreement is
    * required (the r17 sf1-oracle catch, see object doc). */
  def bucketed(df: DataFrame, keys: Seq[Column], asc: Seq[Boolean],
               sampleFrom: Option[DataFrame] = None): DataFrame = {
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    withRangeId(df, keys, asc, nPart, "__pid", sampleFrom)
      .repartition(nPart, col("__pid"))
  }

  /** Frames over the ≤P per-bucket summary rows (one row per non-empty
    * `__pid`, in bucket order): every bucket strictly before / strictly
    * after the current one. The single-task window runs over the bucket
    * COUNT, never over the data. */
  val before: WindowSpec = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
  val after: WindowSpec = Window.orderBy("__pid").rowsBetween(1, Window.unboundedFollowing)

  /** Exclusive per-bucket offset: the total of `x` over all earlier
    * buckets (0 for the first) — what lifts a bucket-local running total
    * or row number to its global value. */
  def offset(x: Column): Column = coalesce(sum(x).over(before), lit(0L))

  /** Up to `nPart - 1` strictly-increasing split points from a seeded
    * per-partition reservoir sample of the key columns (bounded collect —
    * see object doc). Deterministic for a given input layout. */
  private def sampleBounds(df: DataFrame, keys: Seq[Column],
                           asc: Seq[Boolean], nPart: Int): Seq[Row] = {
    if (nPart == 1) return Seq.empty
    val keyDf = df.select(keys.zipWithIndex.map { case (c, i) => c.as(s"__k$i") }: _*)
    val rdd = keyDf.rdd
    val numIn = math.max(1, rdd.getNumPartitions)
    val perPart = math.max(2, math.ceil(60.0 * nPart / numIn).toInt)
    val sample = rdd.mapPartitionsWithIndex { (pi, it) =>
      // deterministic per-partition reservoir (seed = f(partition index))
      val rng = new java.util.Random(0x9E3779B97F4A7C15L ^ (pi + 1).toLong)
      val buf = new Array[Row](perPart)
      var seen = 0L
      while (it.hasNext) {
        val r = it.next()
        if (seen < perPart) buf(seen.toInt) = r
        else {
          val j = (rng.nextDouble() * (seen + 1)).toLong
          if (j < perPart) buf(j.toInt) = r
        }
        seen += 1
      }
      buf.iterator.take(math.min(seen, perPart.toLong).toInt)
    }.collect()
    if (sample.isEmpty) return Seq.empty
    val ord = new KeyOrdering(asc.toArray)
    val sorted = sample.sorted(ord)
    val picked = (1 until nPart).map { i =>
      sorted(math.min(sorted.length - 1, i * sorted.length / nPart))
    }
    // strictly increasing: equal neighbors collapse (an empty bucket is
    // harmless; a non-monotone bound table would not be)
    picked.foldLeft(Vector.empty[Row]) { (out, b) =>
      if (out.nonEmpty && ord.compare(out.last, b) >= 0) out else out :+ b
    }
  }
}
