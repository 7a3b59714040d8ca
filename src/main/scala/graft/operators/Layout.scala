package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for scan
  * pruning — the standard answer to "my 100 TB table is filtered on two or
  * three columns and no single sort order serves them all". Sorting by the
  * interleaved-bit Z-value clusters rows so that EVERY interleaved column
  * has a bounded value range within each row group; parquet footer min/max
  * stats then let the reader skip the row groups a filter on ANY of those
  * columns cannot match (a single-column sort gives this for one column and
  * destroys it for the rest).
  *
  * Kept to Spark-native bitwise expressions (shift/and/or — whole-stage
  * codegen'd): the curve is pure integer arithmetic, so composition beats a
  * custom Expression here, and the identical formula is reproducible in any
  * engine (the q80 oracle mirrors it verbatim in SQL).
  */
object Layout {

  /** Z-value (Morton code) of bounded non-negative ints: bit `i` of
    * `cols(j)` lands at position `i * cols.size + j`. Callers bound each
    * column into `[0, 2^bits)` first (e.g. `pmod`, quantized rank —
    * anything deterministic); values outside the range would silently
    * alias, so the low `bits` bits are masked explicitly. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1, "zValue: at least one column")
    require(bits >= 1 && bits * n <= 63, s"zValue: bits*cols must fit a long, got $bits*$n")
    cols.zipWithIndex.flatMap { case (c, j) =>
      val cl = c.cast("long")
      (0 until bits).map(i =>
        shiftleft(shiftright(cl, i).bitwiseAND(lit(1L)), i * n + j))
    }.reduce(_ bitwiseOR _)
  }

  /** Sentinel for `targetFiles`: derive the file/partition count from the
    * input ([[autoTargetFiles]]). */
  val AutoFiles = 0

  /** Self-sizing file/partition count for a layout write (r16 directive 3):
    * `max(session shuffle parallelism, ceil(inputBytes / (2 * blockBytes)))`.
    *
    * The two levers, in order of which binds:
    *  - **bytes rule** — one output file per ~2 row groups of input keeps
    *    files row-group-aligned and the file count bounded (100 TB at the
    *    128 MB default block → ~400k files, a normal lakehouse table);
    *  - **parallelism floor** — never fewer range partitions than the
    *    session's shuffle parallelism: each partition is sorted by ONE
    *    task, so fewer partitions than lanes both idles the cluster and
    *    hands each sorter more than its execution-memory share. This is
    *    exactly the r15 sf10 spill: a fixed `targetFiles = 4` (sized for
    *    an sf0.1 pruning demo) put ~15M rows in each of four sorters at
    *    100x data and spilled 418 MB; at the session floor (32) the same
    *    write sorts ~1.9M rows per task and stays in memory.
    *
    * The session's `spark.sql.shuffle.partitions` is already the knob a
    * deployment sizes to its cluster, so the floor scales with the
    * environment for free. Capped at 4M files as a runaway-stats guard. */
  def autoTargetFiles(inputBytes: BigInt, blockBytes: Long,
                      parallelism: Int): Int = {
    require(blockBytes > 0, s"autoTargetFiles: blockBytes must be positive, got $blockBytes")
    require(parallelism > 0, s"autoTargetFiles: parallelism must be positive, got $parallelism")
    val perFile = BigInt(2L * blockBytes)
    val byBytes = (inputBytes.max(0) + perFile - 1) / perFile
    (BigInt(parallelism).max(byBytes)).min(BigInt(1 << 22)).toInt
  }

  /** Is a Catalyst size estimate MEANINGFUL for auto-sizing, and if not,
    * collapse it to 0 (= "unknown", which [[autoTargetFiles]] resolves to
    * the parallelism floor)? Three unknown signatures (ADVICE r16 + r17):
    *
    *  - `est == confDefault`: a stat-less leaf reports the
    *    spark.sql.defaultSizeInBytes sentinel VERBATIM — unknown at any
    *    configured default, including deployments that lowered it (where
    *    a genuine large estimate must NOT collapse just for exceeding the
    *    lowered value);
    *  - `est >= confDefault` while the default is itself implausibly
    *    large (the stock Long.MaxValue regime): sums/products of
    *    sentinel-bearing children land at or above it;
    *  - `est > 4 PiB` regardless of the conf: a join-multiplied estimate
    *    just below a large sentinel is still garbage, and no single
    *    DataFrame write this heuristic can size lands beyond a few PiB. */
  private[graft] def knownSize(est: BigInt, confDefault: Long): BigInt = {
    val maxPlausible = BigInt(4L) << 50
    val sentinelRegime = BigInt(confDefault) >= maxPlausible
    if (est == BigInt(confDefault) || (sentinelRegime && est >= BigInt(confDefault)) ||
        est > maxPlausible) BigInt(0)
    else est
  }

  /** Write `df` as parquet Z-ordered on `cols` (each masked to `bits`):
    * one range exchange on the Z-value (sampled boundaries), an
    * in-partition sort, and the layout column dropped before the write.
    * `targetFiles` bounds output files — omit it (or pass [[AutoFiles]])
    * to size from the input via [[autoTargetFiles]] (the production
    * default; explicit values are for demos/tests that pin a group
    * geometry); `blockBytes` sets the parquet row-group size — the
    * pruning granularity (smaller groups = finer skipping = more footer
    * overhead; 128 MB default is right for 100 TB, tests shrink it to
    * force multi-group files at toy scale).
    *
    * Like bucketing (q70), the exchange is paid ONCE at layout time and
    * amortized over every subsequent scan: a filter on any interleaved
    * column reads only the row groups whose min/max straddle it. */
  def writeZOrdered(df: DataFrame, cols: Seq[String], bits: Int, path: String,
                    targetFiles: Int = AutoFiles, blockBytes: Long = 128L << 20,
                    sizingBlockBytes: Long = 0L): Unit =
    writeZBy(df, zValue(cols.map(c => pmod(col(c).cast("long"), lit(1L << bits))), bits),
      path, targetFiles, blockBytes, sizingBlockBytes)

  /** Quantile-rank quantization of each column into `[0, 2^bits)`: ONE
    * aggregation computes `2^bits - 1` approximate quantile boundaries per
    * column (mergeable sketch — a bounded 1-row collect, SCALE_CONTRACTS),
    * which ride back as plan literals into a narrow O(log 2^bits) binary
    * search per row ([[graft.plans.BucketizeExpr]]). This is what makes the
    * Z-curve work on REAL columns: raw `pmod` masking keeps only the low
    * bits, which scrambles locality for any column wider than `2^bits`
    * (LayoutSpec measures the difference on a skewed wide dimension), while
    * rank space is bounded, near-uniform, and monotone in the original
    * value — so range filters translate to rank ranges. */
  def quantizedRank(df: DataFrame, cols: Seq[String], bits: Int,
                    accuracy: Int = 10000): Seq[Column] = {
    val nb = 1 << bits
    val probs = (1 until nb).map(_.toDouble / nb)
    val aggs = cols.map(c =>
      percentile_approx(col(c).cast("double"), typedLit(probs), lit(accuracy)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      require(!row.isNullAt(i), s"quantizedRank: column $c has no non-null values")
      val bounds = row.getSeq[Double](i)
      graft.plans.LayoutExprs.bucketize(col(c).cast("double"), bounds.toArray)
    }
  }

  /** [[writeZOrdered]] with each column mapped to quantile-rank space
    * first — the variant for skewed or unbounded columns. */
  def writeZOrderedByRank(df: DataFrame, cols: Seq[String], bits: Int,
                          path: String, targetFiles: Int = AutoFiles,
                          blockBytes: Long = 128L << 20,
                          sizingBlockBytes: Long = 0L): Unit =
    writeZBy(df, zValue(quantizedRank(df, cols, bits), bits),
      path, targetFiles, blockBytes, sizingBlockBytes)

  /** `sizingBlockBytes` (r18 verdict item 6) decouples the FILE-COUNT
    * derivation from the row-group geometry: a diagnostic write that
    * shrinks `blockBytes` to force multi-group files at toy scale (q81's
    * 16 KiB) must not let that demo geometry explode the auto-derived file
    * count — pass the production block size here (0 = use `blockBytes`,
    * the right default when the two are the same thing). */
  private def writeZBy(df: DataFrame, z: Column, path: String,
                       targetFiles: Int, blockBytes: Long,
                       sizingBlockBytes: Long = 0L): Unit = {
    // a negative count is a caller sign bug — fail fast instead of silently
    // routing it to auto-sizing (only the documented AutoFiles sentinel, 0,
    // or an omitted argument selects auto)
    require(targetFiles >= 0,
      s"writeZOrdered: targetFiles must be >= 0 (0 = auto-size), got $targetFiles")
    require(sizingBlockBytes >= 0,
      s"writeZOrdered: sizingBlockBytes must be >= 0 (0 = blockBytes), got $sizingBlockBytes")
    val conf = df.sparkSession.sessionState.conf
    val files =
      if (targetFiles > 0) targetFiles
      else {
        // size-estimate sentinel guard (ADVICE r16/r17): see [[knownSize]]
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        autoTargetFiles(knownSize(est, conf.defaultSizeInBytes),
          if (sizingBlockBytes > 0) sizingBlockBytes else blockBytes,
          conf.numShufflePartitions)
      }
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", blockBytes)
      .parquet(path)
  }

  /** Per-row-group min/max statistics of a parquet table's numeric columns
    * — the footer metadata the reader prunes with, surfaced as a frame:
    * `(file, row_group, column, min_value, max_value, num_rows)`. The
    * diagnostic behind "is this table worth Z-ordering, and what did the
    * layout buy": see [[clusteringFactor]].
    *
    * Scale shape: footer reads are DISTRIBUTED — the file list parallelizes
    * and each task opens only its own files' footers (metadata, not data),
    * so a 100k-file table costs one footer round per file spread over the
    * cluster, nothing driver-side. Tasks open files through the SESSION's
    * Hadoop configuration, serialized into the closure (r13 directive 4) —
    * so filesystems needing session credentials or registered schemes
    * (s3a/abfs) work exactly where `spark.read` does (LayoutSpec proves it
    * with a conf-registered filesystem scheme a default `Configuration`
    * cannot resolve). */
  def rowGroupStats(spark: org.apache.spark.sql.SparkSession, path: String,
                    cols: Seq[String]): DataFrame = {
    import org.apache.parquet.column.statistics._
    val want = cols.toSet
    val files = spark.read.parquet(path).inputFiles.toSeq
    val confBox = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.length, 64)))
      .flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), confBox.value)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
            case (block, gi) =>
              block.getColumns.asScala.toSeq.flatMap { cc =>
                val name = cc.getPath.toDotString
                val st = cc.getStatistics
                if (!want.contains(name) || st == null || st.isEmpty) None
                else {
                  val mm: Option[(Double, Double)] = st match {
                    case s: LongStatistics => Some((s.getMin.toDouble, s.getMax.toDouble))
                    case s: IntStatistics => Some((s.getMin.toDouble, s.getMax.toDouble))
                    case s: DoubleStatistics => Some((s.getMin, s.getMax))
                    case s: FloatStatistics => Some((s.getMin.toDouble, s.getMax.toDouble))
                    case _ => None // binary/boolean stats carry no numeric range
                  }
                  mm.map { case (mn, mx) =>
                    (f, gi, name, mn, mx, block.getRowCount)
                  }
                }
              }
          }
        } finally reader.close()
      }
    spark.createDataFrame(rows)
      .toDF("file", "row_group", "column", "min_value", "max_value", "num_rows")
  }

  /** Clustering quality from [[rowGroupStats]]: per column, the row-count-
    * weighted mean fraction of the GLOBAL value range each row group's
    * `[min, max]` spans. 1.0 ≈ every group covers the whole range (no
    * filter on this column can skip anything); → 0 as groups become
    * disjoint slivers (a range filter skips almost everything). A Z-order
    * on d columns bounds each at roughly `(groupRows / totalRows)^(1/d)` —
    * the number that tells you whether a (re-)layout is worth the exchange
    * before paying for it. */
  def clusteringFactor(stats: DataFrame): DataFrame = {
    val g = stats.groupBy(col("column")).agg(
      min(col("min_value")).as("__gmin"), max(col("max_value")).as("__gmax"),
      sum(col("num_rows")).as("__n"))
    stats.join(broadcast(g), Seq("column"))
      .withColumn("__w",
        when(col("__gmax") > col("__gmin"),
          (col("max_value") - col("min_value")) / (col("__gmax") - col("__gmin")))
          .otherwise(lit(0.0)))
      .groupBy(col("column"))
      .agg((sum(col("__w") * col("num_rows")) / sum(col("num_rows")))
        .as("clustering_factor"))
  }
}

/** Java-serializable carrier for a Hadoop `Configuration` (which is
  * `Writable`, not `Serializable`) — the standard write/readFields envelope,
  * so executor closures can open files with the SESSION's filesystem
  * credentials and scheme registrations instead of a default config. */
final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}
