package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Durations

/** Structured-Streaming surface.
  *
  * The reference has no event-time streaming — its "streaming" is an
  * out-of-core batch engine plus Arrow-stream ingest (SURVEY §2.10), which
  * Spark's normal distributed execution already covers. This module is the
  * superset: the same dynamic-window semantics as
  * `graft.operators.DynamicGroupBy`, exposed over `readStream` with
  * watermarked event time, so a 100 TB/day pipeline can run the identical
  * query continuously.
  */
object StreamOps {

  /** Watermarked tumbling/sliding window aggregation on a streaming frame —
    * streaming twin of DynamicGroupBy (label=Left, closed=Left). */
  def windowedAgg(stream: DataFrame, timeCol: String,
                  every: String, period: Option[String] = None,
                  watermark: String = "10 minutes",
                  by: Seq[String] = Seq.empty)(aggs: Column*): DataFrame = {
    val everyUs = Durations.parseMicros(every)
    val periodUs = period.map(Durations.parseMicros).getOrElse(everyUs)
    val win = window(col(timeCol),
      Durations.microsToSparkInterval(periodUs),
      Durations.microsToSparkInterval(everyUs))
    stream
      .withWatermark(timeCol, watermark)
      .groupBy((win.as("__w") +: by.map(col)).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(timeCol, col("__w.start"))
      .drop("__w")
  }

  /** Streaming exact dedup — the continuous twin of `Dedup.exact`. Keeps
    * first-seen per key; per-key state is dropped once the watermark passes
    * it, so state stays bounded at any ingest volume (the property a
    * 100 TB/day dedup needs — an unbounded `dropDuplicates` would OOM its
    * state store). */
  def dedupStream(stream: DataFrame, keys: Seq[String], timeCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream INTERVAL join (the Flink `intervalJoin`
    * shape): each left row matches right rows of the same key whose event
    * time lies in `[leftTs - before, leftTs + after]`. Composes Spark's
    * native StreamingSymmetricHashJoin — both sides carry a watermark and
    * the condition bounds each side's event time against the other, so the
    * runtime derives a state watermark for BOTH buffers and evicts rows the
    * window can no longer reach: state is bounded by `before + after +
    * watermark` worth of traffic per key, not stream length — the property
    * a 100 TB/day correlation join needs. On batch frames the watermark
    * nodes are eliminated by the analyzer and this is a plain range join,
    * so one call site serves both engines (stream == batch, FidelitySpec).
    *
    * `joinType` may be `inner`, `left_outer`, `right_outer` or
    * `full_outer` (the full family Spark's symmetric hash join natively
    * finalizes): unmatched-LEFT nulls finalize once the watermark passes
    * `leftTs + after` (nothing that could still match can arrive), exactly
    * like the forward as-of face; unmatched-RIGHT nulls finalize once it
    * passes `rightTs + before` (a right row at rt matches lefts in
    * `[rt - after, rt + before]`). Right-side non-key column names must not
    * collide with left-side names (rename before joining); right-side key
    * columns are dropped from the output — for the right/full-outer types
    * the emitted key is `coalesce(left, right)` so unmatched-right rows
    * still carry their key.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String,
                   by: Seq[(String, String)],
                   before: String, after: String,
                   watermark: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    val beforeUs = Durations.parseMicros(before)
    val afterUs = Durations.parseMicros(after)
    require(beforeUs >= 0 && afterUs >= 0,
      s"interval bounds must be non-negative durations, got $before / $after")
    val sparkJt = joinType.toLowerCase.replace("_", "") match {
      case "inner"              => "inner"
      case "leftouter" | "left" => "left_outer"
      case "rightouter" | "right" => "right_outer"
      case "fullouter" | "full" | "outer" => "full_outer"
      case other => throw new IllegalArgumentException(
        s"intervalJoin supports inner/left_outer/right_outer/full_outer, got $other")
    }
    val outerRight = sparkJt == "right_outer" || sparkJt == "full_outer"
    val rKeys = by.map(_._2).toSet + rightTs
    val rCarry = right.columns.filterNot(rKeys.contains)
    val collide = (rCarry :+ rightTs).toSet.intersect(left.columns.toSet)
    require(collide.isEmpty,
      s"right-side columns collide with left: ${collide.mkString(", ")} — rename before joining")
    val l = left.withWatermark(leftTs, watermark).alias("__ij_l")
    val r = right.withWatermark(rightTs, watermark).alias("__ij_r")
    val lc = (c: String) => col(s"__ij_l.$c")
    val rc = (c: String) => col(s"__ij_r.$c")
    val cond = (by.map { case (lk, rk) => lc(lk) === rc(rk) } ++ Seq(
      rc(rightTs) >= lc(leftTs) - expr(s"interval $beforeUs microseconds"),
      rc(rightTs) <= lc(leftTs) + expr(s"interval $afterUs microseconds")))
      .reduce(_ && _)
    // for right/full outer, unmatched-right rows have null LEFT columns, so
    // the join keys must coalesce to the right's values to stay non-null
    val leftOut: Seq[Column] =
      if (!outerRight) left.columns.toSeq.map(lc)
      else left.columns.toSeq.map { c =>
        by.find(_._1 == c) match {
          case Some((lk, rk)) => coalesce(lc(lk), rc(rk)).as(lk)
          case None           => lc(c)
        }
      }
    l.join(r, cond, sparkJt)
      .select((leftOut ++ (rightTs +: rCarry.toSeq).map(rc)).toIndexedSeq: _*)
  }

  /** Unload every cached state-store provider. A stopped streaming query
    * leaves its providers in the executor-side provider cache until the
    * maintenance thread notices the query is gone (60 s default) — a
    * harness that starts many short-lived queries back-to-back (bench
    * reps, Verify) accumulates them as live memory in the meantime
    * (observed: the streaming faces inflating 1.3-1.8x under the no-clear
    * parity contract). Call after `query.stop()` when the query's state is
    * done; the next streaming query transparently reloads what it needs. */
  def releaseStateStores(): Unit =
    org.apache.spark.sql.graft.InternalBridge.unloadStateStores()

  /** Run `body` in a child session whose shuffle-partition count — and
    * therefore the STATE partition count of any stateful streaming query
    * first started inside it — is `n`. State partitioning is fixed at the
    * query's FIRST checkpoint and can never change afterwards, so it is a
    * genuine per-query sizing decision, not a session default: every
    * stateful operator pays per-partition-per-batch store-lifecycle costs
    * (with the default provider a stream-stream join commits four stores
    * per partition per micro-batch — measured: the q77 drive is
    * near-LINEAR in partition count at constant data, 8.0 s at 32
    * partitions vs 2.8 s at 8, BASELINE.md round-13 decomposition), while
    * too few partitions caps state-processing parallelism at scale. Size
    * `n` to expected state volume/throughput with [[suggestStatePartitions]]
    * or [[sizedStatePartitionsForInput]]: high-rate production topics
    * amortize many partitions; a low-rate stream wants few.
    *
    * The child keeps the default state provider: RocksDB
    * ([[withRocksDbStateStore]], one store per join partition) cuts the
    * per-batch commit of a small stream but made the sf0.1 interval-join
    * faces ~1.4x slower, whose batches carry tens of thousands of rows
    * (SCALE_CONTRACTS.md, "Streaming: per-micro-batch floor").
    *
    * The child shares the SparkContext, extensions, and catalog; only its
    * runtime SQLConf (and temp-view registry) is separate, so build the
    * `readStream` sources and start the query THROUGH the session `body`
    * receives. */
  def withStatePartitions[A](spark: org.apache.spark.sql.SparkSession, n: Int)
                            (body: org.apache.spark.sql.SparkSession => A): A = {
    require(n > 0, s"withStatePartitions: n must be positive, got $n")
    val child = stateSession(spark)
    child.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(child)
  }

  /** A child session of `spark` for stateful queries, without a
    * per-session artifact class loader. Spark's codegen cache is keyed on
    * the class loader; with isolation on, each started query (a clone of
    * its session) runs its tasks under a new loader and compiles its
    * generated classes again at every start (31 for the `perfbench`
    * interval join). The flag is set before the child's first use because
    * Spark's `ArtifactManager` reads it lazily. */
  private def stateSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val child = spark.newSession()
    child.conf.set("spark.sql.artifact.isolation.enabled", "false")
    child
  }

  /** Suggested state-partition count for a stateful query (r16 directive
    * 7), from the round-13 cost decomposition: per-batch wall is
    * near-LINEAR in partition count at constant data (each partition pays
    * fixed store-lifecycle work per batch — the q77 drive read 8.0 s at 32
    * partitions vs 2.8 s at 8, and the driver-graded q77s face holds a
    * 2.2-2.8x win from the same lever), so the RIGHT count is the
    * SMALLEST one whose per-partition state stays inside a working-memory
    * budget:
    *
    *   partitions = ceil(rowsPerSecond x horizonSeconds x bytesPerRow
    *                     / maxPartitionStateBytes)
    *
    * where the numerator is the steady-state buffered volume (a
    * watermarked stateful op holds one HORIZON of traffic: watermark
    * delay + window/interval span), and `maxPartitionStateBytes` is how
    * much state one partition may hold — default 256 MB, a comfortable
    * slice of a default-provider executor heap and well inside a RocksDB
    * instance's working set. Worked example from the measured curve: the
    * q77s sf0.1 drive buffers ~9 MB (40k rows x ~225 B) → 1 partition
    * (the face's measured optimum is single-digit); the sf10 probe holds
    * ~3 GB → 12 partitions. Clamp UP to your cluster's minimum useful
    * parallelism if throughput (not state) is the binding constraint —
    * this helper sizes for state. */
  def suggestStatePartitions(rowsPerSecond: Double, horizonSeconds: Double,
                             bytesPerRow: Double,
                             maxPartitionStateBytes: Long = 256L << 20): Int = {
    require(rowsPerSecond >= 0 && horizonSeconds >= 0 && bytesPerRow >= 0,
      s"suggestStatePartitions: negative input ($rowsPerSecond, $horizonSeconds, $bytesPerRow)")
    require(maxPartitionStateBytes > 0,
      s"suggestStatePartitions: budget must be positive, got $maxPartitionStateBytes")
    val stateBytes = rowsPerSecond * horizonSeconds * bytesPerRow
    math.max(1, math.ceil(stateBytes / maxPartitionStateBytes.toDouble).toInt)
  }

  /** [[suggestStatePartitions]] fed from what a file-backed drive actually
    * KNOWS before it starts: the on-disk footprint of the stream's source
    * directories. `inputBytes x rowExpansion` estimates the state volume a
    * bounded replay buffers (columnar-compressed parquet decodes to ~16x
    * its size as buffered UnsafeRow state + store index overhead — measured
    * on the bench fixtures: ~1 MB parquet → ~9-18 MB buffered state at
    * sf0.1, ~200 MB → the r15 sf10 probe's ~3 GB), and the 256 MB default
    * per-partition budget is [[suggestStatePartitions]]'s. The result
    * SCALES WITH THE DATA, never with the machine: sf0.1 sizes to 1
    * partition, sf10 to ~13, a 100 TB/day topic to thousands — where the
    * session default (`spark.sql.shuffle.partitions` = local core count)
    * is a constant tuned for neither (optimization-guide §2: derive
    * partitioning from input size; every partition pays fixed
    * store-lifecycle work per micro-batch — the q77 drive is near-linear
    * in partition count at constant data). Deployments size the budget via
    * `spark.graft.streaming.maxPartitionStateBytes`. */
  def sizedStatePartitionsForInput(spark: org.apache.spark.sql.SparkSession,
                                   inputPaths: Seq[String],
                                   rowExpansion: Double = 16.0): Int = {
    val budget = spark.conf.getOption("spark.graft.streaming.maxPartitionStateBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = inputPaths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum
    val decoded = bytes * rowExpansion
    // state term: one "batch" of a bounded replay holds the whole input, so
    // horizon x rate collapses to the decoded input volume
    val stateTerm = suggestStatePartitions(rowsPerSecond = decoded,
      horizonSeconds = 1.0, bytesPerRow = 1.0,
      maxPartitionStateBytes = budget)
    // throughput floor: per-batch wall is fixed-per-partition store
    // lifecycle PLUS the batch's processing divided across partitions —
    // cost(P) = a·P + work/P, minimized at P* ∝ sqrt(work). Calibrated on
    // the measured q77-family curves (32 MB decoded → 1; the 10x fixture's
    // ~320 MB → 4, recovering the parallelism the state term alone gave
    // up there; 100x → 10, matching the r15 sf10 probe's optimum). At
    // real stream volumes the LINEAR state term dominates this sqrt floor,
    // which only exists so mid-size batches keep useful parallelism.
    val throughputTerm = math.ceil(math.sqrt(decoded / (32.0 * (1 << 20)))).toInt
    math.max(stateTerm, math.max(1, throughputTerm))
  }

  /** Run `body` in a stateful-query child session ([[withStatePartitions]]'s,
    * at the parent's partition count) whose streaming queries keep state in
    * Spark's RocksDB provider — the 100 TB state engine. The default
    * HDFSBackedStateStoreProvider keeps each partition's working state map
    * ON THE JVM HEAP (fine for watermark horizons of thousands of rows;
    * GC-fatal for the billions a high-rate stream × a long horizon holds),
    * while RocksDB keeps state off-heap in per-partition native instances
    * with block-cache + WAL, checkpointed via snapshot/changelog files —
    * state volume stops being a heap-sizing problem. Semantics are
    * identical by Spark's state-store contract (RocksDbStateSpec pins
    * stream results AND engagement). The provider choice never leaks into
    * the parent, and it is fixed at the query's first checkpoint.
    *
    * Join state format 3 keeps a stream-stream join's four states (each
    * side's keys and values) as column families of ONE store per
    * partition, so a partition commits once per micro-batch instead of
    * four times. A query restarted from an older checkpoint keeps the
    * provider and join format it was written with: Spark restores both
    * from the offset log (StreamRestartSpec).
    *
    * `changelogCheckpointing` (r16 directive 5, DEFAULT since r17) switches
    * RocksDB's per-batch checkpoint artifact from a full SST snapshot
    * upload to an append-only changelog of the batch's puts/deletes
    * (snapshots still happen, but in the background off the commit path) —
    * the production setting for LARGE state, where per-batch commit cost
    * must track the batch's delta, not the store's total size: measured
    * ~20% less wall than snapshot mode on EVERY rep at sf10 state volumes
    * (BASELINE.md round-16), and restart recovery — changelog replay over
    * the last background snapshot — is spec-pinned in StreamRestartSpec.
    * Pass `false` to keep legacy snapshot-per-batch commits: the
    * diagnostic/compatibility choice for resuming a checkpoint written by
    * a pre-changelog deployment, or when every batch must leave a
    * self-contained recoverable snapshot with zero replay on restart. */
  def withRocksDbStateStore[A](spark: org.apache.spark.sql.SparkSession,
                               changelogCheckpointing: Boolean = true)
                              (body: org.apache.spark.sql.SparkSession => A): A = {
    val child = stateSession(spark)
    child.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    child.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      changelogCheckpointing.toString)
    child.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
    body(child)
  }

  /** Streaming file sinks (reference io.rs:391-479 streaming sink_csv/
    * parquet/json): append mode, exactly-once per partition via the
    * checkpoint + file-sink commit log. Returns the running query. */
  def sinkFileStream(stream: DataFrame, format: String, path: String,
                     checkpoint: String,
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
