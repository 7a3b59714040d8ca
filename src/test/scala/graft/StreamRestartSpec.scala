package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{AsofStream, Sessionize, StreamOps}

/** Checkpoint-restart recovery for every stateful streaming family.
  *
  * `StreamSoakSpec` proves state stays BOUNDED while a query runs;
  * production additionally needs the query to RESUME from its checkpoint
  * after a planned or crash stop — offset log replayed, state store
  * recovered (including the kryo-encoded as-of buffers), file-sink commit
  * log deduplicating output. Each test here stops the query at a point
  * where recovered state is LOAD-BEARING — a join/merge in phase 2 only
  * produces the right answer if phase-1 state survived the restart — and
  * then compares the restarted run's file-sink output row-for-row against
  * an uninterrupted control run over the same input.
  *
  * All drives go through the exactly-once parquet file sink
  * (`StreamOps.sinkFileStream`): a lost-state bug shows up as a missing or
  * duplicated row in the committed output, exactly as it would in a
  * production pipeline. */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def ts(ms: Long): Timestamp = new Timestamp(base + ms)

  /** Drive the (freshly built) streaming frame over the current input
    * state: start against `ckpt`/`out`, drain, stop. */
  private def drainOnce(df: => DataFrame, out: String, ckpt: String): Unit = {
    val q = StreamOps.sinkFileStream(
      df, "parquet", out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try q.processAllAvailable() finally {
      q.stop(); StreamOps.releaseStateStores()
    }
  }

  private def readSorted(path: String, cols: Seq[String]): Seq[Seq[Any]] =
    spark.read.parquet(path).orderBy(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq

  test("interval join: restart from checkpoint — phase-1 left matches a phase-2 right") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart_ij").toString
    val (inL, inR) = (s"$root/l", s"$root/r")
    def mk: DataFrame = {
      val lS = spark.read.parquet(inL).schema
      val rS = spark.read.parquet(inR).schema
      StreamOps.intervalJoin(
        spark.readStream.schema(lS).parquet(inL),
        spark.readStream.schema(rS).parquet(inR),
        "lts", "rts", by = Seq(("k", "k")),
        before = "15m", after = "0s", watermark = "10 minutes")
    }
    // phase 1: k=1 matches immediately; k=2's left arrives with NO right yet
    Seq((1L, ts(10000), 5.0), (2L, ts(20000), 7.0))
      .toDF("k", "lts", "lv").write.mode("append").parquet(inL)
    Seq((1L, ts(5000), 1.0))
      .toDF("k", "rts", "rv").write.mode("append").parquet(inR)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    // phase 2 (after stop): k=2's right arrives — the match can only be
    // produced if the restarted query recovered k=2's buffered left row
    Seq((2L, ts(19000), 3.0), (3L, ts(40000), 8.0))
      .toDF("k", "rts", "rv").write.mode("append").parquet(inR)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    val restarted = readSorted(s"$root/out", Seq("k", "lts", "rts"))
    // control: uninterrupted run over the same (now complete) input
    drainOnce(mk, s"$root/out_ctl", s"$root/ckpt_ctl")
    val control = readSorted(s"$root/out_ctl", Seq("k", "lts", "rts"))
    assert(restarted.map(_.head).toSet == Set(1L, 2L),
      s"expected k=1 (phase 1) and k=2 (cross-restart) matches, got $restarted")
    assert(restarted == control,
      s"restart diverged from uninterrupted control: $restarted vs $control")
  }

  test("as-of stream: restart recovers BOTH kryo buffers — winner arrives after restart") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart_as").toString
    val (inL, inR) = (s"$root/l", s"$root/r")
    def mk: DataFrame = {
      val lS = spark.read.parquet(inL).schema
      val rS = spark.read.parquet(inR).schema
      AsofStream.asofStream(
        spark.readStream.schema(lS).parquet(inL),
        spark.readStream.schema(rS).parquet(inR),
        "ts", "ts", by = Seq(("k", "k")), watermark = "10 minutes")
    }
    // phase 1: left at t=30s and the WINNING right at t=10s — nothing
    // finalizes (watermark still 0); both rows live only in kryo state
    Seq((1L, ts(30000), 5.0)).toDF("k", "ts", "price")
      .write.mode("append").parquet(inL)
    Seq((1L, ts(10000), 1.0)).toDF("k", "ts", "bid")
      .write.mode("append").parquet(inR)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    // phase 2: an EARLIER decoy right at t=5s plus a watermark-advancing
    // sentinel. The correct backward winner is the RECOVERED phase-1 right
    // (t=10s is the closest rts <= 30s): losing the right buffer picks the
    // decoy (bid=2.0), losing the left buffer emits nothing — BOTH
    // recovered buffers are load-bearing.
    Seq((1L, ts(5000), 2.0), (999L, ts(7200000), 0.0))
      .toDF("k", "ts", "bid").write.mode("append").parquet(inR)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    val restarted = readSorted(s"$root/out", Seq("k", "ts"))
      .filter(_.head.asInstanceOf[Long] < 900L)
    drainOnce(mk, s"$root/out_ctl", s"$root/ckpt_ctl")
    val control = readSorted(s"$root/out_ctl", Seq("k", "ts"))
      .filter(_.head.asInstanceOf[Long] < 900L)
    assert(restarted.size == 1 && restarted.head.last == 1.0,
      s"expected the single left row matched to the RECOVERED t=10s bid, got $restarted")
    assert(restarted == control,
      s"restart diverged from uninterrupted control: $restarted vs $control")
  }

  test("sessionize: restart merges phase-1 and phase-2 events into ONE session") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart_ss").toString
    val inE = s"$root/e"
    def mk: DataFrame = {
      val eS = spark.read.parquet(inE).schema
      Sessionize.sessions(
        spark.readStream.schema(eS).parquet(inE).as[Sessionize.Event],
        gap = "45s", watermarkDelay = "0 seconds")(spark).toDF()
    }
    // phase 1: user 0 has an OPEN session (events t=0..30s; gap 45s)
    Seq.tabulate(4)(j => Sessionize.Event(0L, ts(j * 10000L), 1.0))
      .toDS().write.mode("append").parquet(inE)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    // phase 2: one more event at t=40s continues the SAME session (10s
    // silence < gap) — merging it requires the recovered open-session
    // state; a straggler then closes everything
    (Seq(Sessionize.Event(0L, ts(40000L), 2.0),
         Sessionize.Event(9L, ts(600000L), 0.0)))
      .toDS().write.mode("append").parquet(inE)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    val restarted = readSorted(s"$root/out", Seq("userId", "sessionStart"))
      .filter(_.head.asInstanceOf[Long] == 0L)
    drainOnce(mk, s"$root/out_ctl", s"$root/ckpt_ctl")
    val control = readSorted(s"$root/out_ctl", Seq("userId", "sessionStart"))
      .filter(_.head.asInstanceOf[Long] == 0L)
    assert(restarted.size == 1, s"expected ONE merged session, got $restarted")
    assert(restarted.head(3) == 5L && restarted.head(4) == 6.0,
      s"merged session must span 5 events / sum 6.0, got ${restarted.head}")
    assert(restarted == control,
      s"restart diverged from uninterrupted control: $restarted vs $control")
  }

  /** Shared body for the two RocksDB restart tests: `changelog=false`
    * recovers from full per-batch SST snapshots (the provider default);
    * `changelog=true` (r16 directive 5) recovers by replaying the
    * append-only per-batch changelog over the last background snapshot —
    * the large-state production checkpoint mode, whose restart path is
    * materially different and so needs its own correctness pin. */
  private def rocksDbRestartRoundTrip(changelog: Boolean): Unit = {
    // same load-bearing shape as the default-provider restart test, but the
    // state lives in RocksDB instances recovered from snapshot + changelog
    // files — the recovery path a 100 TB/day deployment actually exercises.
    // Both phases AND the control run inside the RocksDB child session: the
    // provider class is part of the checkpoint contract.
    val root = java.nio.file.Files.createTempDirectory(
      s"graft_restart_rdb_$changelog").toString
    val (inL, inR) = (s"$root/l", s"$root/r")
    Seq((1L, ts(10000), 5.0), (2L, ts(20000), 7.0))
      .toDF("k", "lts", "lv").write.mode("append").parquet(inL)
    Seq((1L, ts(5000), 1.0))
      .toDF("k", "rts", "rv").write.mode("append").parquet(inR)
    // the frame carries its (RocksDB child) session into the sink, so the
    // shared drainOnce drives it unchanged
    def drive(sess: org.apache.spark.sql.SparkSession,
              out: String, ckpt: String): Unit = {
      val lS = sess.read.parquet(inL).schema
      val rS = sess.read.parquet(inR).schema
      drainOnce(StreamOps.intervalJoin(
        sess.readStream.schema(lS).parquet(inL),
        sess.readStream.schema(rS).parquet(inR),
        "lts", "rts", by = Seq(("k", "k")),
        before = "15m", after = "0s", watermark = "10 minutes"), out, ckpt)
    }
    StreamOps.withRocksDbStateStore(spark, changelogCheckpointing = changelog) { sess =>
      drive(sess, s"$root/out", s"$root/ckpt")
      Seq((2L, ts(19000), 3.0), (3L, ts(40000), 8.0))
        .toDF("k", "rts", "rv").write.mode("append").parquet(inR)
      drive(sess, s"$root/out", s"$root/ckpt")
      drive(sess, s"$root/out_ctl", s"$root/ckpt_ctl")
    }
    val restarted = readSorted(s"$root/out", Seq("k", "lts", "rts"))
    val control = readSorted(s"$root/out_ctl", Seq("k", "lts", "rts"))
    assert(restarted.map(_.head).toSet == Set(1L, 2L),
      s"expected k=1 (phase 1) and k=2 (cross-restart) matches, got $restarted")
    assert(restarted == control,
      s"RocksDB restart diverged from uninterrupted control: $restarted vs $control")
  }

  test("interval join: restart from a RocksDB checkpoint (snapshot recovery)") {
    rocksDbRestartRoundTrip(changelog = false)
  }

  test("interval join: restart from a RocksDB CHANGELOG checkpoint (replay recovery)") {
    rocksDbRestartRoundTrip(changelog = true)
  }

  test("interval join: a FileContext-manager, join-format-2 checkpoint restarts in the RocksDB child") {
    // phase 1 writes the layout of an engine without its checkpoint
    // default: the HDFS-backed provider, join state format 2, files renamed
    // through Spark's FileContext manager. Phase 2 resumes it through the
    // fork-free manager in the RocksDB/format-3 child: Spark restores the
    // provider and the join format from the offset log, so the resumed
    // query keeps them whatever its new session says.
    val root = java.nio.file.Files.createTempDirectory("graft_restart_layout").toString
    val (inL, inR) = (s"$root/l", s"$root/r")
    Seq((1L, ts(10000), 5.0), (2L, ts(20000), 7.0))
      .toDF("k", "lts", "lv").write.mode("append").parquet(inL)
    Seq((1L, ts(5000), 1.0))
      .toDF("k", "rts", "rv").write.mode("append").parquet(inR)
    def drive(sess: org.apache.spark.sql.SparkSession, out: String, ckpt: String)
        : org.apache.spark.sql.streaming.StateOperatorProgress = {
      val lS = sess.read.parquet(inL).schema
      val rS = sess.read.parquet(inR).schema
      val q = StreamOps.sinkFileStream(StreamOps.intervalJoin(
          sess.readStream.schema(lS).parquet(inL),
          sess.readStream.schema(rS).parquet(inR),
          "lts", "rts", by = Seq(("k", "k")),
          before = "15m", after = "0s", watermark = "10 minutes"),
        "parquet", out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try { q.processAllAvailable(); q.lastProgress.stateOperators.head }
      finally { q.stop(); StreamOps.releaseStateStores() }
    }
    val parentLayout = spark.newSession()
    parentLayout.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName)
    parentLayout.conf.set("spark.sql.streaming.join.stateFormatVersion", "2")
    drive(parentLayout, s"$root/out", s"$root/ckpt")
    Seq((2L, ts(19000), 3.0), (3L, ts(40000), 8.0))
      .toDF("k", "rts", "rv").write.mode("append").parquet(inR)
    val (resumed, control) = StreamOps.withRocksDbStateStore(spark) { sess =>
      (drive(sess, s"$root/out", s"$root/ckpt"), drive(sess, s"$root/out_ctl", s"$root/ckpt_ctl"))
    }
    val metricKeys = (op: org.apache.spark.sql.streaming.StateOperatorProgress) =>
      op.customMetrics.keySet().toArray.map(_.toString.toLowerCase)
    assert(!metricKeys(resumed).exists(_.contains("rocksdb")) &&
      resumed.numStateStoreInstances == 4 * resumed.numShufflePartitions,
      s"the resumed query left the checkpoint's provider or join format: " +
        s"${resumed.numStateStoreInstances} stores, metrics ${metricKeys(resumed).mkString(",")}")
    assert(metricKeys(control).exists(_.contains("rocksdb")) &&
      control.numStateStoreInstances == control.numShufflePartitions,
      s"the control did not run on one RocksDB store per partition: ${control.numStateStoreInstances}")
    val restarted = readSorted(s"$root/out", Seq("k", "lts", "rts"))
    val uninterrupted = readSorted(s"$root/out_ctl", Seq("k", "lts", "rts"))
    assert(restarted.map(_.head).toSet == Set(1L, 2L),
      s"expected k=1 (phase 1) and k=2 (cross-restart) matches, got $restarted")
    assert(restarted == uninterrupted,
      s"restart diverged from uninterrupted control: $restarted vs $uninterrupted")
  }

  test("windowed agg: restart merges phase-1 and phase-2 rows into ONE window aggregate") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart_wa").toString
    val inE = s"$root/e"
    def mk: DataFrame = {
      val eS = spark.read.parquet(inE).schema
      StreamOps.windowedAgg(
        spark.readStream.schema(eS).parquet(inE),
        timeCol = "ts", every = "1m", watermark = "0 seconds",
        by = Seq("k"))(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
    }
    // phase 1: three rows of k=1 land in window [0, 1m) — the partial
    // aggregate exists only in streaming-aggregation state (nothing emits:
    // the watermark has not passed the window end)
    Seq((1L, ts(5000), 1.0), (1L, ts(15000), 2.0), (1L, ts(30000), 3.0))
      .toDF("k", "ts", "v").write.mode("append").parquet(inE)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    // phase 2: one more row in the SAME window plus a straggler that
    // advances the watermark past the window end — the emitted aggregate
    // is correct only if the recovered partial (6.0/3) absorbed the 4.0
    Seq((1L, ts(45000), 4.0), (9L, ts(600000), 0.0))
      .toDF("k", "ts", "v").write.mode("append").parquet(inE)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    val restarted = readSorted(s"$root/out", Seq("k", "ts"))
      .filter(_.head.asInstanceOf[Long] == 1L)
    drainOnce(mk, s"$root/out_ctl", s"$root/ckpt_ctl")
    val control = readSorted(s"$root/out_ctl", Seq("k", "ts"))
      .filter(_.head.asInstanceOf[Long] == 1L)
    assert(restarted.size == 1, s"expected ONE merged window row, got $restarted")
    assert(restarted.head(1) == 10.0 && restarted.head(2) == 4L,
      s"window must aggregate all four rows (sum 10.0, n 4), got ${restarted.head}")
    assert(restarted == control,
      s"restart diverged from uninterrupted control: $restarted vs $control")
  }

  test("multi-restart soak: interval join stopped at every phase boundary == batch twin (2 seeds)") {
    // 28 single-file micro-batches per side, the query STOPPED and resumed
    // from its checkpoint after every 7 — three recoveries at different
    // watermark positions, each with live join state. Event times advance
    // one minute per file with in-file-only disorder, so nothing is ever
    // late (wm lags 5 min) and no reachable match is evicted (window 10 min
    // ≪ the ~15 min the state watermark keeps buffered): the restarted
    // stream must equal the BATCH twin — the same intervalJoin call on
    // batch frames — exactly. Planted pairs straddle each boundary so every
    // recovery carries load-bearing state.
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val root = java.nio.file.Files.createTempDirectory(s"graft_restart_mr$seed").toString
      val (inL, inR) = (s"$root/l", s"$root/r")
      val files = 28
      def minute(i: Int, off: Int): Timestamp = ts(i * 60000L + off * 1000L)
      // per-file rows; planted: left in file b-3 (key 100+b) is matched
      // ONLY by a right ARRIVING in file b whose event time sits just
      // below the left's (after=0s ⇒ a left matches rts ∈ [lts-10m, lts]),
      // for each restart boundary b — the right is not late (its event
      // time is ~3 min behind the head, watermark lags 5) and the left is
      // not yet evicted when it lands
      val boundaries = Seq(7, 14, 21)
      for (i <- 0 until files) {
        val lRows = Seq.tabulate(3)(j =>
            (rnd.nextInt(6) + 1L, minute(i, rnd.nextInt(50)), i * 10.0 + j)) ++
          boundaries.filter(_ - 3 == i).map(b => (100L + b, minute(i, 20), -1.0))
        val rRows = Seq.tabulate(3)(j =>
            (rnd.nextInt(6) + 1L, minute(i, rnd.nextInt(50)), i * 10.0 + j)) ++
          boundaries.filter(_ == i).map(b => (100L + b, minute(b - 3, 10), -2.0))
        lRows.toDF("k", "lts", "lv").coalesce(1)
          .write.mode("append").parquet(inL)
        rRows.toDF("k", "rts", "rv").coalesce(1)
          .write.mode("append").parquet(inR)
        // phase p processes files [7p, 7p+7): each planted pair's left
        // arrived in the PREVIOUS phase, so the match after file b exists
        // only if the restart recovered the buffered left
        if (boundaries.contains(i + 1) || i == files - 1) {
          val lS = spark.read.parquet(inL).schema
          val rS = spark.read.parquet(inR).schema
          drainOnce(StreamOps.intervalJoin(
            spark.readStream.option("maxFilesPerTrigger", 1).schema(lS).parquet(inL),
            spark.readStream.option("maxFilesPerTrigger", 1).schema(rS).parquet(inR),
            "lts", "rts", by = Seq(("k", "k")),
            before = "10m", after = "0s", watermark = "5 minutes"),
            s"$root/out", s"$root/ckpt")
        }
      }
      val got = readSorted(s"$root/out", Seq("k", "lts", "rts", "lv", "rv"))
      val want = StreamOps.intervalJoin(
          spark.read.parquet(inL), spark.read.parquet(inR),
          "lts", "rts", by = Seq(("k", "k")),
          before = "10m", after = "0s", watermark = "5 minutes")
        .orderBy("k", "lts", "rts", "lv", "rv").collect().map(_.toSeq).toSeq
      assert(want.nonEmpty, s"seed $seed: batch twin produced no rows")
      // every planted cross-boundary pair must be present (each restart
      // carried live state), and the whole multiset must match the twin
      val plantedKeys = got.map(_.head).collect { case k: Long if k > 100L => k }
      assert(plantedKeys.sorted == Seq(107L, 114L, 121L),
        s"seed $seed: cross-restart planted matches missing: $plantedKeys")
      assert(got == want,
        s"seed $seed: restarted stream != batch twin (${got.size} vs ${want.size} rows)")
    }
  }

  test("stream dedup: a post-restart duplicate is suppressed by recovered state") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart_dd").toString
    val inE = s"$root/e"
    def mk: DataFrame = {
      val eS = spark.read.parquet(inE).schema
      StreamOps.dedupStream(
        spark.readStream.schema(eS).parquet(inE),
        keys = Seq("k"), timeCol = "ts", watermark = "10 minutes")
    }
    // phase 1: two distinct keys
    Seq((1L, ts(1000), 5.0), (2L, ts(2000), 6.0))
      .toDF("k", "ts", "v").write.mode("append").parquet(inE)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    // phase 2: an EXACT duplicate of k=1 (suppressed only if the dedup
    // state survived the restart) plus a genuinely new key
    Seq((1L, ts(1000), 5.0), (3L, ts(4000), 7.0))
      .toDF("k", "ts", "v").write.mode("append").parquet(inE)
    drainOnce(mk, s"$root/out", s"$root/ckpt")
    val restarted = readSorted(s"$root/out", Seq("k"))
    drainOnce(mk, s"$root/out_ctl", s"$root/ckpt_ctl")
    val control = readSorted(s"$root/out_ctl", Seq("k"))
    assert(restarted.map(_.head) == Seq(1L, 2L, 3L),
      s"expected exactly keys 1,2,3 once each (k=1 dup suppressed), got $restarted")
    assert(restarted == control,
      s"restart diverged from uninterrupted control: $restarted vs $control")
  }
}
