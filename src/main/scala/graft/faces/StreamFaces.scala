package graft
package faces

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.SparkEntry._

/** The streaming faces: Structured Streaming drives (window, sessionize,
  * dedup, as-of and interval joins) run to completion over per-SF stream
  * fixtures, each graded against the batch answer in DuckDB. Bench reads
  * this family as its own section with its own noise floor. */
object StreamFaces {

  /** Per-(JVM, SF) cached parquet DIRECTORY for stream-input fixtures
    * (q73/q74): synthesized once, then every rep/invocation re-streams the
    * same files instead of paying the fixture write per rep. Returns the
    * path (readStream needs a directory, not a frame). */
  private def streamFixture(s: SparkSession, sfDir: String, name: String)
                           (build: => DataFrame): String = {
    sweepStaleFixtures
    fixtureCache.computeIfAbsent(name + ":stream:" + sfDir, _ => {
      // per-JVM path: q73 APPENDS flush batches to its fixture dir, so two
      // JVMs sharing one path would interleave overwrites with live streams
      // (the q70 layout race, ADVICE r11)
      val p = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_fixtures",
        name + "_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
          "_p" + ProcessHandle.current().pid()).toString
      build.write.mode("overwrite").parquet(p)
      p
    })
  }

  /** Drive a started stream to COMPLETION: drain everything available,
    * append an EMPTY batch to `flushDir` (the watermark advanced at the
    * previous batch's end, so this batch fires the event-time timeouts that
    * flush open state), drain again. The query stops and its state stores
    * release even when the drive fails, and the empty flush files are
    * DELETED (ADVICE r12): `flushDir` is the cached per-JVM fixture
    * directory, so leaving them would grow the dir by one file per
    * rep/invocation, skewing later reps' listing/read cost and leaking files
    * until the pid sweep. Returns the query's recent progress. */
  private def driveToCompletion(s: SparkSession, flushDir: String,
                                flushSchema: org.apache.spark.sql.types.StructType)
                               (start: => StreamingQuery): Array[StreamingQueryProgress] = {
    val flushPath = java.nio.file.Paths.get(flushDir)
    def ls: Set[java.nio.file.Path] = listDir(flushPath).toSet
    val preFlush = ls
    val q = start
    try {
      q.processAllAvailable()
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), flushSchema)
        .write.mode("append").parquet(flushDir)
      q.processAllAvailable()
      q.recentProgress
    } finally {
      q.stop()
      graft.streaming.StreamOps.releaseStateStores()
      (ls -- preFlush).foreach(p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () })
    }
  }

  /** [[driveToCompletion]] through a memory sink, returning the projected
    * result as a driver-local frame (`localize` guard). The temp view is
    * dropped even when projection fails — a failed bench rep must not leave
    * catalog residue. */
  private def drainStream(s: SparkSession, out: DataFrame, qn: String,
                          flushDir: String,
                          flushSchema: org.apache.spark.sql.types.StructType)
                         (project: DataFrame => DataFrame): DataFrame = {
    driveToCompletion(s, flushDir, flushSchema)(
      out.writeStream.outputMode("append").format("memory").queryName(qn).start())
    try localize(s, project(s.table(qn)))
    finally s.catalog.dropTempView(qn)
  }

  /** A timestamp literal one year past `df`'s latest `ts` (a 1-row agg):
    * a stream fixture's sentinel row carries it so the watermark passes
    * every real window and all open state finalizes. */
  private def farFuture(df: DataFrame): Column = {
    val maxTs = df.agg(max(col("ts").cast("timestamp"))).head.getTimestamp(0)
    lit(new java.sql.Timestamp(maxTs.getTime + 365L * 86400000L)).cast("timestamp")
  }

  /** Purchases as a stream fixture: (event_id, user_id, ts, value), with
    * `sentinel` plus one far-future row of user -1. */
  private def purchasesFixture(s: SparkSession, d: String, sentinel: Boolean): String =
    streamFixture(s, d, if (sentinel) "q78_left" else "q75_left") {
      val ev = t(s, d, "events")
      val rows = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").as("ts"), col("value"))
      if (!sentinel) rows
      else rows.unionByName(s.range(1).select(lit(-1L).as("event_id"),
        lit(-1L).as("user_id"), farFuture(ev).as("ts"), lit(0.0).as("value")))
    }

  /** The continuous as-of faces (q75 backward, q76 forward with
    * tolerance): purchases stream-joined per user to the events of
    * `rightType`, whose value rides as `<prefix>_value` (with `withTs`, their
    * time too, as `<prefix>_ts`). A far-future right-side sentinel (user -1)
    * advances the unioned watermark past every purchase so all matches
    * finalize; the empty flush batch fires the timeouts that emit them. */
  private def asofStreamFace(s: SparkSession, d: String, n: String,
                             rightType: String, prefix: String, withTs: Boolean,
                             strategy: graft.operators.AsofJoin.Strategy,
                             tolerance: Option[String]): DataFrame = {
    val inL = purchasesFixture(s, d, sentinel = false)
    val inR = streamFixture(s, d, s"q${n}_right") {
      val ev = t(s, d, "events")
      val rows = ev.filter(col("event_type") === rightType)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("value").as(s"${prefix}_value"))
      val sentinel = s.range(1).select(lit(-1L).as("user_id"),
        farFuture(ev).as("ts"), lit(0.0).as(s"${prefix}_value"))
      if (!withTs) rows.unionByName(sentinel)
      else rows.withColumn(s"${prefix}_ts", col("ts")).unionByName(
        sentinel.withColumn(s"${prefix}_ts", lit(null).cast("timestamp")))
    }
    // input-sized state partitioning (r18, guide §2) — see intervalJoinFace
    val nSp = graft.streaming.StreamOps.sizedStatePartitionsForInput(s, Seq(inL, inR))
    graft.streaming.StreamOps.withStatePartitions(s, nSp) { s2 =>
      val lSchema = s2.read.parquet(inL).schema
      val rSchema = s2.read.parquet(inR).schema
      val out = graft.streaming.AsofStream.asofStream(
        s2.readStream.schema(lSchema).parquet(inL),
        s2.readStream.schema(rSchema).parquet(inR),
        "ts", "ts", by = Seq(("user_id", "user_id")), watermark = "0 seconds",
        strategy = strategy, tolerance = tolerance)
      drainStream(s2, out, s"g${n}_stream", inL, lSchema) { t =>
        t.select(Seq(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("value"),
          col(s"${prefix}_value")) ++
          (if (withTs) Seq(col(s"${prefix}_ts").cast("timestamp_ntz").as(s"${prefix}_ts"))
           else Nil): _*)
      }.orderBy(col("event_id"))
    }
  }

  /** Where an interval-join face drives its stream: the memory-sink
    * harness under a temp view (bounded by `localize`), or the production
    * file sink (`StreamOps.sinkFileStream`: append mode, checkpointed,
    * exactly-once) under `dir`, whose output never reaches the driver, so
    * it drives at any SF. `onProgress` sees the file-sink query's progress. */
  private[graft] sealed trait IjSink

  private[graft] final case class MemorySink(view: String) extends IjSink

  private[graft] final case class FileSink(
      dir: String, onProgress: Array[StreamingQueryProgress] => Unit = _ => ())
    extends IjSink

  /** The interval-join faces' purchase and click stream fixtures (left:
    * event_id, user_id, ts, value; right: click_id, user_id, click_ts,
    * click_value). With `sentinels`, BOTH streams carry a far-future row of
    * user -1 — the global watermark is the min across sources, so only a
    * sentinel on each side advances it past every real window and lets the
    * outer nulls finalize. */
  private[graft] def intervalJoinInputs(s: SparkSession, d: String,
                                        sentinels: Boolean): (String, String) = {
    val inR = streamFixture(s, d, if (sentinels) "q78_right" else "q77_right") {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").cast("timestamp").as("click_ts"),
          col("value").as("click_value"))
      if (!sentinels) clicks
      else clicks.unionByName(s.range(1).select(lit(-1L).as("click_id"),
        lit(-1L).as("user_id"), farFuture(ev).as("click_ts"),
        lit(0.0).as("click_value")))
    }
    (purchasesFixture(s, d, sentinels), inR)
  }

  /** The interval join every face and probe runs: each purchase with the
    * same user's clicks from the preceding day. */
  private[graft] def intervalJoinOf(l: DataFrame, r: DataFrame, joinType: String): DataFrame =
    graft.streaming.StreamOps.intervalJoin(l, r, "ts", "click_ts",
      by = Seq(("user_id", "user_id")), before = "1d", after = "0s",
      watermark = "0 seconds", joinType = joinType)

  /** One interval-join face: [[intervalJoinOf]] over the stream fixtures,
    * driven to completion through `sink`. Outer join types read the
    * sentinel fixtures and drop the sentinel rows (user -1) from the
    * output; inner joins need neither.
    *
    * State partitioning is sized to the input volume (r18, guide §2):
    * each state partition pays fixed store-lifecycle work per micro-batch
    * (4 store commits for a stream-stream join), so the 32-partition
    * session default billed ~3x the sized drive at sf0.1 while a bigger SF
    * derives proportionally more partitions. Results are
    * partition-count-independent (the same oracle hash at any count). */
  private[graft] def intervalJoinFace(s: SparkSession, d: String,
                                      joinType: String, sink: IjSink): DataFrame = {
    val outer = joinType != "inner"
    val (inL, inR) = intervalJoinInputs(s, d, sentinels = outer)
    val nSp = graft.streaming.StreamOps.sizedStatePartitionsForInput(s, Seq(inL, inR))
    graft.streaming.StreamOps.withStatePartitions(s, nSp) { s2 =>
      val lSchema = s2.read.parquet(inL).schema
      val rSchema = s2.read.parquet(inR).schema
      val out = intervalJoinOf(s2.readStream.schema(lSchema).parquet(inL),
        s2.readStream.schema(rSchema).parquet(inR), joinType)
      def project(t: DataFrame): DataFrame =
        (if (outer) t.filter(col("user_id") >= 0L) else t)
          .select(col("event_id"), col("user_id"),
            col("ts").cast("timestamp_ntz").as("ts"), col("value"),
            col("click_id"),
            col("click_ts").cast("timestamp_ntz").as("click_ts"),
            col("click_value"))
      (sink match {
        case MemorySink(view) => drainStream(s2, out, view, inL, lSchema)(project)
        case FileSink(dir, onProgress) =>
          onProgress(driveToCompletion(s2, inL, lSchema)(
            graft.streaming.StreamOps.sinkFileStream(out, "parquet", s"$dir/out",
              s"$dir/ckpt", org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))))
          project(s2.read.parquet(s"$dir/out"))
      }).orderBy(col("event_id"), col("click_id"))
    }
  }

  /** The interval-join faces' oracle, keyed by join kind: the plain batch
    * range join — every (purchase, click-from-the-preceding-day) pair per
    * user, plus each outer side's unmatched rows with the other side's
    * columns null. For right/full joins user_id coalesces to the click's,
    * so unmatched-right rows keep their user. Sink choice and state
    * partitioning must not change a single row, so faces that differ only
    * there (q77/q77s, q79/q83) share one text. */
  private def intervalJoinSql(joinType: String): String = {
    val join = Map("inner" -> "JOIN", "left_outer" -> "LEFT JOIN",
      "right_outer" -> "RIGHT JOIN", "full_outer" -> "FULL JOIN")(joinType)
    val user =
      if (joinType == "right_outer" || joinType == "full_outer")
        "coalesce(p.user_id, c.user_id) AS user_id"
      else "p.user_id"
    s"""SELECT p.event_id, $user, p.ts, p.value,
       |  c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |$join (SELECT * FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id
       |  AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
       |ORDER BY p.event_id, click_id""".stripMargin
  }

  val faces: Seq[Face] = Seq(
    // §2.10 Structured Streaming leaves spec-land: the SAME windowed
    // aggregation runs as a streaming query (readStream over the events
    // parquet → event-time watermark → 1d tumbling window → complete-mode
    // memory sink, Trigger.AvailableNow) and the batch SQL oracle recomputes
    // it. The memory-sink result is BOUNDED by construction (one row per
    // (day, event_type) group); the sink view is dropped before returning so
    // repeated invocations leave no catalog or state residue.
    Face("q61_stream_window", (s, d) => {
      // FileStreamSource wants a DIRECTORY. The driver's per-SF table is a
      // single parquet FILE, so link it into a scratch dir (read-only
      // source data — never copied); a Spark-written table (the ScaleUp
      // sf1/sf10 fixtures) is already a DIRECTORY and streams as-is — the
      // symlink dance would nest it one level too deep for the source's
      // non-recursive listing (r16: first cross-scale run of this face).
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      val path =
        if (java.nio.file.Files.isDirectory(src)) src.toString
        else {
          val dir = scratchDir("q61")
          java.nio.file.Files.createSymbolicLink(
            java.nio.file.Paths.get(dir, "events.parquet"), src)
          dir
        }
      // input-sized state partitioning (r18, guide §2) — see q77
      val nSp61 = graft.streaming.StreamOps.sizedStatePartitionsForInput(s, Seq(path))
      graft.streaming.StreamOps.withStatePartitions(s, nSp61) { s2 =>
        val schema = s2.read.parquet(path).schema
        // normalize ts to a session-TZ timestamp before the watermark — long
        // nanos under legacy nanosAsLong, TIMESTAMP_NTZ otherwise (the same
        // branch the batch loader `t` takes)
        val tsIsLong = schema.fields.exists(f =>
          f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        val ev0 = s2.readStream.schema(schema).parquet(path)
        val ev =
          if (tsIsLong)
            ev0.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp)"))
          else ev0.withColumn("ts", col("ts").cast("timestamp"))
        val out = graft.streaming.StreamOps.windowedAgg(ev, "ts", every = "1d",
            by = Seq("event_type"))(
            count(lit(1)).as("n"),
            sum(dec4(col("value"))).as("__sum"))
        val qn = "g61_stream"
        val query = out.writeStream.format("memory").queryName(qn)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try query.awaitTermination() finally {
          query.stop()
          graft.streaming.StreamOps.releaseStateStores()
        }
        val res = localize(s2, s2.table(qn)
          .select(col("ts").cast("timestamp_ntz").as("ts"), col("event_type"),
            col("n"), col("__sum").cast("double").as("sum_value")))
        s2.catalog.dropTempView(qn)
        res.orderBy(col("ts"), col("event_type"))
      }
    }, oracle =
      // §2.10 streaming face — the batch recomputation of the 1d tumbling
      // window (epoch-aligned in UTC == date_trunc('day'))
      """SELECT date_trunc('day', ts) AS ts, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ts, event_type""".stripMargin),

    // beyond-reference: the STREAMING sessionize face driven through the
    // real Structured-Streaming runtime (flatMapGroupsWithState, event-time
    // timeout) against the SAME DuckDB recomputation q72's batch twin uses —
    // completing the stream == batch == oracle triangle q61 has for
    // windowed aggs. A far-future sentinel click (user_id -1, filtered from
    // the result) advances the watermark past every real session's
    // end + gap, and a second empty micro-batch fires the event-time
    // timeouts so open sessions flush; per-session sums accumulate in 1e-4
    // fixed point inside the state machine, so the emitted doubles are
    // bitwise the oracle's exact DECIMAL(18,4) sums.
    Face("q73_sessionize_stream", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      implicit val sp: SparkSession = s
      val in = streamFixture(s, d, "q73_in") {
        val clicks = t(s, d, "events").filter(col("event_type") === "click")
          .select(col("user_id").as("userId"),
            col("ts").cast("timestamp").as("ts"), col("value"))
        clicks.unionByName(s.range(1).select(lit(-1L).as("userId"),
          farFuture(clicks).as("ts"), lit(0.0).as("value")))
      }
      // input-sized state partitioning (r18, guide §2) — see intervalJoinFace
      val nSp73 = graft.streaming.StreamOps.sizedStatePartitionsForInput(s, Seq(in))
      graft.streaming.StreamOps.withStatePartitions(s, nSp73) { s2 =>
        val schema = s2.read.parquet(in).schema
        import s2.implicits._
        val stream = s2.readStream.schema(schema).parquet(in)
          .as[graft.streaming.Sessionize.Event]
        val out = graft.streaming.Sessionize
          .sessions(stream, gap = "30m", watermarkDelay = "0 seconds").toDF()
        drainStream(s2, out, "g73_stream", in, schema) { t =>
          t.filter(col("userId") >= 0L)
            .select(col("userId").as("user_id"),
              col("sessionStart").cast("timestamp_ntz").as("session_start"),
              col("sessionEnd").cast("timestamp_ntz").as("session_end"),
              col("nEvents").as("n_events"), col("sumValue").as("sum_value"))
        }.orderBy(col("user_id"), col("session_start"))
      }
    }, oracle =
      // q73: same session semantics as q72 but keyed by (user, session_start)
      // — the stream face emits no session ordinal, and session_start is
      // unique per user, so the grouped output needs no session_id column
      """WITH e AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
        |), b AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b
        |)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin),

    // beyond-reference: streaming EXACT-DEDUP ingest face
    // (StreamOps.dedupStream = watermark-bounded dropDuplicates, the
    // exactly-once first stage of a 100 TB/day pipeline) driven through the
    // real runtime against a deterministically DUPLICATED fixture — every
    // click once, every 3rd a second time, every 21st a third time. The
    // oracle is the distinct base truth: keep-first semantics are
    // unambiguous because duplicate rows are bit-identical. Completes the
    // stream==batch==oracle triangle for dedup (qd01 is the batch face).
    Face("q74_stream_dedup", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val in = streamFixture(s, d, "q74_in") {
        val clicks = t(s, d, "events").filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"),
            col("ts").cast("timestamp").as("ts"), col("value"))
        clicks.unionByName(clicks.filter(col("event_id") % 3 === 0))
          .unionByName(clicks.filter(col("event_id") % 21 === 0))
      }
      // input-sized state partitioning (r18, guide §2) — see intervalJoinFace
      val nSp74 = graft.streaming.StreamOps.sizedStatePartitionsForInput(s, Seq(in))
      graft.streaming.StreamOps.withStatePartitions(s, nSp74) { s2 =>
        val schema = s2.read.parquet(in).schema
        // watermark covers the fixture's whole event-time span (ADVICE r12):
        // keep-first must hold even if the source splits the fixture across
        // micro-batches — with the 10-minute default, a duplicate delivered
        // after its key's state was watermark-evicted would re-emit
        val out = graft.streaming.StreamOps.dedupStream(
          s2.readStream.schema(schema).parquet(in), Seq("event_id"), "ts",
          watermark = "3650 days")
        val qn = "g74_stream"
        val q = out.writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally {
          q.stop()
          graft.streaming.StreamOps.releaseStateStores()
        }
        val res = localize(s2, s2.table(qn)
          .select(col("event_id"), col("user_id"),
            col("ts").cast("timestamp_ntz").as("ts"), col("value")))
        s2.catalog.dropTempView(qn)
        res.orderBy(col("event_id"))
      }
    }, oracle =
      // q74: the duplicated-ingest stream dedup face must return exactly the
      // distinct base truth (duplicates are bit-identical, so keep-first is
      // unambiguous)
      """SELECT event_id, user_id, ts, value
        |FROM events WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin),

    // beyond-reference: CONTINUOUS event-time as-of join (AsofStream,
    // flatMapGroupsWithState with a bounded right-frontier state) driven
    // through the real streaming runtime — same shape as the q21 batch
    // as-of, so the SAME DuckDB native-ASOF oracle grades both: purchases
    // stream-joined to the latest click at-or-before them per user.
    Face("q75_asof_stream", (s, d) =>
      asofStreamFace(s, d, "75", "click", "click", withTs = true,
        graft.operators.AsofJoin.Backward, tolerance = None),
    oracle = asofBackwardSql),

    // beyond-reference: FORWARD continuous as-of with tolerance — "the
    // next error within 1 day of each purchase". The forward direction is
    // the interesting streaming case: a null can only finalize once the
    // watermark passes the whole tolerance window (an unbounded forward
    // wait never could), and a candidate finalizes early once it sits
    // below the watermark. Same DuckDB rendering as q23 plus q22's
    // tolerance CASE.
    Face("q76_asof_stream_fwd", (s, d) =>
      asofStreamFace(s, d, "76", "error", "err", withTs = false,
        graft.operators.AsofJoin.Forward, tolerance = Some("1d")),
    oracle =
      // q76: forward ASOF (p.ts <= c.ts) with q22's tolerance CASE — the
      // streaming forward face must reproduce DuckDB's native forward ASOF
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 86400000000 THEN c.value END AS err_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // beyond-reference: watermarked STREAM-STREAM INTERVAL JOINS (the Flink
    // intervalJoin shape, composed from Spark's native
    // StreamingSymmetricHashJoin — no custom state): every purchase joined
    // to the same user's clicks from the preceding day. Inner matches emit
    // as found; state on both sides is evicted by the derived state
    // watermark, so a 100 TB/day correlation join holds bounded state.
    // One function ([[intervalJoinFace]]) serves the whole family.
    Face("q77_interval_join_stream", (s, d) =>
      intervalJoinFace(s, d, "inner", MemorySink("g77_stream")),
    oracle =
      // the stream-stream interval joins must equal the plain batch range
      // joins of the same kind (see intervalJoinSql)
      intervalJoinSql("inner")),

    // The state-partition sizing lever, driver-graded: the IDENTICAL inner
    // join driven through the PRODUCTION FILE SINK (since r18). The memory
    // sink materializes every joined row on the driver and its 100k
    // localize guard aborted this face at sf10 (872,700 output rows); the
    // file sink keeps the output distributed end to end, so the sized face
    // — the one that IS the scale lever — drives and gates at any SF.
    // q77 keeps the memory-sink harness as the in-bound twin, so both sink
    // paths stay covered.
    Face("q77s_interval_join_sized", (s, d) =>
      intervalJoinFace(s, d, "inner", FileSink(scratchDir("q77s_sink"))),
    oracle = intervalJoinSql("inner")),

    // the LEFT-OUTER interval join — purchases with NO click in the
    // preceding day still emit (null click columns); a null can only
    // finalize once the watermark passes the purchase's whole window
    Face("q78_interval_join_outer", (s, d) =>
      intervalJoinFace(s, d, "left_outer", MemorySink("g78_stream")),
    oracle = intervalJoinSql("left_outer")),

    // the FULL-OUTER interval join (r12 directive 5): unmatched rows on
    // BOTH sides emit with the other side's columns null; the output key
    // is coalesce(left, right) so unmatched-right rows keep their user.
    // Each side's nulls finalize once the watermark passes that side's
    // whole window (left: ts + after; right: click_ts + before).
    Face("q79_interval_join_full", (s, d) =>
      intervalJoinFace(s, d, "full_outer", MemorySink("g79_stream")),
    oracle = intervalJoinSql("full_outer")),

    // the RIGHT-OUTER interval join (r13 directive 3): clicks with NO
    // purchase in the following day still emit (null purchase columns),
    // finalized once the watermark passes `click_ts + before`; the key
    // coalesces to the right's user_id.
    Face("q82_interval_join_right", (s, d) =>
      intervalJoinFace(s, d, "right_outer", MemorySink("g82_stream")),
    oracle = intervalJoinSql("right_outer")),

    // The PRODUCTION-SINK twin of q79 (r16 verdict item 1): the identical
    // full-outer join through the checkpointed file sink, with NO
    // driver-side bound — q78/q79/q82's memory sinks abort at the 100k
    // localize guard above sf0.1 (a harness bound, not a face bound), so
    // this face gives the outer-null finalization machinery — the most
    // state-intensive streaming path in the repo — valid walls at any SF
    // (reference lazy.rs:329-341 never-materialize streaming collect +
    // io.rs:391-479 streaming sink).
    Face("q83_interval_join_full_sink", (s, d) =>
      intervalJoinFace(s, d, "full_outer", FileSink(scratchDir("q83_sink"))),
    oracle = intervalJoinSql("full_outer")),
  )
}
