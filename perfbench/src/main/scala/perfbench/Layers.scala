package perfbench

/** Rolls the spans and listener counts of the traced jobs up into the
  * per-layer metrics. Counts and times are per traced job; streaming times
  * are per trigger; state sizes are the last level seen. */
object Layers {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => a < b }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time of every span: its length less its child spans (children of
    * one span never overlap: the client is single-threaded), so a call
    * nested in another module's call counts for its own module only. */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - children.getOrElse(s.id, 0.0))).toMap
  }

  def summarise(t: Tracer, jobs: Seq[Map[String, Any]], jvmGcS: Double,
                leakedRdds: Int, persistedMb: Double): Map[String, Double] = {
    val byParent = t.spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Span] =
      byParent.getOrElse(id, Nil).toSeq.flatMap(c => c +: subtree(c.id))
    val roots = t.spans.filter(s => s.parent == 0L && s.name == "job").toSeq
    val n = math.max(1, roots.size).toDouble
    val inTraced = roots.flatMap(r => r +: subtree(r.id))
    val st = inTraced.map(s => t.statsOf(s.id))
    def tot(f: SpanStats => Long): Double = st.map(f).sum.toDouble
    def mod(m: String) = inTraced.filter(_.module == m)
    val self = selfSeconds(t.spans.toSeq)
    def busy(m: String) = mod(m).map(s => self(s.id)).sum / n
    def calls(m: String) = mod(m).size / n

    // wall time of each job not covered by any running task
    val gapS = roots.map { r =>
      val lo = t.toEpochMs(r.start); val hi = t.toEpochMs(r.end)
      val iv = (r +: subtree(r.id)).flatMap(s => t.statsOf(s.id).taskIntervals)
      (hi - lo - covered(iv, lo, hi)) / 1000.0
    }.sum / n
    // share of each traced job (less its output read-backs) under top-level spans
    val checkS = jobs.filter(_("traced") == true).map(_("check_ns").asInstanceOf[Long] / 1e9)
    val coverage = roots.zip(checkS).map { case (r, chk) =>
      byParent.getOrElse(r.id, Nil).map(_.seconds).sum / math.max(r.seconds - chk, 1e-9)
    }
    val dedupSpans = mod("dedup").filter(_.name.endsWith("minhashPairs")).map(s => t.statsOf(s.id))
    val pairs = dedupSpans.map(_.outRows).sum.toDouble
    val candidates = dedupSpans.map(_.joinRows).sum.toDouble
    val outRows = tot(_.outRows)
    val triggers = math.max(1.0, tot(_.triggers))
    def streamMs(keys: String*) = st.map(s => keys.map(k => s.streamMs(k)).sum).sum / triggers
    val jobSecs = jobs.map(j => (j("traced").asInstanceOf[Boolean],
      (j("end").asInstanceOf[Long] - j("start").asInstanceOf[Long] - j("check_ns").asInstanceOf[Long]) / 1e9))
    val tracedJob = median(jobSecs.filter(_._1).map(_._2))
    val untracedJob = median(jobSecs.filterNot(_._1).map(_._2))
    val mb = 1048576.0

    Map(
      "api.calls" -> calls("api"),
      "api.build_s" -> tot(_.buildNs) / 1e9 / n,
      "sql.plan_s" -> tot(_.planNs) / 1e9 / n,
      "sched.jobs" -> tot(_.jobs) / n,
      "sched.stages" -> tot(_.stages) / n,
      "sched.tasks" -> tot(_.tasks) / n,
      "sched.queue_s" -> tot(_.queueMs) / 1000.0 / n,
      "sched.driver_gap_s" -> gapS,
      "sched.task_failures" -> tot(_.taskFailures) / n,
      "operators.calls" -> calls("operators"),
      "operators.busy_s" -> busy("operators"),
      "shuffle.exchanges" -> tot(_.exchanges) / n,
      "shuffle.reused" -> tot(_.reused) / n,
      "shuffle.write_mb" -> tot(_.shuffleWrite) / mb / n,
      "shuffle.read_mb" -> tot(_.shuffleRead) / mb / n,
      "shuffle.fetch_wait_s" -> tot(_.fetchWaitMs) / 1000.0 / n,
      "spill.mb" -> tot(_.spillBytes) / mb / n,
      "prep.busy_s" -> busy("prep"),
      "dedup.busy_s" -> busy("dedup"),
      "dedup.pair_yield" -> (if (candidates > 0) pairs / candidates else 0.0),
      "functions.busy_s" -> busy("functions"),
      "codegen.wscg_stages" -> tot(_.wscg) / n,
      "codegen.fallback_exprs" -> tot(_.fallbackExprs) / n,
      "exec.run_s" -> tot(_.runMs) / 1000.0 / n,
      "exec.cpu_s" -> tot(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> tot(_.gcMs) / 1000.0 / n,
      "jvm.gc_s" -> jvmGcS / math.max(1, jobs.size),
      "similarity.calls" -> calls("similarity"),
      "similarity.busy_s" -> busy("similarity"),
      "scan.rows" -> tot(_.scanRows) / n,
      "scan.mb" -> tot(_.scanBytes) / mb / n,
      "scan.time_s" -> tot(_.scanTimeMs) / 1000.0 / n,
      "scan.rows_per_out_row" -> (if (outRows > 0) tot(_.scanRows) / outRows else 0.0),
      "sources.write_calls" -> calls("sources"),
      "sources.write_s" -> busy("sources"),
      "sources.write_mb" -> tot(_.writeBytes) / mb / n,
      "cache.persisted_mb" -> persistedMb,
      "cache.leaked_rdds" -> leakedRdds.toDouble,
      "streaming.triggers" -> tot(_.triggers) / n,
      "streaming.plan_ms" -> streamMs("queryPlanning"),
      "streaming.get_batch_ms" -> streamMs("getBatch", "latestOffset"),
      "streaming.add_batch_ms" -> streamMs("addBatch"),
      "streaming.commit_ms" -> streamMs("walCommit", "commitOffsets"),
      "streaming.state_commit_ms" -> tot(_.stateCommitMs) / triggers,
      "streaming.state_rows" -> st.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "streaming.state_mb" -> st.map(_.stateBytes).maxOption.getOrElse(0L) / mb,
      "streaming.late_rows" -> tot(_.lateRows) / n,
      "trace.coverage" -> median(coverage),
      "trace.job_s" -> tracedJob,
      "trace.untraced_job_s" -> untracedJob,
      "trace.overhead" -> (if (untracedJob > 0) tracedJob / untracedJob - 1 else 0.0))
  }
}
