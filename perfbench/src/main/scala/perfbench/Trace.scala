package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer's public function plus its
  * materialisation, or a grouping span (a whole job). Times are
  * `System.nanoTime` values; `parent` is 0 for a root span. */
final class Span(val id: Long, val name: String, val parent: Long, val start: Long) {
  var end: Long = 0L
  def seconds: Double = (end - start) / 1e9
  /** Layer a span belongs to: the text before the first dot. */
  def module: String = name.takeWhile(_ != '.')
}

/** Everything the listeners attributed to one span (not its children). */
final class SpanStats {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, queueMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var writeBytes = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms
  var exchanges, reused, wscg, fallbackExprs = 0L
  var scanRows, scanBytes, scanTimeMs, joinRows = 0L
  var planNs, buildNs, outRows = 0L
  var triggers = 0L
  val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var stateCommitMs, stateRows, stateBytes, lateRows = 0L
}

/** Spans kept in memory; written out when the run ends. With tracing off
  * every method is a pass-through, so untraced runs pay nothing. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  val stats = mutable.Map.empty[Long, SpanStats]
  private var stack = List.empty[Span]
  private var nextId = 1L
  /** Tracing is switched per job, so one run can interleave traced and
    * untraced jobs and report the difference as the tracing overhead. */
  var on = false

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  def toEpochMs(nanos: Long): Long = epochOffsetMs + nanos / 1000000L

  def current: Option[Span] = stack.headOption
  def statsOf(id: Long): SpanStats = synchronized(stats.getOrElseUpdate(id, new SpanStats))

  def span[A](name: String)(body: => A): A = {
    if (!on) return body
    val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), System.nanoTime())
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Time `body` into a counter of the current span (plan building etc.). */
  def timed[A](add: (SpanStats, Long) => Unit)(body: => A): A = {
    if (!on) return body
    val t = System.nanoTime()
    try body finally current.foreach(s => add(statsOf(s.id), System.nanoTime() - t))
  }

  /** Switch tracing on for the next job. Plans the listener delivered
    * while tracing was off (warm-up, references, untraced jobs) belong to
    * no span and are dropped. */
  def start(): Unit = if (enabled) {
    ListenerBusDrain(sc)
    plans.pending.clear()
    on = true
  }

  /** Let the listener bus catch up, then credit the plans it delivered to
    * the current span. Called after every action in a traced job. */
  def settle(): Unit = if (on) {
    ListenerBusDrain(sc)
    val target = current.map(s => statsOf(s.id))
    var qe = plans.pending.poll()
    while (qe != null) {
      target.foreach(t => PlanWalk.credit(qe.executedPlan, t, creditedCaches))
      qe = plans.pending.poll()
    }
  }

  val plans = new PlanListener
  /** Cached plans already credited: a cache is built by the op that first
    * materialises it; later ops that only read it must not count it again. */
  private val creditedCaches =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
  if (enabled) {
    sc.addSparkListener(new TaskListener(this))
    spark.listenerManager.register(plans)
  }
  watchStreams(spark)

  /** Streaming progress is reported per session: watch each session that
    * starts a query. */
  def watchStreams(session: SparkSession): Unit =
    if (enabled) session.streams.addListener(new StreamListener(this))
  /** Span that streaming jobs (whose job group is the query's run id, not
    * ours) are credited to: the trigger currently in flight. */
  @volatile var streamSpan: Long = 0L

  def spanFor(group: String): Option[Long] =
    if (group == null) None
    else group.toLongOption.orElse(if (streamSpan != 0L) Some(streamSpan) else None)
}

final class TaskListener(t: Tracer) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    t.spanFor(group).foreach { id =>
      t.statsOf(id).jobs += 1
      synchronized(e.stageIds.foreach(stageSpan(_) = id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach { id =>
      t.statsOf(id).stages += 1
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (span, submitted) = synchronized((stageSpan.get(e.stageId), stageSubmit.get(e.stageId)))
    span.foreach { id =>
      val s = t.statsOf(id)
      val info = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (!info.successful) s.taskFailures += 1
        s.taskIntervals += ((info.launchTime, info.finishTime))
        submitted.foreach(sub => s.queueMs += math.max(0L, info.launchTime - sub))
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.diskBytesSpilled
          s.writeBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

final class PlanListener extends QueryExecutionListener {
  val pending = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    pending.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final class StreamListener(t: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val id = t.streamSpan
    if (id == 0L) return
    val s = t.statsOf(id)
    val p = e.progress
    s.synchronized {
      s.triggers += 1
      p.durationMs.forEach((k, v) => s.streamMs(k) += v.longValue)
      p.stateOperators.foreach { op =>
        s.stateCommitMs += op.commitTimeMs
        s.stateRows = op.numRowsTotal
        s.stateBytes = op.memoryUsedBytes
        s.lateRows += op.numRowsDroppedByWatermark
      }
    }
  }
}

/** Reads the final (post-AQE) physical plan of one executed query. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def credit(plan: SparkPlan, s: SpanStats, seen: java.util.Set[SparkPlan]): Unit = s.synchronized {
    collectWithSubqueries(plan) { case p => p }.foreach { p =>
      p match {
        case m: InMemoryTableScanExec =>
          val cached = m.relation.cachedPlan
          if (seen.add(cached)) credit(cached, s, seen)
        case _: ShuffleExchangeExec => s.exchanges += 1
        case _: ReusedExchangeExec => s.reused += 1
        case _: WholeStageCodegenExec => s.wscg += 1
        case _: FileSourceScanExec | _: BatchScanExec =>
          s.scanRows += metric(p, "numOutputRows")
          s.scanBytes += metric(p, "filesSize")
          s.scanTimeMs += metric(p, "scanTime")
        case _: BaseJoinExec => s.joinRows += metric(p, "numOutputRows")
        case _ =>
      }
      s.fallbackExprs += p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }
  }
}
