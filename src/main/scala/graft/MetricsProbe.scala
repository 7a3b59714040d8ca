package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Mechanism counters for the bench's self-adjudicating gate (round-15
  * directive 1a/6): a gate violation that only carries {warm, cpu_frac,
  * load1} can distinguish ambient starvation (cpu collapses) from "the JVM
  * did more work", but not WHICH work — GC storm, lineage recompute after a
  * lost persist block, shuffle spill, or a plan flip all read as the same
  * elevated cpu_frac. These counters separate them:
  *
  *   - `gcFrac`  — stop-the-world collection time / wall, from the JVM's GC
  *     MXBeans. A long-lived suite JVM whose old gen has ratcheted up turns
  *     allocation-heavy queries (the qd41 flagship) into GC storms; this is
  *     the direct witness.
  *   - `oldGenMb` — post-rep old-generation occupancy; across the per-query
  *     map it shows WHERE in the suite the heap pressure ratchets.
  *   - task counters (tasks / shuffle bytes / spilled bytes / input bytes)
  *     via a [[SparkListener]]: a lineage recompute (persist block lost, or
  *     an AQE re-plan) multiplies the task count and re-reads input bytes;
  *     memory pressure shows as nonzero spill where the reference run had
  *     none. Deltas are per-rep exact because the bench drains the async
  *     listener bus around each window ([[org.apache.spark.graft.ListenerBusDrain]]).
  */
object MetricsProbe {

  /** Cumulative stop-the-world GC milliseconds across all collector beans. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Old-generation occupancy in MB (G1 "G1 Old Gen", parallel "PS Old
    * Gen", serial "Tenured Gen" — matched by name); falls back to total
    * heap used when no old-gen pool is identifiable. */
  def oldGenUsedMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    val bytes =
      if (pools.nonEmpty) pools.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / 1e6
  }

  /** Snapshot of the cumulative task-level counters. */
  final case class Snap(tasks: Long, shuffleBytes: Long, spilledBytes: Long,
                        inputBytes: Long, taskGcMs: Long) {
    def -(o: Snap): Snap = Snap(tasks - o.tasks, shuffleBytes - o.shuffleBytes,
      spilledBytes - o.spilledBytes, inputBytes - o.inputBytes,
      taskGcMs - o.taskGcMs)
  }

  /** Accumulating task-metrics listener; register once per JVM, snapshot
    * around each measurement window. LongAdders: task-end events arrive on
    * the listener-bus thread concurrently with the snapshot reader. */
  final class TaskCounters extends SparkListener {
    private val nTasks = new LongAdder
    private val shuffle = new LongAdder
    private val spilled = new LongAdder
    private val input = new LongAdder
    private val taskGc = new LongAdder

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        nTasks.increment()
        shuffle.add(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        spilled.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.add(m.inputMetrics.bytesRead)
        taskGc.add(m.jvmGCTime)
      }
    }

    def snap(): Snap =
      Snap(nTasks.sum, shuffle.sum, spilled.sum, input.sum, taskGc.sum)
  }

  /** Install a fresh counter set on `sc` and return it. */
  def install(sc: SparkContext): TaskCounters = {
    val c = new TaskCounters
    sc.addSparkListener(c)
    c
  }
}
