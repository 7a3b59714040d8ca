package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Order-independent output digest: `rows:sum(xxhash64(row))`, with every
  * column in a canonical form (numbers as decimal(38,6), floating point
  * rounded to 6 places first, times as epoch micros) and columns taken in
  * name order, so the engine's output and a plain Spark SQL reference hash
  * alike. */
object Digest {
  private val Canon = DecimalType(38, 6)
  private def canon(f: StructField): Column = {
    val c = col(s"`${f.name}`")
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType => c.cast(Canon)
      case FloatType | DoubleType => round(c, 6).try_cast(Canon)
      case TimestampType | TimestampNTZType => unix_micros(c.cast("timestamp"))
      case DateType => unix_date(c)
      case _ => c
    }
  }

  def aggs(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.sortBy(_.name).map(canon).toSeq
    Seq(count(lit(1)).as("n"), sum(xxhash64(cols: _*).cast("decimal(20,0)")).as("h"))
  }

  def format(n: Any, h: Any): String = s"$n:${Option(h).getOrElse(0)}"

  /** Digest computed by its own job (references, read-backs). */
  def of(df: DataFrame): String = many(Seq("" -> df))("")

  /** Several digests from one Spark job: one aggregate row per frame. */
  def many(dfs: Seq[(String, DataFrame)]): Map[String, String] =
    dfs.map { case (name, df) =>
      val a = aggs(df)
      df.agg(a.head, a.tail: _*).select(lit(name).as("name"), col("n"), col("h"))
    }.reduce(_ unionByName _).collect().map(r => r.getString(0) -> format(r.get(1), r.get(2))).toMap
}

final case class OpRecord(job: Int, op: String, traced: Boolean, start: Long, end: Long,
                          digest: String, error: String)

/** What a workload sees of the harness: the session, its input and scratch
  * directories, the tracer, and the two ways to run one measured op. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
                val tracer: Tracer, inject: Boolean, keepWarm: Boolean = false) {
  val records = ArrayBuffer.empty[OpRecord]
  var job = -1 // -1 = warm-up, not recorded
  /** Largest cache footprint seen in a measured job (MB, memory + disk). */
  var persistedMb = 0.0
  def notePersisted(): Unit = if (job >= 0) persistedMb = math.max(persistedMb,
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  private var measuredOps = 0
  /** Time spent reading outputs back for their digests: not part of a job. */
  var checkNs = 0L

  def path(dir: String, name: String): String = new File(dir, name).getPath

  /** One op whose output is a DataFrame: `build` calls the layer's public
    * function (span `spanName`), then the result is materialised through
    * the noop sink while an observation computes its digest in the same
    * pass, so no column the op produces can be pruned away. */
  def query(op: String, spanName: String)(build: => DataFrame): Unit =
    action(op, spanName) {
      val df = tracer.timed((s, ns) => s.buildNs += ns)(build)
      // the warm-up keeps the outputs the reference step checks, so no op
      // has to run again for its contract check
      val keep = job < 0 && keepWarm
      val out = if (keep) df.persist(StorageLevel.MEMORY_AND_DISK) else df
      val d = materialise(out)
      if (keep) warm(op) = out
      () => d
    }

  /** Outputs of the warm-up pass by op name, released after the references. */
  val warm = mutable.Map.empty[String, DataFrame]
  /** Digests of the warm-up pass by op name. */
  val warmDigest = mutable.Map.empty[String, String]
  private val deferred = ArrayBuffer.empty[DataFrame]

  /** Unpersist a job's cached stages; after the warm-up pass this waits
    * until the reference step has used them. */
  def release(dfs: Iterable[DataFrame]): Unit =
    if (job < 0) deferred ++= dfs else dfs.foreach(_.unpersist(blocking = true))

  def releaseWarm(): Unit = {
    (warm.values ++ deferred).foreach(_.unpersist(blocking = true))
    warm.clear(); deferred.clear()
  }

  def materialise(df: DataFrame): String = {
    val (observed, digest) = this.observed(df)
    tracer.timed((s, ns) => s.planNs += ns)(observed.queryExecution.executedPlan)
    observed.write.format("noop").mode("overwrite").save()
    tracer.settle()
    digest()
  }

  /** `df` with its digest computed by whichever action runs it next. */
  def observed(df: DataFrame): (DataFrame, () => String) = {
    val obs = Observation()
    val a = Digest.aggs(df)
    (df.observe(obs, a.head, a.tail: _*), () => {
      val m = obs.get
      if (tracer.on) tracer.current.foreach(s => tracer.statsOf(s.id).outRows += m("n").asInstanceOf[Long])
      Digest.format(m("n"), m("h"))
    })
  }

  /** One op with a custom body. The body returns how to get the digest of
    * what it produced; that read-back runs after the op's timing stops. */
  def action(op: String, spanName: String)(body: => () => String): Unit = {
    val recorded = job >= 0
    val n = if (recorded) { measuredOps += 1; measuredOps } else 0
    val t0 = System.nanoTime()
    var t1 = t0
    val (digest, error) =
      try {
        if (inject && n == 1) throw new IllegalStateException("injected failure")
        val d = tracer.span(spanName)(body)
        t1 = System.nanoTime()
        val digest = d()
        checkNs += System.nanoTime() - t1
        (if (inject && n == 2) digest + "-corrupted" else digest, null)
      } catch { case NonFatal(e) => (null, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (t1 == t0) t1 = System.nanoTime()
    println(f"op job=$job%d $op%s ${(t1 - t0) / 1e9}%.3f s" + Option(error).fold("")(" failed: " + _))
    if (recorded) records += OpRecord(job, op, tracer.on, t0, t1, digest, error)
    else if (error != null) throw new IllegalStateException(s"warm-up op $op failed: $error")
    else warmDigest(op) = digest
  }
}

trait Workload {
  /** Register the inputs (part of set-up). */
  def load(c: Ctx): Unit
  /** One unit of work: a fixed sequence of ops. */
  def job(c: Ctx): Unit
  /** Expected digest per op name: computed without the engine's modules,
    * or the warm-up output's digest once that output (`Ctx.warm`) passes
    * the op's stated contract. Runs after the warm-up pass, untimed. */
  def references(c: Ctx): Map[String, String]
  /** Whether `references` reads the warm-up outputs (`Ctx.warm`). */
  def checksWarmOutputs: Boolean = false
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String): Workload = name match {
    case "frame_queries" => FrameQueries
    case "corpus_pipeline" => CorpusPipeline
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII))
    catch { case NonFatal(_) => () } // not Linux: the peak covers the whole process

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = arg(args, "--workload").get
    val data = arg(args, "--data").get
    val work = arg(args, "--work").get
    val out = arg(args, "--out").get
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val inject = args.contains("--inject")

    val w = workload(name)
    // Set-up = process start (cold JVM) to a session with the extensions
    // ready and the inputs registered.
    val spark = session(cores)
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, data, work, tracer, inject, w.checksWarmOutputs)
    w.load(ctx)
    spark.sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))").collect()
    val setupS = (System.currentTimeMillis() - processStart) / 1000.0

    val warm0 = System.nanoTime()
    w.job(ctx) // untimed warm-up pass
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val ref0 = System.nanoTime()
    val refFile = new File(arg(args, "--refs").get)
    val refs: Map[String, String] =
      if (refFile.exists()) Refs.read(refFile)
      else { val r = w.references(ctx); Refs.write(refFile, r); r }

    ctx.releaseWarm()
    val referenceS = (System.nanoTime() - ref0) / 1e9

    // Start the measured phase from a shrunk heap and a reset peak-RSS
    // counter, so peak_rss_mb is the measured phase's own peak.
    System.gc(); System.gc()
    resetPeakRss()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jobs = ArrayBuffer.empty[Map[String, Any]]
    val gcBefore = gcMillis()
    val cpu0 = os.getProcessCpuTime
    val phase0 = System.nanoTime()
    var j = 0
    // at least one job; the traced run needs a traced and an untraced one
    while (j < (if (trace) 2 else 1) || System.nanoTime() - phase0 < seconds * 1e9) {
      ctx.job = j
      if (trace && j % 2 == 0) tracer.start()
      val t0 = System.nanoTime()
      val check0 = ctx.checkNs
      tracer.span("job")(w.job(ctx))
      val t1 = System.nanoTime()
      jobs += Map("job" -> j, "traced" -> tracer.on, "start" -> t0, "end" -> t1,
        "check_ns" -> (ctx.checkNs - check0))
      tracer.on = false
      j += 1
    }
    val phase1 = System.nanoTime()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val jvmGcS = (gcMillis() - gcBefore) / 1000.0
    val rss = peakRssMb()
    val leaked = spark.sparkContext.getPersistentRDDs.size
    // let the context cleaner drop what the last job released, then measure
    System.gc(); Thread.sleep(500); System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layers = if (trace) Layers.summarise(tracer, jobs.toSeq, jvmGcS, leaked, ctx.persistedMb) else Map.empty
    val result = Map(
      "setup_s" -> setupS,
      "phase_s" -> (phase1 - phase0) / 1e9,
      "warmup_s" -> warmupS,
      "reference_s" -> referenceS,
      "cpu_s" -> cpuS,
      "peak_rss_mb" -> rss,
      "retained_heap_mb" -> heapMb,
      "leaked_rdds" -> leaked,
      "jvm_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "cores" -> cores,
      "jobs" -> jobs,
      "ops" -> ctx.records.map(r => Map("job" -> r.job, "op" -> r.op, "traced" -> r.traced,
        "start" -> r.start, "end" -> r.end, "digest" -> r.digest, "error" -> r.error)),
      "reference" -> refs,
      "layers" -> layers,
      "spans" -> {
        val own = Layers.selfSeconds(tracer.spans.toSeq)
        tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start" -> s.start, "end" -> s.end, "self_s" -> own(s.id)))
      })
    Files.write(Paths.get(out), json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
}

/** Reference digests, cached next to the inputs of one seed. */
object Refs {
  def read(f: File): Map[String, String] =
    scala.io.Source.fromFile(f, "UTF-8").getLines().map { l =>
      val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1)
    }.toMap

  def write(f: File, m: Map[String, String]): Unit =
    Files.write(f.toPath, m.toSeq.sorted.map { case (k, v) => s"$k\t$v" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}
