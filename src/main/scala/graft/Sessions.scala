package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.InternalBridge

/** Shared SparkSession construction for the driver entry points (Verify,
  * Bench) and tests — one place for the configs every run needs. */
object Sessions {
  def local(cpus: String): SparkSession = {
    // the engine's session defaults (InternalBridge.engineDefaults) unless a
    // spark.* system property already names them
    val conf = new SparkConf()
    InternalBridge.setEngineDefaults(conf)
    val spark = SparkSession.builder()
      .config(conf)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // write µs-unit timestamps (not INT96) so DuckDB/pyarrow read back the
      // exact instants the oracle computes
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet carries TIMESTAMP(NANOS), unreadable natively; read as
      // long and convert in the loader (SparkEntry.t)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // long-lived-session heap hygiene (r15 qd41 investigation): even with
      // the UI off, AppStatusStore + SQLAppStatusListener retain per-job /
      // per-stage / per-task / per-SQL-execution history in the DRIVER HEAP
      // at defaults of 1000/1000/100k/1000 entries — across a 149-query
      // multi-rep suite (or a day-long production session) that is an
      // old-gen ratchet that turns allocation-heavy queries into GC storms.
      // The status APIs only need a short tail; cap the retention.
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
