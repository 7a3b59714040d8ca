package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — [[entry]], the sf-table loader [[t]] and the fixtures
  * the face families in `graft.faces` share. Every face (one per
  * implemented operator from SURVEY.md §2) and its DuckDB oracle live in
  * [[graft.faces.Faces]].
  *
  * Float determinism: all money/ratio aggregates go through exact
  * DECIMAL(18,2/4) sums and only then cast to DOUBLE, so Spark and DuckDB
  * produce bit-identical doubles regardless of accumulation order (the test
  * data is fixed-decimal: quantities are integers, prices 2dp, event values
  * 4dp).
  */
/** q66's record type — the "from objects" construction surface (reference
  * DataFrame.cs FromRecords/object-mapper path): a plain case class turned
  * into a Dataset through the product encoder. */
final case class G66Rec(id: Long, name: String, score: Double)

object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS) parquet, read as long nanos under
    // spark.sql.legacy.parquet.nanosAsLong — normalize to µs TimestampType
    // (floor division, matching DuckDB's ns→µs cast).
    df.schema.fields.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      // cast to timestamp_ntz (session TZ is UTC) so outputs round-trip as
      // naive timestamps, matching DuckDB's ns→µs TIMESTAMP
      case Some(_) => df.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case None => df
    }
  }

  /** Exact decimal view of a 4dp value column. */
  private[graft] def dec4(c: Column): Column = c.cast("decimal(18,4)")

  /** Materialized `Files.list` / `Files.walk` that CLOSE the underlying
    * directory stream (ADVICE r13: the bare streams leak one directory fd
    * per call until GC — drainStream pays two per streaming bench rep). */
  private[graft] def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  private[graft] def walkDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  /** Stable per-query scratch directory for round-trip queries (q56-q58):
    * one fixed path keyed by query name, recursively cleared on each call.
    * Repeated bench reps / verify runs overwrite in place instead of
    * accumulating a fresh parquet-sized temp copy per invocation
    * (ADVICE r10: Files.createTempDirectory leaked a dir per call). */
  private[graft] def scratchDir(name: String): String = {
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_scratch", name)
    if (java.nio.file.Files.exists(base))
      walkDir(base).reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    java.nio.file.Files.createDirectories(base)
    base.toString
  }

  /** Eagerly materialize a BOUNDED result (top-k selections, per-query
    * neighbor lists) into a driver-local frame so the query lambda can
    * release its stage caches deterministically before returning — the
    * caller's later action replays a LocalRelation, not the pipeline, and
    * `getPersistentRDDs` is empty the moment the lambda returns
    * (CacheHygieneSpec). Only legal where the result is bounded by
    * construction: `maxRows` is a hard guard, not a limit. */
  private[graft] def localize(s: SparkSession, df: DataFrame, maxRows: Int = 100000): DataFrame = {
    val rows = df.collect()
    require(rows.length <= maxRows,
      s"localize() is for bounded results; got ${rows.length} rows > $maxRows")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.faces.Faces("q01_groupby_agg").run(spark, "/root/testdata/sf0.001")

  // ---------------------------------------- bench input fixtures (r10 d4)
  //
  // qd40/qd44/qd46/q54 derive a structured synthetic input (lines, bullets,
  // HTML pages, duplicated paragraphs) from the flat documents corpus with
  // nested higher-order functions, and qm02 synthesizes real PNG/WAV
  // payloads per row. In the CORRECTNESS faces that construction must stay
  // in-query — the DuckDB oracle recomputes the same formulas. But in the
  // BENCH faces it dominated the measured time, so the bench twins
  // materialize the synthesized input to a per-SF parquet ONCE per JVM and
  // scan it, timing the operator the row measures rather than the fixture
  // arithmetic — the same contract/bench split qd04/qd05/qs04/qd32 use.

  private[graft] val fixtureCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once-scan-thereafter fixture parquet, keyed by (name, sfDir). */
  private[graft] def fixtureScan(s: SparkSession, sfDir: String, name: String)
                                (build: => DataFrame): DataFrame = {
    val key = name + ":" + sfDir
    val dir = fixtureCache.computeIfAbsent(key, _ => {
      val p = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_fixtures",
        name + "_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      // spread the fixture over the session's parallelism: the synthesized
      // tables are small (tens of MB), and a single parquet file would read
      // back as ONE input split — serializing the per-row decode/kernel the
      // bench face exists to measure
      build.repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(dir)
  }

  /** One-time sweep of pid-suffixed fixture layouts (`..._p<pid>`: q70
    * bucketed tables, q73/q74/q75 stream inputs) left by JVMs that no
    * longer exist — without it every bench/verify run leaks its copies
    * into /tmp forever. Entries owned by LIVE pids are kept (the
    * concurrent-JVM race the pid suffix exists to prevent). */
  private[graft] lazy val sweepStaleFixtures: Unit = {
    val root = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_fixtures")
    if (java.nio.file.Files.isDirectory(root)) {
      val pidRe = ".*_p([0-9]+)$".r
      listDir(root).foreach { p =>
        p.getFileName.toString match {
          case pidRe(pid) if pid.toLong != ProcessHandle.current().pid() &&
              !ProcessHandle.of(pid.toLong).isPresent() =>
            try walkDir(p).reverse
              .foreach(f => java.nio.file.Files.deleteIfExists(f))
            catch { case _: java.io.IOException => () } // concurrent sweep
          case _ => ()
        }
      }
    }
  }

  /** The batch backward as-of (DuckDB's native ASOF): each purchase with
    * the latest click at-or-before it, per user. Shared by q21 and its
    * continuous twin q75, which must reproduce it exactly. */
  private[graft] val asofBackwardSql: String =
    """SELECT p.event_id, p.user_id, p.ts, p.value,
      |  c.value AS click_value, c.ts AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin
}
