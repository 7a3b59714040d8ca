package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.StructType

/** Narrow bridge into Spark's `private[sql]` surface (hence the package):
  * lets operators stay on serialized `InternalRow`s end-to-end instead of
  * round-tripping through external `Row` boxing when they must drop to RDD
  * level (e.g. `concatHorizontal`'s co-partitioned zip). The output re-enters
  * SQL as a `LogicalRDD` scan, where `RDDScanExec` applies its own unsafe
  * projection — so downstream codegen sees the same row format as any scan.
  */
object InternalBridge {

  /** The frame's execution as serialized rows — no deserializer appended. */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] = df.queryExecution.toRdd

  /** Wrap an InternalRow RDD back into a DataFrame (LogicalRDD). */
  def fromInternalRdd(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Driver-held rows as a DataFrame over a `LocalRelation` — what
    * `createDataFrame` builds for a local list: real size statistics (so a
    * join against it can broadcast) and the optimizer's local-relation
    * rules. */
  def fromLocalRows(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Runs `body` on the frame's rows, streamed to the driver one partition
    * at a time (`executeToIterator`, as `toLocalIterator` does), inside a
    * new SQL execution named `name` — so the export shows in the SQL UI and
    * reaches `QueryExecutionListener`s like any other action. */
  def withLocalRows[A](df: DataFrame, name: String)(body: Iterator[InternalRow] => A): A = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.executedPlan.executeToIterator()))
  }

  /** Wrap a raw Catalyst Expression as a user-facing Column (the
    * `private[sql]` classic-module converter). Every library builder of a
    * native kernel (`graft.plans`) goes through here: typed arguments —
    * codebooks, Bloom bytes, bound tables, `k` — go straight into the
    * expression's constructor, and the Column resolves on any session
    * without a function-registry entry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Catalyst Expression behind a Column (inverse of [[column]]). */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Unload every cached state-store provider (`StateStore.unloadAll` is
    * `private[sql]`). A stopped streaming query's providers stay in the
    * provider cache until the maintenance thread notices the query is gone
    * (60 s default); harnesses that run many short-lived queries
    * back-to-back reclaim that memory immediately instead. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** The engine's session defaults, one table. [[setEngineDefaults]]
    * sets each on a conf unless the conf already names it, so a user's
    * value (builder `.config`, `--conf`, `-D` system property) always wins.
    *  - Spark's generated-class cache holds
    *    [[graft.GraftExtensions.CodegenCacheEntries]] classes. It is a static
    *    SQL conf, read once per JVM when the first query compiles.
    *  - Streaming checkpoint files go through
    *    [[graft.streaming.ForkFreeCheckpointFileManager]], which forks no
    *    process per file on a local path. */
  private val engineDefaults: Seq[(String, String)] = Seq(
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key ->
      graft.GraftExtensions.CodegenCacheEntries.toString,
    SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key ->
      classOf[graft.streaming.ForkFreeCheckpointFileManager].getName)

  def setEngineDefaults(conf: SparkConf): Unit =
    engineDefaults.foreach { case (k, v) => conf.setIfMissing(k, v) }

  /** [[setEngineDefaults]] on the active context's own conf
    * (`private[spark]`), and [[dropKeyProvenance]] on its Hadoop
    * configuration. Called while a session is being built, before its
    * `SQLConf` copies the context's conf. */
  def setEngineDefaults(): Unit =
    SparkContext.getActive.foreach { sc =>
      setEngineDefaults(sc.conf)
      dropKeyProvenance(sc.hadoopConfiguration)
    }

  /** Stop `conf` recording where each key came from. Hadoop keeps, per
    * key, the resources that set it (`Configuration.updatingResource`, what
    * `getPropertySources` returns), and `Configuration.write` GZIP-compresses
    * that list for every key, one `Deflater` per key. Spark serializes a
    * copy of the context's configuration (`SessionState.newHadoopConf`)
    * whenever it builds a streaming join, a Parquet scan or a file write,
    * several times per micro-batch (SCALE_CONTRACTS.md, "Streaming:
    * per-micro-batch floor"). With a map that records nothing in that
    * field, a write carries keys and values only.
    *
    * Values are untouched. A `reloadConfiguration()` loads into the same
    * map, so it stays untracked; a child `new Configuration(conf)` starts
    * from an empty copy and records its own `set`s. `getPropertySources`
    * on `conf` returns null. Idempotent; a Hadoop without the field is left
    * as it is. */
  def dropKeyProvenance(conf: Configuration): Unit =
    ProvenanceField.foreach { f =>
      conf.synchronized { if (f.get(conf) ne NoProvenance) f.set(conf, NoProvenance) }
    }

  private lazy val ProvenanceField: Option[java.lang.reflect.Field] =
    try {
      val f = classOf[Configuration].getDeclaredField("updatingResource")
      f.setAccessible(true)
      Some(f)
    } catch { case _: NoSuchFieldException => None }

  /** An always-empty map that ignores `put`: shared, since it holds nothing. */
  private object NoProvenance extends java.util.AbstractMap[String, Array[String]] {
    override def put(key: String, sources: Array[String]): Array[String] = null
    override def entrySet(): java.util.Set[java.util.Map.Entry[String, Array[String]]] =
      java.util.Collections.emptySet()
  }
}
