package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
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
  def fromInternalRdd(df: DataFrame, rdd: RDD[InternalRow], schema: StructType): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(rdd, schema)
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
    * (`private[spark]`). Called while a session is being built, before its
    * `SQLConf` copies the context's conf. */
  def setEngineDefaults(): Unit =
    SparkContext.getActive.foreach(sc => setEngineDefaults(sc.conf))
}
