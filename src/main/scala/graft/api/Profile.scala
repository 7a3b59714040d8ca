package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types._

/** Polars `profile()` twin (reference: LazyFrame.Profile — lazy.rs:604-613
  * exposes plan text; Polars proper returns a (result, timings) pair with one
  * row per plan node). Spark already meters every operator with SQLMetrics;
  * this runs the query and flattens the EXECUTED plan (descending through
  * AQE's final plan and query stages, not the initial guess) into a timings
  * frame: node id, operator name, output rows, metered time in ms.
  *
  * Timing semantics mirror Spark's own SQL UI: per-operator metrics where the
  * operator reports them (scan time, build time, sort time, shuffle write
  * time...) — a sum of that operator's timing metrics, ns-metrics normalized
  * to ms. WholeStageCodegen nodes carry the fused pipeline's wall time.
  */
object Profile {

  /** Execute `df` and return (result rows, per-node timings frame). */
  def profile(df: DataFrame): (Array[Row], DataFrame) = {
    val rows = df.collect()
    (rows, timingsOf(df))
  }

  /** Timings frame for an ALREADY-executed frame (metrics are zero/partial if
    * nothing ran yet). */
  def timingsOf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val nodes = planNodes(df.queryExecution.executedPlan)
    val out = nodes.zipWithIndex.map { case (p, i) =>
      val rowsOut = p.metrics.get("numOutputRows").map(_.value)
      val timeMs = p.metrics.collect {
        case (name, m)
            if name.contains("time") || name.contains("Time") || name == "duration" =>
          if (m.metricType == "nsTiming") m.value / 1000000L else m.value
      }.sum
      Row(i, p.nodeName, rowsOut.map(long2Long).orNull, timeMs)
    }
    val schema = StructType(Seq(
      StructField("node_id", IntegerType, nullable = false),
      StructField("node", StringType, nullable = false),
      StructField("output_rows", LongType, nullable = true),
      StructField("time_ms", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Pre-order walk of the physical plan that follows AQE indirections:
    * AdaptiveSparkPlanExec → its final executed plan, QueryStageExec → the
    * materialized stage plan. A reused exchange is a leaf, so the
    * exchange it points at is listed once, where it ran. */
  private[graft] def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }
}
