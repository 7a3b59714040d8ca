package graft.tools

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Plan tool: run one BENCH face through [[graft.api.Profile.profile]] and
  * print its final post-execution plan (AQE's final plan, with reused
  * exchanges and whole-stage-codegen spans as they ran), its per-node
  * timings, and one summary line counting shuffle, broadcast and reused
  * exchanges and WholeStageCodegen nodes. Counts come from node classes, so
  * a broadcast or reused exchange never counts as a shuffle.
  *
  * Usage: sbt "runMain graft.tools.Explain <query> [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val face = graft.faces.Faces(name)
    val spark = graft.Sessions.local()
    val df = face.benchRun(spark, sfDir)
    val (rows, timings) = graft.api.Profile.profile(df)
    println(s"=== $name final plan (${rows.length} rows) ===")
    println(df.queryExecution.executedPlan.treeString)
    println(s"=== $name node timings ===")
    timings.show(1000, truncate = false)
    val nodes = graft.api.Profile.planNodes(df.queryExecution.executedPlan)
    println(s"[explain] shuffle_exchanges=${nodes.count(_.isInstanceOf[ShuffleExchangeLike])} " +
      s"broadcast_exchanges=${nodes.count(_.isInstanceOf[BroadcastExchangeLike])} " +
      s"reused_exchanges=${nodes.count(_.isInstanceOf[ReusedExchangeExec])} " +
      s"wscg=${nodes.count(_.isInstanceOf[WholeStageCodegenExec])}")
    spark.stop()
  }
}
