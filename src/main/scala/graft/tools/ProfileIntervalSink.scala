package graft.tools

import graft.Sessions
import graft.faces.StreamFaces
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-scale evidence for the OUTER interval-join finalization paths
  * (r16 verdict item 1). q78/q79/q82 drive through the memory-sink oracle
  * harness, whose 100k `localize` guard bounds them above sf0.1 — a bound
  * of the HARNESS, not of the faces. This tool drives the identical outer
  * joins through the production file sink, using the faces' own function
  * ([[StreamFaces.intervalJoinFace]]: same fixtures, same join, same drive),
  * so the outer-null finalization machinery — the most state-intensive
  * streaming path in the repo — gets real >sf0.1 walls.
  *
  * Correctness is checked FILE-side, two ways:
  *  - in-tool: row count + an order-independent checksum (sum of xxhash64
  *    over every column's string form, nulls marked) of the sink output vs
  *    the BATCH range join of the same inputs. The batch twin runs a
  *    different physical execution (sort-merge range join vs
  *    StreamingSymmetricHashJoin + watermark finalization), so agreement
  *    is evidence, not tautology.
  *  - driver-side: `tools/check_ij_sink.py` re-derives the same join in
  *    DuckDB from the fixture parquet and diffs the sink output row-set
  *    exactly — the same independent-engine truth the Verify oracle uses.
  *
  * Usage: runMain graft.tools.ProfileIntervalSink [sfDir] [reps]
  * Prints one `{"metric":"ij_sink",...}` JSON line per (joinType, rep) and
  * leaves the fixture + sink dirs printed for the python check.
  */
object ProfileIntervalSink {

  /** (row count, order-independent checksum) of a frame: sum over rows of
    * xxhash64(all columns as strings, sorted by name, nulls marked) —
    * accumulated in decimal(38,0) so ANSI mode cannot overflow-abort. */
  private def summarize(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("␀")))
    val row = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (row.getLong(0),
      Option(row.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = Sessions.local()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // warm-up

    val (dirL, dirR) = StreamFaces.intervalJoinInputs(spark, sfDir, sentinels = true)
    println(s"[ij-sink] fixtures: left=$dirL right=$dirR " +
      s"purchases=${spark.read.parquet(dirL).count()} clicks=${spark.read.parquet(dirR).count()}")
    val root = java.nio.file.Files.createTempDirectory("graft_ijsink").toString

    for (jt <- Seq("left_outer", "right_outer", "full_outer")) {
      // batch truth once per join type, sentinel rows filtered like the faces
      val batch = StreamFaces.intervalJoinOf(spark.read.parquet(dirL),
        spark.read.parquet(dirR), jt).filter(col("user_id") >= 0L)
      for (rep <- 1 to reps) {
        val dir = s"$root/${jt}_$rep"
        var stateRows = -1L
        var stateMb = 0.0
        val t0 = System.nanoTime()
        val sink = StreamFaces.intervalJoinFace(spark, sfDir, jt,
          StreamFaces.FileSink(dir, _.flatMap(_.stateOperators.headOption).foreach { so =>
            stateRows = math.max(stateRows, so.numRowsTotal)
            stateMb = math.max(stateMb, so.memoryUsedBytes / 1e6)
          }))
        val wall = (System.nanoTime() - t0) / 1e9
        val (sn, sh) = summarize(sink)
        val (bn, bh) = summarize(
          batch.select(sink.schema.map(f => col(f.name).cast(f.dataType)): _*))
        val ok = sn == bn && sh == bh
        println(f"""{"metric":"ij_sink","sf":"$sfDir","join":"$jt","rep":$rep,"wall_sec":${math.rint(wall * 100) / 100}%s,"rows":$sn,"batch_rows":$bn,"checksum_match":$ok,"state_rows_max":$stateRows,"state_mb_max":${math.rint(stateMb * 10) / 10}%s,"out":"$dir/out"}""")
        require(ok, s"ij_sink $jt rep$rep: sink output != batch truth " +
          s"(rows $sn vs $bn, checksum ${sh.take(12)} vs ${bh.take(12)})")
      }
    }
    spark.stop()
  }
}
