package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.streaming.StreamOps

/** Closed-loop micro-batches through a full-outer interval join, the
  * streaming part of `frame_queries`. Per trigger the client drops one
  * purchases file and one clicks file into the watched directories and
  * waits until the query has committed them; the op time runs from the
  * files' creation to that commit. Two far-future flush batches then move
  * the watermark past every row, so the outer rows come out, and the
  * sink's contents are compared with the same join run as one plain Spark
  * SQL batch query. */
object StreamJoin {
  private var pSchema, cSchema: StructType = _
  private var batches = 0
  private val rowsPerBatch = 2 * 400 // one purchases + one clicks file

  private def batchFile(c: Ctx, side: String, b: Int) = new File(c.path(c.data, "batches"), f"${side}_$b%04d.parquet")

  def load(c: Ctx): Unit = {
    pSchema = c.spark.read.parquet(batchFile(c, "p", 0).getPath).schema
    cSchema = c.spark.read.parquet(batchFile(c, "c", 0).getPath).schema
    // the last two files of each side are the flush batches
    batches = new File(c.path(c.data, "batches")).list().count(_.startsWith("p_")) - 2
  }

  /** Copy a batch file in under a hidden name, then rename it into view:
    * the file source never sees a partial file. */
  private def drop(src: File, dir: File): Unit = {
    val tmp = new File(dir, "." + src.getName)
    Files.copy(src.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp.toPath, new File(dir, src.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def joined(p: DataFrame, cl: DataFrame) = StreamOps.intervalJoin(p, cl, "p_ts", "c_ts",
    Seq("p_user" -> "c_user"), before = "1m", after = "30s", watermark = "30 seconds",
    joinType = "full_outer")

  def job(c: Ctx): Unit = {
    val spark = c.spark
    val root = new File(c.work, s"stream-${c.job + 1}")
    val prev = new File(c.work, s"stream-${c.job}")
    if (prev.exists()) org.apache.commons.io.FileUtils.deleteDirectory(prev)
    val (inP, inC, out) = (new File(root, "in_p"), new File(root, "in_c"), new File(root, "out"))
    Seq(inP, inC).foreach(_.mkdirs())
    var q: StreamingQuery = null
    c.tracer.span("streaming.StreamOps.sinkFileStream") {
      // state partitions sized from the input volume, as the engine advises
      val parts = StreamOps.sizedStatePartitionsForInput(spark, Seq(c.path(c.data, "batches")))
      q = StreamOps.withStatePartitions(spark, parts) { s =>
        c.tracer.watchStreams(s)
        StreamOps.sinkFileStream(
          joined(s.readStream.schema(pSchema).parquet(inP.getPath),
            s.readStream.schema(cSchema).parquet(inC.getPath)),
          "parquet", out.getPath, new File(root, "ckpt").getPath, Trigger.ProcessingTime(0L))
      }
    }
    try {
      def trigger(b: Int): Long = {
        c.tracer.streamSpan = c.tracer.current.map(_.id).getOrElse(0L)
        drop(batchFile(c, "p", b), inP)
        drop(batchFile(c, "c", b), inC)
        q.processAllAvailable()
        c.tracer.settle()
        c.tracer.streamSpan = 0L
        q.recentProgress.map(_.numInputRows).sum
      }
      for (b <- 0 until batches) c.action("trigger", "streaming.StreamOps.trigger") {
        val rows = trigger(b)
        () => if (rows == (b + 1L) * rowsPerBatch) "ok" else s"input rows $rows after batch $b"
      }
      c.action("flush", "streaming.StreamOps.trigger") {
        trigger(batches); trigger(batches + 1)
        q.stop()
        () => Digest.of(spark.read.parquet(out.getPath).filter(col("p_user") >= 0))
      }
    } finally if (q != null) q.stop()
  }

  def references(c: Ctx): Map[String, String] = {
    val spark = c.spark
    def side(s: String) = spark.read.parquet((0 until batches).map(b => batchFile(c, s, b).getPath): _*)
    side("p").createOrReplaceTempView("ref_p")
    side("c").createOrReplaceTempView("ref_c")
    Map("trigger" -> "ok", "flush" -> Digest.of(spark.sql(
      """SELECT p.p_id, coalesce(p.p_user, c.c_user) p_user, p.p_ts, p.p_amount, c.c_ts, c.c_id
        |FROM ref_p p FULL OUTER JOIN ref_c c ON p.p_user = c.c_user
        |AND c.c_ts >= p.p_ts - INTERVAL 1 MINUTE AND c.c_ts <= p.p_ts + INTERVAL 30 SECONDS""".stripMargin)))
  }
}
