package graft.sources

import java.nio.channels.Channels

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowStreamReader}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.{ArrowCodec, InternalBridge}

/** Arrow IPC (Feather v2) read + write — closes the reference's IPC surface
  * (native_shim/src/io.rs:159-179 read/scan, io.rs:308-319 write; round-trip
  * exercised by reference IOTests.cs).
  *
  * Layout mirrors every other distributed sink: a DIRECTORY of
  * `part-NNNNN.arrow` files, one per partition, each a complete IPC file.
  *
  * Scale design:
  *  - write: each task streams its partition into its own file in record
  *    batches of `batchSize` rows — no driver materialization, memory bounded
  *    by one batch;
  *  - read: the driver reads only the FOOTERS (tiny) to enumerate record
  *    batches, then fans out one task per (file, batch-range) — parallelism
  *    is batch-granular, each task seeks straight to its blocks.
  *
  * Types map through Spark's own Arrow codec (`ArrowCodec`: `ArrowUtils`,
  * `ArrowWriter`, `ArrowColumnVector`) on `InternalRow`s, so every type
  * Spark's Arrow paths carry round-trips, arrays included; `timestamp` is
  * written as Arrow `Timestamp(MICROSECOND, UTC)` and `timestamp_ntz` as a
  * zone-less `Timestamp(MICROSECOND)`. Catalyst pushdown does not reach
  * inside IPC files (format has no predicate pages); for pushdown-heavy
  * pipelines Parquet remains the recommended interchange (SURVEY §8 note).
  */
object ArrowIpc {

  // ---- filesystem access ---------------------------------------------------
  // All IO goes through the Hadoop FileSystem API so paths work on any
  // cluster store (file:/, hdfs:/, s3a:/ ...), not just the local disk; the
  // Configuration is built per use-site (driver or task), nothing serialized.

  private def fsFor(path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
  }

  /** SeekableByteChannel over FSDataInputStream — what ArrowFileReader needs
    * to seek straight to a record batch on any Hadoop filesystem. */
  private class HadoopSeekableChannel(in: org.apache.hadoop.fs.FSDataInputStream, len: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var open = true
    override def read(dst: java.nio.ByteBuffer): Int = {
      val tmp = new Array[Byte](dst.remaining())
      val n = in.read(tmp, 0, tmp.length)
      if (n > 0) dst.put(tmp, 0, n)
      n
    }
    override def write(src: java.nio.ByteBuffer): Int = throw new UnsupportedOperationException
    override def position(): Long = in.getPos
    override def position(newPosition: Long): java.nio.channels.SeekableByteChannel = {
      in.seek(newPosition); this
    }
    override def size(): Long = len
    override def truncate(size: Long): java.nio.channels.SeekableByteChannel =
      throw new UnsupportedOperationException
    override def isOpen: Boolean = open
    override def close(): Unit = { open = false; in.close() }
  }

  /** Runs `body` on an Arrow file reader over `path`, closed after. */
  private def withFileReader[A](path: String)(body: ArrowFileReader => A): A = {
    val (fs, p) = fsFor(path)
    val alloc = new RootAllocator()
    val reader = new ArrowFileReader(new HadoopSeekableChannel(fs.open(p), fs.getFileStatus(p).getLen), alloc)
    try body(reader) finally { reader.close(); alloc.close() }
  }

  /** Writes `df` as a directory of IPC files, one per partition (partition 0
    * always writes, so an empty frame still round-trips its schema). */
  def write(df: DataFrame, path: String, batchSize: Int = 4096): Unit = {
    val schema = df.schema
    fsFor(path) match { case (fs, p) => fs.mkdirs(p) }
    InternalBridge.toInternalRdd(df).foreachPartition { rows =>
      val idx = TaskContext.getPartitionId()
      if (rows.hasNext || idx == 0) {
        val out = fsFor(f"$path/part-$idx%05d.arrow") match { case (fs, p) => fs.create(p, true) }
        try ArrowCodec.write(schema, rows, batchSize, Channels.newChannel(out), file = true)
        finally out.close()
      }
    }
  }

  // ---- in-memory export / import ------------------------------------------

  /** Eager in-process Arrow export — the twin of the reference's
    * `pl_to_arrow` / `pl_series_to_arrow` (native_shim/src/io.rs:351-389,
    * series.rs:228-236), which materializes a frame as Arrow arrays for
    * zero-copy handoff to the host process. In-JVM the handoff currency is
    * the IPC STREAM framing: returns the bytes of one complete Arrow
    * stream (schema + record batches of `batchSize` rows + EOS), consumable
    * by any Arrow runtime (pyarrow `ipc.open_stream`, arrow-java, DuckDB).
    *
    * Like the reference call this is EAGER and driver-side by design — an
    * interchange escape hatch for bounded results, not a pipeline step
    * (SCALE_CONTRACTS.md). Rows stream to the driver one partition at a
    * time (`InternalBridge.withLocalRows`, inside one SQL execution), so
    * driver memory holds one partition plus one Arrow batch, not the whole
    * frame at once (the byte buffer itself is of course result-sized). */
  def toArrowStreamBytes(df: DataFrame, batchSize: Int = 4096): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    InternalBridge.withLocalRows(df, "toArrowStreamBytes")(rows =>
      ArrowCodec.write(df.schema, rows, batchSize, Channels.newChannel(bos), file = false))
    bos.toByteArray
  }

  /** Import an Arrow IPC stream produced by [[toArrowStreamBytes]] (or any
    * Arrow runtime) back into a DataFrame — the twin of the reference's
    * Arrow-stream ingest (native_shim/src/eager.rs:824-926). Driver-side
    * like its counterpart: the input is an in-memory handoff, not a file
    * scan (use [[read]] for distributed IPC-file reads), so the frame is a
    * `LocalRelation` with its real size statistics. */
  def fromArrowStreamBytes(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val rows = Array.newBuilder[InternalRow]
      while (reader.loadNextBatch()) rows ++= ArrowCodec.rows(root)
      InternalBridge.fromLocalRows(spark, rows.result().toSeq, ArrowCodec.schemaOf(root))
    } finally { reader.close(); alloc.close() }
  }

  // ---- read ----------------------------------------------------------------

  /** Reads a directory written by [[write]] (or a single `.arrow` file).
    * One task per (file, record-batch range); only footers touch the driver. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (fs, p) = fsFor(path)
    val files: Seq[String] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".arrow"))
          .map(_.getPath.toString).sorted.toSeq
      else Seq(p.toString)
    require(files.nonEmpty, s"ArrowIpc.read: no .arrow files under $path")

    // footer-only pass: schema + per-file batch counts
    val footers = files.map(f => withFileReader(f)(r =>
      (ArrowCodec.schemaOf(r.getVectorSchemaRoot), r.getRecordBlocks.size)))
    val tasks: Seq[(String, Int)] =
      files.zip(footers).flatMap { case (f, (_, n)) => (0 until n).map(b => (f, b)) }
    val rowRdd = spark.sparkContext.parallelize(tasks, math.max(tasks.size, 1)).flatMap {
      case (file, block) => withFileReader(file) { r =>
        r.loadRecordBatch(r.getRecordBlocks.get(block))
        ArrowCodec.rows(r.getVectorSchemaRoot)
      }
    }
    InternalBridge.fromInternalRdd(spark, rowRdd, footers.head._1)
  }
}
