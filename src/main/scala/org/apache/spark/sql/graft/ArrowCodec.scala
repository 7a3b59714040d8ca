package org.apache.spark.sql.graft

import java.nio.channels.WritableByteChannel

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

/** Spark⇄Arrow type codec for `graft.sources.ArrowIpc`, on Spark's own
  * (`private[sql]`) Arrow machinery — the same `ArrowUtils` schema mapping,
  * `ArrowWriter` and `ArrowColumnVector` that Spark's pandas/Arrow paths use.
  * Timestamps are written with zone "UTC", so an IPC file keeps
  * `Timestamp(MICROSECOND, "UTC")` for `timestamp` and a zone-less
  * `Timestamp(MICROSECOND)` for `timestamp_ntz`.
  */
object ArrowCodec {

  /** Writes `rows` as one Arrow IPC file (`file = true`) or stream to
    * `out`, in record batches of `batchSize` rows. An empty input still
    * writes one 0-row batch, so the schema survives. Rows go into the
    * Arrow vectors as they arrive; the caller's iterator may reuse its row
    * buffer. Returns the number of rows written. */
  def write(schema: StructType, rows: Iterator[InternalRow], batchSize: Int,
            out: WritableByteChannel, file: Boolean): Long = {
    val allocator = ArrowUtils.rootAllocator.newChildAllocator("graft-ipc-write", 0, Long.MaxValue)
    val root = VectorSchemaRoot.create(ArrowUtils.toArrowSchema(schema, "UTC", true, false), allocator)
    val ipc = if (file) new ArrowFileWriter(root, null, out) else new ArrowStreamWriter(root, null, out)
    try {
      val rowWriter = ArrowWriter.create(root)
      var written = 0L
      var inBatch = 0
      def flush(): Unit = {
        rowWriter.finish(); ipc.writeBatch(); rowWriter.reset(); inBatch = 0
      }
      ipc.start()
      while (rows.hasNext) {
        rowWriter.write(rows.next())
        written += 1; inBatch += 1
        if (inBatch == batchSize) flush()
      }
      if (inBatch > 0 || written == 0) flush()
      ipc.end()
      written
    } finally { ipc.close(); root.close(); allocator.close() }
  }

  /** The Spark schema of an Arrow schema (`fromArrowSchema`'s mapping). */
  def schemaOf(root: VectorSchemaRoot): StructType = ArrowUtils.fromArrowSchema(root.getSchema)

  /** The rows of the batch loaded into `root`, as copied `UnsafeRow`s: they
    * outlive the next batch load and the root's close. */
  def rows(root: VectorSchemaRoot): Array[InternalRow] = {
    val vectors: Array[ColumnVector] =
      root.getFieldVectors.asScala.map(v => new ArrowColumnVector(v)).toArray
    val project = UnsafeProjection.create(schemaOf(root))
    new ColumnarBatch(vectors, root.getRowCount).rowIterator().asScala
      .map(r => project(r).copy(): InternalRow).toArray
  }
}
