package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.{Sessionize, StreamOps}

/** RocksDB state-store engagement (the 100 TB state axis): the default
  * HDFSBacked provider keeps every partition's state map on the JVM heap,
  * which caps how much watermark-horizon state a stateful query can hold.
  * `StreamOps.withRocksDbStateStore` swaps in Spark's RocksDB provider —
  * off-heap per-partition native stores. These tests pin the two things
  * that matter: (1) RESULTS are identical to the default provider on the
  * same input (the state-store contract), and (2) the provider actually
  * ENGAGED (rocksdb custom metrics present in the query progress — a
  * mis-spelled conf key would silently fall back to the default provider
  * and this spec would still pass on results alone). */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def ts(ms: Long): Timestamp = new Timestamp(base + ms)

  /** Drive a streaming query to completion in `sess`, returning sorted
    * result rows and the union of state-operator custom-metric keys. */
  private def drain(sess: SparkSession, qn: String,
                    out: org.apache.spark.sql.DataFrame,
                    sortCols: Seq[String]): (Seq[Seq[Any]], Set[String]) = {
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qn).start()
    try {
      q.processAllAvailable()
      val keys = q.lastProgress.stateOperators.toSeq
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString)).toSet
      val rows = sess.table(qn).orderBy(sortCols.map(col): _*)
        .collect().map(_.toSeq).toSeq
      (rows, keys)
    } finally {
      q.stop(); sess.catalog.dropTempView(qn)
      StreamOps.releaseStateStores()
    }
  }

  test("interval join: RocksDB-backed state == default provider, and engaged") {
    val root = java.nio.file.Files.createTempDirectory("graft_rocksdb").toString
    Seq((1L, ts(10000), 5.0), (1L, ts(30000), 6.0), (2L, ts(20000), 7.0),
        (3L, ts(40000), 8.0))
      .toDF("k", "lts", "lv").write.mode("overwrite").parquet(s"$root/l")
    Seq((1L, ts(5000), 1.0), (1L, ts(25000), 2.0), (2L, ts(19000), 3.0),
        (3L, ts(1000), 4.0), (4L, ts(2000), 9.0))
      .toDF("k", "rts", "rv").write.mode("overwrite").parquet(s"$root/r")
    def drive(sess: SparkSession, qn: String): (Seq[Seq[Any]], Set[String]) = {
      val lS = sess.read.parquet(s"$root/l").schema
      val rS = sess.read.parquet(s"$root/r").schema
      val out = StreamOps.intervalJoin(
        sess.readStream.schema(lS).parquet(s"$root/l"),
        sess.readStream.schema(rS).parquet(s"$root/r"),
        "lts", "rts", by = Seq(("k", "k")),
        before = "15m", after = "0s", watermark = "0 seconds")
      drain(sess, qn, out, Seq("k", "lts", "rts"))
    }
    val (dRows, dKeys) = drive(spark, "graft_rdb_ij_default")
    val (rRows, rKeys) =
      StreamOps.withRocksDbStateStore(spark)(drive(_, "graft_rdb_ij_rocks"))
    assert(dRows.nonEmpty, "fixture produced no joined rows")
    assert(dRows == rRows, s"provider changed results: $dRows vs $rRows")
    assert(rKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage; metric keys: $rKeys")
    assert(!dKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"default drive unexpectedly RocksDB-backed: $dKeys")
    // the knob never leaks into the parent session
    assert(!spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("interval join: the RocksDB child keeps one store per state partition (join format 3)") {
    // join state format 3 keeps the join's four states (each side's keys
    // and values) in one store, so a partition commits once per batch
    val root = java.nio.file.Files.createTempDirectory("graft_rocksdb_wsp").toString
    Seq((1L, ts(10000), 5.0), (2L, ts(20000), 7.0))
      .toDF("k", "lts", "lv").write.parquet(s"$root/l")
    Seq((1L, ts(5000), 1.0), (2L, ts(19000), 3.0), (4L, ts(2000), 9.0))
      .toDF("k", "rts", "rv").write.parquet(s"$root/r")
    def drive(sess: SparkSession, qn: String)
        : (Seq[Seq[Any]], org.apache.spark.sql.streaming.StateOperatorProgress) = {
      val out = StreamOps.intervalJoin(
        sess.readStream.schema(sess.read.parquet(s"$root/l").schema).parquet(s"$root/l"),
        sess.readStream.schema(sess.read.parquet(s"$root/r").schema).parquet(s"$root/r"),
        "lts", "rts", by = Seq(("k", "k")),
        before = "15m", after = "0s", watermark = "0 seconds")
      val q = out.writeStream.outputMode("append").format("memory").queryName(qn).start()
      try {
        q.processAllAvailable()
        val rows = sess.table(qn).orderBy(col("k")).collect().map(_.toSeq).toSeq
        (rows, q.lastProgress.stateOperators.head)
      } finally {
        q.stop(); sess.catalog.dropTempView(qn)
        StreamOps.releaseStateStores()
      }
    }
    val (dRows, dOp) = drive(spark, "graft_rdb_wsp_default")
    val (rows, op) = StreamOps.withRocksDbStateStore(spark)(drive(_, "graft_rdb_wsp_rocks"))
    assert(rows.size == 2 && rows == dRows, s"state layout changed results: $rows vs $dRows")
    assert(op.customMetrics.keySet().toArray.exists(_.toString.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage; metric keys: ${op.customMetrics.keySet()}")
    assert(op.numStateStoreInstances == op.numShufflePartitions,
      s"expected one store per state partition, got ${op.numStateStoreInstances} " +
        s"stores for ${op.numShufflePartitions} partitions")
    // the default provider (join format 2) keeps four stores per partition
    assert(dOp.numStateStoreInstances == 4 * dOp.numShufflePartitions,
      s"default drive: ${dOp.numStateStoreInstances} stores for ${dOp.numShufflePartitions} partitions")
  }

  test("windowed agg (streaming aggregation state): RocksDB == default, and engaged") {
    val root = java.nio.file.Files.createTempDirectory("graft_rocksdb_w").toString
    // two keys across two 1-minute windows, plus a watermark-advancing
    // straggler so both windows finalize in the no-data batch
    Seq((1L, ts(5000), 1.0), (1L, ts(15000), 2.0), (2L, ts(30000), 3.0),
        (1L, ts(70000), 4.0), (9L, ts(600000), 0.0))
      .toDF("k", "ts", "v").write.mode("overwrite").parquet(s"$root/e")
    def drive(sess: SparkSession, qn: String): (Seq[Seq[Any]], Set[String]) = {
      val eS = sess.read.parquet(s"$root/e").schema
      val out = StreamOps.windowedAgg(
        sess.readStream.schema(eS).parquet(s"$root/e"),
        timeCol = "ts", every = "1m", watermark = "0 seconds",
        by = Seq("k"))(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
      drain(sess, qn, out, Seq("k", "ts"))
    }
    val (dRows, dKeys) = drive(spark, "graft_rdb_wa_default")
    val (rRows, rKeys) =
      StreamOps.withRocksDbStateStore(spark)(drive(_, "graft_rdb_wa_rocks"))
    assert(dRows.size == 3, s"expected exactly the three finalized windows, got $dRows")
    assert(dRows == rRows, s"provider changed results: $dRows vs $rRows")
    assert(rKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage; metric keys: $rKeys")
    assert(!dKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"default drive unexpectedly RocksDB-backed: $dKeys")
  }

  test("stream dedup (dropDuplicatesWithinWatermark): RocksDB state == default, and engaged") {
    val root = java.nio.file.Files.createTempDirectory("graft_rocksdb_d").toString
    // exact duplicate rows (same key AND payload) so keep-first is
    // deterministic regardless of intra-batch arrival order
    Seq((1L, ts(1000), 5.0), (1L, ts(1000), 5.0), (2L, ts(2000), 6.0),
        (2L, ts(2000), 6.0), (2L, ts(2000), 6.0), (3L, ts(3000), 7.0))
      .toDF("k", "ts", "v").write.mode("overwrite").parquet(s"$root/e")
    def drive(sess: SparkSession, qn: String): (Seq[Seq[Any]], Set[String]) = {
      val eS = sess.read.parquet(s"$root/e").schema
      val out = StreamOps.dedupStream(
        sess.readStream.schema(eS).parquet(s"$root/e"),
        keys = Seq("k"), timeCol = "ts", watermark = "10 minutes")
      drain(sess, qn, out, Seq("k"))
    }
    val (dRows, dKeys) = drive(spark, "graft_rdb_dd_default")
    val (rRows, rKeys) =
      StreamOps.withRocksDbStateStore(spark)(drive(_, "graft_rdb_dd_rocks"))
    assert(dRows.size == 3, s"expected 3 deduped keys, got $dRows")
    assert(dRows == rRows, s"provider changed results: $dRows vs $rRows")
    assert(rKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage; metric keys: $rKeys")
    assert(!dKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"default drive unexpectedly RocksDB-backed: $dKeys")
  }

  test("as-of stream (flatMapGroupsWithState buffers): RocksDB state == default, and engaged") {
    val root = java.nio.file.Files.createTempDirectory("graft_rocksdb_a").toString
    Seq((1L, ts(10000), 5.0), (1L, ts(30000), 6.0), (2L, ts(20000), 7.0))
      .toDF("k", "ts", "price").write.mode("overwrite").parquet(s"$root/l")
    def drive(sess: SparkSession, qn: String): (Seq[Seq[Any]], Set[String]) = {
      import sess.implicits._
      // per-drive right-side directory (ADVICE r15): drive() appends the
      // watermark sentinel mid-run, so a SHARED right dir would hand the
      // second drive the first drive's sentinel in its initial batch — the
      // provider-parity compare must see identical batch sequences
      val rDir = s"$root/r_$qn"
      Seq((1L, ts(5000), 1.0), (1L, ts(25000), 2.0), (2L, ts(19000), 3.0))
        .toDF("k", "ts", "bid").write.mode("overwrite").parquet(rDir)
      val lS = sess.read.parquet(s"$root/l").schema
      val rS = sess.read.parquet(rDir).schema
      val out = graft.streaming.AsofStream.asofStream(
        sess.readStream.schema(lS).parquet(s"$root/l"),
        sess.readStream.schema(rS).parquet(rDir),
        "ts", "ts", by = Seq(("k", "k")), watermark = "0 seconds")
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(qn).start()
      try {
        q.processAllAvailable()
        // far-future right sentinel advances the watermark so every
        // buffered left row finalizes its backward match
        Seq((999L, ts(86400000L), 0.0)).toDF("k", "ts", "bid")
          .write.mode("append").parquet(rDir)
        q.processAllAvailable()
        val keys = q.lastProgress.stateOperators.toSeq
          .flatMap(_.customMetrics.keySet().toArray.map(_.toString)).toSet
        val rows = sess.table(qn).filter(col("k") < 900L)
          .orderBy(col("k"), col("ts")).collect().map(_.toSeq).toSeq
        (rows, keys)
      } finally {
        q.stop(); sess.catalog.dropTempView(qn)
        StreamOps.releaseStateStores()
      }
    }
    val (dRows, dKeys) = drive(spark, "graft_rdb_as_default")
    val (rRows, rKeys) =
      StreamOps.withRocksDbStateStore(spark)(drive(_, "graft_rdb_as_rocks"))
    assert(dRows.size == 3, s"expected 3 as-of rows, got $dRows")
    assert(dRows == rRows, s"provider changed results: $dRows vs $rRows")
    assert(rKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage; metric keys: $rKeys")
    assert(!dKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"default drive unexpectedly RocksDB-backed: $dKeys")
  }

  test("sessionize (flatMapGroupsWithState): RocksDB state == default, and engaged") {
    val root = java.nio.file.Files.createTempDirectory("graft_rocksdb_s").toString
    // two users, two sessions each (70s silence > 45s gap), plus a
    // watermark-advancing straggler so every session closes
    (Seq.tabulate(2, 4)((u, j) =>
        Sessionize.Event(u.toLong, ts(j * 10000L), 1.0)).flatten ++
      Seq.tabulate(2, 3)((u, j) =>
        Sessionize.Event(u.toLong, ts(100000L + j * 10000L), 2.0)).flatten ++
      Seq(Sessionize.Event(9L, ts(500000L), 0.0)))
      .toDS().write.mode("overwrite").parquet(s"$root/e")
    def drive(sess: SparkSession, qn: String): (Seq[Seq[Any]], Set[String]) = {
      val eS = sess.read.parquet(s"$root/e").schema
      val out = Sessionize.sessions(
        sess.readStream.schema(eS).parquet(s"$root/e").as[Sessionize.Event],
        gap = "45s", watermarkDelay = "0 seconds")(sess)
      drain(sess, qn, out.toDF(), Seq("userId", "sessionStart"))
    }
    val (dRows, dKeys) = drive(spark, "graft_rdb_ss_default")
    val (rRows, rKeys) =
      StreamOps.withRocksDbStateStore(spark)(drive(_, "graft_rdb_ss_rocks"))
    assert(dRows.size >= 4, s"expected the four closed sessions, got $dRows")
    assert(dRows == rRows, s"provider changed results: $dRows vs $rRows")
    assert(rKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage; metric keys: $rKeys")
    assert(!dKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"default drive unexpectedly RocksDB-backed: $dKeys")
  }
}
