package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Z-order layout: curve correctness vs brute force, and the property the
  * layout exists for — measured row-group pruning on BOTH interleaved
  * columns, vs a single-column-sorted control. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def brute(vals: Seq[Long], bits: Int): Long = {
    val n = vals.size
    var z = 0L
    for (j <- vals.indices; i <- 0 until bits)
      z |= ((vals(j) >> i) & 1L) << (i * n + j)
    z
  }

  test("zValue == brute-force interleave (2 and 3 cols, random, boundary values)") {
    val r = new scala.util.Random(42)
    val rows = Seq.fill(200)((r.nextInt(1024).toLong, r.nextInt(1024).toLong,
      r.nextInt(64).toLong)) ++
      Seq((0L, 0L, 0L), (1023L, 1023L, 63L), (1L, 0L, 0L), (0L, 1L, 63L))
    val df = rows.toDF("a", "b", "c")
    val got2 = df.select(col("a"), col("b"),
        Layout.zValue(Seq(col("a"), col("b")), 10).as("z"))
      .as[(Long, Long, Long)].collect()
    got2.foreach { case (a, b, z) =>
      assert(z == brute(Seq(a, b), 10), s"2-col ($a,$b): $z")
    }
    val got3 = df.select(col("a"), col("b"), col("c"),
        Layout.zValue(Seq(col("a"), col("b"), col("c")), 6).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got3.foreach { case (a, b, c, z) =>
      assert(z == brute(Seq(a & 63, b & 63, c), 6), s"3-col ($a,$b,$c): $z")
    }
    // values beyond 2^bits alias onto their low bits, never corrupt others
    val wide = Seq((1025L, 7L)).toDF("a", "b")
      .select(Layout.zValue(Seq(col("a"), col("b")), 10).as("z"))
      .as[Long].head()
    assert(wide == brute(Seq(1025L & 1023L, 7L), 10))
  }

  test("graft_bucketize: binary search == brute force; quantizedRank near-uniform on skew") {
    val bounds = Seq(1.0, 3.0, 3.0, 7.5, 100.0)
    val vals = Seq(0.5, 1.0, 2.9, 3.0, 5.0, 7.5, 99.9, 100.0, 250.0, -1e18)
    val got = vals.toDF("v")
      .select(graft.plans.LayoutExprs.bucketize(col("v"), bounds.toArray).as("b"))
      .as[Int].collect()
    val expect = vals.map(v => bounds.count(_ <= v))
    assert(got.toSeq == expect, s"${got.toSeq} vs $expect")
    // heavily skewed column (quadratic spread): rank buckets stay balanced
    val skew = spark.range(40000).select((col("id") * col("id")).as("w"))
    val q = graft.operators.Layout.quantizedRank(skew, Seq("w"), bits = 4).head
    val hist = skew.select(q.as("b")).groupBy("b").count()
      .as[(Int, Long)].collect().toMap
    assert(hist.keys.forall(b => b >= 0 && b < 16), hist.toString)
    assert(hist.size == 16, s"empty rank buckets: $hist")
    assert(hist.values.max <= 2L * hist.values.min, s"imbalanced: $hist")
  }

  /** Rows the parquet reader actually surfaced (post row-group pruning,
    * pre post-scan filter). */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.sum
  }

  test("Z-ordered layout prunes row groups for filters on EITHER column") {
    // 120k rows, two INDEPENDENT bounded dims (xxhash64 streams — two
    // hashBucket salts would be affine-related images of the same id and
    // leak accidental pruning into the single-sort control)
    val base = spark.range(120000).select(
      col("id"),
      pmod(xxhash64(lit("x"), col("id")), lit(1024L)).as("x"),
      pmod(xxhash64(lit("y"), col("id")), lit(1024L)).as("y"))
    val root = java.nio.file.Files.createTempDirectory("graft_zord").toString
    val zPath = s"$root/z"; val xPath = s"$root/xsort"
    // tiny row groups (64 KiB) so toy data spans many groups per file
    Layout.writeZOrdered(base, Seq("x", "y"), bits = 10, zPath,
      targetFiles = 4, blockBytes = 64L << 10)
    base.withColumn("__s", col("x"))
      .repartitionByRange(4, col("__s")).sortWithinPartitions(col("__s"))
      .drop("__s")
      .write.mode("overwrite").option("parquet.block.size", 64L << 10).parquet(xPath)
    def narrow(path: String, c: String) =
      scanRows(spark.read.parquet(path).filter(col(c) >= 100 && col(c) <= 119))
    val total = 120000L
    // x-sorted control: perfect on x, useless on y (reads ~everything)
    assert(narrow(xPath, "x") < total / 4, s"x-sort on x: ${narrow(xPath, "x")}")
    assert(narrow(xPath, "y") > (total * 3) / 4, s"x-sort on y: ${narrow(xPath, "y")}")
    // z-order: prunes on BOTH dimensions (a ~2% selective band on either
    // axis must skip well over half the corpus at this group granularity)
    val zx = narrow(zPath, "x"); val zy = narrow(zPath, "y")
    assert(zx < total / 2, s"z-order on x surfaced $zx of $total")
    assert(zy < total / 2, s"z-order on y surfaced $zy of $total")
    // and the results themselves are identical to the unpruned read
    val expect = base.filter(col("x").between(100, 119)).count()
    assert(spark.read.parquet(zPath).filter(col("x").between(100, 119)).count() == expect)
  }

  test("rowGroupStats/clusteringFactor: z-order clusters BOTH dims, single sort only its own") {
    val base = spark.range(60000).select(
      col("id"),
      pmod(xxhash64(lit("x"), col("id")), lit(1024L)).as("x"),
      pmod(xxhash64(lit("y"), col("id")), lit(1024L)).as("y"))
    val root = java.nio.file.Files.createTempDirectory("graft_zstat").toString
    val zPath = s"$root/z"; val xPath = s"$root/xsort"
    Layout.writeZOrdered(base, Seq("x", "y"), bits = 10, zPath,
      targetFiles = 4, blockBytes = 64L << 10)
    base.withColumn("__s", col("x"))
      .repartitionByRange(4, col("__s")).sortWithinPartitions(col("__s"))
      .drop("__s")
      .write.mode("overwrite").option("parquet.block.size", 64L << 10).parquet(xPath)
    def cf(path: String): Map[String, Double] = {
      val stats = Layout.rowGroupStats(spark, path, Seq("x", "y"))
      // several row groups per file (64 KiB blocks over 60k rows)
      assert(stats.select("file", "row_group").distinct().count() > 8, path)
      Layout.clusteringFactor(stats).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val zcf = cf(zPath); val xcf = cf(xPath)
    // z-order: every interleaved dim bounded (~sqrt(groupRows/total) each)
    assert(zcf("x") < 0.5 && zcf("y") < 0.5, s"z: $zcf")
    // single sort: own dim is sliver-tight, the other is unclustered
    assert(xcf("x") < 0.2, s"xsort: $xcf")
    assert(xcf("y") > 0.8, s"xsort: $xcf")
    // and the z layout's factors are honest predictors: both dims cluster
    // BETTER than the x-sort's unclustered dim
    assert(zcf("x") < xcf("y") && zcf("y") < xcf("y"), s"z=$zcf xsort=$xcf")
  }

  test("rank-quantized Z-order prunes a skewed WIDE dimension; raw masking does not") {
    // w spans ~14 decimal orders of magnitude: pmod-masked z-order keeps
    // only w's low 10 bits — locality gone; rank space keeps it
    val base = spark.range(120000).select(
      col("id"),
      pmod(xxhash64(lit("x"), col("id")), lit(1024L)).as("x"),
      (abs(xxhash64(lit("w"), col("id"))) % 10000000L
        * (abs(xxhash64(lit("w2"), col("id"))) % 10000000L)).as("w"))
    val root = java.nio.file.Files.createTempDirectory("graft_zrank").toString
    val rankPath = s"$root/rank"; val maskPath = s"$root/mask"
    Layout.writeZOrderedByRank(base, Seq("x", "w"), bits = 10, rankPath,
      targetFiles = 4, blockBytes = 64L << 10)
    Layout.writeZOrdered(base, Seq("x", "w"), bits = 10, maskPath,
      targetFiles = 4, blockBytes = 64L << 10)
    // ~2% band in w's value space (w is ~uniform in sqrt-ish scale; take a
    // narrow quantile slice computed from the data itself)
    // LONG bounds: double literals would cast the column and disable
    // parquet predicate pushdown entirely
    val qs = base.stat.approxQuantile("w", Array(0.50, 0.52), 0.001)
    val lo = math.ceil(qs(0)).toLong; val hi = math.floor(qs(1)).toLong
    def surfaced(path: String) =
      scanRows(spark.read.parquet(path).filter(col("w") >= lo && col("w") <= hi))
    val total = 120000L
    val viaRank = surfaced(rankPath); val viaMask = surfaced(maskPath)
    assert(viaRank < total / 2, s"rank z-order surfaced $viaRank of $total")
    assert(viaMask > (total * 3) / 4, s"masked z-order unexpectedly pruned a wide dim: $viaMask")
    // rank layout still prunes the OTHER interleaved column too
    val viaRankX = scanRows(spark.read.parquet(rankPath)
      .filter(col("x") >= 100 && col("x") <= 119))
    assert(viaRankX < total / 2, s"rank z-order on x surfaced $viaRankX")
  }

  test("auto targetFiles (r16): bytes-per-file rule above a parallelism floor") {
    // bytes rule: one file per 2 row groups of input — 10 GiB at the
    // 128 MiB default block = ceil(10 GiB / 256 MiB) = 40 files
    assert(Layout.autoTargetFiles(BigInt(10L << 30), 128L << 20, 32) == 40)
    // exact multiples don't round up an extra file
    assert(Layout.autoTargetFiles(BigInt(256L << 20), 128L << 20, 1) == 1)
    assert(Layout.autoTargetFiles(BigInt((256L << 20) + 1), 128L << 20, 1) == 2)
    // parallelism floor: small inputs still spread over the session's
    // lanes, so no sorter holds more than its execution-memory share (the
    // r15 sf10 418 MB spill was 4 fixed partitions x 15M rows)
    assert(Layout.autoTargetFiles(BigInt(1L << 20), 128L << 20, 32) == 32)
    assert(Layout.autoTargetFiles(BigInt(0), 128L << 20, 7) == 7)
    // runaway-stats guard
    assert(Layout.autoTargetFiles(BigInt(Long.MaxValue) * 8, 128L << 20, 32) == (1 << 22))
  }

  test("knownSize (r18): sentinel, join-multiplied, and lowered-default estimates") {
    val sentinel = Long.MaxValue // the stock spark.sql.defaultSizeInBytes
    // a genuine estimate passes through untouched
    assert(Layout.knownSize(BigInt(10L << 30), sentinel) == BigInt(10L << 30))
    // the stock-sentinel regime: at/above the default is unknown (ADVICE r16)
    assert(Layout.knownSize(BigInt(sentinel), sentinel) == BigInt(0))
    assert(Layout.knownSize(BigInt(sentinel) * 4, sentinel) == BigInt(0))
    // a join-multiplied estimate just BELOW the sentinel is still garbage:
    // the 4 PiB plausibility bound catches it (ADVICE r17)
    assert(Layout.knownSize((BigInt(4L) << 50) + 1, sentinel) == BigInt(0))
    assert(Layout.knownSize(BigInt(4L) << 50, sentinel) == BigInt(4L) << 50)
    // a deployment that LOWERED the default: its exact value is still the
    // stat-less-leaf sentinel, but a genuine larger estimate must survive
    val lowered = 1L << 30
    assert(Layout.knownSize(BigInt(lowered), lowered) == BigInt(0))
    assert(Layout.knownSize(BigInt(10L << 30), lowered) == BigInt(10L << 30))
  }

  test("omitted targetFiles auto-sizes the write and preserves the data") {
    val base = spark.range(50000).select(
      col("id"),
      pmod(xxhash64(lit("ax"), col("id")), lit(1024L)).as("x"),
      pmod(xxhash64(lit("ay"), col("id")), lit(1024L)).as("y"))
    val root = java.nio.file.Files.createTempDirectory("graft_zauto").toString
    Layout.writeZOrderedByRank(base, Seq("x", "y"), bits = 10, s"$root/z")
    val out = spark.read.parquet(s"$root/z")
    assert(out.count() == 50000L)
    // the auto partition count resolves to >= the session parallelism
    // floor; the writer emits only non-empty partitions, so the file count
    // is bounded by it
    val auto = Layout.autoTargetFiles(
      base.queryExecution.optimizedPlan.stats.sizeInBytes, 128L << 20,
      spark.sessionState.conf.numShufflePartitions)
    assert(auto >= spark.sessionState.conf.numShufflePartitions)
    assert(out.inputFiles.length <= auto && out.inputFiles.nonEmpty)
  }

  test("auto sizing: unknown size estimate falls to the parallelism floor; negative targetFiles rejected") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", LongType), StructField("y", LongType)))
    val rdd = spark.sparkContext.parallelize(
      (0L until 2000L).map(i => Row(i % 97, i % 53)), 4)
    val df = spark.createDataFrame(rdd, schema)
    // an RDD-backed plan has no size statistics: it reports the
    // defaultSizeInBytes sentinel (Long.MaxValue by default) — exactly the
    // estimate that, fed to the bytes rule, would hit the 4M-file cap and
    // launch a 4,194,304-partition range shuffle (ADVICE r16)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
    val root = java.nio.file.Files.createTempDirectory("graft_zsent").toString
    Layout.writeZOrdered(df, Seq("x", "y"), bits = 8, s"$root/z")
    val out = spark.read.parquet(s"$root/z")
    assert(out.count() == 2000L)
    // the write fell back to the parallelism floor, not the 4M cap
    assert(out.inputFiles.nonEmpty &&
      out.inputFiles.length <= spark.sessionState.conf.numShufflePartitions)
    // a negative count is a caller sign bug — fail fast, don't auto-size
    intercept[IllegalArgumentException](
      Layout.writeZOrdered(df, Seq("x", "y"), bits = 8, s"$root/neg",
        targetFiles = -3))
  }

  test("sizingBlockBytes (r18 verdict item 6): demo row-group geometry must not explode the auto file count") {
    val base = spark.range(40000).select(
      col("id"),
      pmod(xxhash64(lit("bx"), col("id")), lit(1024L)).as("x"),
      pmod(xxhash64(lit("by"), col("id")), lit(1024L)).as("y"))
    val root = java.nio.file.Files.createTempDirectory("graft_zsizing").toString
    // a 16 KiB diagnostic row-group geometry with PRODUCTION sizing: the
    // file count derives from the 128 MB block (parallelism floor here),
    // not from bytes/(2*16 KiB) — which for this input would demand
    // hundreds of range partitions (q81's r18 bypass reason)
    Layout.writeZOrderedByRank(base, Seq("x", "y"), bits = 10, s"$root/z",
      targetFiles = Layout.AutoFiles, blockBytes = 16L << 10,
      sizingBlockBytes = 128L << 20)
    val out = spark.read.parquet(s"$root/z")
    assert(out.count() == 40000L)
    assert(out.inputFiles.nonEmpty &&
      out.inputFiles.length <= spark.sessionState.conf.numShufflePartitions)
    // the tiny-block sizing really would have exploded the count
    val est = base.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(Layout.autoTargetFiles(est, 16L << 10,
      spark.sessionState.conf.numShufflePartitions) >
      spark.sessionState.conf.numShufflePartitions)
    // and the multi-group demo geometry survived for the diagnostic:
    // row groups outnumber files
    val stats = Layout.rowGroupStats(spark, s"$root/z", Seq("x"))
    assert(stats.select("file", "row_group").distinct().count() >
      out.inputFiles.length)
    intercept[IllegalArgumentException](
      Layout.writeZOrderedByRank(base, Seq("x", "y"), bits = 10, s"$root/neg",
        targetFiles = Layout.AutoFiles, blockBytes = 16L << 10,
        sizingBlockBytes = -1L))
  }

  test("rowGroupStats opens footers through the SESSION Hadoop configuration") {
    // register a filesystem scheme ONLY in the session conf: a footer read
    // through `graftfs://` can succeed only if the task-side closure carries
    // the session configuration (a default `Configuration()` throws
    // "No FileSystem for scheme: graftfs") — the credentialed-store shape
    // (s3a session keys, abfs OAuth) of r13 directive 4, proven end-to-end
    val dir = java.nio.file.Files.createTempDirectory("graft_conf_fs").toString
    spark.range(20000)
      .select((col("id") % 97).as("x"), (col("id") % 13).as("y"))
      .write.mode("overwrite").option("parquet.block.size", 32L << 10).parquet(dir)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.set("fs.graftfs.impl.disable.cache", "true")
    try {
      intercept[Exception] { // scheme really is unknown to a default conf
        org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create("graftfs:///"),
          new org.apache.hadoop.conf.Configuration())
      }
      val stats = Layout.rowGroupStats(spark, "graftfs://" + dir, Seq("x", "y"))
        .cache()
      try {
        assert(stats.count() > 0)
        val files = stats.select("file").distinct().as[String].collect()
        assert(files.forall(_.startsWith("graftfs:")), files.mkString(", "))
        // and the stats are real: global x range matches the data
        val row = stats.filter(col("column") === "x")
          .agg(min(col("min_value")), max(col("max_value"))).head()
        assert(row.getDouble(0) == 0.0 && row.getDouble(1) == 96.0, row.toString)
      } finally stats.unpersist(blocking = true)
    } finally {
      hc.unset("fs.graftfs.impl")
      hc.unset("fs.graftfs.impl.disable.cache")
    }
  }
}

/** Test-only filesystem: the local FS re-registered under its own scheme so
  * a spec can prove which Hadoop `Configuration` resolved it. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}
