package graft

import org.apache.spark.sql.functions._
import graft.operators.RangeId

/** Direct contracts on the value-derived range-bucket ids behind every
  * global (unkeyed) operator — the r17 sf1-oracle bug class. The operator
  * suites (TimeSeriesSpec, AsofSpec, PartitionInvarianceSpec) exercise
  * RangeId end-to-end; this spec pins the key-domain edges ADVICE r17
  * called out: binary order keys (Spark's unsigned byte order, which the
  * old repartitionByRange path handled natively) and the fail-fast
  * rejection of complex key types at plan-construction time. */
class RangeIdSpec extends SparkSpec {

  test("binary order keys: id is monotone in Spark's unsigned byte order, ties share a bucket") {
    import spark.implicits._
    // values straddling the signed/unsigned pitfall: 0x7f sorts BELOW 0x80
    // unsigned; a prefix sorts below its extension; duplicates must land
    // in the same bucket no matter the physical layout
    val payload = Seq[Array[Byte]](
      Array(0x00), Array(0x01, 0x02), Array(0x01, 0x02, 0x00),
      Array(0x7f.toByte), Array(0x80.toByte), Array(0x80.toByte),
      Array(0xff.toByte), Array(0xff.toByte, 0x01), Array[Byte](),
      Array(0x40), Array(0x7f.toByte, 0xff.toByte), Array(0xc0.toByte))
    // replicate so the sampler sees enough rows per partition
    val rows = (0 until 50).flatMap(_ => payload)
    val df = spark.createDataset(rows).repartition(7).toDF("k")
    val got = RangeId.withRangeId(df, Seq(col("k")), Seq(true), 4, "__rid")
      .select(col("k"), col("__rid")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getInt(1)))
    assert(got.forall { case (_, id) => id >= 0 && id < 4 })
    // ties share a bucket: every distinct key maps to exactly one id
    val byKey = got.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).distinct }
    assert(byKey.values.forall(_.size == 1),
      s"split ties: ${byKey.filter(_._2.size > 1)}")
    // id order equals Spark's unsigned-lexicographic key order
    def unsignedLt(a: Seq[Byte], b: Seq[Byte]): Boolean = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      a.length < b.length
    }
    val ordered = byKey.toSeq.sortWith((x, y) => unsignedLt(x._1, y._1))
      .map(_._2.head)
    assert(ordered == ordered.sorted,
      s"bucket ids not monotone in unsigned byte order: $ordered")
    // and the engine agrees end-to-end: sorting by key never decreases id
    val engineOrder = RangeId.withRangeId(df, Seq(col("k")), Seq(true), 4, "__rid")
      .orderBy(col("k")).select(col("__rid")).collect().map(_.getInt(0)).toSeq
    assert(engineOrder == engineOrder.sorted)
  }

  test("multi-key mixed-direction ids ride ONE binary-search expression (r17 verdict item 3)") {
    import spark.implicits._
    // nullable string asc (nulls FIRST under Spark's asc default) + long
    // desc (nulls LAST): the id must be monotone along the engine's own
    // sort for the same directions, ties must share a bucket, and the plan
    // must carry the O(log P) graft_range_bucket expression instead of the
    // old O(P) when-chain
    val rows = (0 until 400).map { i =>
      (if (i % 11 == 0) null else s"k${i % 17}%02d", (i % 13).toLong)
    }
    val df = spark.createDataset(rows).repartition(7).toDF("s", "v")
    val keys = Seq(col("s"), col("v"))
    val got = RangeId.withRangeId(df, keys, Seq(true, false), 6, "__rid")
    assert(got.queryExecution.analyzed.toString.contains("graft_range_bucket"),
      "expected the RangeBucketExpr binary search in the plan")
    val ids = got.orderBy(col("s").asc_nulls_first, col("v").desc_nulls_last)
      .select(col("__rid")).collect().map(_.getInt(0)).toSeq
    assert(ids.forall(id => id >= 0 && id < 6))
    assert(ids == ids.sorted, s"bucket ids not monotone in engine order: $ids")
    // ties share a bucket: every distinct key tuple maps to exactly one id
    val byKey = got.collect().groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, xs) => k -> xs.map(_.getInt(2)).distinct }
    assert(byKey.values.forall(_.size == 1),
      s"split ties: ${byKey.filter(_._2.size > 1)}")
  }

  test("sampleFrom: split points from a cheap sibling frame give the same monotone contract") {
    import spark.implicits._
    val df = spark.createDataset((0 until 300).map(_.toLong)).toDF("k")
      .filter(col("k") % 3 =!= 0) // the "expensive pipeline" survivors
    val raw = spark.createDataset((0 until 300).map(_.toLong)).toDF("k")
    val got = RangeId.withRangeId(df, Seq(col("k")), Seq(true), 5, "__rid",
      sampleFrom = Some(raw))
    val ids = got.orderBy(col("k")).select(col("__rid")).collect().map(_.getInt(0)).toSeq
    assert(ids.forall(id => id >= 0 && id < 5))
    assert(ids == ids.sorted)
    assert(ids.distinct.size > 1, "raw-frame sample should still split the range")
  }

  test("sampleFrom key-type mismatch fails fast with both types named (ADVICE r18)") {
    import spark.implicits._
    val df = spark.createDataset((0 until 50).map(_.toLong)).toDF("k")
    val sfStr = spark.createDataset((0 until 50).map(_.toString)).toDF("k")
    val e = intercept[IllegalArgumentException](
      RangeId.withRangeId(df, Seq(col("k")), Seq(true), 4, "__rid",
        sampleFrom = Some(sfStr)))
    assert(e.getMessage.contains("sampleFrom key types"), e.getMessage)
  }

  test("complex key types fail fast at plan construction with the column named") {
    import spark.implicits._
    val df = spark.createDataset(Seq((1L, Seq(1, 2)), (2L, Seq(3))))
      .toDF("id", "arr")
    val e = intercept[IllegalArgumentException](
      RangeId.withRangeId(df, Seq(col("arr")), Seq(true), 4, "__rid"))
    assert(e.getMessage.contains("arr") && e.getMessage.contains("complex"),
      e.getMessage)
    val df2 = df.select(col("id"), struct(col("id"), col("arr")).as("st"))
    val e2 = intercept[IllegalArgumentException](
      RangeId.withRangeId(df2, Seq(col("st")), Seq(true), 4, "__rid"))
    assert(e2.getMessage.contains("st"), e2.getMessage)
  }
}
