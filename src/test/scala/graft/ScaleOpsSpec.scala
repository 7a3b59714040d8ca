package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JVM-global invocation counter — reachable statically from deserialized
  * task closures, unlike a captured local var. */
object FactoryProbe {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}

/** DSv2 iterator source (pushdown contract), connected-components dedup,
  * IVF ANN. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("iterator source scans with projection + limit pushdown (lazy.rs:707-715)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType)))
    // factories now serialize into their InputPartition (cluster-safe), so
    // a captured local var would mutate a task-side COPY — count invocations
    // through a JVM-global probe (same JVM under local[*])
    FactoryProbe.calls.set(0)
    val df = graft.sources.IteratorSource.scan(spark, "t1", schema, () => {
      FactoryProbe.calls.incrementAndGet()
      (1L to 100L).iterator.map(i => Row(i, s"row$i", i * 1.5))
    })
    assert(df.count() == 100)
    // projection pushdown: scan description shows only requested columns
    val pruned = df.select("name")
    val scanDesc = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.contains("cols=[name]"), scanDesc)
    assert(pruned.collect().map(_.getString(0)).take(3).toSeq == Seq("row1", "row2", "row3"))
    // limit pushdown reaches the scan
    val limited = df.limit(7)
    val limDesc = limited.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(limDesc.contains("limit=7"), limDesc)
    assert(limited.count() == 7)
    // factory re-invoked per scan (re-scannable like ScanDatabase)
    assert(FactoryProbe.calls.get() >= 2)
  }

  test("iterator source: N factories -> N input partitions, pushdown intact") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    val ranges = Seq(0L until 100L, 100L until 250L, 250L until 300L)
    val df = graft.sources.IteratorSource.scanPartitioned(spark, "tp", schema,
      ranges.map(r => () => r.iterator.map(i => Row(i, i * 0.5))))
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 300)
    assert(df.agg(sum("id")).head().getLong(0) == (0L until 300L).sum)
    val pruned = df.select("v")
    val desc = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(desc.contains("cols=[v]") && desc.contains("parts=3"), desc)
  }

  test("connected components collapse transitive duplicate chains") {
    // edges: 1-2, 2-3 (one cluster), 7-9 (another)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val comp = graft.dedup.ConnectedComponents.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(7L) == 7L && comp(9L) == 7L)
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val kept = graft.dedup.ConnectedComponents.dedupByComponents(docs, "doc_id", pairs)
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 5L, 7L))
  }

  test("components small-graph fast path matches the distributed loop exactly") {
    // random sparse graph: chains, cliques, singleton-free
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 400).map { _ =>
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      (math.min(a, b), math.max(a, b) + 1)
    }.toDF("id_a", "id_b")
    val fast = graft.dedup.ConnectedComponents.components(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = graft.dedup.ConnectedComponents.components(pairs, maxIter = 50,
        smallGraphEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist)
  }

  test("components checkpointing truncates lineage (no edge recompute in final plan)") {
    // a chain needs ~length iterations (labels travel one hop per pass)
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = graft.dedup.ConnectedComponents.components(pairs, maxIter = 12,
      checkpointInterval = 2, smallGraphEdges = 0)
    assert(comp.as[(Long, Long)].collect().forall(_._2 == 0L))
    // after a checkpoint the label plan must bottom out in a materialized
    // RDD scan, not the per-iteration join chain back to `pairs`
    val leaves = comp.queryExecution.optimizedPlan.collectLeaves().map(_.nodeName)
    assert(leaves.exists(_.contains("LogicalRDD")), leaves.mkString(","))
  }

  test("components distributed loop throws, naming maxIter, when it does not converge") {
    // an 8-edge chain needs 8 label passes; 3 cannot converge
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[graft.dedup.ConnectedComponents.ComponentsNotConvergedException] {
      graft.dedup.ConnectedComponents.components(pairs, maxIter = 3, smallGraphEdges = 0)
    }
    assert(e.maxIter == 3 && e.getMessage.contains("maxIter = 3"), e.getMessage)
  }

  test("IVF index + search: one corpus shuffle, recall comparable to LSH") {
    val e = sf("embeddings")
    val q = e.filter(col("vec_id") < 10)
    val (centroids, assigned) = graft.similarity.Ivf.buildIndex(e, nlist = 16)
    assert(centroids.count() == 16)
    assert(assigned.columns.contains("cell"))
    // every corpus row lands in exactly one cell
    assert(assigned.count() == e.count())
    val got = graft.similarity.Ivf.search(assigned, centroids, q, k = 5, nprobe = 4)
    val exact = graft.similarity.Ann.bruteForceTopK(e, q, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = got.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(got.groupBy("query_id").count().filter(col("count") > 5).count() == 0)
    assert(recall >= 0.3, s"recall $recall") // nprobe 4/16 cells on random vectors

    // Lloyd refinement: centroids move off the sampled seeds, cell count and
    // corpus coverage preserved, recall at least in the same band
    val (c2, a2) = graft.similarity.Ivf.buildIndex(e, nlist = 16, lloydIters = 2)
    assert(c2.count() == 16 && a2.count() == e.count())
    val moved = centroids.withColumnRenamed("__centroid", "__c0")
      .join(c2, "cell")
      .filter(col("__c0") =!= col("__centroid")).count()
    assert(moved > 0, "refined centroids should differ from sampled seeds")
    val got2 = graft.similarity.Ivf.search(a2, c2, q, k = 5, nprobe = 4)
    val approx2 = got2.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall2 = (exact & approx2).size.toDouble / exact.size
    assert(recall2 >= 0.3, s"refined recall $recall2")
  }

  test("graft_topk == distinct+window row_number (randomized: ties, nulls, duplicates)") {
    // BoundedTopKAgg must reproduce the window formulation it replaced
    // bit-for-bit: score desc NULLS LAST, id-asc ties, duplicate
    // (query, id) candidate rows collapsed. Adversarial generator: few
    // distinct scores (forced ties), null scores, and multi-emitted pairs
    // (the multi-probe/multi-cell duplication ANN paths produce).
    import org.apache.spark.sql.expressions.Window
    for (seed <- 0 until 15) {
      val rnd = new scala.util.Random(seed)
      val k = 1 + rnd.nextInt(7)
      val rows = for {
        q <- 0 until (1 + rnd.nextInt(5))
        n <- 0 until (1 + rnd.nextInt(40))
        if rnd.nextInt(4) > 0 // ragged: not every (q, n) pair exists
        // one score per PAIR (a duplicate candidate is the same pair arriving
        // via another probe/cell, so its score is identical by determinism);
        // few distinct values force ties, occasional nulls
        score = if (rnd.nextInt(8) == 0) null
                else java.lang.Double.valueOf((rnd.nextInt(5) - 2) / 2.0)
        dup <- 0 to rnd.nextInt(3) // duplicates of the same scored pair
      } yield (q.toLong, n.toLong, score: java.lang.Double, dup)
      if (rows.nonEmpty) {
        val scored = rows.toDF("query_id", "neighbor_id", "cosine", "dup")
          .drop("dup")
        val got = graft.similarity.Ann.topKPerQuery(scored, "query_id", "cosine", k)
          .select("query_id", "neighbor_id", "cosine", "rank")
          .collect().map(_.toSeq).toSet
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
        val expect = scored.distinct()
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "neighbor_id", "cosine", "rank")
          .collect().map(_.toSeq).toSet
        assert(got == expect,
          s"seed=$seed k=$k\n got=${got.toSeq.sortBy(_.toString)}\n exp=${expect.toSeq.sortBy(_.toString)}")
      }
    }
  }

  test("graft_topk duplicate ids with DIFFERING scores keep the better-ranked entry") {
    // the ANN paths only ever duplicate a (query, id) pair with an identical
    // score, but graft_topk is callable from SQL — a SQL caller can feed
    // one id several scores. The buffer must keep the best (score, id) per
    // id regardless of partition/merge arrival order.
    val rows = Seq(
      (1L, 10L, Some(0.2)), (1L, 10L, Some(0.9)), (1L, 10L, Some(0.5)),
      (1L, 20L, Some(0.7)), (1L, 30L, None), (1L, 30L, Some(0.1)),
      (2L, 10L, Some(0.4)), (2L, 10L, None))
    val expect = Set((1L, 10L, Some(0.9), 1), (1L, 20L, Some(0.7), 2), (1L, 30L, Some(0.1), 3),
      (2L, 10L, Some(0.4), 1))
    // vary physical arrival order: different partition counts + input orders
    for (parts <- Seq(1, 3, 8); ord <- Seq(rows, rows.reverse, rows.sortBy(_._3.getOrElse(-9.0)))) {
      val df = ord.toDF("query_id", "neighbor_id", "cosine").repartition(parts)
      val got = graft.similarity.Ann.topKPerQuery(df, "query_id", "cosine", 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .as[(Long, Long, Option[Double], Int)].collect().toSet
      assert(got == expect, s"parts=$parts ord=${ord.take(2)}: $got")
    }
  }

  test("nearest-cells narrow map == crossJoin+window argmax (randomized, ties + zero + NULL vectors)") {
    // NearestCellsExpr must reproduce the shuffled formulation it replaced
    // exactly: cosine desc nulls-last, cell-id-asc ties. Adversarial bits:
    // duplicated vectors (exact score ties across cells), zero vectors
    // (null cosine against every centroid → cells ranked by id alone), and
    // NULL embedding columns (same null-cosine ranking — the expression must
    // assign the lowest p cells, not return null and vanish from the index).
    import org.apache.spark.sql.expressions.Window
    val ext = extSpark; import ext.implicits._ // the reference reaches graft_cosine by name
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed)
      val dim = 8
      val pool = IndexedSeq.fill(20)(Array.fill(dim)(rnd.nextFloat() - 0.5f))
      val fixed = (0 until 120).map { i =>
        val v = rnd.nextInt(10) match {
          case 0 => Array.fill(dim)(0.0f) // zero → null sim against every centroid
          case 1 | 2 | 3 => pool(rnd.nextInt(pool.length)) // shared vectors → exact ties
          case 4 => null // NULL embedding → null sim against every centroid
          case _ => Array.fill(dim)(rnd.nextFloat() - 0.5f)
        }
        (i.toLong, v)
      }
      val df = fixed.toDF("vec_id", "embedding")
      val p = 1 + rnd.nextInt(3)
      // centroids come from k-means means in the real pipeline — never null
      val centroids = df.filter(col("vec_id") % 9 === 0 && col("embedding").isNotNull).limit(10)
        .select((col("vec_id") * 100).as("cell"), col("embedding").as("__centroid"))
      val got = graft.similarity.Ivf.assignCells(df, centroids, p, "vec_id", "embedding")
        .select("vec_id", "cell").as[(Long, Long)].collect().toSet
      // the replaced formulation, verbatim
      val scored = df.crossJoin(broadcast(centroids))
        .withColumn("__csim", call_function("graft_cosine", col("embedding"), col("__centroid")))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("__csim").desc_nulls_last, col("cell"))
      val expect = scored.withColumn("__r", row_number().over(w))
        .filter(col("__r") <= p)
        .select("vec_id", "cell").as[(Long, Long)].collect().toSet
      assert(got == expect, s"seed=$seed p=$p diff=${(got diff expect) ++ (expect diff got)}")
    }
  }

  test("graft_vec_sum: bounded-state element-wise sum == posexplode mean formulation") {
    val ext = extSpark; import ext.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map(i =>
      (i % 7, Array.fill(16)(rnd.nextFloat())))
    val df = rows.toDF("g", "v")
    val got = df.groupBy(col("g"))
      .agg(call_function("graft_vec_sum", col("v")).as("s"), count(col("v")).as("n"))
      .select(col("g"), transform(col("s"), x => x / col("n")).as("m"))
      .as[(Int, Seq[Double])].collect().toMap
    val expect = df
      .select(col("g"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy("g", "p").agg(avg(col("x")).as("m"))
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("p"), col("m")))).as("pm"))
      .select(col("g"), transform(col("pm"), s => s.getField("m")).as("m"))
      .as[(Int, Seq[Double])].collect().toMap
    assert(got.keySet == expect.keySet)
    for (g <- got.keySet; (a, b) <- got(g).zip(expect(g)))
      assert(math.abs(a - b) < 1e-12, s"group $g: $a vs $b")
    // null vectors are skipped, all-null group sums to null
    val withNulls = Seq((0, Array(1.0f, 2.0f)), (0, null), (1, null))
      .toDF("g", "v")
      .groupBy(col("g")).agg(call_function("graft_vec_sum", col("v")).as("s"))
      .as[(Int, Option[Seq[Double]])].collect().toMap
    assert(withNulls(0).get == Seq(1.0, 2.0) && withNulls(1).isEmpty)
  }

  test("toHtml renders header dtypes, null styling, truncation, hidden-row footer") {
    import graft.api.frame._
    val df = Seq(
      (1L, Some("a" * 80), 1.5),
      (2L, None, 2.5),
      (3L, Some("<b>&x</b>"), 3.5),
      (4L, Some("d"), 4.5)).toDF("id", "s", "v")
    val html = df.orderBy("id").toHtml(limit = 3)
    assert(html.contains("<table class='gr-dataframe'>"))
    assert(html.contains("id<span class='gr-dtype'>bigint</span>"))
    assert(html.contains("s<span class='gr-dtype'>string</span>"))
    assert(html.contains("<td class='gr-null'>null</td>"))
    assert(html.contains("a" * 47 + "...")) // 50-char truncation
    assert(html.contains("&lt;b&gt;&amp;x&lt;/b&gt;"), "cells must be HTML-escaped")
    assert(html.contains("... and 1 more rows."))
    // small frame: no footer, no count job path
    assert(!df.limit(2).toHtml(limit = 10).contains("more rows"))
  }

  test("describe uses exact nearest quantiles (reference Describe semantics)") {
    import graft.api.frame._
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("v")
    val d = df.describeAll().collect()
    val p50 = d.find(_.getString(0) == "50%").get.getString(1).toDouble
    assert(p50 == 3.0)
  }
}
