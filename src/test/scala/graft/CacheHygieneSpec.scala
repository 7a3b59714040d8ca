package graft

import graft.faces.Faces

/** Library cache-hygiene contract: no public op retains cache blocks past
  * its query's materialization.
  *
  * Why this is a first-class contract and not a style preference: a real
  * 100 TB session is LONG-LIVED — it chains dedup passes, model builds, and
  * selection queries for hours. Any op that persists an intermediate and
  * never releases it turns that session into a slow leak of MEMORY_AND_DISK
  * blocks; the executors' storage pools fill with dead signatures and count
  * tables, and every later shuffle pays the eviction pressure. The round-6
  * driver bench measured exactly this shape (queries 14-19× their isolated
  * cost under suite cache pressure).
  *
  * The discipline, per op class:
  *   - model builders (DSIR log-ratio, bigram LM, Jaccard shingle sets):
  *     NO persist — multiply-referenced subplans dedupe via ReuseExchange
  *     inside the single action instead (asserted below);
  *   - eager model extractions (Bloom builds): one `bloom_filter_agg`
  *     action at call time, no persist;
  *   - bounded-result pipelines (flagship top-k, ANN neighbor lists):
  *     stages persist, the result localizes eagerly, stages release before
  *     the lambda returns;
  *   - caller-owned handles (Ivf.buildIndex): the caller releases — and
  *     every SparkEntry query using one does so.
  */
class CacheHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Queries are grouped into a few suite entries (not one test per query) so
  // failure output stays readable while every query is still covered.
  private val groups = Faces.all.sortBy(_.name).grouped(20).toSeq

  for (group <- groups)
    test(s"no retained cache blocks after: ${group.head.name}..${group.last.name}") {
      for (face <- group) {
        val name = face.name
        spark.catalog.clearCache() // isolate: a leak must be THIS query's
        face.run(spark, dir).write.mode("overwrite")
          .format("noop").save()
        val retained = spark.sparkContext.getPersistentRDDs
        assert(retained.isEmpty,
          s"$name retained ${retained.size} cached RDD(s) after its action: " +
            retained.values.map(_.name).mkString("; "))
      }
    }

  // The bench twins (Face.bench: the operator-only plans Bench times)
  // run under the same contract — the bench's long 5-rep suite would
  // amplify any leak 5x per query.
  private val benchOnly = Faces.all.filter(_.bench.isDefined).sortBy(_.name)

  test(s"no retained cache blocks after bench faces: ${benchOnly.map(_.name).mkString(", ")}") {
    for (face <- benchOnly; name = face.name; bench <- face.bench) {
      spark.catalog.clearCache()
      bench(spark, dir).write.mode("overwrite")
        .format("noop").save()
      val retained = spark.sparkContext.getPersistentRDDs
      assert(retained.isEmpty,
        s"bench face $name retained ${retained.size} cached RDD(s): " +
          retained.values.map(_.name).mkString("; "))
    }
  }

  test("DSIR exact face dedupes its count tables via ReuseExchange, not persist") {
    val docs = sf("documents")
    val df = graft.prep.Prep
      .importanceWeightsMicro(docs, docs.filter(org.apache.spark.sql.functions
        .col("doc_id") % 17 === 0), "doc_id", "text")
    // AQE resolves exchange reuse at runtime (stage cache keyed on the
    // canonicalized subplan), so the assertion must read the FINAL plan of
    // an executed QueryExecution — collect() runs this df's own QE.
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"expected an executed adaptive plan:\n$plan")
    assert(plan.contains("ReusedExchange"),
      "expected the multiply-referenced corpus count table to plan as a " +
        s"ReusedExchange; got:\n$plan")
  }
}
