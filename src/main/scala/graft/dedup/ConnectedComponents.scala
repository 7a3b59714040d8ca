package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over a candidate-pair
  * edge list by iterative min-label propagation.
  *
  * One LSH pass gives PAIRS; real dedup needs CLUSTERS (a~b, b~c ⇒ a,b,c
  * share one representative even if a,c never shared a bucket). Large-scale
  * standard approach: iterate `label(v) ← min(label(v), min(label(neighbors)))`
  * to a fixed point. Each iteration is two shuffles on vertex id; diameters
  * of near-dup clusters are tiny (chains of copies), so `maxIter` ~ 5
  * converges in practice and the loop stops early when stable.
  */
object ConnectedComponents {

  /** The distributed loop ran `maxIter` iterations and labels still
    * changed: returning them would hand back a partial clustering whose
    * answer depends on the edge count (the union-find fast path is exact). */
  final class ComponentsNotConvergedException(val maxIter: Int)
    extends IllegalStateException(
      s"connected components did not converge within maxIter = $maxIter " +
        "iterations; raise maxIter (labels travel one hop per iteration)")

  /** pairs: (id_a, id_b) edges. Returns (id, component) with component =
    * min id reachable. Only vertices appearing in pairs are returned.
    *
    * Graphs whose materialized edge count is ≤ `smallGraphEdges` (and whose
    * ids are longs) resolve by driver-side union-find on the already-counted
    * edge list — bounded, explicit, and orders of magnitude cheaper than
    * shuffle iterations; everything larger takes the distributed loop.
    *
    * Fault-tolerance at scale: the label plan grows by two joins per
    * iteration, so a late task retry would otherwise recompute the whole
    * chain back to the (possibly expensive — LSH/Jaccard) edge derivation.
    * Every `checkpointInterval` iterations the labels are checkpointed —
    * to the session's reliable checkpoint dir when one is set (survives
    * executor loss; the 100 TB setting), else `localCheckpoint` (truncates
    * lineage in local/test runs). The edge list itself is materialized
    * exactly once up front.
    *
    * The distributed loop throws [[ComponentsNotConvergedException]] when
    * labels still change after `maxIter` iterations. */
  def components(pairs: DataFrame, maxIter: Int = 10, checkpointInterval: Int = 3,
                 smallGraphEdges: Long = 1L << 22): DataFrame = {
    // Persist the edge list ALREADY HASH-PARTITIONED on the per-iteration
    // join key: the cached partitioning survives into every iteration's
    // join (InMemoryTableScan keeps outputPartitioning), so the edge-sized
    // exchange happens once here instead of once per iteration — at scale
    // edges dwarf labels, and this halves the per-iteration shuffle volume.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = edges.count() // force ONE evaluation of the upstream pair computation

    // Small-graph fast path — same philosophy as Spark's broadcast-join
    // threshold: the edge count is already known (the forced count above),
    // and at or below `smallGraphEdges` (default 4M directed edges; as
    // primitive-pair tuples a few hundred MB of driver heap at the limit,
    // comparable to a large broadcast) driver-side union-find replaces 2–4
    // full shuffle/codegen iteration rounds. Within the fast path the edges
    // reach the driver two ways (see below): up to 1M in ONE collect job;
    // 1M–4M streamed partition-at-a-time via toLocalIterator, bounding
    // driver heap to one partition + the parent map. Near-dup graphs
    // are tiny relative to their corpora (edges ∝ duplicates found, not
    // corpus size), so in practice even 100 TB corpora often land here;
    // graphs over the threshold take the iterative distributed loop below,
    // which is the unbounded-scale path. Pass smallGraphEdges = 0 to force
    // it. The result goes back through parallelize (an RDD scan), NOT a
    // LocalRelation — a multi-million-row local plan would be re-serialized
    // into every downstream task.
    val longIds = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (edgeCount <= smallGraphEdges && longIds) {
      val spark = edges.sparkSession
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) { parent.put(r, parent.get(parent.get(r))); r = parent.get(r) }
        r
      }
      val typed = edges.select(col("src"), col("dst")).as(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      // tiny graphs: one collect job; larger (still under-threshold)
      // graphs: stream partition-at-a-time so driver heap holds one
      // partition + the parent map, at the price of a job per partition
      import scala.jdk.CollectionConverters._
      val it: Iterator[(Long, Long)] =
        if (edgeCount <= (1L << 20)) typed.collect().iterator
        else typed.toLocalIterator().asScala
      while (it.hasNext) {
        val (a, b) = it.next()
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        // union by MIN id so every tree's root is its component's minimum —
        // the same representative the distributed min-label loop converges to
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      edges.unpersist()
      val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
      val keys = parent.keySet().iterator()
      while (keys.hasNext) { val k = keys.next(); rows += ((k, find(k))) }
      import spark.implicits._
      // r18 (guide §3.1): the membership table is ALREADY driver-resident
      // and bounded by the fast-path threshold (≤ 2 vertices per edge ≈ a
      // large-broadcast's worth at the limit), but a ParallelCollectionRDD
      // scan carries no size statistics, so every downstream join of the
      // CORPUS against it planned as SortMergeJoin — shuffling the whole
      // corpus by id to meet a map the driver was just holding (q49's
      // keep-list anti join and qd53's split join both measured this, 2
      // Exchange + 2 Sort each). The broadcast hint makes those
      // BroadcastHashJoins: the corpus side never exchanges. The
      // distributed path below stays unhinted — its label table is
      // corpus-scaled and must keep the shuffle join.
      //
      // The hint is additionally gated on the MEMBERSHIP size (ADVICE r18):
      // at the 4M-edge fast-path limit the map can hold ~8M (Long, Long)
      // rows — a multi-hundred-MB HashedRelation pinned on the driver and
      // replicated to every executor, where the unhinted SortMergeJoin
      // degrades gracefully. At ~64 bytes/row framed, 2^22 rows ≈ 256 MB,
      // the guide-§3.1 "a few hundred MB is usually fine" ceiling; bigger
      // memberships return unhinted and the planner chooses.
      val membership = spark.createDataset(
        spark.sparkContext.parallelize(rows.toSeq, edges.rdd.getNumPartitions))
        .toDF("id", "component")
      return if (rows.size <= (1 << 22)) broadcast(membership) else membership
    }

    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

    val initial = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("component"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = initial
    var cached = initial // the frame actually holding the persist/checkpoint

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // propagate: each vertex takes the min of its own and neighbors' labels.
      // The OLD label rides along so convergence is decided by the SAME job
      // that materializes the new labels — one pass per iteration, and the
      // full-count agg (not limit(1)) guarantees the cache is fully populated
      // so no partition ever recomputes through the join lineage.
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("component", "nlabel"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nlabel")).as("nmin"))
      val next0 = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      val next =
        if (checkpointInterval > 0 && (iter + 1) % checkpointInterval == 0) truncate(next0)
        else next0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = next.agg(count(when(col("component") =!= col("__old"), 1)))
        .first().getLong(0)
      cached.unpersist()
      cached = next
      labels = next.select(col("id"), col("component"))
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      edges.unpersist(blocking = true)
      cached.unpersist()
      throw new ComponentsNotConvergedException(maxIter)
    }
    // the final labels are fully materialized (the convergence count is a
    // full-table agg), so the edge cache is dead weight from here on —
    // release it. The labels' own persist/checkpoint IS the returned result's
    // backing store in the distributed path; it lives exactly as long as the
    // caller holds the frame (ContextCleaner reclaims it on GC).
    edges.unpersist(blocking = true)
    labels
  }

  /** Full near-dup dedup: LSH pairs → components → keep each component's
    * minimum id (plus all unpaired rows untouched). */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                        maxIter: Int = 10): DataFrame = {
    val comp = components(pairs, maxIter)
    val drops = comp.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }
}
