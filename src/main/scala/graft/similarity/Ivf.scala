package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import graft.plans.{CosineSimilarityExpr, NearestCellsExpr, VecSumAgg}

/** IVF-flat approximate nearest neighbor: partition the corpus into nlist
  * Voronoi cells around centroid vectors; queries probe only the nprobe
  * closest cells.
  *
  * Centroids are a deterministic hash-ranked sample of the corpus itself
  * (IVF with sampled centroids; optional Lloyd refinement). The centroid set
  * is tiny (nlist rows, collected to the driver — the ONE documented bounded
  * collect of this module) and travels to executors inside the plan as a
  * literal ([[graft.plans.NearestCellsExpr]], the same mechanism as the PQ
  * codebook). Cell assignment is therefore a NARROW map — no shuffle at all
  * between the corpus scan and its cell ids; the corpus shuffles ONCE at
  * index-build time on cell id and never again per query — the property
  * that matters at 100 TB, where the crossJoin+window formulation this
  * replaced amplified the exchange by nlist×.
  */
object Ivf {

  /** Build the cell index: returns (centroids, assigned corpus).
    * assigned = corpus + `cell` column, repartitioned by cell.
    *
    * `lloydIters` > 0 runs that many Lloyd (k-means) refinement rounds over
    * the sampled seeds before the final assignment: assign (narrow map) →
    * element-wise mean per cell (the round's one shuffle, map-side partial
    * aggregation) → re-collect the nlist-row centroid table; empty cells
    * keep their previous centroid. Better-balanced cells mean fewer
    * over-full probes at search time — the classic IVF build trade: pay
    * once at index time.
    *
    * Each centroid table (the sampled seeds, then one per round) is
    * collected once, by one job, into a local relation: the next
    * assignment, the next round's join and the returned `centroids` read
    * it without another job, and nothing is persisted for it. */
  def buildIndex(corpus: DataFrame, nlist: Int, seed: Long = 42L,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 lloydIters: Int = 0): (DataFrame, DataFrame) = {
    // deterministic sample: hash-rank rows, take nlist as centroids
    var centroids = local(corpus
      .withColumn("__r", xxhash64(col(idCol), lit(seed)))
      .orderBy(col("__r")).limit(nlist)
      .select(monotonically_increasing_id().as("cell"), col(vecCol).as("__centroid")))

    for (_ <- 0 until lloydIters) {
      val members = assignCells(corpus, centroids, 1, idCol, vecCol)
      // element-wise mean via a bounded-state vector-sum aggregate: each
      // partition reduces a cell's members to ONE dim-length array before
      // the exchange — the posexplode formulation this replaces shuffled
      // corpus×dim individual element rows per round
      val means = members
        .groupBy(col("cell"))
        .agg(column(VecSumAgg(expression(col(vecCol))).toAggregateExpression()).as("__sum"),
          count(col(vecCol)).as("__n"))
        .select(col("cell"),
          transform(col("__sum"), x => (x / col("__n")).cast("float")).as("__newc"))
      centroids = local(centroids.join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("__newc"), col("__centroid")).as("__centroid")))
    }

    val assigned = assignCells(corpus, centroids, 1, idCol, vecCol)
      .repartition(col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (centroids, assigned)
  }

  /** `df` collected into a local relation: later collects of it (and of
    * projections of it) are driver-local and start no job. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Attach each row's top-`p` nearest cells (p=1 for corpus assignment,
    * p=nprobe for queries) as a NARROW map: the nlist-row centroid table is
    * collected (bounded by construction — nlist×dim floats, a few MB at
    * nlist=4096/dim=1024) and embedded in a [[graft.plans.NearestCellsExpr]]
    * plan literal; each row computes its own argmax/top-p in place. Ordering
    * parity with the crossJoin+window formulation is exact (same cosine
    * arithmetic, sim desc nulls-last, cell-id-asc ties). */
  private[graft] def assignCells(df: DataFrame, centroids: DataFrame, p: Int,
                                 idCol: String, vecCol: String): DataFrame = {
    val local = centroids.select(col("cell"), col("__centroid")).collect()
      .map { r =>
        val vec = r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case n: java.lang.Number => n.doubleValue()
        }.toArray
        (r.getLong(0), vec)
      }
      .sortBy(_._1)
    if (local.isEmpty) return df.withColumn("cell", explode(array().cast("array<long>")))
    val dim = local.head._2.length
    require(local.forall(_._2.length == dim), "centroid dims must agree")
    val cellIds = local.map(_._1)
    val flat = new Array[Double](local.length * dim)
    var j = 0
    while (j < local.length) {
      System.arraycopy(local(j)._2, 0, flat, j * dim, dim)
      j += 1
    }
    df.withColumn("cell",
      explode(column(NearestCellsExpr(expression(col(vecCol)), cellIds, flat, dim, p))))
  }

  /** Search: probe the nprobe closest cells per query, exact cosine within.
    * Query-side cell probing is a narrow map over the (small, broadcast)
    * query set; per-query top-k is a bounded-state aggregate
    * ([[Ann.topKPerQuery]]) — the corpus never reshuffles per query. */
  def search(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
             k: Int, nprobe: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding",
             queryIdCol: String = "query_id"): DataFrame = {
    val q = assignCells(
        queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv")),
        centroids, nprobe, queryIdCol, "__qv")
      .select(col(queryIdCol), col("__qv"), col("cell"))
    val c = assigned.select(col("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("cosine", CosineSimilarityExpr.cosine(col("__qv"), col("__cv")))
    Ann.topKPerQuery(scored, queryIdCol, "cosine", k)
  }
}
