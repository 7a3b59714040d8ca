package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.plans.{AnnExprs, CosineSimilarityExpr}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - `bruteForceTopK`: broadcast the (small) query set against the corpus,
  *    score every pair, per-query top-k via a bounded-state aggregate
  *    ([[graft.plans.BoundedTopKAgg]]). Exact; the baseline and
  *    the within-bucket kernel of every ANN variant. The corpus side never
  *    shuffles — queries are broadcast to the corpus partitions.
  *  - `lshTopK`: random-hyperplane (sign) LSH — deterministic seeded planes,
  *    bucket corpus and queries by sign bits, search only matching buckets
  *    (multi-probe over single-bit flips widens recall). At 100 TB this is
  *    the difference between scanning the corpus per query and scanning
  *    1/2^bits of it.
  */
object Ann {

  /** Per-query top-k over a scored candidate frame via
    * [[graft.plans.BoundedTopKAgg]]: each partition reduces to ≤ k entries
    * per query BEFORE the exchange (ObjectHashAggregate partial stage), so
    * the shuffle carries Q×partitions×k entries instead of every scored
    * corpus row — the window formulation it replaces funneled a query's
    * whole scored corpus through one task. Ordering (score desc, nulls
    * last, id asc) and duplicate-candidate collapse match the old
    * `.distinct()` + `row_number` exactly. */
  private[graft] def topKPerQuery(scored: DataFrame, queryIdCol: String,
                                  scoreCol: String, k: Int,
                                  neighborCol: String = "neighbor_id"): DataFrame = {
    scored.groupBy(col(queryIdCol))
      .agg(AnnExprs.topK(col(scoreCol), col(neighborCol), k).as("__tk"))
      .select(col(queryIdCol), posexplode(col("__tk")).as(Seq("__p", "__e")))
      .select(col(queryIdCol), col("__e.id").as(neighborCol),
        col("__e.score").as(scoreCol), (col("__p") + 1).cast("int").as("rank"))
  }

  /** Exact top-k: every query row against every corpus row.
    * Deterministic tie-break on neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(broadcast(q), col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("cosine", CosineSimilarityExpr.cosine(col("__qv"), col("__cv")))
    topKPerQuery(scored, queryIdCol, "cosine", k)
      .select(col(queryIdCol), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic ±1 hyperplanes derived from a seed (no RNG at execution
    * time — plan-build-time literals). */
  private def planes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-LSH bucket id for a vector column. */
  def lshBucket(vec: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val ps = planes(dim, nBits, seed)
    (0 until nBits).map { b =>
      val dotSign = V.dot(vec, typedlit(ps(b)))
      when(dotSign >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Banded sign-LSH buckets: `bands` independent buckets of `bandBits`
    * planes each (band index folded into the bucket id, so buckets never
    * collide across bands). Two vectors are candidates when ANY band
    * matches — the OR-of-ANDs construction that keeps recall useful at
    * moderate similarity, where a single wide bucket's all-bits-agree
    * probability collapses (p_bit^16 ≈ 0 vs 1−(1−p_bit^4)^4). */
  def lshBandBuckets(vec: Column, dim: Int, bandBits: Int, bands: Int,
                     seed: Long = 42L): Column = {
    val ps = planes(dim, bandBits * bands, seed)
    array((0 until bands).map { k =>
      val bits = (0 until bandBits).map { j =>
        when(V.dot(vec, typedlit(ps(k * bandBits + j))) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      lit(k.toLong * (1L << bandBits)) + bits
    }: _*)
  }

  /** ANN top-k via sign-LSH bucketing with single-bit multi-probe.
    * Recall < 1 by construction; exactness is bruteForceTopK's job. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 8, seed: Long = 42L, probeRadius: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__bucket", lshBucket(col("__cv"), dim, nBits, seed))
    // multi-probe: each query probes its own bucket plus all bit-flip
    // combinations up to probeRadius (recall/cost dial: radius 1 scans
    // ~(1+bits)/2^bits of the corpus, radius 2 adds bits-choose-2 buckets)
    val flipMasks: Seq[Long] = {
      val single = (0 until nBits).map(b => 1L << b)
      val double =
        if (probeRadius >= 2)
          for (i <- 0 until nBits; j <- i + 1 until nBits) yield (1L << i) | (1L << j)
        else Seq.empty
      0L +: (single ++ double)
    }
    val probes = array(flipMasks.map(lit): _*)
    val q = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"))
      .withColumn("__qbucket", lshBucket(col("__qv"), dim, nBits, seed))
      .withColumn("__probe", explode(probes))
      .withColumn("__bucket", col("__qbucket").bitwiseXOR(col("__probe")))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("cosine", CosineSimilarityExpr.cosine(col("__qv"), col("__cv")))
    // a pair can match in several probe buckets: BoundedTopKAgg's
    // dedup-by-id collapses those duplicates (same id ⇒ same cosine), which
    // is what the old `.distinct()` + window did with an extra exchange
    topKPerQuery(scored, queryIdCol, "cosine", k)
  }
}
