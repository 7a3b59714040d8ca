package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import graft.plans.{CosineSimilarityExpr, PqEncodeExpr, PqExprs}

/** Product-quantization ANN (PQ / IVF-PQ): the memory side of the 100 TB
  * scale path. IVF ([[Ivf]]) bounds how much of the corpus a query scans;
  * PQ bounds what each scanned row costs — an m-byte code (e.g. 8 bytes)
  * replaces the dim-float embedding (e.g. 256 bytes), and scoring becomes m
  * table lookups instead of a dim-wide dot product. A 100 TB embedding
  * corpus becomes a ~3 TB code table that fits executor memory.
  *
  * Division of labor (mirrors how faiss trains vs searches):
  *  - TRAIN runs driver-side over an explicitly bounded sample
  *    (`sampleN` rows, hash-ranked so it is deterministic): k-means of
  *    ksub centroids per subspace is microseconds on a sample and the
  *    result — the codebook — is m·ksub·subDim floats (a few KB), which
  *    ships to executors as a plan literal.
  *  - ENCODE and SEARCH are distributed and corpus-shaped: encoding is a
  *    narrow map ([[graft.plans.PqEncodeExpr]]), search broadcasts the
  *    query LUTs and never reshuffles the corpus (same contract as
  *    [[Ann.bruteForceTopK]]).
  *
  * All inputs are unit-normalized first ([[Pq.unit]]) so the ADC
  * inner-product sum estimates cosine similarity.
  */
object Pq {

  /** Unit-normalize a float-array column (zero vectors pass through). */
  def unit(vec: Column): Column = {
    val n = graft.functions.VectorFunctions.norm2(vec)
    when(n > lit(0.0), transform(vec, x => (x.cast("double") / n).cast("float")))
      .otherwise(vec)
  }

  /** Train a PQ codebook: ksub centroids per each of m subspaces, k-means
    * over a deterministic `sampleN`-row sample, `lloydIters` refinement
    * rounds. Returns the flattened `[m][ksub][subDim]` codebook. */
  def train(corpus: DataFrame, dim: Int, m: Int = 8, ksub: Int = 16,
            sampleN: Int = 10000, lloydIters: Int = 5, seed: Long = 42L,
            idCol: String = "vec_id", vecCol: String = "embedding"): Array[Float] = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val subDim = dim / m
    val sample = corpus
      .select(col(idCol), unit(col(vecCol)).as("__v"))
      .withColumn("__r", xxhash64(col(idCol), lit(seed)))
      .orderBy(col("__r")).limit(sampleN)
      .select("__v")
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= ksub, s"need >= $ksub sample rows, got ${sample.length}")

    val codebook = new Array[Float](m * ksub * subDim)
    for (mi <- 0 until m) {
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, mi * subDim, (mi + 1) * subDim))
      // deterministic spread init: every (n/ksub)-th subvector of the
      // hash-ranked sample
      var cents = Array.tabulate(ksub)(j => subs((j.toLong * subs.length / ksub).toInt)
        .map(_.toDouble))
      for (_ <- 0 until lloydIters) {
        val sums = Array.fill(ksub, subDim)(0.0)
        val counts = new Array[Long](ksub)
        for (s <- subs) {
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < ksub) {
            var dist = 0.0; var d = 0
            while (d < subDim) { val x = s(d) - cents(j)(d); dist += x * x; d += 1 }
            if (dist < bestD) { bestD = dist; best = j }
            j += 1
          }
          counts(best) += 1
          var d = 0
          while (d < subDim) { sums(best)(d) += s(d); d += 1 }
        }
        cents = Array.tabulate(ksub)(j =>
          if (counts(j) == 0) cents(j)
          else Array.tabulate(subDim)(d => sums(j)(d) / counts(j)))
      }
      for (j <- 0 until ksub; d <- 0 until subDim)
        codebook((mi * ksub + j) * subDim + d) = cents(j)(d).toFloat
    }
    codebook
  }

  /** Attach `pq_codes` (array<int>, length m) — a narrow map, no shuffle;
    * the codebook travels inside the plan. */
  def encode(df: DataFrame, codebook: Array[Float], m: Int, ksub: Int,
             vecCol: String = "embedding"): DataFrame = {
    df.withColumn("pq_codes",
      column(PqEncodeExpr(expression(unit(col(vecCol))), codebook, m, ksub)))
  }

  /** ADC top-k: queries carry their lookup tables (broadcast), the encoded
    * corpus is scanned in place at m-lookups-per-row cost. `rescore` > k
    * re-ranks that many ADC candidates by exact cosine against the original
    * vectors (the standard PQ refinement step — the id-keyed join touches
    * only queries×rescore rows, never the corpus). */
  def searchAdc(encoded: DataFrame, codebook: Array[Float], queries: DataFrame,
                k: Int, m: Int = 8, ksub: Int = 16, rescore: Int = 0,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(idCol).as(queryIdCol),
      PqExprs.lut(unit(col(vecCol)), codebook, m, ksub).as("__lut"))
    val c = encoded.select(col(idCol).as("neighbor_id"), col("pq_codes"))
    val scored = c.join(broadcast(q), col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("adc", PqExprs.adc(col("pq_codes"), col("__lut"), ksub))
    // bounded-state top-k (Ann.topKPerQuery): partitions reduce to ≤ pool
    // entries per query before the exchange — the ADC-scored corpus never
    // funnels through one task per query
    val top = Ann.topKPerQuery(scored, queryIdCol, "adc", math.max(k, rescore))
      .select(col(queryIdCol), col("neighbor_id"), col("adc"), col("rank"))
    if (rescore <= k) top.filter(col("rank") <= k)
    else rescoreExact(top, encoded, queries, k, idCol, vecCol, queryIdCol)
  }

  /** Exact-cosine re-rank of a bounded ADC shortlist (the standard PQ
    * refinement, shared by [[searchAdc]] and [[searchIvfPq]]): the id-keyed
    * join touches only queries×rescore shortlist rows, never the full
    * corpus, and the final [[Ann.topKPerQuery]] dedups by neighbor id, so a
    * source frame with repeated ids re-ranks each neighbor once. */
  private def rescoreExact(top: DataFrame, source: DataFrame, queries: DataFrame,
                           k: Int, idCol: String, vecCol: String,
                           queryIdCol: String): DataFrame = {
    val origs = source.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"))
    val rescored = top.join(origs, "neighbor_id")
      .join(broadcast(qv), queryIdCol)
      .withColumn("cosine", CosineSimilarityExpr.cosine(col("__qv"), col("__cv")))
    Ann.topKPerQuery(rescored, queryIdCol, "cosine", k)
      .select(col(queryIdCol), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF-PQ: cells bound how much corpus a query scans (nprobe of nlist),
    * PQ bounds the per-row cost inside a cell. `assigned` is
    * [[Ivf.buildIndex]] output run through [[encode]]; queries probe their
    * nprobe nearest cells and ADC-scan only those. */
  def searchIvfPq(assignedEncoded: DataFrame, centroids: DataFrame,
                  codebook: Array[Float], queries: DataFrame, k: Int,
                  m: Int = 8, ksub: Int = 16, nprobe: Int = 4, rescore: Int = 0,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  queryIdCol: String = "query_id"): DataFrame = {
    val q0 = Ivf.assignCells(
      queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv")),
      centroids, nprobe, queryIdCol, "__qv")
    val q = q0.select(col(queryIdCol), col("cell"),
      PqExprs.lut(unit(col("__qv")), codebook, m, ksub).as("__lut"))
    val c = assignedEncoded.select(col("cell"), col(idCol).as("neighbor_id"), col("pq_codes"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("adc", PqExprs.adc(col("pq_codes"), col("__lut"), ksub))
    // BoundedTopKAgg dedups by neighbor id, covering the multi-cell
    // duplicate case the old `.distinct()` handled with an extra exchange
    val top = Ann.topKPerQuery(scored, queryIdCol, "adc", math.max(k, rescore))
    if (rescore <= k) top
    else rescoreExact(top, assignedEncoded, queries, k, idCol, vecCol, queryIdCol)
  }
}
