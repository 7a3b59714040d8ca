package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.InternalBridge.{column, expression}
import graft.functions.{TextFunctions => T}
import graft.operators.RangeId
import graft.plans.{AnnExprs, BloomExprs, C4KeepLinesExpr, DsirExprs, GopherStatsExpr, SketchExprs}

/** Training-corpus preparation operators: deterministic splitting/sampling,
  * benchmark decontamination, context-window chunking, and sequence packing.
  *
  * Everything here is (a) expression-only — no UDF, no driver loop, every op
  * is a narrow map or a single keyed shuffle, and (b) bit-deterministic with
  * exact-integer arithmetic, so results are reproducible across engines
  * (DuckDB oracles mirror each op exactly) and across re-runs at any cluster
  * size — the property a 100 TB pipeline needs for resumable, auditable runs.
  */
object Prep {

  /** `textCol` as a token array: a column already of type `array<string>`
    * passes through untouched; a string column gets the standard whitespace
    * tokenization ([[graft.functions.TextFunctions.tokens]]). This lets a
    * multi-stage pipeline (qd41/qd41h) tokenize its corpus ONCE into a
    * persisted token table and feed every stage the arrays — re-splitting
    * text was the dominant repeated CPU of a chained pipeline (each stage's
    * model build AND scoring pass re-ran the tokenizer over corpus-scale
    * text; r18 verdict item 2). Tokenization is deterministic, so every
    * downstream value is bit-identical either way. */
  private def toks(df: DataFrame, textCol: String): Column =
    df.schema(textCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => col(textCol)
      case _ => T.tokens(col(textCol))
    }

  // ---- deterministic hash split / sampling -------------------------------
  // Random sampling is the wrong tool on a large corpus: it is neither
  // reproducible across engines nor stable under retries/re-partitioning.
  // The standard fix is a content-keyed bucket: hash the stable id into
  // [0, buckets) with exact modular arithmetic. Any engine computes the
  // same buckets, rows never move between train/test when the pipeline
  // re-runs, and the assignment needs no shuffle at all (narrow map).

  /** Modulus (2^30th prime-ish, 1e9+7) and Knuth's multiplicative constant.
    * `(id % P) * MULT` stays under 2^63 (both factors < 2^31·2.5), so the
    * arithmetic is exact int64 in every engine — no overflow wrap to agree
    * on. */
  val P: Long = 1000000007L
  val Mult: Long = 2654435761L

  /** Deterministic bucket in [0, buckets) from an id column. Salt
    * decorrelates independent draws (split vs subsample) so one bucket
    * decision never biases another. For non-negative ids every step is
    * sign-free and a plain `%` chain reproduces it in any SQL engine; the
    * final `pmod` additionally keeps NEGATIVE ids (e.g. xxhash64-derived)
    * in range — Spark's `%` keeps the dividend's sign, and a negative
    * bucket would silently satisfy every `bucket < rate` filter. */
  def hashBucket(id: Column, buckets: Int, salt: Long = 0L): Column =
    pmod(((id + lit(salt)) % lit(P)) * lit(Mult) % lit(P), lit(buckets))

  /** Train/valid/test assignment from per-mille cut points
    * (e.g. 800/100 → 80% train, 10% valid, 10% test). */
  def split(id: Column, trainPm: Int, validPm: Int, salt: Long = 0L): Column = {
    val b = hashBucket(id, 1000, salt)
    when(b < trainPm, lit("train"))
      .when(b < trainPm + validPm, lit("valid"))
      .otherwise(lit("test"))
  }

  /** Deterministic per-stratum subsampling: keep a row iff its bucket falls
    * under the stratum's per-mille rate (unknown strata keep
    * `defaultPm`). */
  def stratifiedKeep(id: Column, stratum: Column, ratesPm: Map[String, Int],
                     defaultPm: Int, salt: Long = 1L): Column = {
    val b = hashBucket(id, 1000, salt)
    val rate = ratesPm.foldLeft(lit(defaultPm)) { case (acc, (k, v)) =>
      when(stratum === k, lit(v)).otherwise(acc)
    }
    b < rate
  }

  /** Raw deterministic shuffle key: the [[hashBucket]] arithmetic without
    * the final bucket fold. For non-negative ids the value lies in [0, P)
    * and any SQL engine reproduces it with a plain `%`/`*` chain. */
  def shuffleKey(id: Column, salt: Long = 0L): Column =
    ((id + lit(salt)) % lit(P)) * lit(Mult) % lit(P)

  /** Leakage-safe train/valid/test split: the assignment is keyed on the
    * near-dup CLUSTER representative, not the document id, so every member
    * of a duplicate cluster lands in the same split — near-duplicates of a
    * training document can never leak into validation or test (the failure
    * mode a plain [[split]] cannot rule out on an undeduplicated corpus).
    *
    * `pairs` is any near-dup edge list `(id_a, id_b)` — exact n-gram
    * Jaccard, MinHash-LSH, SimHash; connected components collapse it to
    * min-id representatives, and singleton documents (no edges) represent
    * themselves via the `coalesce`. Output adds `rep`, `bucket`, `split`.
    *
    * 100 TB shape: the added cost over a plain hash split is one
    * components run (pre-partitioned edge shuffle, see
    * [[graft.dedup.ConnectedComponents]]) plus one left join of the corpus
    * against the non-singleton membership table (only documents that have
    * a near-dup edge — typically a small fraction of the corpus); the
    * bucket/split assignment itself stays a narrow map on `rep`. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPm: Int, validPm: Int, salt: Long = 0L): DataFrame = {
    val comp = graft.dedup.ConnectedComponents.components(pairs)
      .withColumnRenamed("id", "__cid")
    docs.join(comp, docs(idCol) === col("__cid"), "left")
      .withColumn("rep", coalesce(col("component"), docs(idCol)))
      .drop("__cid", "component")
      .withColumn("bucket", hashBucket(col("rep"), 1000, salt))
      .withColumn("split", split(col("rep"), trainPm, validPm, salt))
  }

  /** Exact-k deterministic per-stratum sample: each stratum keeps its k
    * rows with the SMALLEST [[shuffleKey]] values — a fixed, content-keyed
    * pseudo-random order, so the sample is reproducible across engines,
    * retries, and cluster sizes (everything `df.sample` is not), and
    * exact-size where [[stratifiedKeep]]'s rate-based filter is only
    * exact-in-expectation. Strata smaller than k keep every row.
    *
    * Returns one row per kept id: `(stratum, rk, id)` with `rk` the 1-based
    * position in the stratum's key order. Join the (tiny) result back to
    * recover payload columns — see [[stratifiedSampleExact]].
    *
    * Scale shape: `graft_topk` ([[graft.plans.BoundedTopKAgg]]) plans as
    * ObjectHashAggregate with a PARTIAL stage, so each input partition
    * reduces to ≤ k entries per stratum before the exchange — the shuffle
    * moves O(strata × k × partitions), never the corpus, and there is no
    * global sort and no per-stratum window (a row_number() formulation
    * would shuffle every row onto hash(stratum): the hot-stratum skew cliff
    * for a corpus that is 90% one language). */
  def stratifiedSampleKeys(df: DataFrame, idCol: String, stratumCol: String,
                           k: Int, salt: Long = 0L): DataFrame = {
    require(k > 0, s"stratifiedSampleKeys: k must be positive, got $k")
    // graft_topk keeps the HIGHEST scores; negate the key to keep the
    // smallest. Keys lie in [0, P) so the double cast is exact (P < 2^53).
    val score = -shuffleKey(col(idCol), salt).cast("double")
    df.groupBy(col(stratumCol))
      .agg(AnnExprs.topK(score, col(idCol), k).as("__tk"))
      .select(col(stratumCol), posexplode(col("__tk")))
      .select(col(stratumCol), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as(idCol))
  }

  /** Weighted sample WITHOUT replacement (Efraimidis & Spirakis 2006,
    * A-Res): keep the k rows with the highest `u^(1/w)` — equivalently the
    * highest `ln(u)/w` — where `u` is a deterministic hash-uniform draw in
    * `(0, 1]` from the row's id ( `(shuffleKey + 1) / (P + 1)` ) and `w` its
    * positive weight. Inclusion odds scale with weight (same `u`, larger
    * `w` → strictly better score), the draw is content-keyed so the sample
    * is reproducible across engines/retries/partitionings, and the whole
    * thing is ONE bounded partial agg: `graft_topk` reduces every partition
    * to ≤ k candidates before the exchange — no per-row RNG state, no
    * global sort, no driver pass. The quality-weighted corpus-selection
    * primitive (sample 1M docs ∝ quality score) at 100 TB.
    *
    * Rows with null or non-positive weight are excluded (the E-S domain).
    * Returns `(rk, id)` with `rk` the 1-based rank (best score first, ties
    * by id — `u` is injective per id, so ties require equal scores across
    * different ids: measure-zero); join back for payload columns. */
  def weightedSampleKeys(df: DataFrame, idCol: String, weightCol: String,
                         k: Int, salt: Long = 0L): DataFrame = {
    require(k > 0, s"weightedSampleKeys: k must be positive, got $k")
    val u = (shuffleKey(col(idCol), salt) + lit(1L)).cast("double") / lit((P + 1).toDouble)
    val w = col(weightCol).cast("double")
    // ln(u) <= 0, so larger w pulls the score toward 0 = better; graft_topk
    // keeps the highest scores, which is exactly the A-Res reservoir
    val score = when(w > 0.0, log(u) / w)
    df.groupBy()
      .agg(AnnExprs.topK(score, col(idCol), k).as("__tk"))
      .select(posexplode(col("__tk")))
      .filter(col("col.score").isNotNull) // null-weight rows never sampled
      .select((col("pos") + 1).cast("long").as("rk"), col("col.id").as(idCol))
  }

  /** Per-stratum [[weightedSampleKeys]]: the A-Res reservoir grouped on a
    * stratum column — k weighted draws per language/source/shard with the
    * same bounded-partial-agg shape as [[stratifiedSampleKeys]] (≤k
    * candidates per stratum per partition before the exchange, no
    * hot-stratum window). Returns `(stratum, rk, id)`. */
  def weightedSampleKeysBy(df: DataFrame, idCol: String, stratumCol: String,
                           weightCol: String, k: Int, salt: Long = 0L): DataFrame = {
    require(k > 0, s"weightedSampleKeysBy: k must be positive, got $k")
    val u = (shuffleKey(col(idCol), salt) + lit(1L)).cast("double") / lit((P + 1).toDouble)
    val w = col(weightCol).cast("double")
    val score = when(w > 0.0, log(u) / w)
    df.groupBy(col(stratumCol))
      .agg(AnnExprs.topK(score, col(idCol), k).as("__tk"))
      .select(col(stratumCol), posexplode(col("__tk")))
      .filter(col("col.score").isNotNull)
      .select(col(stratumCol), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as(idCol))
  }

  /** [[stratifiedSampleKeys]] joined back to the full rows: the kept-key
    * table is ≤ strata × k rows, so the join back is an explicit broadcast
    * — the corpus never shuffles, making the whole sample one partial-agg
    * exchange plus a narrow broadcast probe. */
  def stratifiedSampleExact(df: DataFrame, idCol: String, stratumCol: String,
                            k: Int, salt: Long = 0L): DataFrame = {
    val keys = stratifiedSampleKeys(df, idCol, stratumCol, k, salt)
      .withColumnRenamed(stratumCol, "__s").withColumnRenamed(idCol, "__id")
    df.join(broadcast(keys),
        df(idCol) === col("__id") && df(stratumCol) === col("__s"))
      .drop("__s", "__id")
  }

  /** Deterministic global training-order shuffle: every row gets a
    * `shuffle_key` (exact-int64 multiplicative hash of its id — the same
    * permutation on any engine, any cluster size, any retry) and a dense
    * 0-based `shuffle_pos` rank under (shuffle_key, id) order. Downstream,
    * `writeShards(..., "shuffle_pos")` materializes the shuffled corpus as
    * contiguous shards trainers can stream in order.
    *
    * Scale shape: the rank is [[packGlobal]]'s exclusive running total
    * with weight 1 ([[runningTotal]]) — no empty-`partitionBy` window and
    * no driver materialization. */
  def shuffled(df: DataFrame, idCol: String, salt: Long = 0L): DataFrame =
    runningTotal(df.withColumn("shuffle_key", shuffleKey(col(idCol), salt).cast("long")),
        Seq(col("shuffle_key"), col(idCol)), lit(1L))
      .withColumnRenamed("__prev", "shuffle_pos")

  /** Deterministic per-stratum up-sampling (epoch repetition): each row is
    * repeated `factors(stratum)` times (default `defaultFactor`), tagged
    * with a 1-based `epoch` column — the up-weighting half of a data mix
    * ([[stratifiedKeep]]/[[mixtureRatesPm]] are the down-weighting half;
    * a stratum smaller than its target share repeats instead of dropping).
    * A factor of 0 drops the stratum entirely.
    *
    * Pure narrow generator (explode of a per-row integer sequence): no
    * shuffle, streams at scan speed, deterministic row multiset on any
    * engine. Downstream [[shuffled]] on a (id, epoch)-derived key spreads
    * the copies through the training order. */
  def upsample(df: DataFrame, stratum: Column, factors: Map[String, Int],
               defaultFactor: Int = 1): DataFrame = {
    require(factors.values.forall(_ >= 0) && defaultFactor >= 0,
      "upsample factors must be >= 0")
    val k = factors.foldLeft(lit(defaultFactor)) { case (acc, (s, f)) =>
      when(stratum === s, lit(f)).otherwise(acc)
    }
    // guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — a
    // 0-factor stratum must produce no rows (explode of NULL emits nothing)
    df.withColumn("epoch", explode(when(k >= 1, sequence(lit(1), k))))
  }

  /** Per-stratum keep rates (per-mille) that hit target token SHARES within
    * a total token budget — the "mix 40% en / 20% de / …" step of building
    * a training corpus. rate = min(1000, ⌊1000·share·budget / stratumTokens⌋):
    * a stratum with fewer tokens than its target allocation keeps everything
    * (rate 1000 — up-weighting/epoch repetition is a downstream choice).
    *
    * Driver-side arithmetic on a TINY aggregate (one row per stratum —
    * languages/sources, never documents); the actual row selection is
    * [[stratifiedKeep]]'s zero-shuffle bucket filter. The double arithmetic
    * is a fixed left-to-right multiply-multiply-divide, so any engine
    * computing the same expression (e.g. the SQL oracle) lands on the
    * bit-identical rate. */
  def mixtureRatesPm(df: DataFrame, stratumCol: String, nTokensCol: String,
                     targetShares: Map[String, Double], tokenBudget: Long): Map[String, Int] = {
    val totals = df.groupBy(col(stratumCol)).agg(sum(col(nTokensCol)).as("__tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    targetShares.flatMap { case (k, share) =>
      totals.get(k).map { tot =>
        k -> math.min(1000L, math.floor(1000.0 * share * tokenBudget / tot).toLong).toInt
      }
    }
  }

  /** Temperature-scaled mixture shares — the multilingual sampling rule
    * (`p_i ∝ n_i^α`, Conneau/Lample XLM and descendants): α = 1 reproduces
    * the corpus proportions, α → 0 flattens toward uniform, upweighting
    * low-resource strata. Feeds [[mixtureRatesPm]] → [[stratifiedKeep]].
    *
    * Driver-side on the per-stratum aggregate only (#strata rows). Numeric
    * contract: α = 0.5 routes through `sqrt` (correctly-rounded IEEE op —
    * `pow` is not) and the denominator folds the powered totals in ASCENDING
    * order, so the shares — and the integer rates they produce — are
    * bit-reproducible on any engine (oracle qd42). */
  def temperatureShares(df: DataFrame, stratumCol: String, nTokensCol: String,
                        alpha: Double = 0.5): Map[String, Double] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    def powA(x: Double) = if (alpha == 0.5) math.sqrt(x) else math.pow(x, alpha)
    val rows = df.groupBy(col(stratumCol)).agg(sum(col(nTokensCol)).as("__tot"))
      .collect()
    // fail fast instead of propagating NaN shares (empty input → denom 0)
    // or a silent null map key into mixtureRatesPm
    require(rows.nonEmpty, "temperatureShares: no strata (empty input)")
    require(rows.forall(!_.isNullAt(0)),
      s"temperatureShares: null $stratumCol value — filter or impute first")
    val powered = rows.map(r => r.getString(0) -> powA(r.getLong(1).toDouble)).toMap
    val denom = powered.values.toSeq.sorted.foldLeft(0.0)(_ + _)
    powered.view.mapValues(_ / denom).toMap
  }

  // ---- benchmark decontamination -----------------------------------------

  /** Flag corpus documents sharing >= `minShared` distinct word k-gram
    * shingles with a benchmark/eval set (the GPT-3/PaLM-style n-gram
    * contamination check).
    *
    * Scale shape: the benchmark shingle set is tiny by definition (eval sets
    * are thousands of docs, not billions) — it is deduped and BROADCAST, so
    * the 100 TB corpus is never shuffled: one narrow scan computes shingle
    * hashes per doc, the broadcast-hash-join probes them, and the per-doc
    * overlap count is a map-side-combinable groupBy on doc id. Shingles
    * travel as 8-byte XXH64 values ([[graft.plans.ShingleHashesExpr]]);
    * a false 64-bit collision would need to ALSO clear `minShared` to flip
    * a verdict.
    *
    * Returns the corpus frame + `n_shared` (distinct shared shingles) +
    * `contaminated`.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, shingleK: Int = 5,
                    minShared: Int = 1): DataFrame = {
    def hashes(c: Column) = SketchExprs.shingleHashes(T.tokens(c), shingleK)
    val benchSet = bench.select(explode(hashes(col(textCol))).as("__s")).distinct()
    val shingles = corpus.select(col(idCol).as("__id"), explode(hashes(col(textCol))).as("__s"))
    flagShared(corpus, idCol, minShared, shingles.join(broadcast(benchSet), "__s"))
  }

  /** The corpus + `n_shared` + `contaminated`, from the `(__id, __s)` rows
    * of its shingles found in the bench set. */
  private def flagShared(corpus: DataFrame, idCol: String, minShared: Int,
                         shared: DataFrame): DataFrame = {
    val hits = shared.groupBy(col("__id")).agg(count(lit(1)).as("n_shared"))
    corpus.join(hits, corpus(idCol) === hits("__id"), "left")
      .drop("__id")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated", col("n_shared") >= minShared)
  }

  /** Bloom-prefiltered exact decontamination — same output as
    * [[contamination]], different scale envelope. [[contamination]] broadcasts
    * the benchmark shingle set as an exact hash relation, which caps the
    * reference at what fits in executor memory at ~40+ bytes/key. Here the
    * reference ships as a Bloom filter (~10 bits/key at fpp=1e-2,
    * [[graft.plans.BloomExprs]]): the corpus-side `might_contain` prefilter is
    * a NARROW map that drops ~every shingle at scan speed, and only the
    * survivors — ≈ |true hits| + fpp·|corpus shingles| — reach the exact
    * verification join, whose strategy Spark/AQE may pick freely because its
    * input is tiny regardless of reference-set size. Bloom filters have no
    * false negatives, so the verify join makes the composite EXACT: the qd18
    * oracle SQL gates this path verbatim (qd34).
    *
    * Use [[contamination]] when the benchmark is small (one broadcast, no
    * filter-build pass); use this when the reference is another corpus —
    * snapshot decontamination, cross-corpus leakage scans. */
  def contaminationBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, shingleK: Int = 5,
                         minShared: Int = 1, fpp: Double = 0.01): DataFrame = {
    def hashes(df: DataFrame) = SketchExprs.shingleHashes(toks(df, textCol), shingleK)
    // the bench shingles are read twice, not three times: the Bloom build
    // (EAGER, no distinct: a repeated insert sets no new bit) and the lazy
    // verify join inside the caller's action; no persist.
    // Item estimate: distinct shingles <= tokens ~ text bytes / 6, with a 4x
    // overshoot because file sources report COMPRESSED bytes. Sizing only
    // trades filter bits against fpp: the verify join removes every false
    // positive.
    val benchShingles = bench.select(explode(hashes(bench)).as("__s"))
    val bytes = bench.queryExecution.optimizedPlan.stats.sizeInBytes.min(BigInt(1L << 50))
    val items = math.max((bytes / 6 + 1).toLong, 64L) * 4L
    val shingles = corpus.select(col(idCol).as("__id"), explode(hashes(corpus)).as("__s"))
      .filter(BloomExprs.mightContain(col("__s"), benchShingles, "__s", items, fpp))
    flagShared(corpus, idCol, minShared, shingles.join(benchShingles.distinct(), "__s"))
  }

  /** Near-duplicate decontamination: flag corpus docs whose estimated
    * n-gram Jaccard against ANY benchmark doc reaches `threshold` —
    * catches light paraphrases/reformatting that exact shingle overlap
    * ([[contamination]]) underweights.
    *
    * MinHash-banded, benchmark-broadcast: bench (band, bucket) pairs and
    * bench signatures are both tiny and broadcast; the corpus is scanned
    * once for signatures, candidates are the docs sharing any LSH band
    * bucket with a bench doc, and only candidates pay the signature
    * comparison. The corpus is never shuffled (the per-doc max-similarity
    * agg is keyed on corpus id over candidate rows only). Approximate by
    * construction (LSH recall + minhash estimate) — property-tested rather
    * than oracle-checked.
    */
  def contaminationNearDup(corpus: DataFrame, bench: DataFrame, idCol: String,
                           textCol: String, numHashes: Int = 128, bands: Int = 32,
                           shingleK: Int = 5, threshold: Double = 0.8): DataFrame = {
    import graft.functions.{HashFunctions => H}
    def sig(c: Column) =
      SketchExprs.minhash(SketchExprs.shingleHashes(T.tokens(c), shingleK), numHashes)
    val benchSigs = bench.select(col(idCol).as("__bid"), sig(col(textCol)).as("__bsig"))
    val benchBands = benchSigs.select(col("__bid"),
        explode(H.bandHashes(col("__bsig"), numHashes, bands)).as("__bh"))
      .select(col("__bid"), col("__bh.band").as("__band"), col("__bh.bucket").as("__bucket"))
      .distinct()
    val corpusSigs = corpus.select(col(idCol).as("__id"), sig(col(textCol)).as("__sig"))
    // no distinct on candidates: a (corpus, bench) pair surfaces once per
    // colliding band (≤ `bands` times) and the max-agg is duplicate-proof,
    // so deduping would only add a shuffle of signature-carrying rows —
    // recomputing a cheap O(numHashes) estimate per collision is the better
    // trade, and the corpus-side data now reaches exactly ONE exchange: the
    // map-side-combined (id, partial max) aggregation.
    val scored = corpusSigs
      .select(col("__id"), col("__sig"), explode(H.bandHashes(col("__sig"), numHashes, bands)).as("__h"))
      .join(broadcast(benchBands),
        col("__h.band") === col("__band") && col("__h.bucket") === col("__bucket"))
      .join(broadcast(benchSigs), "__bid")
      .groupBy(col("__id"))
      .agg(max(H.minhashJaccardEstimate(col("__sig"), col("__bsig"))).as("max_sim_est"))
    corpus.join(scored, corpus(idCol) === scored("__id"), "left")
      .drop("__id")
      .withColumn("max_sim_est", coalesce(col("max_sim_est"), lit(0.0)))
      .withColumn("contaminated", col("max_sim_est") >= threshold)
  }

  // ---- DSIR importance resampling ----------------------------------------
  // Xie et al., "Data Selection for Language Models via Importance
  // Resampling" (NeurIPS 2023): score each corpus document by how much more
  // likely its bag of words is under a TARGET distribution (a high-quality
  // exemplar set) than under the raw corpus, then keep the top-weighted
  // slice. Two faces of the same estimator:
  //  - importanceWeights: exact word features — the correctness face, every
  //    step mirrored by the qd36 DuckDB oracle;
  //  - importanceWeightsHashed: DSIR's actual hashed-feature formulation —
  //    the 100 TB face, where scoring is one narrow expression.

  /** Per-document log importance weight with exact word features.
    * `weight(d) = Σ_{w∈d} [ln p̂_t(w) − ln p̂_s(w)]` with Laplace-smoothed
    * unigram models over the shared vocabulary (every corpus or target word).
    * Per-document contributions are SORTED before the fp fold, so the sum is
    * one bit-deterministic sequence any engine reproduces (the oracle rule).
    *
    * Scale shape: model building is two map-side-combined word-count
    * aggregations; scoring joins corpus tokens with the log-ratio table —
    * a per-token shuffle that is exactly what [[importanceWeightsHashed]]
    * eliminates. Returns the corpus + `dsir_weight` (0.0 for token-less
    * docs). */
  def importanceWeights(corpus: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, smoothing: Double = 1.0): DataFrame = {
    val perDoc = tokenJoin(corpus, logRatioTable(corpus, target, textCol, smoothing),
        idCol, textCol)
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__lr"))).as("__lrs"))
      .select(col("__id"),
        aggregate(col("__lrs"), lit(0.0), (acc, x) => acc + x).as("dsir_weight"))
    corpus.join(perDoc, corpus(idCol) === perDoc("__id"), "left")
      .drop("__id")
      .withColumn("dsir_weight", coalesce(col("dsir_weight"), lit(0.0)))
  }

  /** [[importanceWeights]] in integer MICRO-NATS: each per-word log-ratio is
    * quantized to `floor(lr·1e6 + 0.5)` (round-half-up micro-nats, exact
    * int64) BEFORE the per-document sum, so the weight is integer arithmetic
    * — order-independent, map-side-combinable, and bitwise-reproducible on
    * ANY engine. This is the cross-engine face (oracle qd36/qd37): `ln` is
    * the one op libms disagree on in the last ulp, and a 1-ulp input wiggle
    * only moves the quantized value when lr·1e6 sits within ~1e-9 of a grid
    * boundary. The 1e-6-nat precision loss is far below any selection
    * signal; use [[importanceWeights]] when full double precision matters
    * more than engine-exact reproducibility. */
  def importanceWeightsMicro(corpus: DataFrame, target: DataFrame, idCol: String,
                             textCol: String, smoothing: Double = 1.0): DataFrame = {
    val perDoc = tokenJoin(corpus, logRatioTable(corpus, target, textCol, smoothing),
        idCol, textCol)
      .groupBy(col("__id"))
      .agg(sum(floor(col("__lr") * lit(1e6) + lit(0.5)).cast("long")).as("dsir_uweight"))
    corpus.join(perDoc, corpus(idCol) === perDoc("__id"), "left")
      .drop("__id")
      .withColumn("dsir_uweight", coalesce(col("dsir_uweight"), lit(0L)))
  }

  /** Shared DSIR model building: Laplace-smoothed unigram log-ratio per
    * vocabulary word. Counts are exact int64 < 2^53, so both engines build
    * identical doubles before the divide and ln. */
  private def logRatioTable(corpus: DataFrame, target: DataFrame,
                            textCol: String, smoothing: Double): DataFrame = {
    // cs/ts each appear three times in the final plan (vocab union, count
    // join, totals) but are NOT persisted: the three references share one
    // logical subplan, so physical planning collapses them to a single
    // shuffle via ReuseExchange — the count tables are computed once per
    // action with ZERO retained cache blocks (library calls leave
    // `getPersistentRDDs` empty; CacheHygieneSpec enforces this).
    val cs = corpus.select(explode(toks(corpus, textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cs"))
    val ts = target.select(explode(toks(target, textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("ct"))
    // vocab = words in EITHER model — ONE full-outer join on the groupBys'
    // own hash partitioning (r19, guide §2.4: the old
    // `union.distinct + join(cs,left) + join(ts,left)` shuffled the
    // vocab-scale table one extra time and planned three extra subtrees).
    // ns/nt/v ride as a broadcast 1-row side computed in ONE aggregation
    // over the joined table (sum skips the full-outer nulls, so ns/nt are
    // the same exact longs; count(1) over the join IS the vocab size)
    // instead of three crossJoined aggregation subtrees. Values are
    // bit-identical: every count is an exact int64 either way.
    val joined = cs.join(ts, Seq("w"), "full_outer")
    val totals = broadcast(joined.agg(
      sum(col("cs")).as("__ns"), sum(col("ct")).as("__nt"),
      count(lit(1)).as("__v")))
    val a = smoothing
    joined
      .crossJoin(totals)
      .select(col("w"),
        (log((coalesce(col("ct"), lit(0L)) + lit(a)) / (col("__nt") + lit(a) * col("__v"))) -
          log((coalesce(col("cs"), lit(0L)) + lit(a)) / (col("__ns") + lit(a) * col("__v")))).as("__lr"))
  }

  private def tokenJoin(corpus: DataFrame, lr: DataFrame,
                        idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("__id"), explode(toks(corpus, textCol)).as("w"))
      .join(lr, "w")

  /** DSIR weights with hashed features ([[graft.plans.DsirScoreExpr]]) — the
    * formulation the paper actually runs and the one that scales: features
    * are `xxhash64(w) mod buckets`, both models are dense bucket-count
    * arrays, and the per-bucket log-ratio table (8·buckets bytes, bounded by
    * the `buckets` knob) ships as a plan literal. Model building is two
    * B-bounded aggregations; SCORING IS A NARROW MAP — the corpus is never
    * shuffled, never exploded, never joined. Hash collisions fold rare words
    * into shared buckets (the paper's variance/bias trade, spec-checked
    * against [[importanceWeights]] on a collision-free vocabulary). */
  def importanceWeightsHashed(corpus: DataFrame, target: DataFrame,
                              textCol: String, buckets: Int = 1 << 18,
                              smoothing: Double = 1.0): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 22),
      s"buckets must be in [2, 2^22] (the log-ratio table is a plan literal " +
        s"of 8*buckets bytes), got $buckets")
    // BOTH models build in ONE job (r15): a side-tagged union with a
    // conditional-count aggregation replaces two sequential
    // explode→group→collect jobs — same counts bit-for-bit, but one
    // shuffle (<= buckets keys), one bounded collect, one driver
    // round-trip. At scale the model build is the pipeline's serial
    // fraction, so job count is the latency lever.
    val csArr = new Array[Long](buckets)
    val ctArr = new Array[Long](buckets)
    def side(df: DataFrame, s: Int): DataFrame =
      df.select(explode(toks(df, textCol)).as("w"), lit(s).as("__s"))
    side(corpus, 0).union(side(target, 1))
      .select(col("__s"), pmod(xxhash64(col("w")), lit(buckets.toLong)).as("b"))
      .groupBy("b").agg(
        sum(when(col("__s") === 0, 1L).otherwise(0L)).as("cs"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("ct"))
      .collect() // bounded: at most `buckets` rows
      .foreach { r =>
        val i = r.getLong(0).toInt
        csArr(i) = r.getLong(1); ctArr(i) = r.getLong(2)
      }
    val ns = csArr.sum
    val nt = ctArr.sum
    val a = smoothing
    // Smooth over the OCCUPIED bucket count (the support of either model),
    // not the full hash range: with B >> vocab the a·B mass otherwise
    // dwarfs both models' totals and — because ns ≠ nt — injects a constant
    // per-token bias of ln((ns+aB)/(nt+aB)) − ln-exact-equivalent into every
    // score, i.e. a hidden document-LENGTH preference that reorders any
    // top-k selection. With the support count, a collision-free vocabulary
    // gives bucket-for-word identical tables to [[importanceWeights]]'s
    // (whose V is the union vocab size) — the hashed face approximates the
    // exact face, which is the estimator's contract.
    val vUsed = math.max(1L,
      (0 until buckets).count(i => csArr(i) + ctArr(i) > 0L).toLong)
    val table = Array.tabulate(buckets)(i =>
      math.log((ctArr(i) + a) / (nt + a * vUsed)) -
        math.log((csArr(i) + a) / (ns + a * vUsed)))
    corpus.withColumn("dsir_weight",
      coalesce(DsirExprs.score(toks(corpus, textCol), table), lit(0.0)))
  }

  // ---- CCNet-style perplexity filtering ----------------------------------
  // Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets from
  // Web Crawl Data" (LREC 2020) filter web text by perplexity under a
  // language model trained on a clean reference corpus. The LM here is an
  // add-a-smoothed bigram model — trainable inside the engine with two
  // map-side-combined aggregations, no external artifacts — and the score is
  // the total negative log-likelihood of the document's bigrams.

  /** Per-document bigram NLL under an add-a bigram LM trained on `lm`.
    * `P(w2|w1) = (c(w1w2)+a) / (c_head(w1)+a·V)` with head counts over LM
    * bigram positions (so probabilities per head sum to 1) and V = distinct
    * LM unigrams. Per-bigram `−ln P` is quantized to micro-nats
    * (`floor(·1e6+0.5)`, exact int64 — same cross-engine rationale as
    * [[importanceWeightsMicro]]) and summed per document.
    *
    * Returns the corpus + `n_bigrams` + `nll_unats` (both 0 for docs
    * shorter than 2 tokens) + `ppl_nats` (mean NLL in nats, null when no
    * bigrams — `exp` of it is the conventional perplexity). Scale shape:
    * LM building aggregates the (small) reference corpus; scoring joins
    * corpus bigrams with the count tables — the exact face.
    * [[perplexityBigramHashed]] is the narrow 100 TB face. */
  def perplexityBigram(corpus: DataFrame, lm: DataFrame, idCol: String,
                       textCol: String, smoothing: Double = 1.0): DataFrame = {
    val lmTok = lm.select(toks(lm, textCol).as("tk"))
    // all THREE count families (heads, bigrams, distinct unigrams) ride ONE
    // kind-tagged aggregation (r19, guide §2.4 — the shape
    // [[perplexityBigramHashed]] has used since r15): the three separate
    // explode→groupBy jobs each shuffled the LM sample; now one exchange
    // feeds three ReuseExchange consumers. Counts are bit-identical — each
    // (kind, unit) row is exactly the old per-family row, and V = the
    // number of kind-2 rows = the old distinct-unigram count. V rides as a
    // broadcast 1-row side (no blocking driver job per LM build); heads/
    // bigr are each referenced once in the scoring joins — no persist, no
    // retained blocks.
    val lmTok2 = lmTok.filter(size(col("tk")) >= 2)
    val lmUnits =
      lmTok2.select(
          explode(slice(col("tk"), lit(1), size(col("tk")) - 1)).as("u"),
          lit(0).as("__k"))
        .union(lmTok2.select(explode(T.shingles(col("tk"), 2)).as("u"),
          lit(1).as("__k")))
        .union(lmTok.select(explode(col("tk")).as("u"), lit(2).as("__k")))
        .groupBy(col("__k"), col("u")).agg(count(lit(1)).as("c"))
    val vDf = broadcast(
      lmUnits.filter(col("__k") === 2).agg(count(lit(1)).as("__v")))
    val heads = lmUnits.filter(col("__k") === 0)
      .select(col("u").as("w1"), col("c").as("c1"))
    val bigr = lmUnits.filter(col("__k") === 1)
      .select(col("u").as("bg"), col("c").as("c12"))
    val a = smoothing
    val perDoc = corpus
      .select(col(idCol).as("__id"), toks(corpus, textCol).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("__id"), explode(T.shingles(col("tk"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(bigr, Seq("bg"), "left").join(heads, Seq("w1"), "left")
      .crossJoin(vDf)
      .select(col("__id"),
        floor((log(coalesce(col("c1"), lit(0L)) + lit(a) * col("__v")) -
          log(coalesce(col("c12"), lit(0L)) + lit(a))) * lit(1e6) + lit(0.5))
          .cast("long").as("unll"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("unll")).as("nll_unats"))
    corpus.join(perDoc, corpus(idCol) === perDoc("__id"), "left")
      .drop("__id")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("nll_unats", coalesce(col("nll_unats"), lit(0L)))
      .withColumn("ppl_nats",
        when(col("n_bigrams") > 0,
          col("nll_unats").cast("double") / lit(1e6) / col("n_bigrams")))
  }

  /** [[perplexityBigram]] with hashed features — scoring is TWO narrow
    * [[graft.plans.DsirScoreExpr]] passes and zero corpus shuffle:
    * `Σ −ln P = Σ ln(c_head[h(w1)]+aV) − Σ ln(c_big[h(w1 w2)]+a)`, so one
    * kernel folds head tokens over the head-count table and another folds
    * bigram strings over the (negated) bigram-count table. Both tables are
    * B-bounded plan literals; V is the OCCUPIED unigram-bucket count — the
    * hashed estimate of the LM's distinct-unigram vocabulary (same support
    * convention as [[importanceWeightsHashed]]), so collision-free inputs
    * give NLLs identical to the exact face and threshold gates calibrated
    * on one face transfer to the other. */
  def perplexityBigramHashed(corpus: DataFrame, lm: DataFrame, textCol: String,
                             buckets: Int = 1 << 18,
                             smoothing: Double = 1.0): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 22),
      s"buckets must be in [2, 2^22], got $buckets")
    val a = smoothing
    val lmTokAll = lm.select(toks(lm, textCol).as("tk"))
    val lmTok = lmTokAll.filter(size(col("tk")) >= 2)
    // all THREE count families (heads, bigrams, unigrams) in ONE job
    // (r15, same shape as importanceWeightsHashed): a kind-tagged union
    // with conditional counts replaces three sequential explode→group→
    // collect jobs — identical counts, one shuffle, one bounded collect.
    // V = occupied unigram buckets over the WHOLE LM (incl. single-token
    // docs) — mirrors the exact face's distinct-unigram V exactly when
    // collision-free, so its absolute NLL scale carries over.
    val cHead = new Array[Long](buckets)
    val cBig = new Array[Long](buckets)
    val cUni = new Array[Long](buckets)
    def kind(unit: DataFrame, k: Int): DataFrame =
      unit.select(col("u"), lit(k).as("__k"))
    kind(lmTok.select(
        explode(slice(col("tk"), lit(1), size(col("tk")) - 1)).as("u")), 0)
      .union(kind(lmTok.select(explode(T.shingles(col("tk"), 2)).as("u")), 1))
      .union(kind(lmTokAll.select(explode(col("tk")).as("u")), 2))
      .select(col("__k"), pmod(xxhash64(col("u")), lit(buckets.toLong)).as("b"))
      .groupBy("b").agg(
        sum(when(col("__k") === 0, 1L).otherwise(0L)).as("ch"),
        sum(when(col("__k") === 1, 1L).otherwise(0L)).as("cb"),
        sum(when(col("__k") === 2, 1L).otherwise(0L)).as("cu"))
      .collect().foreach { r =>
        val i = r.getLong(0).toInt
        cHead(i) = r.getLong(1); cBig(i) = r.getLong(2); cUni(i) = r.getLong(3)
      }
    val vUsed = math.max(1L, cUni.count(_ > 0L).toLong)
    val headTable = Array.tabulate(buckets)(i => math.log(cHead(i) + a * vUsed))
    val bigTableNeg = Array.tabulate(buckets)(i => -math.log(cBig(i) + a))
    val tk = toks(corpus, textCol)
    val headsArr = when(size(tk) >= 2, slice(tk, lit(1), size(tk) - 1))
      .otherwise(array().cast("array<string>"))
    val bigArr = when(size(tk) >= 2, T.shingles(tk, 2))
      .otherwise(array().cast("array<string>"))
    corpus
      .withColumn("n_bigrams", greatest(size(tk) - 1, lit(0)).cast("long"))
      .withColumn("nll_nats",
        DsirExprs.score(headsArr, headTable) + DsirExprs.score(bigArr, bigTableNeg))
      .withColumn("ppl_nats",
        when(col("n_bigrams") > 0, col("nll_nats") / col("n_bigrams")))
  }

  /** Deterministic top-k selection by weight (ties broken by id): Spark plans
    * this as TakeOrderedAndProject — per-partition k-heaps, one k-row merge
    * at the driver — so the "keep the best slice" step never sorts or
    * shuffles the full corpus. */
  def selectTopK(df: DataFrame, weightCol: String, idCol: String, k: Int): DataFrame =
    df.orderBy(col(weightCol).desc, col(idCol)).limit(k)

  /** DSIR's actual selection step: importance RESAMPLING without replacement
    * via the Gumbel-top-k trick — taking the k largest `logWeight + Gumbel`
    * keys draws k items without replacement with probability ∝
    * `exp(logWeight)` (softmax), which is what distinguishes resampling from
    * the deterministic [[selectTopK]] cut. The Gumbel noise is CONTENT-KEYED
    * (`xxhash64(id, salt)` → uniform → `−ln(−ln u)`), not `rand()`: the draw
    * is reproducible across engines, retries, and repartitioning — the same
    * determinism contract as [[hashBucket]]/[[split]] — and re-salting gives
    * an independent draw. Plans as TakeOrderedAndProject, same as
    * [[selectTopK]]: the corpus is never fully sorted. */
  def resampleTopK(df: DataFrame, logWeightCol: String, idCol: String, k: Int,
                   salt: Long = 0L): DataFrame = {
    // 52-bit mantissa-sized uniform in (0,1): +0.5 keeps u off both endpoints
    val u = (pmod(xxhash64(col(idCol), lit(salt)), lit(1L << 52)).cast("double") + lit(0.5)) /
      lit((1L << 52).toDouble)
    val key = col(logWeightCol) + -log(-log(u))
    df.withColumn("__gk", key)
      .orderBy(col("__gk").desc, col(idCol)).limit(k)
      .drop("__gk")
  }

  // ---- C4 line/page quality filter ---------------------------------------

  /** The C4 cleanup (Raffel et al., JMLR 2020 §2.2) line and page rules,
    * expression-only and narrow:
    *
    *  - keep only lines that END in terminal punctuation (`.` `!` `?` `"`),
    *    have at least `minWordsPerLine` words, and do not mention
    *    "javascript";
    *  - drop the whole page when fewer than `minLines` lines survive, or the
    *    page contains "lorem ipsum" or a curly brace.
    *
    * Returns the frame + `kept_text` (surviving lines re-joined), `n_kept_
    * lines`, and the page-level `keep`. Rows are never dropped — the caller
    * filters on `keep` (the flag is the common join-back currency of the
    * other gates). Line rules run as one native char walk per document
    * ([[graft.plans.C4KeepLinesExpr]]), page rules as codegen'd contains:
    * zero shuffle, zero UDF, oracle-mirrorable line by line (qd40). */
  def c4Clean(df: DataFrame, textCol: String, minWordsPerLine: Int = 3,
              minLines: Int = 3): DataFrame = {
    // line filtering is one native pass per document ([[graft.plans.C4KeepLinesExpr]]);
    // the page-level poison gates stay declarative (codegen'd contains)
    df.withColumn("__c4", column(C4KeepLinesExpr(expression(col(textCol)), minWordsPerLine)))
      .withColumn("kept_text", col("__c4").getField("kept_text"))
      .withColumn("n_kept_lines", col("__c4").getField("n_kept_lines"))
      .drop("__c4")
      .withColumn("keep",
        col("n_kept_lines") >= minLines &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{"))
  }

  // ---- Gopher document-quality rules --------------------------------------

  /** The Gopher quality rule set (Rae et al. 2021 §A1.1) — the other
    * standard page-level gate next to [[c4Clean]]. Statistics come from ONE
    * native pass per document ([[graft.plans.GopherStatsExpr]]); thresholds
    * stay declarative so the DuckDB oracle (qd44) mirrors them in SQL.
    *
    * Adds: `n_words`, `mean_word_len`, `symbol_ratio` (`#`/ellipsis per
    * word), `bullet_frac`, `ellipsis_frac` (of lines), `alpha_frac` (words
    * containing a letter), `n_stopwords` (distinct hits from Gopher's
    * 8-word required set), and the page verdict `gopher_keep`. Word-less
    * documents get null ratios and fail the word-count rule, so
    * `gopher_keep` is false (never null) for them. Rows are never dropped —
    * filter on the flag. Narrow, zero shuffle, codegen-safe thresholds. */
  def gopherQuality(df: DataFrame, textCol: String,
                    minWords: Long = 50L, maxWords: Long = 100000L,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                    maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                    minStopwords: Long = 2L): DataFrame = {
    val hasWords = col("__g").getField("n_words") > 0
    def ratio(num: String) =
      when(hasWords, col("__g").getField(num).cast("double") /
        col("__g").getField("n_words"))
    df.withColumn("__g", column(GopherStatsExpr(expression(col(textCol)))))
      .withColumn("n_words", col("__g").getField("n_words"))
      .withColumn("mean_word_len", ratio("word_chars"))
      .withColumn("symbol_ratio", ratio("symbols"))
      .withColumn("bullet_frac",
        col("__g").getField("bullet_lines").cast("double") /
          col("__g").getField("n_lines"))
      .withColumn("ellipsis_frac",
        col("__g").getField("ellipsis_lines").cast("double") /
          col("__g").getField("n_lines"))
      .withColumn("alpha_frac", ratio("alpha_words"))
      .withColumn("n_stopwords", col("__g").getField("stop_hits"))
      .withColumn("gopher_keep",
        // the explicit n_words > 0 head conjunct keeps the verdict FALSE
        // (not null) for word-less documents even at minWords = 0, where
        // the null ratios would otherwise leak a null verdict
        col("n_words") > 0 &&
          col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("alpha_frac") >= minAlphaFrac &&
          col("n_stopwords") >= minStopwords)
      .drop("__g")
  }

  // ---- context-window chunking -------------------------------------------

  /** Split each document into token chunks of `chunkSize` with `stride`
    * between chunk starts (overlap = chunkSize − stride). Start offsets run
    * 0, stride, 2·stride, … while the previous chunk has not yet reached the
    * end — every token is covered, the final chunk may be short, and no
    * fully-redundant tail chunk is emitted. A document shorter than one
    * chunk yields exactly one chunk.
    *
    * Pure per-row expression work (sequence + slice + posexplode): a narrow
    * map followed by a generator — no shuffle, streams through 100 TB at
    * scan speed. Output: idCol, chunk_id, n_chunk_tokens, chunk_text.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkSize: Int, stride: Int, carryCols: Seq[String] = Nil): DataFrame = {
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got stride=$stride chunkSize=$chunkSize")
    val toks = T.tokens(col(textCol))
    val n = size(toks)
    // last start s satisfies s < max(n - (chunkSize - stride), 1); sequence's
    // stop is inclusive, hence the -1
    val starts = sequence(lit(0),
      greatest(n - lit(chunkSize - stride), lit(1)) - lit(1), lit(stride))
    val carried = carryCols.map(col)
    // a NULL document yields no chunks (explode of NULL emits nothing);
    // without the guard, greatest() would skip the null length and emit one
    // junk (null-count, empty-text) chunk row
    df.select(col(idCol) +: carried :+ toks.as("__w") :+
        explode(when(col(textCol).isNotNull, starts)).as("__st"): _*)
      .select(col(idCol) +: carried :+
        (col("__st") / stride).cast("long").as("chunk_id") :+
        size(slice(col("__w"), col("__st") + lit(1), lit(chunkSize)))
          .cast("long").as("n_chunk_tokens") :+
        concat_ws(" ", slice(col("__w"), col("__st") + lit(1), lit(chunkSize)))
          .as("chunk_text"): _*)
  }

  // ---- sequence packing ---------------------------------------------------

  /** Concat-then-chunk sequence packing: within each `groupCol` stream
    * (ordered by `orderCol`), documents are laid end-to-end and cut into
    * fixed `budget`-token training sequences. Each doc gets the sequence id
    * and token offset where it BEGINS (a doc may straddle a boundary — the
    * standard packing trade; drop-or-pad variants filter on `offset +
    * n_tokens > budget` downstream).
    *
    * One window (= one shuffle keyed on the group) computes the exclusive
    * running token sum; ids/offsets are pure arithmetic on it. At 100 TB
    * the per-group window is the natural parallel unit — groups (language,
    * source shard, …) partition the corpus, and a skewed group can be
    * pre-split by salting the group key upstream.
    */
  def pack(df: DataFrame, groupCol: String, orderCol: String, textCol: String,
           budget: Long): DataFrame =
    packByTokens(df.withColumn("n_tokens", T.tokenCount(col(textCol)).cast("long")),
      groupCol, Seq(orderCol), "n_tokens", budget)

  /** [[pack]] over a precomputed token-count column and a composite order
    * (e.g. (doc_id, chunk_id) when packing chunker output). Each group is
    * one window partition = one task; when a single group dominates the
    * corpus (one language is half of 100 TB), use [[packGlobal]] on that
    * group's stream instead. */
  def packByTokens(df: DataFrame, groupCol: String, orderCols: Seq[String],
                   nTokensCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__prev", coalesce(sum(col(nTokensCol)).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("__prev") / budget))
      .withColumn("seq_offset", col("__prev") % budget)
      .drop("__prev")
  }

  /** Single-stream (ungrouped) packing at scale: the exclusive running
    * token sum over the whole frame ([[runningTotal]]), so one giant stream
    * does NOT serialize through a single task. Identical results to
    * [[packByTokens]] with a constant group.
    *
    * `sampleFrom` forwards RangeId's split-point sample source: a packer
    * sitting atop an expensive pipeline (q53) hands the CHEAP upstream
    * scan here so the bounded sampling job does not re-run the pipeline
    * (r17 verdict item 4); results are sample-independent. */
  def packGlobal(df: DataFrame, orderCols: Seq[String], nTokensCol: String,
                 budget: Long,
                 sampleFrom: Option[DataFrame] = None): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    runningTotal(df, orderCols.map(col), col(nTokensCol), sampleFrom)
      .withColumn("seq_id", floor(col("__prev") / budget))
      .withColumn("seq_offset", col("__prev") % budget)
      .drop("__prev")
  }

  /** `df` plus `__prev`, the exclusive running total of `weight` under
    * `ordered` across the whole frame: range-bucketed on the order
    * ([[RangeId.bucketed]]), per-bucket running totals in
    * parallel, then a broadcast ≤P-row offset table (one prefix total per
    * bucket) lifts them to global values. */
  private def runningTotal(df: DataFrame, ordered: Seq[Column], weight: Column,
                           sampleFrom: Option[DataFrame] = None): DataFrame = {
    val parted = RangeId.bucketed(df, ordered, ordered.map(_ => true), sampleFrom)
    val wLocal = Window.partitionBy("__pid").orderBy(ordered: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy("__pid").agg(sum(weight).as("__tot"))
      .withColumn("__off", RangeId.offset(col("__tot")))
      .select(col("__pid"), col("__off"))
    parted
      .withColumn("__lprev", coalesce(sum(weight).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn("__prev", col("__lprev") + col("__off"))
      .drop("__pid", "__lprev", "__off")
  }

  /** Attention-mask spans for packed sequences: one row per (sequence,
    * document-fragment) with the fragment's start offset and length INSIDE
    * that sequence. A document straddling budget boundaries splits into one
    * span per sequence it touches — the input a trainer needs for
    * block-diagonal attention masking / per-document loss boundaries over
    * packed batches. Input is [[pack]]/[[packGlobal]] output; span
    * generation is a pure narrow generator (sequence + transform +
    * explode), so it adds ZERO shuffle beyond the packing itself.
    * Zero-token documents yield no spans. */
  def packSpans(packed: DataFrame, budget: Long, idCol: String,
                nTokensCol: String = "n_tokens", seqCol: String = "seq_id",
                offCol: String = "seq_offset",
                carryCols: Seq[String] = Nil): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    // global token interval [S, E) of the document; all exact int64
    val S = col(seqCol) * budget + col(offCol)
    val E = S + col(nTokensCol)
    // exact integral division (the operands are exact multiples after the
    // pmod subtraction, so the double division below 2^53 is lossless)
    def idiv(x: org.apache.spark.sql.Column) =
      ((x - pmod(x, lit(budget))) / lit(budget)).cast("long")
    val spans = when(col(nTokensCol) > 0,
      transform(sequence(idiv(S), idiv(E - 1)), j =>
        struct(
          j.as("span_seq_id"),
          (greatest(S, j * budget) - j * budget).as("span_start"),
          (least(E, (j + lit(1L)) * budget) - greatest(S, j * budget)).as("span_len"))))
    val carried = carryCols.map(col)
    packed
      .select(col(idCol) +: carried :+ explode(spans).as("__sp"): _*)
      .select(col(idCol) +: carried :+
        col("__sp").getField("span_seq_id").as(seqCol) :+
        col("__sp").getField("span_start").as("span_start") :+
        col("__sp").getField("span_len").as("span_len"): _*)
  }

  /** Write a packed corpus as range-sharded files: rows are range-
    * partitioned on `shardCol` (so each output file covers a disjoint,
    * contiguous id range — trainers can map files to workers without an
    * index) and sorted within each shard. One range exchange (sampled
    * boundaries, AQE-coalescible), then a parallel write; no global sort,
    * no driver materialization — the shape that holds at 100 TB.
    */
  def writeShards(df: DataFrame, path: String, shardCol: String,
                  numShards: Int, format: String = "parquet"): Unit = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    df.repartitionByRange(numShards, col(shardCol))
      .sortWithinPartitions(col(shardCol))
      .write.format(format).mode("overwrite").save(path)
  }

  // ---- BM25 relevance scoring --------------------------------------------

  /** Okapi BM25 relevance of every corpus document against a fixed
    * query-term list — the retrieval scorer a curation pipeline uses for
    * quality-weighted selection or targeted decontamination sweeps
    * (Robertson & Zaragoza 2009; Lucene's +1 IDF form so scores are never
    * negative).
    *
    * 100 TB shape (the hashed-DSIR discipline): the MODEL — corpus size N,
    * total token length, per-term document frequencies — is ONE bounded
    * aggregation riding back as a broadcast 1-row side, and SCORING IS A
    * NARROW MAP: per-doc term frequencies come straight from each row's
    * token array (no explode, no join, no shuffle of the corpus beyond the
    * single model aggregation). |terms| is the query side and assumed small.
    *
    * Cross-engine exactness: every float input is an exact int64-valued
    * double (counts, lengths), the expression tree is mirrored verbatim in
    * the oracle SQL, and each term's contribution quantizes to micro-units
    * (`floor(x·1e6 + 0.5)`, the [[importanceWeightsMicro]] discipline)
    * before the exact integer sum. */
  /** A trained BM25 model: the bounded statistics scoring needs (|terms|+2
    * scalars). Small enough to ship as plan LITERALS, which is what lets
    * [[bm25Score]] run on a structured STREAM — the offline-train /
    * online-score split a continuous curation pipeline uses. */
  final case class Bm25Model(terms: Seq[String], n: Long, totalLen: Long,
                             df: Seq[Long], k1: Double, b: Double)

  /** Train the [[Bm25Model]]: ONE aggregation job over the corpus, collecting
    * |terms|+2 scalars (bounded by the query size, never the corpus —
    * SCALE_CONTRACTS.md). */
  def bm25Model(corpus: DataFrame, textCol: String, terms: Seq[String],
                k1: Double = 1.2, b: Double = 0.75): Bm25Model = {
    require(terms.nonEmpty, "bm25Model needs at least one query term")
    val toks = T.tokens(col(textCol))
    val dfCols = terms.map(t =>
      sum(when(array_contains(toks, t), 1L).otherwise(0L)))
    val row = corpus.agg(count(lit(1)), (sum(size(toks).cast("long")) +: dfCols): _*)
      .head()
    Bm25Model(terms, row.getLong(0), row.getLong(1),
      terms.indices.map(i => row.getLong(2 + i)), k1, b)
  }

  /** BM25 score of `textCol` under a pre-trained model — literal-only, so
    * the column is a pure NARROW map usable on batch frames and structured
    * streams alike (same micro-unit quantization as [[bm25]]; the two paths
    * are spec-pinned equal). */
  def bm25Score(textCol: Column, m: Bm25Model): Column = {
    val toks = T.tokens(textCol)
    val len = size(toks)
    val avgdl = lit(m.totalLen).cast("double") / lit(m.n)
    m.terms.zip(m.df).map { case (t, dfT) =>
      val tf = size(filter(toks, x => x === lit(t))).cast("double")
      val dfD = lit(dfT).cast("double")
      val idf = log((lit(m.n) - dfD + lit(0.5)) / (dfD + lit(0.5)) + lit(1.0))
      val denom = tf + lit(m.k1) *
        (lit(1.0) - lit(m.b) + lit(m.b) * (len.cast("double") / avgdl))
      floor(idf * ((tf * (lit(m.k1) + lit(1.0))) / denom) * lit(1e6) + lit(0.5))
        .cast("long")
    }.reduce(_ + _)
  }

  def bm25(corpus: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val withToks = corpus
      .withColumn("__toks", T.tokens(col(textCol)))
      .withColumn("__len", size(col("__toks")))
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L)).as(s"__df_$i")
    }
    val model = broadcast(withToks.agg(
      count(lit(1)).as("__n"),
      (sum(col("__len").cast("long")).as("__tl") +: dfCols): _*))
    val scored = withToks.crossJoin(model)
    val avgdl = col("__tl").cast("double") / col("__n")
    val termScores = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === lit(t))).cast("double")
      val dfT = col(s"__df_$i").cast("double")
      val idf = log((col("__n") - dfT + lit(0.5)) / (dfT + lit(0.5)) + lit(1.0))
      val denom = tf + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * (col("__len").cast("double") / avgdl))
      floor(idf * ((tf * (lit(k1) + lit(1.0))) / denom) * lit(1e6) + lit(0.5))
        .cast("long")
    }
    scored
      .withColumn("bm25_uscore", termScores.reduce(_ + _))
      .drop(("__toks" +: "__len" +: "__n" +: "__tl" +:
        terms.indices.map(i => s"__df_$i")): _*)
  }
}
