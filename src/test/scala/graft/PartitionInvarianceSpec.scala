package graft

import org.apache.spark.sql.DataFrame
import graft.faces.Faces

/** Partition-count invariance: the property that makes a result trustworthy
  * at 100 TB. A cluster never controls how many input splits or shuffle
  * partitions a stage gets — AQE coalesces, files split differently as data
  * grows, executors scale. Every EXACT operator must therefore produce the
  * identical row multiset under any partitioning.
  *
  * This suite re-runs driver-contract queries under an adversarial config —
  * input files shattered into ~64 KB splits and a shuffle-partition count
  * nothing else uses (3) — and compares the full result multiset against the
  * default-config run. Operators with explicit cross-partition carry logic
  * (fillGlobal's boundary carries, packGlobal's offset prefix, chunk's
  * per-doc arithmetic, span/line dedup elections, connected components) are
  * exactly the ones where a partition-boundary bug would hide.
  *
  * Deliberately excluded: q36_sample-style seeded randomness is
  * per-partition-seeded BY DESIGN (Spark's Bernoulli sampling), so such
  * queries pin determinism under a FIXED partitioning in their own
  * contracts, not invariance across partitionings. qd24_shuffle is NOT of
  * that kind — its order key is a multiplicative hash of the id — so it is
  * listed.
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val queries = Seq(
    "q01_groupby_agg",          // map-side combine vs 3 reducers
    "q08_sort_limit",           // global top-k across split counts
    "q21_asof_backward",        // as-of partition boundary handoff
    "qd24_shuffle",             // running count over the hash-key order
    "q25_group_by_dynamic",     // window grid across splits
    "q26_rolling_rows",         // keyed rolling window
    "q42_fill_global",          // range-partition + broadcast boundary carry
    "q45_rolling_global_rows",  // global rolling scale path
    "qd01_dedup_exact",         // groupBy+min_by election
    "qd10_dedup_components",    // connected components iteration
    "qd17_hash_split",          // content-hash split must ignore layout
    "qd19_chunk",               // per-doc chunk arithmetic
    "qd23_pack_global",         // boundary-carry packing
    "qd28_span_dedup",          // span election across partitions
    "qd31_line_dedup",          // line election across partitions
    "qd47_pack_spans",          // pack + span arithmetic
    "q34_concat_horizontal",    // positional zip: fast path vs index join
    "q41_asof_unkeyed",         // unkeyed as-of boundary handoff
    "q24_asof_nearest",         // nearest: both directional carries, one window
    "q43_calendar_month",       // calendar dynamic grid
    "q46_rolling_global_time",  // global time rolling scale path
    "qd45_sentence_dedup",      // sentence election across partitions
    "qd46_dup_paragraphs",      // paragraph stats across partitions
    "q53_pipeline_clean_pack",  // composite: span dedup → floor → global pack
    "q54_pipeline_crawl",       // composite: extract → clean → dedup → chunk
    "qd50_bm25",                // broadcast model + narrow scoring across splits
    "q70_bucketed_join",        // bucketed layout vs adversarial shuffle config
    "q72_sessionize",           // gap boundaries under keyed-window re-partitioning
    "q73_sessionize_stream",    // state machine under 3 shuffle partitions
    "q74_stream_dedup",         // first-arrival election across splits (identical payloads)
    "q75_asof_stream",          // pending-left/right-frontier state across splits
    "q76_asof_stream_fwd",      // forward window finalization across splits
    "qd51_approx_distinct",     // HLL register merge is order/partitioning-invariant
    "qd52_dup_ngrams",          // per-row native n-gram profile must ignore layout
    "qd53_leakage_safe_split",  // components + rep-keyed split across splits
    "qd54_stratified_sample",   // bounded top-k partial merge across splits
    "qd55_heavy_hitters",       // exact top-10 + MG contract booleans (the sketch's borderline set is excluded from the output by design)
    "q80_zorder_curve",         // narrow bit arithmetic + global top-100
    "q81_layout_stats",         // layout cycle: exact min/max + contract verdicts must survive any input layout
    "qd57_heavy_hitters_by_lang") // per-group MG buffers: exact top-3 + per-lang contract across splits

  private def rows(name: String): Seq[String] = {
    val df: DataFrame = Faces(name).run(spark, sfDir)
    df.collect().toSeq
      .map(_.toSeq.map {
        case null => "NULL"
        case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
        case d: Double => java.lang.Double.toString(d)
        case x => x.toString
      }.mkString("|"))
      .sorted
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (name <- queries)
    test(s"$name: identical multiset under 64KB splits + 3 shuffle partitions") {
      val base = rows(name)
      assert(base.nonEmpty, s"$name returned no rows at $sfDir")
      val adversarial = withConf(
        "spark.sql.files.maxPartitionBytes" -> (64 * 1024).toString,
        "spark.sql.files.openCostInBytes" -> "0",
        "spark.sql.shuffle.partitions" -> "3") {
        rows(name)
      }
      assert(adversarial.size == base.size,
        s"$name: ${adversarial.size} rows adversarial vs ${base.size} default")
      for ((a, b) <- adversarial.zip(base) if a != b)
        fail(s"$name differs under repartitioning:\n  adversarial $a\n  default     $b")
    }

  // UNKEYED nearest rides the range-bucket + boundary-patch path
  // (AsofJoin's unkeyed carry) — no driver query exercises it, so pin its
  // invariance directly: partition edges move with the split/partition
  // config, and a boundary-patch bug would show as edge rows matching the
  // wrong direction
  test("unkeyed NEAREST as-of: identical multiset under 64KB splits + 3 shuffle partitions") {
    import org.apache.spark.sql.functions._
    def run(): Seq[String] = {
      val ev = SparkEntry.t(spark, sfDir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      val r = ev.filter(col("event_type") === "click")
        .select(col("ts"), col("value").as("rv"))
      graft.operators.AsofJoin.join(l, r, "ts", "ts",
          strategy = graft.operators.AsofJoin.Nearest, tolerance = Some("2h"))
        .select(col("event_id"), col("rv"))
        .collect().toSeq.map(_.toString).sorted
    }
    val base = run()
    assert(base.nonEmpty)
    val adversarial = withConf(
      "spark.sql.files.maxPartitionBytes" -> (64 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.shuffle.partitions" -> "3") { run() }
    assert(adversarial == base, "unkeyed nearest differs under repartitioning")
  }

  // AQE re-plans at runtime (coalesced shuffle reads, skew splits,
  // broadcast demotions); exact results must not depend on it either way
  for (name <- Seq("q21_asof_backward", "q42_fill_global", "qd23_pack_global",
    "qd28_span_dedup", "qd10_dedup_components"))
    test(s"$name: identical multiset with AQE disabled") {
      val base = rows(name)
      val noAqe = withConf("spark.sql.adaptive.enabled" -> "false") { rows(name) }
      assert(noAqe == base, s"$name differs with AQE off")
    }
}
