package graft

/** Frozen per-query regression references, embedded so every bench
  * artifact carries its own gate verdict.
  *
  * Source of values: BASELINE.md's round-12 frozen gate table plus the
  * r12/r13/r14 addendum references (each the median of probe-clean runs);
  * `refCpuFrac` is the query's process-CPU fraction in the corresponding
  * clean run of record — the cpu-collapse discriminator: an ambient burst
  * starves the JVM (wall >> cpu, cpu_frac collapses vs this reference)
  * while a REAL plan regression keeps cpu_frac and grows both.
  *
  * Gate formula (BASELINE.md): a warm median REGRESSES iff
  *   med / max(refMed, 0.1)  >  2 x (1 + max(nfRef_section, nfRun_section))
  * with nfRef 0.17 (core) / 0.30 (streaming) — the recorded noise floors
  * of the reference populations — and nfRun the evaluating run's own
  * per-section floor. The 0.1 s floor keeps scheduler jitter on
  * near-instant queries from tripping the gate.
  */
object BenchRefs {
  val NfRefCore = 0.17
  val NfRefStreaming = 0.30

  /** Per-scale frozen references (r16 directive 4): `sfTag -> (query ->
    * (warm-median seconds, cpu_frac))`. The sf0.1 table ([[refs]]) stays
    * the run-of-record gate; a cross-scale run whose SF has a table here
    * GATES the covered faces for real (`n_violations` over this subset)
    * and annotates the rest as excursions vs sf0.1 — before r16 every
    * cross-scale reading was annotate-only. Tables: sf1 (frozen r16,
    * corrected), sf10 (frozen r17).
    *
    * sf1 basis (BASELINE.md round-16 note): the median of the r13–r15
    * quiet-window readings per face (`329567f:BENCH_SF1_r13/r15/r15b/r15c`),
    * excluding probe-flagged starved rows (q77s r14 cpu 2.17, q78
    * r14/r15 cpu ≤3.05); qd41h is the post-job-fusion r15c datum — the
    * only reading at the current tree. The dedup-family rows (qd03/qd04/
    * qd16/qd28/qd32/q49) were measured on the 5-way vowel-rotation
    * fixture; the r16 unique-text formula collapses cross-copy similarity
    * FURTHER (fewer candidate pairs), so those refs bound the new fixture
    * from above — the safe direction for a gate.
    *
    * REFROZEN r18 (optimization round, tools/refreeze_refs.py): the rows
    * the round's input-sized state partitioning + parallelism-floor layout
    * write made faster at scale — sf1 q53/q61 (329567f:BENCH_SF1_r18b), sf1
    * q77/q83 (the post-sqrt-floor re-run), sf10 q81 54.82 s (was 115.45 —
    * the fixed-4-file sort spill eliminated, 329567f:BENCH_SF10_r18b). Downward
    * refreezes only; per-row comments keep their original basis notes. */
  val sfRefs: Map[String, Map[String, (Double, Double)]] = Map(
    "sf1" -> Map(
      // REFROZEN r17 with the RangeId fix (the pre-fix sf1 readings
      // measured an algorithm that was WRONG at this scale — the sf1
      // oracle pass caught it); 3-rep quiet run, 1.2x/1.7x their new
      // sf0.1 refs at 10x data
      "q45_rolling_global_rows" -> ((3.43, 8.9)),
      "q46_rolling_global_time" -> ((3.14, 11.73)),
      "q49_pipeline_dedup_keeplist" -> ((4.64, 5.47)),
      "q53_pipeline_clean_pack" -> ((2.60, 9.66)),
      // q61's first valid sf1 datum (r16c, post fixture-shape fix): the
      // only reading at the current tree, same single-datum basis qd41h's
      // sf1 row was frozen on
      "q61_stream_window" -> ((1.64, 5.0)),
      "q77_interval_join_stream" -> ((5.98, 3.04)),
      // REFROZEN r18: the face now drives the production FILE sink (the
      // memory-sink localize guard barred it from sf10) — and is FASTER
      // at sf1 than the old memory-sink drive (no driver materialization
      // of the 87k joined rows; 3-rep reading, spread 0.19)
      "q77s_interval_join_sized" -> ((4.80, 2.52)),
      // q78/q79/q82 carry NO sf1 refs (r16 correction): the failed-rep
      // ledger revealed their historical sf1 "readings" (r13-r15 and the
      // first r16 gated run) completed the DRIVE but aborted at the
      // memory-sink oracle's 100k localize guard — the harness's
      // driver-side bound, exceeded by design at 10x output volume. Their
      // cross-scale story routes through q77/q77s (in-bound), the r16
      // state probes (BASELINE round-16), and — since r17 — q83 below: the
      // SAME full-outer join through the production file sink, which has
      // no driver bound and so gates at any SF.
      // r17 basis: 3-rep quiet sf1 run, spread 0.045, cpu healthy —
      // 1.08x the sf0.1 ref at 10x data (outer-null state machinery is a
      // store-lifecycle fixed term, not data volume; corroborated by the
      // ProfileIntervalSink sf1 readings for all three outer types).
      "q83_interval_join_full_sink" -> ((5.89, 2.83)),
      "q81_layout_stats" -> ((9.11, 10.3)),
      "qd03_ngram_jaccard" -> ((2.17, 5.38)),
      "qd04_minhash_pairs" -> ((3.19, 6.57)),
      "qd10_dedup_components" -> ((4.2, 5.13)),
      "qd16_jaccard_prefix" -> ((3.61, 10.94)),
      "qd28_span_dedup" -> ((1.76, 7.36)),
      "qd32_bpe_tokenize" -> ((1.72, 8.61)),
      "qd41_pipeline_quality_select" -> ((2.60, 8.13)),
      "qd41h_pipeline_quality_select_hashed" -> ((2.72, 7.67)),
      "qd53_leakage_safe_split" -> ((4.45, 5.32)),
      "qd55_heavy_hitters" -> ((0.33, 6.42)),
      "qd57_heavy_hitters_by_lang" -> ((0.31, 6.35)),
      "qs04_ann_pq" -> ((2.44, 8.61))),

    // sf10 basis (r16 directive "freeze an sf10 table", frozen r17): medians
    // of the r16 unique-text-fixture readings (`329567f:BENCH_SF10_r16{,b,c,d}`;
    // qd33 excluded — its sf10 output domain leaves int64 by design and the
    // face reads mechanism:"failed"). Loaded-window rows kept only where
    // cpu_frac stayed healthy (no starvation signature).
    //
    // q77s and q81 REJOINED the sf10 table in r18 (r17 had removed them:
    // the first gated sf10 run recorded both as queries_failed 3/3 at the
    // memory-sink/localize harness guard — q77s's inner-join output is
    // 872,700 rows at sf10 and q81's 16 KiB demo geometry yields 176k
    // row-group stat rows, both >100k, so the r15 single-face "readings"
    // were pre-ledger drive-then-abort walls). r18 lifted the driver
    // bounds — q77s drives the production file sink, q81's stats stay
    // distributed — and both are DuckDB-hash-exact at sf10
    // (329567f:ORACLE_SF10_r18.txt). Frozen from the first clean gated r18 run
    // (329567f:BENCH_SF10_r18.json: 12/12 faces, zero violations, zero failed
    // reps, cpu_collapse 0.0 — the earlier measuring window was
    // IO-starved and read q77s at 39 s): q77s 13.14 s = 2.2x its sf0.1
    // wall at 100x data; q81 115.5 s carrying the documented fixed-4-file
    // demo-geometry sort spill (418 MB, the r15 physics; the auto-sized
    // production path is the layout-auto probe's story).
    "sf10" -> Map(
      "q77s_interval_join_sized" -> ((10.77, 6.82)),
      "q81_layout_stats" -> ((38.45, 15.92)),
      // the file-sink outer join is the streaming face with no harness
      // bound: 3-rep QUIET run (load1 1.05, spread 0.12) = 1.33x at 100x
      // data, corroborated by the ProfileIntervalSink sf10 drives
      "q83_interval_join_full_sink" -> ((17.03, 10.78)),
      "qd03_ngram_jaccard" -> ((5.12, 18.7)),
      "qd04_minhash_pairs" -> ((10.28, 23.1)),
      "qd16_jaccard_prefix" -> ((14.16, 22.6)),
      "qd28_span_dedup" -> ((3.79, 23.4)),
      "qd41h_pipeline_quality_select_hashed" -> ((9.89, 20.85)),
      "qd45_sentence_dedup" -> ((4.94, 21.2)),
      "qd53_leakage_safe_split" -> ((10.22, 19.0)),
      "qd55_heavy_hitters" -> ((0.77, 14.6)),
      "qd57_heavy_hitters_by_lang" -> ((0.78, 15.1))))

  /** query -> (frozen warm-median seconds, reference cpu_frac).
    *
    * REFROZEN r18 (optimization round; tools/refreeze_refs.py from
    * 329567f:BENCH_LOCAL_r18b.json): the 18 faces the round made faster —
    * the streaming family (input-sized state partitions), the RangeId
    * set (O(log P) bucket expression), q53/qd53/q41/q42 (sampling source
    * + broadcast component maps). Only rows whose NEW reading undercut
    * the old ref were refrozen (a loaded window can only inflate, so a
    * lower reading is real); rows the r18b window inflated (q45, q49,
    * q53, q61, q81, qd10, plus every untouched face) keep their older,
    * tighter refs. r18b classes `dirty` by the run_class discriminator —
    * expected here per the Bench.runClass caveat: collapse was judged
    * against the PRE-change cpu_frac refs, and the refrozen faces run at
    * 1-partition state parallelism by design (same-window A/B evidence in
    * OPTIMIZATION_r18.md). */
  val refs: Map[String, (Double, Double)] = Map(
    "q01_groupby_agg" -> ((1.164, 1.99)),
    "q02_filter_project" -> ((0.624, 1.98)),
    "q03_join_inner" -> ((1.637, 1.78)),
    "q04_join_left" -> ((0.532, 1.69)),
    "q05_join_semi" -> ((0.49, 1.5)),
    "q06_join_anti" -> ((0.37, 1.76)),
    "q07_join_cross" -> ((0.311, 1.31)),
    "q08_sort_limit" -> ((0.14, 1.62)),
    "q09_distinct" -> ((0.313, 2)),
    "q10_window_over" -> ((0.588, 2.2)),
    "q11_case_cast_math" -> ((0.235, 1.35)),
    "q12_str_funcs" -> ((0.28, 1.74)),
    "q13_dt_funcs" -> ((0.372, 1.3)),
    "q14_split_explode" -> ((0.268, 1.83)),
    "q15_concat_diagonal" -> ((0.291, 1.76)),
    "q16_unpivot" -> ((0.201, 1.81)),
    "q17_pivot" -> ((0.446, 1.91)),
    "q18_fill_null" -> ((0.354, 1.78)),
    "q19_quantile" -> ((0.279, 1.53)),
    "q20_shift_diff" -> ((0.461, 2.03)),
    "q21_asof_backward" -> ((0.393, 1.92)),
    "q22_asof_tolerance" -> ((0.365, 1.77)),
    "q23_asof_forward" -> ((0.373, 1.48)),
    "q24_asof_nearest" -> ((0.487, 1.77)),
    "q25_group_by_dynamic" -> ((0.281, 1.53)),
    "q26_rolling_rows" -> ((0.536, 2.32)),
    "q27_rolling_time" -> ((0.546, 1.7)),
    "q28_fill_directional" -> ((0.451, 1.83)),
    "q29_udf_map" -> ((0.207, 2.52)),
    "q30_str_extra" -> ((0.19, 1.95)),
    "q31_dt_extra" -> ((0.353, 1.23)),
    "q32_list_ops" -> ((0.185, 2.5)),
    "q33_struct_ops" -> ((0.187, 2.18)),
    "q34_concat_horizontal" -> ((0.482, 1.84)),
    "q35_gbd_boundaries" -> ((0.214, 1.69)),
    "q36_sample" -> ((0.443, 1.57)),
    "q37_quantile_modes" -> ((0.778, 2.59)),
    "q38_selectors" -> ((0.151, 1.4)),
    "q39_describe_stats" -> ((0.158, 2.48)),
    "q40_try_cast" -> ((0.464, 1.12)),
    // q41/q42/q45/q46/qd23/qd24/qd26/qd47 REFROZEN r17: the RangeId
    // correctness fix (BASELINE round-17 late finding) adds one bounded
    // key-sampling job + a row_number window to every global (unkeyed)
    // operator — the old refs measured an algorithm whose partition-
    // boundary math was silently wrong at sf1+. Values from the post-fix
    // quiet run (cpu_collapse_frac 0, zero violations).
    "q41_asof_unkeyed" -> ((0.927, 4.74)),
    "q42_fill_global" -> ((0.788, 5.36)),
    "q43_calendar_month" -> ((0.917, 1.28)),
    "q44_calendar_offset" -> ((0.571, 1.3)),
    "q45_rolling_global_rows" -> ((2.841, 4.81)),
    "q46_rolling_global_time" -> ((1.739, 5.5)),
    "q47_jdbc_roundtrip" -> ((0.509, 5.03)),
    "q48_pipeline_asof_pivot" -> ((0.563, 2.07)),
    "q49_pipeline_dedup_keeplist" -> ((1.998, 2.69)),
    "q50_categorical" -> ((0.325, 2.87)),
    "q51_pipeline_data_prep" -> ((0.762, 2.78)),
    "q52_pipeline_corpus_build" -> ((0.793, 2.05)),
    "q53_pipeline_clean_pack" -> ((2.025, 2.12)),
    "q54_pipeline_crawl" -> ((0.833, 8.56)),
    "q55_strftime_iso" -> ((0.841, 1.75)),
    "q56_csv_roundtrip" -> ((0.897, 2.14)),
    "q57_ipc_roundtrip" -> ((0.335, 3.81)),
    "q58_ndjson_roundtrip" -> ((0.357, 2.12)),
    "q59_sql_context" -> ((0.443, 2.25)),
    "q60_series_ops" -> ((0.143, 2.92)),
    "q61_stream_window" -> ((1.119, 2.51)),
    "q62_json_multiline" -> ((0.34, 4.98)),
    "q63_arrow_handoff" -> ((0.245, 5.19)),
    "q64_anonymous_scan" -> ((0.12, 3.59)),
    "q65_async_read" -> ((0.217, 3.97)),
    "q66_from_records" -> ((0.224, 5.23)),
    "q67_export_batches" -> ((0.154, 3.7)),
    "q68_drop_rename_nulls" -> ((0.816, 1.9)),
    "q69_list_sort" -> ((0.246, 3.07)),
    "q70_bucketed_join" -> ((0.465, 5.99)),
    "q71_orc_roundtrip" -> ((0.44, 4.13)),
    "q72_sessionize" -> ((0.38, 2.57)),
    "q73_sessionize_stream" -> ((2.043, 2.05)),
    "q74_stream_dedup" -> ((1.285, 1.69)),
    "q75_asof_stream" -> ((2.280, 2.2)),
    "q76_asof_stream_fwd" -> ((2.216, 2.11)),
    "q77_interval_join_stream" -> ((3.734, 1.74)),
    // REFROZEN r18 (file-sink harness; quiet 3-rep reading, spread 0.07):
    // the production-sink drive costs 1.25x the old memory-sink face
    "q77s_interval_join_sized" -> ((3.664, 1.19)),
    "q78_interval_join_outer" -> ((3.901, 1.53)),
    "q79_interval_join_full" -> ((3.808, 1.6)),
    "q80_zorder_curve" -> ((0.252, 2.0)),
    "q81_layout_stats" -> ((4.97, 1.58)),
    "q82_interval_join_right" -> ((4.510, 1.67)),
    // frozen r17 (face introduced r17): tight-spread quiet measurement
    // (4-rep run, spread 0.037; a 6-rep sibling read 14.65 with one
    // straggler rep). The file-sink drive costs ~3 s over q79's memory
    // sink: the checkpointed exactly-once commit log + parquet write.
    "q83_interval_join_full_sink" -> ((4.290, 1.34)),
    "qd01_dedup_exact" -> ((0.257, 1.32)),
    "qd02_fingerprint" -> ((0.466, 1.64)),
    "qd03_ngram_jaccard" -> ((0.756, 1.88)),
    "qd04_minhash_pairs" -> ((1.154, 1.51)),
    "qd05_simhash_pairs" -> ((0.607, 1.52)),
    "qd06_langid" -> ((0.27, 1.17)),
    "qd07_token_stats" -> ((0.516, 1.48)),
    "qd08_quality" -> ((0.862, 1.36)),
    "qd09_embedding_dedup" -> ((0.421, 1.29)),
    "qd10_dedup_components" -> ((1.777, 2.32)),
    "qd11_repetition" -> ((0.658, 1.12)),
    "qd12_url_dedup" -> ((0.434, 3.77)),
    "qd13_pii_redact" -> ((1.196, 1.34)),
    "qd14_vocab" -> ((0.268, 1.71)),
    "qd15_token_budget" -> ((0.216, 1.46)),
    "qd16_jaccard_prefix" -> ((1.214, 2.73)),
    "qd17_hash_split" -> ((0.159, 5.11)),
    "qd18_decontaminate" -> ((0.521, 1.92)),
    "qd19_chunk" -> ((0.514, 2.13)),
    "qd20_pack" -> ((0.209, 2.1)),
    "qd21_decontaminate_neardup" -> ((0.736, 1.42)),
    "qd22_mixture" -> ((0.276, 1.65)),
    "qd23_pack_global" -> ((0.534, 5.36)),
    "qd24_shuffle" -> ((0.424, 5.69)),
    "qd25_rarity" -> ((0.503, 1.46)),
    "qd26_shuffle_pack" -> ((0.636, 5.91)),
    "qd27_upsample" -> ((0.138, 1.44)),
    "qd28_span_dedup" -> ((1.373, 1.52)),
    "qd29_semantic_dedup" -> ((0.636, 1.92)),
    "qd30_compress_ratio" -> ((0.354, 1.13)),
    "qd31_line_dedup" -> ((0.861, 1.82)),
    "qd32_bpe_tokenize" -> ((1.638, 1.3)),
    "qd33_salted_pairs" -> ((0.553, 1.15)),
    "qd34_decontaminate_bloom" -> ((0.638, 1.76)),
    "qd35_snapshot_dedup" -> ((0.58, 2.03)),
    "qd36_dsir_weights" -> ((0.675, 2.18)),
    "qd37_dsir_select" -> ((0.623, 2.46)),
    "qd38_clean_text" -> ((0.28, 1.03)),
    "qd39_perplexity" -> ((1.059, 1.61)),
    "qd40_c4_filter" -> ((0.417, 9.24)),
    "qd41_pipeline_quality_select" -> ((5.309, 6.92)),
    "qd41h_pipeline_quality_select_hashed" -> ((2.494, 3.13)),
    "qd42_temperature_mixture" -> ((0.39, 2.01)),
    "qd43_html_extract" -> ((0.662, 2.07)),
    "qd44_gopher_quality" -> ((0.468, 6.17)),
    "qd45_sentence_dedup" -> ((1.125, 1.53)),
    "qd46_dup_paragraphs" -> ((0.397, 10.93)),
    "qd47_pack_spans" -> ((0.625, 4.86)),
    "qd48_blocklist" -> ((0.208, 2.21)),
    "qd49_bpe_encode_fixed" -> ((0.945, 1.59)),
    "qd50_bm25" -> ((0.601, 1.57)),
    "qd51_approx_distinct" -> ((0.89, 1.21)),
    "qd52_dup_ngrams" -> ((1.15, 1.39)),
    "qd53_leakage_safe_split" -> ((2.098, 2.08)),
    "qd54_stratified_sample" -> ((0.292, 1.7)),
    "qd55_heavy_hitters" -> ((0.234, 1.21)),
    "qd56_weighted_sample" -> ((0.251, 1.47)),
    "qd57_heavy_hitters_by_lang" -> ((0.220, 1.6)),
    "qm01_media_meta" -> ((0.14, 2.72)),
    // REFROZEN r17 (was 0.931): two rounds of stable 1.4–1.55 s sub-gate
    // readings ended in a dedicated quiet-window profile (7 reps, load1
    // 0.88, JIT-warm) reading 1.375 s with cpu_frac healthy (4.09 vs the
    // old 4.62 ref) and tasks exactly at the 66-task reference — i.e. the
    // same plan doing the same work, not starvation or recompute. qm02's
    // kernel is the round-6 adjudicated JDK codec path (javax.imageio PNG +
    // javax.sound WAV decode inside the fused decode/feature expression);
    // its clean cost at the current tree is ~1.38 s, and the old ref was a
    // lucky-JIT vintage. BASELINE.md round-17 records the profile.
    "qm02_decode_features" -> ((1.375, 4.09)),
    "qm03_frame_sample" -> ((0.156, 1.1)),
    "qm04_video_meta" -> ((0.205, 1.51)),
    "qs01_cosine_topk" -> ((0.207, 1.84)),
    "qs02_ann_lsh" -> ((0.323, 2.27)),
    "qs03_ann_ivf" -> ((0.423, 3.83)),
    "qs04_ann_pq" -> ((1.508, 1.57))
  )
}
