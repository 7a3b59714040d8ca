#!/usr/bin/env bash
# One-command evidence refresh (r16 verdict item 7): runs the round's
# artifact set with consistent naming so rounds stop hand-assembling 10+
# files. Every step is the exact command BASELINE.md documents for it.
#
# Usage: tools/evidence.sh <tag> [steps...]
#   tag    artifact suffix, e.g. r17 -> BENCH_LOCAL_r17.json etc.
#   steps  any of: verify bench noclear sf1 sf10 ijsink   (default: verify bench)
#
# Env knobs passed through: SPARK_GRAFT_CPUS (default: nproc),
# SPARK_GRAFT_REPS (bench default 5; cross-scale runs force 3),
# SPARK_GRAFT_BENCH_ONLY (overrides the per-step face lists below).
set -euo pipefail
cd "$(dirname "$0")/.."

TAG="${1:?usage: tools/evidence.sh <tag> [steps...]}"
shift
STEPS="${*:-verify bench}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

# Gated cross-scale face sets = the keys of BenchRefs.sfRefs for that SF
# (kept in lockstep by hand; BenchRefsSpec pins the tables themselves).
# sf1 adds q61 (own sf1 ref pending; its excursion row is the datum) and
# EXCLUDES q78/q79/q82 — their memory-sink oracle harness aborts at the
# 100k localize guard above sf0.1 (harness bound; ijsink is their probe).
# q77s and q81 rejoined the sf10 set in r18: q77s now drives the
# production FILE sink (no driver bound) and q81's row-group stats stay
# distributed (persist, not localize), so both complete at any SF.
SF1_FACES="q45_rolling_global_rows,q46_rolling_global_time,q49_pipeline_dedup_keeplist,q53_pipeline_clean_pack,q61_stream_window,q77_interval_join_stream,q77s_interval_join_sized,q81_layout_stats,q83_interval_join_full_sink,qd03_ngram_jaccard,qd04_minhash_pairs,qd10_dedup_components,qd16_jaccard_prefix,qd28_span_dedup,qd32_bpe_tokenize,qd41_pipeline_quality_select,qd41h_pipeline_quality_select_hashed,qd53_leakage_safe_split,qd55_heavy_hitters,qd57_heavy_hitters_by_lang,qs04_ann_pq"
SF10_FACES="q77s_interval_join_sized,q81_layout_stats,q83_interval_join_full_sink,qd03_ngram_jaccard,qd04_minhash_pairs,qd16_jaccard_prefix,qd28_span_dedup,qd41h_pipeline_quality_select_hashed,qd45_sentence_dedup,qd53_leakage_safe_split,qd55_heavy_hitters,qd57_heavy_hitters_by_lang"

fixture() { # fixture <dir> <factor>
  if [ ! -d "$1" ]; then
    echo "[evidence] generating scale fixture $1 (x$2)"
    sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 $1 $2" \
      > /dev/null
  fi
}

# A step whose sbt invocation crashed leaves an empty capture file; under
# `grep ... || true` the script would still print "[evidence] done" — a
# silently missing run of record (ADVICE r17). Every step now asserts the
# line it exists to produce was actually captured, and aborts otherwise.
require_line() { # require_line <file> <pattern> <step>
  if ! grep -q "$2" "$1" 2>/dev/null; then
    echo "[evidence] FATAL: step '$3' captured no '$2' line in $1 — the run crashed or produced no artifact" >&2
    exit 1
  fi
}

for step in $STEPS; do
  echo "[evidence] ===== step: $step ====="
  case "$step" in
    verify)
      for sf in sf0.001 sf0.01 sf0.1; do
        sbt -batch "runMain graft.Verify /root/testdata/$sf /tmp/verify_${TAG}_$sf" \
          2>&1 | grep -E '\[verify\]|error\] \(' || true
        python3 tools/check.py "/root/testdata/$sf" "/tmp/verify_${TAG}_$sf" \
          | tail -1 | sed "s/^/[evidence] $sf /" \
          | tee "/tmp/verify_${TAG}_${sf}_tail.txt"
        require_line "/tmp/verify_${TAG}_${sf}_tail.txt" ' ok, ' "verify $sf"
      done
      ;;
    bench)
      SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
        SPARK_GRAFT_BENCH_OUT="BENCH_LOCAL_${TAG}.json" \
        sbt -batch 'runMain graft.Bench' 2>&1 | grep -E '"metric"|\[bench\]' \
        > "/tmp/bench_${TAG}_stdout.txt" || true
      require_line "/tmp/bench_${TAG}_stdout.txt" '"bench_gate"' "bench"
      tail -1 "/tmp/bench_${TAG}_stdout.txt"
      ;;
    noclear)
      SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
        SPARK_GRAFT_BENCH_NO_CLEAR=1 \
        SPARK_GRAFT_BENCH_COMPARE="BENCH_LOCAL_${TAG}.json" \
        SPARK_GRAFT_BENCH_OUT="BENCH_LOCAL_${TAG}_noclear.json" \
        sbt -batch 'runMain graft.Bench' 2>&1 | grep -E '"metric"|\[bench\]' \
        > "/tmp/bench_${TAG}_noclear_stdout.txt" || true
      require_line "/tmp/bench_${TAG}_noclear_stdout.txt" '"bench_parity"' "noclear"
      grep '"bench_parity"' "/tmp/bench_${TAG}_noclear_stdout.txt" | tail -1
      ;;
    sf1)
      fixture /tmp/graft_sf1 10
      SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS="$CPUS" \
        SPARK_GRAFT_REPS=3 \
        SPARK_GRAFT_BENCH_ONLY="${SPARK_GRAFT_BENCH_ONLY:-$SF1_FACES}" \
        SPARK_GRAFT_BENCH_OUT="BENCH_SF1_${TAG}.json" \
        sbt -batch 'runMain graft.Bench' 2>&1 | grep -E '"metric"|\[bench\]' \
        > "/tmp/bench_${TAG}_sf1_stdout.txt" || true
      require_line "/tmp/bench_${TAG}_sf1_stdout.txt" '"bench_gate"' "sf1"
      tail -1 "/tmp/bench_${TAG}_sf1_stdout.txt"
      ;;
    sf10)
      fixture /tmp/graft_sf10 100
      SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_CPUS="$CPUS" \
        SPARK_GRAFT_REPS=3 \
        SPARK_GRAFT_BENCH_ONLY="${SPARK_GRAFT_BENCH_ONLY:-$SF10_FACES}" \
        SPARK_GRAFT_BENCH_OUT="BENCH_SF10_${TAG}.json" \
        sbt -batch 'runMain graft.Bench' 2>&1 | grep -E '"metric"|\[bench\]' \
        > "/tmp/bench_${TAG}_sf10_stdout.txt" || true
      require_line "/tmp/bench_${TAG}_sf10_stdout.txt" '"bench_gate"' "sf10"
      tail -1 "/tmp/bench_${TAG}_sf10_stdout.txt"
      ;;
    ijsink)
      fixture /tmp/graft_sf1 10
      sbt -batch "runMain graft.tools.ProfileIntervalSink /tmp/graft_sf1 2" \
        2>&1 | grep -E '"metric"|\[ij-sink\]' \
        | tee "/tmp/ijsink_${TAG}_sf1.txt" || true
      require_line "/tmp/ijsink_${TAG}_sf1.txt" '"metric"' "ijsink"
      ;;
    *)
      echo "[evidence] unknown step '$step' (verify bench noclear sf1 sf10 ijsink)" >&2
      exit 2
      ;;
  esac
done
echo "[evidence] done: $STEPS"
