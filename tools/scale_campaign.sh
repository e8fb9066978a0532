#!/bin/bash
# Reproduce the full PERF.md scaling-evidence campaign in one command.
#
# Builds the 10x/30x/100x dialect-replica corpora plus the 10x zipf-skew
# corpus under $SCALE_DIR, then runs every measurement the PERF.md
# round-9/10 tables came from: interleaved scale benches at all three
# multipliers (plus the indexed-vs-brute ANN/MinHash contrast set), the
# skew engagement checks (skewed + uniform control), the
# skewed-vs-uniform constant-volume timing, streaming-state growth at
# 10x and 100x (incl. the session-window constant-user leg), the DIRT
# path-skew leg, the graph degree-skew leg, the sessionize straggler
# stress runs (counts AND spans), the STREAMING session-window
# hot-user leg, the MAD-outlier x10/x100 legs, and the
# partition-prune layout evidence.  Results land one file per leg in
# $OUT.
#
# Total wall time on an otherwise-idle local[32] box: ~2 h, most of it
# the x100 leg.  Run nothing else concurrently: the harnesses are
# min-of-2 interleaved (robust to brief disturbances, not to sustained
# load).  Drift disclosure: bench.py's control/steal block and the
# interleaved estimators make sustained contamination visible in the
# artifacts themselves.
#
# Usage:  bash tools/scale_campaign.sh [OUT_DIR]
set -u
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/dhs_campaign}
SCALE_DIR=${SCALE_DIR:-/tmp/dhs_scale}
BASE=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
mkdir -p "$OUT"
step() { echo "[$(date +%H:%M:%S)] $1" | tee -a "$OUT/STATUS"; }

for m in 10 30 100; do
  if [ ! -d "$SCALE_DIR/x$m" ]; then
    step "gen x$m corpus"
    python tools/gen_scale_corpus.py --mult "$m" --src "$BASE" \
      --out "$SCALE_DIR" >> "$OUT/gen.log" 2>&1 || exit 1
  fi
done
if [ ! -d "$SCALE_DIR/x10skew" ]; then
  step "gen x10 skew corpus"
  python tools/gen_scale_corpus.py --mult 10 --skew --src "$BASE" \
    --out "$SCALE_DIR" >> "$OUT/gen.log" 2>&1 || exit 1
fi

step "scale x10"
python tools/scale_bench.py --mult 10 --repeats 2 --markdown \
  > "$OUT/x10.txt" 2> "$OUT/x10.err"
step "MAD outlier x10 leg (VERDICT r10 task 4)"
python tools/scale_bench.py --mult 10 --repeats 2 --markdown \
  --queries event_user_outliers_mad,event_user_outliers \
  > "$OUT/x10_mad.txt" 2> "$OUT/x10_mad.err"
step "scale x30"
python tools/scale_bench.py --mult 30 --repeats 2 --markdown \
  > "$OUT/x30.txt" 2> "$OUT/x30.err"
step "scale x30 ann/minhash contrast"
python tools/scale_bench.py --mult 30 --repeats 2 --markdown \
  --queries ann_gemm_topk,ann_ivfpq_topk,ann_cosine_topk,dedup_minhash_lsh,dedup_ngram_jaccard \
  > "$OUT/x30_ann.txt" 2> "$OUT/x30_ann.err"

step "skew check (skewed — expect engaged, exit 0)"
python tools/skew_check.py --dir "$SCALE_DIR/x10skew" \
  > "$OUT/skew.txt" 2> "$OUT/skew.err"
echo "exit=$?" >> "$OUT/skew.txt"
step "skew check (uniform control — expect NOT engaged, exit 1)"
python tools/skew_check.py --dir "$SCALE_DIR/x10" \
  > "$OUT/skew_uniform.txt" 2> "$OUT/skew_uniform.err"
echo "exit=$?" >> "$OUT/skew_uniform.txt"
step "skewed vs uniform timing at constant volume"
python tools/scale_bench.py --base "$SCALE_DIR/x10" \
  --scaled "$SCALE_DIR/x10skew" --repeats 2 --markdown \
  --queries join_salted_skew,sessionize,sessionize_skewsafe,sessionize_auto,text_cosine_pairs,dedup_minhash_lsh \
  > "$OUT/skew_vs_uniform.txt" 2> "$OUT/skew_vs_uniform.err"

step "streaming state x10 (+ session-window constant-user leg)"
python tools/stream_state_bench.py --dirs "$BASE,$SCALE_DIR/x10" \
  --constant-user-mult 10 \
  --markdown > "$OUT/stream_x10.txt" 2> "$OUT/stream_x10.err"
step "streaming state x100"
python tools/stream_state_bench.py --dirs "$BASE,$SCALE_DIR/x100" \
  --markdown > "$OUT/stream_x100.txt" 2> "$OUT/stream_x100.err"

step "DIRT path-skew leg (uniform vs 50%-hot-paths, constant volume)"
python tools/dirt_skew_check.py --docs 500000 --repeats 2 --markdown \
  > "$OUT/dirt_skew.txt" 2> "$OUT/dirt_skew.err"
echo "exit=$?" >> "$OUT/dirt_skew.txt"
step "graph degree-skew leg (uniform vs one-hub-30%)"
python tools/graph_skew_bench.py --nodes 1000000 --edges 5000000 \
  --repeats 2 --markdown \
  > "$OUT/graph_skew.txt" 2> "$OUT/graph_skew.err"
step "sessionize straggler stress (20M events, 80% one user, + auto router)"
python tools/sessionize_stress.py --events 20000000 --hot-frac 0.8 \
  --repeats 2 --with-auto \
  > "$OUT/sessionize_stress.txt" 2> "$OUT/sessionize_stress.err"
step "session SPANS straggler stress (native session_window vs gap-bucket twin)"
python tools/sessionize_stress.py --events 20000000 --hot-frac 0.8 \
  --repeats 2 --with-auto --spans \
  > "$OUT/sessionize_spans_stress.txt" 2> "$OUT/sessionize_spans_stress.err"
step "vector-admission gate leg (10% NULL/ragged at x10: overhead + post-gate correctness)"
python tools/vector_gate_bench.py --mult 10 --repeats 2 \
  > "$OUT/vector_gate.txt" 2> "$OUT/vector_gate.err"

step "scale x100 (the long leg)"
python tools/scale_bench.py --mult 100 --repeats 2 --markdown \
  --queries text_cosine_pairs,text_cosine_topk,lm_perplexity_tiers,dedup_pagerank,dedup_components_ls,split_contamination,sessionize,ann_cosine_topk,ann_ivfpq_topk,q1_pricing_summary,event_user_outliers_mad \
  > "$OUT/x100.txt" 2> "$OUT/x100.err"
step "DONE — results in $OUT"
