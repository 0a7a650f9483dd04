#!/usr/bin/env bash
# End-of-round sf1 (10x) spot check — VERDICT r5 "next round" #7: make
# derived-scale regressions surface EVERY round, not only when a judge
# asks. One command, two artifacts in the repo root:
#   CORRECTNESS_r<N>_sf1_local.txt  (oracle compare of the spot set)
#   BENCH_r<N>_sf1_local.json       (bench line over the same set)
#
# Usage (repo root, after `sbt compile`):  tools/sf1_spot.sh <roundNumber>
#
# The spot set spans the scale-sensitive families: a lineitem agg, the
# JSON/event window path, the two documents pipelines the sf3/sf10
# audits kept finding bugs in, the event-sequence fold, the end-to-end
# dedup pipeline, and all three rank joins (the J6 scale path).
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="$(printf '%02d' "${1:?usage: tools/sf1_spot.sh <roundNumber>}")"
SF1="${SF1_DIR:-testdata/sf1}"
SPOT=(q09_pricing_summary q22_json_events q54_repetition_filter
      q55_boilerplate_ngrams q62_funnel q71_dedup_corpus
      q76_theta_rank_join q77_theta_agg_join q78_theta_band_join
      q93_decontam_bloom q94_token_pack q96_cdc_compact
      q100_setsim_join q102_chunk_overlap q103_kl_divergence
      q109_winnow q114_contain_join q117_triangles
      q119_pmi_collocations q122_neardup_matrix q123_snapshot_diff
      q131_cooccur_lift q133_psi_drift q137_weighted_sample
      q139_centroid_sim q142_window_funnel q147_stickiness
      q149_auc q154_seq_pattern)

if [ ! -d "$SF1" ]; then
  echo "[sf1_spot] deriving $SF1 from /root/testdata/sf0.1 (copies=10)"
  python3 tools/make_sf.py /root/testdata/sf0.1 "$SF1" 10
fi

ADD_OPENS=()
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS+=("--add-opens" "$p=ALL-UNNAMED")
done
JAVA=(java "${ADD_OPENS[@]}" -Dspark.ui.enabled=false
      -Dspark.sql.session.timeZone=UTC
      "-Xmx${SPARK_DRIVER_MEM:-24g}"
      -cp "target/scala-2.13/classes:/opt/spark/jars/*")

OUT="$(mktemp -d /tmp/sf1_spot.XXXXXX)"
echo "[sf1_spot] verify spot set at $SF1 -> $OUT"
"${JAVA[@]}" graft.Verify "$SF1" "$OUT" "${SPOT[@]}" >/dev/null
python3 tools/oracle_check.py "$SF1" "$OUT" "${SPOT[@]}" \
  | tee "CORRECTNESS_r${ROUND}_sf1_local.txt"

echo "[sf1_spot] bench spot set"
SPARK_GRAFT_SF_DIR="$SF1" \
  SPARK_GRAFT_BENCH_PASSES="${SPARK_GRAFT_BENCH_PASSES:-3}" \
  "${JAVA[@]}" graft.Bench "${SPOT[@]}" \
  | grep -a '"stat":"min-of' | tail -1 > "BENCH_r${ROUND}_sf1_local.json"
cat "BENCH_r${ROUND}_sf1_local.json"

# ---- dup-heavy leg (VERDICT r6 #2): the same 10x derivation but with
# 60% of documents/embeddings as EXACT replicas under fresh ids — the
# realistic crawl dup rate. Two artifacts:
#   CORRECTNESS_r<N>_sf1dup_local.txt — oracle compare of the dedup-
#     sensitive spot queries on the dup-heavy corpus
#   DEDUP_r<N>_sf1dup.json — full-corpus (UNBOUNDED) dedupCorpus +
#     dedupEmbeddings wall times, survivor counts, and the exact-family
#     invariant check (graft.DedupAudit exits 1 on violation)
SF1DUP="${SF1DUP_DIR:-testdata/sf1dup}"
if [ ! -d "$SF1DUP" ]; then
  echo "[sf1_spot] deriving dup-heavy $SF1DUP (copies=10, dupFrac=0.6)"
  python3 tools/make_sf.py /root/testdata/sf0.1 "$SF1DUP" 10 0.6
fi
DUPSPOT=(q24_exact_dedup q71_dedup_corpus)
OUT2="$(mktemp -d /tmp/sf1dup_spot.XXXXXX)"
echo "[sf1_spot] verify dedup spot set at $SF1DUP -> $OUT2"
"${JAVA[@]}" graft.Verify "$SF1DUP" "$OUT2" "${DUPSPOT[@]}" >/dev/null
python3 tools/oracle_check.py "$SF1DUP" "$OUT2" "${DUPSPOT[@]}" \
  | tee "CORRECTNESS_r${ROUND}_sf1dup_local.txt"
echo "[sf1_spot] full-corpus dedup audit at $SF1DUP"
"${JAVA[@]}" graft.DedupAudit "$SF1DUP" \
  | tail -1 > "DEDUP_r${ROUND}_sf1dup.json"
cat "DEDUP_r${ROUND}_sf1dup.json"
echo "[sf1_spot] wrote CORRECTNESS_r${ROUND}_sf1_local.txt, BENCH_r${ROUND}_sf1_local.json, CORRECTNESS_r${ROUND}_sf1dup_local.txt, DEDUP_r${ROUND}_sf1dup.json"
