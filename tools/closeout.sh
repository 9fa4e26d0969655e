#!/bin/bash
# Paired close-out chain for one optimization round:
#
#   tools/closeout.sh <round>        e.g. tools/closeout.sh 17
#
# Every output lands in /tmp/r<round>_*; the committed artifacts it
# refreshes are BENCH_10X.json, BENCH_100X.json, BENCH_REF.json and
# BENCH_LAST.json. Earlier rounds' versions of this chain live in git
# history (tools/closeout_r11.sh .. closeout_r16.sh).
#
# Interleaved S,D,S,D,S,D 1x protocol (per-query medians via
# tools/pair_median.py, pinned in BASELINE.md), then the 10x legs, the
# duck 3x fallback for any 10x-DNF queries, and the 100x heavy-family
# probe.
#   - graft.Bench builds its session through graft.Session, which pins a
#     fresh private index root per invocation, so each sweep's pass 1
#     builds the artifacts and passes 2-3 bill probe cost — no
#     cross-invocation state regardless of /tmp contents.
#   - Bench's reference-based outlier re-run reads SPARK medians from
#     the committed BENCH_LAST.json; BENCH_REF.json stays the
#     DuckDB-medians artifact VERDICT pairs against.
#
# Prereqs (regenerate per boot, /tmp is wiped):
#   python3 tools/make_10x.py /root/testdata/sf0.1 /tmp/sf1_10x
#   python3 tools/make_10x.py /root/testdata/sf0.1 /tmp/sf03_3x 3
#   python3 tools/make_10x.py /root/testdata/sf0.1 /tmp/sf10_100x 100
#   a green Verify dump with oracle_sql.json, by default at
#   /tmp/verify_r<round>/ (override with ORACLES=path/to/oracle_sql.json)
R=${1:?usage: tools/closeout.sh <round>}
P=/tmp/r${R}
ORACLES=${ORACLES:-/tmp/verify_r${R}/oracle_sql.json}
set -x
cd "$(dirname "$0")/.." || exit 1
HEAVY="s01_tumbling_window,s02_sessionize,s03_json_extract,s04_hourly_top,s05_asof_attribution,s06_range_join,s07_sliding_window,s08_funnel,s09_cohort_retention,s10_inter_event_gaps,s11_gap_fill,s12_event_dedup,s13_rate_anomaly,s14_rolling_active,s15_behavior_ngrams,s16_linear_attribution,s17_markov_stationary,s18_stream_merge_replay,s19_stream_disorder_replay,s20_store_feed_stream,s21_windowed_append,s22_stream_stream_join,s23_session_windows,s24_stream_ingest_dedup,s25_stream_mv_maintenance,s26_stream_join_eviction,t23_similarity_join,t26_containment,e06_ann_ivf,e13_pq_search,q52_skew_join"
date
python3 tools/audit_testdata.py || exit 1
for i in 1 2 3; do
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_BENCH_OUT=${P}_spark_1x_$i.json \
    sbt -batch 'runMain graft.Bench' > ${P}_bench_1x_$i.log 2>&1
  date
  python3 tools/bench_duck.py /root/testdata/sf0.1 "$ORACLES" \
    ${P}_duck_1x_$i.json > ${P}_duck_1x_$i.log 2>&1
  date
done
python3 tools/pair_median.py ${P}_spark_1x.json \
  ${P}_spark_1x_1.json ${P}_spark_1x_2.json ${P}_spark_1x_3.json
python3 tools/pair_median.py ${P}_duck_1x.json \
  ${P}_duck_1x_1.json ${P}_duck_1x_2.json ${P}_duck_1x_3.json
date
SPARK_GRAFT_SF_DIR=/tmp/sf1_10x SPARK_GRAFT_BENCH_OUT=${P}_spark_10x.json \
  sbt -batch 'runMain graft.Bench' > ${P}_bench_10x.log 2>&1
date
# DuckDB 10x under the pinned envelope (r14): 100GB mem, 50GB spill cap,
# 2700s per-query cap — DNFs are recorded, then measured at 3x below.
DUCK_MEM_LIMIT=100GB DUCK_TMP_DIR=/tmp/duck_spill DUCK_TMP_LIMIT=50GB \
  DUCK_QUERY_CAP_S=2700 \
  python3 tools/bench_duck.py /tmp/sf1_10x "$ORACLES" ${P}_duck_10x.json \
  > ${P}_duck_10x.log 2>&1
rm -rf /tmp/duck_spill
date
# duck 3x fallback leg: ONLY the queries whose 10x leg DNF'd
python3 - "$ORACLES" ${P}_duck_10x.json ${P}_oracle_dnf.json <<'EOF'
import json
import sys
oracles, duck10, out = sys.argv[1:]
dnf = [q for q in json.load(open(duck10)).get('errors', [])]
sql = json.load(open(oracles))
json.dump({q: sql[q] for q in dnf if q in sql}, open(out, 'w'))
print('10x DNF queries for the 3x fallback:', dnf)
EOF
DUCK_MEM_LIMIT=100GB DUCK_TMP_DIR=/tmp/duck_spill DUCK_TMP_LIMIT=50GB \
  DUCK_QUERY_CAP_S=2700 \
  python3 tools/bench_duck.py /tmp/sf03_3x ${P}_oracle_dnf.json \
  ${P}_duck_3x.json > ${P}_duck_3x.log 2>&1
rm -rf /tmp/duck_spill
date
python3 tools/make_bench_10x.py ${P}_spark_1x.json ${P}_spark_10x.json \
  ${P}_duck_1x.json ${P}_duck_10x.json BENCH_10X.json ${P}_duck_3x.json
date
# 100x partial sweep: heavy families, single sweep, growth vs 1x medians
SPARK_GRAFT_SF_DIR=/tmp/sf10_100x SPARK_GRAFT_ONLY="$HEAVY" \
  SPARK_GRAFT_BENCH_OUT=${P}_spark_100x.json \
  sbt -batch 'runMain graft.Bench' > ${P}_bench_100x.log 2>&1
python3 tools/make_bench_100x.py ${P}_spark_1x.json \
  ${P}_spark_100x.json BENCH_100X.json
# BENCH_REF = DuckDB 1x medians (the baseline), BENCH_LAST = Spark 1x
# medians — the pairing VERDICT reads.
cp ${P}_duck_1x.json BENCH_REF.json
cp ${P}_spark_1x.json BENCH_LAST.json
date
echo CLOSEOUT_DONE
