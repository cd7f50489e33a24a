#!/usr/bin/env bash
# One-command verification entry point (VERDICT r9 item 7 / r10 item 7):
# full oracle compare at sf0.01 AND sf0.1, the null-corpus
# oracle-equality sweep for the NTILE/running-sum family, the whole
# ScalaTest suite (after the benchmark's own Python unit tests), and
# the sf0.1 bench — single exit code, and the
# bench's parsed per-query record committed-ready as
# BENCH_LOCAL_r${ROUND}.json.
#
# Usage:  ROUND=11 scripts/verify_all.sh        # from /root/repo
# Env:    ROUND   round tag for the bench snapshot (default: local)
#         SKIP_BENCH=1   correctness-only run
set -uo pipefail
cd "$(dirname "$0")/.."

ROUND="${ROUND:-local}"
rc=0
step() { echo; echo "=== $* ==="; }

step "oracle compare @ sf0.01"
CHECK_JSON_OUT="CORRECTNESS_LOCAL_r${ROUND}.json" \
  python3 scripts/check.py /root/testdata/sf0.01 target/verify_out || rc=1

step "oracle compare @ sf0.1"
CHECK_JSON_OUT="CORRECTNESS_LOCAL_r${ROUND}.json" \
  python3 scripts/check.py /root/testdata/sf0.1 target/verify_out_sf01 || rc=1

step "null-corpus oracle equality (NTILE/running-sum family)"
python3 scripts/null_corpus.py /tmp/null_corpus || rc=1
python3 scripts/check.py /tmp/null_corpus /tmp/null_corpus/verify_out \
  ccnet_buckets curriculum_schedule auc_eval ks_test hist_equidepth \
  iqr_outliers gini_concentration group_quantiles token_budget_trim || rc=1

step "order-tie audit (presentation ORDER BY must determine row order)"
# oracle SQL is corpus-independent; reuse the sf0.01 dump for both.
# A hazard here is a query whose green hash compare is luck — two
# engines happening to break an order tie the same way (round 11:
# agg_grouping_sets, window_median).
python3 scripts/tie_audit.py /root/testdata/sf0.01 \
  target/verify_out/oracle_sql.json || rc=1
python3 scripts/tie_audit.py /tmp/null_corpus \
  target/verify_out/oracle_sql.json || rc=1

step "perfbench unit tests (pure Python; reads perfbench/, writes nothing there)"
PYTHONDONTWRITEBYTECODE=1 python3 -m unittest discover -s perfbench/tests || rc=1

step "sbt test"
sbt -batch test || rc=1

if [ "${SKIP_BENCH:-0}" != "1" ]; then
  step "bench @ sf0.1"
  # Writeback mitigation (VERDICT r12 item 2): the steps above dumped
  # gigabytes of Verify parquet; their dirty pages would otherwise be
  # written back by the kernel DURING the bench, taxing disk-touching
  # queries in sys time (round-12 measured 12-130× on affected
  # queries). Deleting the dumps drops their dirty pages without any
  # writeback at all; the sync flushes whatever else is pending.
  # Bench itself also syncs at startup (covers the driver's own
  # t2-then-bench sequence, which doesn't go through this script).
  if [ "${KEEP_DUMPS:-0}" != "1" ]; then
    rm -rf target/verify_out target/verify_out_sf01 /tmp/null_corpus
  fi
  sync
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    sbt -batch "runMain graft.Bench" | grep '"metric"' || rc=1
  if [ -f BENCH_LOCAL_LATEST.json ]; then
    cp BENCH_LOCAL_LATEST.json "BENCH_LOCAL_r${ROUND}.json"
    echo "bench snapshot -> BENCH_LOCAL_r${ROUND}.json"
  fi
fi

step "RESULT: $([ $rc -eq 0 ] && echo OK || echo FAILED)"
exit $rc
