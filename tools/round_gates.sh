#!/usr/bin/env bash
# Round gate suite — run before closing a round.  Each gate is the
# same command the judge replays; run them SOLO (no concurrent Spark
# work — bench numbers inflate under contention, the q263 lesson).
#
#   bash tools/round_gates.sh <round-number>     e.g. 12
#
# Gates:
#   1. full differential oracle gate (all registered queries, sf0.01)
#   2. pytest
#   3. physical-plan audit
#   4. batch bench at sf0.1 + spread-aware regression gate vs the
#      previous round's FULL per-query map (BENCH_FULL_r{N-1}.json)
#   5. streaming bench at sf0.1 + the SAME ratio+spread gate vs
#      BENCH_STREAMING_r{N-1}.json (r11 judge ask #5)
# and snapshots bench_out.json -> BENCH_FULL_r{N}.json plus
# bench_streaming_out.json -> BENCH_STREAMING_r{N}.json so the next
# round compares every shared query, not a tail capture.
#
# BENCH_FULL_r{N}.json must cover the round's FINAL query registry
# (r12 judge ask #5: q297-q300 landed after the snapshot and read as
# "new" in the next comparison) — so gates 4/5 must be RE-RUN after
# any post-gate query addition.  GATES selects a subset:
#
#   GATES="4 5" bash tools/round_gates.sh 13    # re-snapshot benches
set -uo pipefail
cd "$(dirname "$0")/.."
# One Spark core per CPU (the session default is local[32]) and Spark
# scratch files outside the checkout, as in the tier-1 pytest command.
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
R="${1:?usage: round_gates.sh <round-number, e.g. 12>}"
PREV=$(printf '%02d' $((10#$R - 1)))
GATES="${GATES:-1 2 3 4 5}"
RC=0

want() { case " $GATES " in *" $1 "*) return 0;; *) return 1;; esac }

if want 1; then
echo "== gate 1/5: oracle correctness (full registry, sf0.01)"
python tools/check_correctness.py --plain /root/testdata/sf0.01 || RC=1
fi

if want 2; then
echo "== gate 2/5: pytest (the tier-1 command)"
python -m pytest tests/ -q --continue-on-collection-errors \
    -p no:cacheprovider || RC=1
fi

if want 3; then
echo "== gate 3/5: plan audit"
python tools/check_plans.py || RC=1
fi

if want 4; then
echo "== gate 4/5: batch bench + regression gate"
python bench.py || RC=1
cp bench_out.json "BENCH_FULL_r${R}.json"
if ls BENCH_FULL_r${PREV}.json >/dev/null 2>&1; then
    python tools/check_bench.py bench_out.json \
        "BENCH_FULL_r${PREV}.json" || RC=1
else
    python tools/check_bench.py bench_out.json || RC=1
fi
fi

if want 5; then
echo "== gate 5/5: streaming bench + regression gate"
python tools/bench_streaming.py /root/testdata/sf0.1 \
    bench_streaming_out.json || RC=1
cp bench_streaming_out.json "BENCH_STREAMING_r${R}.json"
if ls BENCH_STREAMING_r${PREV}.json >/dev/null 2>&1; then
    python tools/check_bench.py bench_streaming_out.json \
        "BENCH_STREAMING_r${PREV}.json" || RC=1
fi
fi

echo "== round ${R} gates rc=${RC}"
exit $RC
