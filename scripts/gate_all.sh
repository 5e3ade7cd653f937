#!/usr/bin/env bash
# The FULL per-round gate matrix, as one command — so the axes that keep
# catching real bugs survive session turnover:
#   1. sbt test                       (unit/spec suites)
#   2. oracle replay at sf0.001       (tiny scale: interpolated quantiles
#                                      land ON data points — caught q179's
#                                      ulp trim-band flip after 9 green
#                                      rounds at sf0.01)
#   3. oracle replay at sf0.01        (the driver's gate scale)
#   4. oracle replay at sf0.1         (10x: banking contracts under volume)
#   5. oracle replay at sf0.01 with SPARK_GRAFT_CPUS=3
#                                     (odd parallelism: no result may
#                                      depend on partition count or merge
#                                      order — the whole-suite form of the
#                                      order-free-banking claim)
#   6. perfbench self-test, then the ingest and dashboard workloads at
#      seed 1                         (processBatch + metricData checked
#                                      against the benchmark's independent
#                                      model: each must report
#                                      "correct": true and "failed": 0)
#
# Usage: scripts/gate_all.sh [fast]
#   fast  skips sbt test (when it already ran this session) and runs only
#         the three oracle scales, the CPUS=3 axis and perfbench.
#
# Each oracle axis prints its own "N ok, 0 failed" line, each perfbench
# workload its "correct"/"failed" pair; the script exits nonzero on the
# first failing axis. Budget ~40 min for the full matrix.
set -euo pipefail
cd "$(dirname "$0")/.."

MODE="${1:-full}"

if [ "$MODE" != "fast" ]; then
  echo "=== gate 1/6: sbt test ==="
  sbt -batch test
fi

for SF in sf0.001 sf0.01 sf0.1; do
  echo "=== gate: oracle replay @ $SF ==="
  sbt -batch "runMain graft.Verify /root/testdata/$SF /tmp/graft_gate_$SF"
  python3 scripts/check_oracle.py "/root/testdata/$SF" "/tmp/graft_gate_$SF"
done

echo "=== gate: oracle replay @ sf0.01, SPARK_GRAFT_CPUS=3 ==="
SPARK_GRAFT_CPUS=3 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_gate_cpus3"
python3 scripts/check_oracle.py /root/testdata/sf0.01 /tmp/graft_gate_cpus3

echo "=== gate: perfbench self-test ==="
python3 perfbench/run.py --selftest

for W in ingest dashboard; do
  echo "=== gate: perfbench $W @ seed 1 ==="
  python3 perfbench/run.py --workload "$W" --seed 1 | tail -n 1 | python3 -c '
import json, sys
r = json.loads(sys.stdin.read())
print("correct: %s, failed: %s" % (r["correct"], r["failed"]))
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)'
done

echo "=== gate matrix: ALL AXES GREEN ==="
