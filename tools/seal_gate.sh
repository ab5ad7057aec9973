#!/usr/bin/env bash
# Seal gate (round 16, VERDICT r15 #2): a round may only seal when
#   1. the FULL inventory verifies green against the DuckDB oracle,
#   2. the FULL plan audit runs with zero CartesianProduct and zero
#      ERROR rows, and its table is committed as PLAN_AUDIT_<round>.txt
#      alongside the correctness/bench artifacts.
# Usage: tools/seal_gate.sh r16
set -euo pipefail
ROUND=${1:?usage: seal_gate.sh <round, e.g. r16>}
cd "$(dirname "$0")/.."

echo "== seal gate 1/2: Verify + oracle (sf0.01, full inventory) =="
rm -rf /tmp/seal_verify
# fixtures are keyed by the source parquet, not by the code that built them
rm -rf /tmp/graft_fixtures
SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/seal_verify" \
  > /tmp/seal_verify.log 2>&1 \
  || { tail -20 /tmp/seal_verify.log; echo "SEAL GATE FAIL: Verify errored"; exit 1; }
python3 tools/oracle_check.py /tmp/seal_verify /root/testdata/sf0.01 \
  > /tmp/seal_oracle.log 2>&1 || true
tail -3 /tmp/seal_oracle.log
grep -q "^0 failures$" /tmp/seal_oracle.log \
  || { grep -v "\[OK\]" /tmp/seal_oracle.log | head -20; echo "SEAL GATE FAIL: oracle failures"; exit 1; }

echo "== seal gate 2/2: PlanAudit (full inventory) =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.tools.PlanAudit" 2>/dev/null \
  | sed 's/^\[info\] //' \
  | grep -E '^(query +|q[0-9a-z_]+ )' > "PLAN_AUDIT_${ROUND}.txt" \
  || { echo "SEAL GATE FAIL: PlanAudit produced no table"; exit 1; }
ROWS=$(awk '/^q[0-9a-z_]+ / && $1 != "query"' "PLAN_AUDIT_${ROUND}.txt" | wc -l)
echo "audited $ROWS plans -> PLAN_AUDIT_${ROUND}.txt"
if grep -E '^q[0-9a-z_]+ +ERROR' "PLAN_AUDIT_${ROUND}.txt"; then
  echo "SEAL GATE FAIL: plan audit ERROR rows above"; exit 1
fi
# column 6 of a data row is the CartesianProduct count
BADCART=$(awk '/^q[0-9a-z_]+ / && $1 != "query" { if ($6+0 > 0) print $1, $6 }' "PLAN_AUDIT_${ROUND}.txt")
if [ -n "$BADCART" ]; then
  echo "SEAL GATE FAIL: cartesian products:"; echo "$BADCART"; exit 1
fi
echo "SEAL GATE PASS (${ROUND}): oracle 0 failures, $ROWS plans, cart=0 everywhere"
