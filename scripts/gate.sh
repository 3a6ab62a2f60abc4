#!/usr/bin/env bash
# Round gate: everything the external driver will check, runnable locally.
#   bash scripts/gate.sh                 # full gate
#   bash scripts/gate.sh quick           # tests only
# Per VERDICT r5 ask #2: run as the LAST act of every round and commit the
# stdout as GATE_r{N}.log so the judge can verify it ran at sf0.01.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== gate start: $(date -u +%FT%TZ)  uptime: $(uptime) =="

echo "== 0/4 Spark-free manifest store, prune kernel and footer-schema tests (fail fast, seconds) =="
python -m pytest tests/test_manifest_store.py tests/test_prune_kernel.py \
  tests/test_footer_schema.py -q

echo "== 1/4 unit + integration tests (test_correctness defaults to sf0.01 since r6; FULL property tier since r13) =="
# the gate runs the FULL hypothesis example budgets; plain `pytest tests/`
# defaults to the quarter tier so an externally time-boxed verify window
# still sees a complete green run (VERDICT r12 #2b)
SPARK_GRAFT_TEST_TIER=full python -m pytest tests/ -q

if [ "${1:-}" != "quick" ]; then
  echo "== 2/4 vanilla-session driver simulation at sf0.01 (no engine configs) =="
  # Rotation gate (VERDICT r4 ask #8): a query cannot hold a first-50 slot
  # without a green vanilla-session rows+schema+hash pass — driver_sim.py
  # hash-checks exactly the first 50 queries() entries and exits non-zero
  # on any red, so an ungated rotation physically fails the gate.
  python scripts/driver_sim.py /root/testdata/sf0.01

  echo "== 3/4 bench at sf0.1 =="
  python bench.py 2>/dev/null

  echo "== 4/4 plan audit (fails on scale flags) =="
  python scripts/plan_audit.py --write 2>/dev/null | grep '^|' \
    | grep -E "CARTESIAN|ROW_PYTHON_UDF|NONSCALAR|ERROR" \
    && { echo "plan audit flagged queries above"; exit 1; } || true
fi
echo "== gate end: $(date -u +%FT%TZ)  uptime: $(uptime) =="
echo "GATE PASSED"
