#!/bin/bash
# Round-close checklist, mechanized (the one command to run LAST,
# after the official bench and the final feature commit):
#   1. registry invariants (README counts, oracle subset, and
#      _DRIVER_ORDER covering the registry in the accessors' order)
#   2. ENGINE_STATUS regenerated from the newest artifacts (fails the
#      run if that leaves a dirty diff — commit it)
#   3. bench drift adjudication: HEAD's BENCH_SPREAD.json vs the
#      working tree's (exit 1 = a wall+cpu regression candidate needs
#      adjudicating in BENCH_NOTES before the round ends)
#   4. plan audit (r15): every registered query's executed plan must
#      be free of BatchEvalPython / raw CartesianProduct (~2 min;
#      regenerates PLAN_AUDIT.md — commit it if it changed)
#   5. leak self-check over tracked text (provider/internal terms)
set -e
cd "$(dirname "$0")/.."
python -m pytest tests/test_registry.py -q
python scripts/make_engine_status.py > /dev/null
if ! git diff --quiet ENGINE_STATUS.md; then
  echo "ENGINE_STATUS.md regenerated with changes — commit it" >&2
  exit 1
fi
if ! git diff --quiet BENCH_SPREAD.json; then
  python scripts/bench_drift.py || {
    echo "bench_drift flagged a regression candidate — adjudicate in BENCH_NOTES" >&2
    exit 1
  }
fi
python scripts/plan_audit.py > /dev/null || {
  echo "plan audit flagged a forbidden plan shape — see PLAN_AUDIT.md" >&2
  exit 1
}
if git grep -iIl -e anthropic -e openai -e claude -- \
    ':!VERDICT.md' ':!ADVICE.md' ':!scripts/round_close.sh'; then
  echo "leak self-check hit (above files) — scrub before close" >&2
  exit 1
fi
echo "round close checks green"
