#!/usr/bin/env bash
# Round-close sequence (round-11 VERDICT item 2: the cert-debt regen was
# forgotten at two closes running the steps by hand — this script IS the
# close checklist). Run on an IDLE host: PLANS.md is load-sensitive (AQE
# materializes an extra exchange in graph_bfs_layers under CPU
# contention) and bench walls inflate ~25% under a concurrent pytest.
#
# Usage: scripts/close_round.sh [--no-bench]
#   1. Regenerate OPERATORS.md (registry inventory)
#   2. Regenerate PLANS.md (plan audit)
#   3. Regenerate the cert-debt tables in STATUS.md + README.md
#   4. Full test suite
#   5. Cold-discard bench run, then the full-tier bench
#      (SPARK_GRAFT_BENCH_FULL=1) that writes the committed BENCH_DETAIL.json
#
# After it exits green: update the STATUS.md round section by hand,
# verify the driver window (`_ordered_names()[:50]` arithmetic), commit.
set -euo pipefail
cd "$(dirname "$0")/.."

python scripts/gen_operators_md.py
python scripts/gen_plans_audit.py
python scripts/gen_cert_debt.py

python -m pytest tests/ -x -q

if [[ "${1:-}" != "--no-bench" ]]; then
  # First run after boot reads cold page cache — discard it.
  python bench.py > /dev/null 2>&1 || true
  SPARK_GRAFT_BENCH_FULL=1 python bench.py
fi
