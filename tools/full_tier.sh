#!/usr/bin/env bash
# Round-close gate: the whole test suite (default and slow tiers), then
# the benchmark's own tests, under the Tier-1 environment. Run from the
# repository root:
#
#   bash tools/full_tier.sh
#
# Exits non-zero when either suite fails; prints each suite's wall time.
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local

t0=$SECONDS
python -m pytest tests/ -q -m "slow or not slow" --continue-on-collection-errors -p no:cacheprovider
echo "full_tier: tests/ passed in $((SECONDS - t0)) s"

t1=$SECONDS
python -m pytest perfbench -q -p no:cacheprovider
echo "full_tier: perfbench passed in $((SECONDS - t1)) s (total $((SECONDS - t0)) s)"
