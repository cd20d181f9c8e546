#!/usr/bin/env bash
# Full local gate: tests + oracle + perfbench runs and smoke tests + packaging.
set -euo pipefail
cd "$(dirname "$0")/.."
# tests in the tier-1 session shape: one local core per cpu, Spark scratch
# space in its own directory
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
  python -m pytest tests/ -x -q
python tools/verify_oracle.py
# perfbench exits 0 even when documents fail its checks, so gate on the
# "correct" field of the JSON object on its last line
for workload in extract dedup; do
  out="$(python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 15 --trace 0)"
  echo "$out"
  tail -n 1 <<<"$out" \
    | python3 -c 'import json, sys; sys.exit(0 if json.load(sys.stdin)["correct"] else 1)'
done
python3 -m pytest perfbench/tests -q
scripts/build_pyfiles.sh
