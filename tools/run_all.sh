#!/usr/bin/env bash
# Full local gate: tests + oracle + bench + perfbench smoke + packaging smoke.
set -euo pipefail
cd "$(dirname "$0")/.."
# tests in the tier-1 session shape: one local core per cpu, Spark scratch
# space in its own directory
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
  python -m pytest tests/ -x -q
python tools/verify_oracle.py
python bench.py
python3 -m pytest perfbench/tests -q
scripts/build_pyfiles.sh
