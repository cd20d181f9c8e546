#!/usr/bin/env bash
# Full local gate: tests + oracle + bench + perfbench smoke + packaging smoke.
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/ -x -q
python tools/verify_oracle.py
python bench.py
python3 -m pytest perfbench/tests -q
scripts/build_pyfiles.sh
