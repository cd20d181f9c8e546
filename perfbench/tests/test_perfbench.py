"""Smoke-scale checks of the benchmark itself: every metric BENCHMARK.json
names is printed with its unit, output checks catch a wrong golden text,
and a directory without the engine sources fails without a result."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMOKE = "0.05"  # input scale: a few hundred documents per workload

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(work: str, workload: str, trace: int, root: str = ROOT):
    return subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "7", "--seconds", "1", "--trace", str(trace),
            "--scale", SMOKE, "--work", work,
        ],
        cwd=root, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, kind: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit
        assert isinstance(got[name]["value"], (int, float))


def test_end_to_end_metrics_printed_with_units(tmp_path):
    result = _result(_run(str(tmp_path), "dedup", 0))
    _assert_metrics(result, "end_to_end")
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] > 0


def test_per_layer_metrics_printed_with_units(tmp_path):
    result = _result(_run(str(tmp_path), "extract", 1))
    _assert_metrics(result, "per_layer")
    assert result["correct"] and result["failed"] == 0
    spans = os.path.join(str(tmp_path), "trace-extract-7.json")
    assert {s["name"] for s in json.load(open(spans))} >= {"run", "job", "lm.score"}


def test_corrupted_golden_text_counts_as_failed(tmp_path):
    sys.path.insert(0, ROOT)
    from perfbench.inputs import ensure_inputs

    inp = ensure_inputs(str(tmp_path), "extract", 7, float(SMOKE))
    truth = pq.read_table(inp.truth_path).to_pydict()
    truth["text"][0] += " not extracted"
    pq.write_table(pa.table(truth), inp.truth_path)

    result = _result(_run(str(tmp_path), "extract", 0))
    _assert_metrics(result, "end_to_end")
    assert not result["correct"]
    assert 0 < result["failed"] / result["attempted"] < 0.01


@pytest.mark.parametrize("trace", [0, 1])
def test_fails_without_engine_sources(tmp_path, trace):
    bare = tmp_path / "bare"
    shutil.copytree(os.path.join(ROOT, "perfbench"), bare / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _run(str(bare / ".perfbench"), "extract", trace, root=str(bare))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
