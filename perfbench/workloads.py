"""One job call per workload, and the checks of outputs against the truth
generated with the inputs."""

from __future__ import annotations

import contextlib
import io
import json
import os
from collections import Counter

import pyarrow.parquet as pq

from .inputs import BOILER_LINE, PASSAGE, Inputs

def run_job(spark, inp: Inputs, out: str) -> dict:
    """One call of the workload's job into the fresh directory ``out``."""
    if inp.workload == "extract":
        from comic_text_detector_spark.plans.runner import run_extract
        from comic_text_detector_spark.sources.readers import read_documents

        # the extract_job defaults: 64 partitions, 4 chunks, as-of dedup on
        return run_extract(spark, read_documents(spark, inp.docs_path), out)
    from jobs import dedup_job

    buf = io.StringIO()  # the job prints its summary; keep stdout ours
    with contextlib.redirect_stdout(buf):
        rc = dedup_job.main(["--input", inp.docs_path, "--output", out], spark=spark)
    if rc != 0:
        raise RuntimeError(f"dedup job exited with {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _read(path: str, columns: list[str]) -> list[dict]:
    if not os.path.isdir(path):
        return []
    return pq.read_table(path, columns=columns).to_pylist()


def _bad_rows(got: list[dict], want: dict[str, object], key: str) -> set[str]:
    """Urls whose output is missing, repeated, unexpected or differs in
    ``key`` from ``want`` (None in ``want`` means the url must be absent)."""
    seen = Counter(r["url"] for r in got)
    bad = {u for u, c in seen.items() if c > 1 or want.get(u) is None}
    bad |= {u for u, v in want.items() if v is not None and u not in seen}
    for r in got:
        if want.get(r["url"]) is not None and r[key] != want[r["url"]]:
            bad.add(r["url"])
    return bad


def check(inp: Inputs, out: str) -> int:
    """Documents whose job output is wrong or missing."""
    truth = pq.read_table(inp.truth_path).to_pylist()
    if inp.workload == "extract":
        # byte-identical text of each url's latest capture
        want = {r["url"]: r["text"] for r in truth}
        got = _read(os.path.join(out, "extracted"), ["url", "text"])
        return len(_bad_rows(got, want, "text"))
    # dedup: each planted cluster collapses to its min url, and no two
    # planted clusters (or unrelated docs) share a component
    members: dict[int, list[str]] = {}
    for r in truth:
        members.setdefault(r["cluster"], []).append(r["url"])
    rep = {u: min(us) if c >= 0 else u for c, us in members.items() for u in us}
    want = {u: (True if u == r else None) for u, r in rep.items()}
    survivors = [
        dict(r, keep=True) for r in _read(os.path.join(out, "survivors"), ["url"])
    ]
    bad = _bad_rows(survivors, want, "keep")
    for r in _read(os.path.join(out, "clusters"), ["id", "cluster_rep"]):
        if rep.get(r["id"]) != r["cluster_rep"]:
            bad.add(r["id"])
    return len(bad)


def check_curation(inp: Inputs, out: str) -> int:
    """Documents the traced curation layers got wrong: decontamination must
    flag exactly the planted leaks, line dedup must remove the boilerplate
    line from every doc, and span dedup must cut the planted passage from
    every doc carrying it and nothing from docs without a plant."""
    kind = {r["url"]: r["kind"] for r in pq.read_table(inp.truth_path).to_pylist()}
    leaks = {r["id"] for r in _read(os.path.join(out, "leaks"), ["id"])}
    bad = leaks ^ {u for u, k in kind.items() if k == "leak"}
    for r in _read(os.path.join(out, "lines"), ["url", "text"]):
        if BOILER_LINE in (r["text"] or ""):
            bad.add(r["url"])
    for r in _read(os.path.join(out, "cut"), ["url", "n_chars_cut"]):
        k, cut = kind.get(r["url"]), r["n_chars_cut"] or 0
        if (k == "passage" and cut < len(PASSAGE)) or (k == "clean" and cut):
            bad.add(r["url"])
    return len(bad)
