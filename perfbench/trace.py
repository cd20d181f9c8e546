"""The traced run: spans around calls into each layer's public functions,
each call forced to a sink (Spark is lazy: a call that only builds a
plan does no work), and the single-process kernel probe."""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from . import probes
from .inputs import MAX_LINE_DOC_FREQ, Inputs

PROBE_DOCS = 300  # pages per kernel-probe pass
PROBE_PASSES = 5  # the probe reports the median pass


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out once at the end of the run. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def seconds(self, name: str) -> float:
        """Duration of the last finished span called ``name``."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str) -> None:
        own = self.self_seconds()
        with open(path, "w") as f:
            json.dump([dict(s, self_s=own[s["id"]]) for s in self.spans], f)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def extract_layers(spark, tr: Tracer, inp: Inputs, scratch: str) -> dict:
    """sources.readers, plans.extract and plans.runner on an extract input."""
    from comic_text_detector_spark.plans.extract import extract_fused
    from comic_text_detector_spark.plans.runner import run_extract
    from comic_text_detector_spark.sources.readers import read_documents

    cores = spark.sparkContext.defaultParallelism
    docs = read_documents(spark, inp.docs_path)
    with tr.span("sources.scan"):
        _noop(docs)
    with tr.span("extract.boundary"):
        _noop(
            docs.select("url", "html").mapInArrow(
                probes.identity_batches, "url string, html binary"
            )
        )
    with tr.span("extract.fused"):
        _noop(extract_fused(docs))
    out = _fresh(os.path.join(scratch, "run_extract"))
    with tr.span("runner.run_extract"):
        summary = run_extract(spark, docs, out)
    staged = pq.ParquetDataset(os.path.join(out, "staging")).read(columns=["url"])
    wall_ms = sorted(
        r["wall_ms"]
        for r in pq.read_table(os.path.join(out, "metrics"), columns=["wall_ms"]).to_pylist()
    )
    scan_s = tr.seconds("sources.scan")
    return {
        "sources.scan_s": scan_s,
        "sources.input_bytes": probes.dir_bytes(inp.docs_path),
        "extract.boundary_s": tr.seconds("extract.boundary") - scan_s,
        "extract.fused_s": tr.seconds("extract.fused"),
        "runner.staging_s": summary["staging_s"],
        "runner.chunks_s": summary["chunks_s"],
        "runner.asof_dropped": inp.docs - staged.num_rows,
        "runner.staging_bytes": probes.dir_bytes(os.path.join(out, "staging")),
        "runner.output_bytes": probes.dir_bytes(os.path.join(out, "extracted")),
        "runner.kernel_share": sum(wall_ms) / 1000 / (summary["chunks_s"] * cores),
        "runner.partition_skew": wall_ms[-1] / max(statistics.median(wall_ms), 1),
    }


def dedup_layers(spark, tr: Tracer, inp: Inputs, scratch: str) -> dict:
    """operators.dedup and operators.graph, in the dedup job's order."""
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.dedup import (
        exact_dedup_survivors,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from comic_text_detector_spark.operators.graph import connected_components

    d = _fresh(os.path.join(scratch, "dedup"))
    docs = spark.read.parquet(inp.docs_path).select("url", "text")
    with tr.span("dedup.exact"):
        exact_dedup_survivors(docs, "text", "url").write.parquet(f"{d}/exact")
    exact = spark.read.parquet(f"{d}/exact")
    with tr.span("dedup.minhash"):
        minhash_lsh_pairs(exact, "url", "text").write.parquet(f"{d}/cand")
    spark.catalog.clearCache()  # bucket_pairs leaves its frame persisted
    cand = spark.read.parquet(f"{d}/cand")
    with tr.span("dedup.verify"):
        ngram_jaccard_pairs(cand, exact, "url", "text").filter(
            F.col("jaccard") >= 0.8
        ).write.parquet(f"{d}/pairs")
    pairs = spark.read.parquet(f"{d}/pairs")
    with tr.span("graph.cc"):
        connected_components(pairs).write.parquet(f"{d}/cc")
    n_cand = cand.count()
    cc = spark.read.parquet(f"{d}/cc")
    return {
        "dedup.exact_s": tr.seconds("dedup.exact"),
        "dedup.minhash_s": tr.seconds("dedup.minhash"),
        "dedup.candidates": n_cand,
        "dedup.verify_s": tr.seconds("dedup.verify"),
        "dedup.precision": pairs.count() / max(n_cand, 1),
        "graph.cc_s": tr.seconds("graph.cc"),
        "graph.components": cc.select("cluster_rep").distinct().count(),
    }


def curate_layers(spark, tr: Tracer, inp: Inputs, scratch: str) -> dict:
    """operators.curation and operators.lm, in the curate job's order."""
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.curation import (
        contaminated_docs,
        cut_spans,
        line_freq_dedup,
        quality_logit,
        substring_dup_spans,
    )
    from comic_text_detector_spark.operators.lm import lm_score, train_bigram_lm

    d = _fresh(os.path.join(scratch, "curate"))
    docs = spark.read.parquet(inp.docs_path)
    with tr.span("curation.decontaminate"):
        contaminated_docs(
            docs, spark.read.parquet(inp.path("bench")), "url", "text"
        ).filter(F.col("n_shared") > 0).write.parquet(f"{d}/leaks")
    with tr.span("curation.line_dedup"):
        line_freq_dedup(
            docs, "url", "text", max_doc_freq=MAX_LINE_DOC_FREQ
        ).write.parquet(f"{d}/lines")
    lines = spark.read.parquet(f"{d}/lines")
    with tr.span("curation.dup_spans"):
        substring_dup_spans(lines, "url", "text").write.parquet(f"{d}/spans")
    with tr.span("curation.cut_spans"):
        cut_spans(lines, spark.read.parquet(f"{d}/spans"), "url", "text").write.parquet(
            f"{d}/cut"
        )
    cut = spark.read.parquet(f"{d}/cut").withColumnRenamed("text_cut", "text")
    with tr.span("curation.logit"):
        _noop(quality_logit(cut, "url", "text"))
    ref = spark.read.parquet(inp.path("ref")).withColumn(
        "_lm_id", F.monotonically_increasing_id()
    )
    with tr.span("lm.train"):
        uni, big = train_bigram_lm(ref, "_lm_id", "text")
        uni.write.parquet(f"{d}/uni")
        big.write.parquet(f"{d}/big")
    with tr.span("lm.score"):
        _noop(
            lm_score(
                cut, spark.read.parquet(f"{d}/uni"), spark.read.parquet(f"{d}/big"),
                "url", "text",
            )
        )
    chars_cut = pq.read_table(f"{d}/cut", columns=["n_chars_cut"]).column(0)
    return {
        "curation.decontaminate_s": tr.seconds("curation.decontaminate"),
        "curation.contaminated": pq.read_table(f"{d}/leaks").num_rows,
        "curation.line_dedup_s": tr.seconds("curation.line_dedup"),
        "curation.dup_spans_s": tr.seconds("curation.dup_spans"),
        "curation.cut_spans_s": tr.seconds("curation.cut_spans"),
        "curation.chars_cut": sum(v or 0 for v in chars_cut.to_pylist()),
        "curation.logit_s": tr.seconds("curation.logit"),
        "lm.train_s": tr.seconds("lm.train"),
        "lm.score_s": tr.seconds("lm.score"),
    }


def kernel_probe(tr: Tracer, inp: Inputs, seed: int) -> dict:
    """functions.html.tokenize and plans.extract.extract_document in this
    process, on a fixed seeded sample of the input's pages: the per-page
    kernel cost without Spark scheduling around it."""
    from comic_text_detector_spark.functions.html import tokenize
    from comic_text_detector_spark.plans.extract import extract_document

    html = pq.ParquetDataset(inp.docs_path).read(columns=["html"]).column(0).to_pylist()
    pages = random.Random(seed).sample(html, min(PROBE_DOCS, len(html)))
    kb = sum(len(p) for p in pages) / 1024
    tok, ext = [], []
    with tr.span("probe"):
        for _ in range(PROBE_PASSES):
            t0 = time.perf_counter()
            nodes = sum(len(tokenize(p)) for p in pages)
            t1 = time.perf_counter()
            chars = sum(len(extract_document(p)[0]) for p in pages)
            t2 = time.perf_counter()
            tok.append(t1 - t0)
            ext.append(t2 - t1)
    t_tok, t_ext = statistics.median(tok), statistics.median(ext)
    return {
        "html.tokenize_us_per_doc": t_tok / len(pages) * 1e6,
        "html.tokenize_us_per_kb": t_tok / kb * 1e6,
        "html.nodes_per_doc": nodes / len(pages),
        "extract.kernel_us_per_doc": t_ext / len(pages) * 1e6,
        "extract.text_yield": chars / (kb * 1024),
    }
