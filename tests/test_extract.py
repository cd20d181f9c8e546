"""Golden-fixture byte-identity tests (the primary north_rule assertion).

Mirrors the reference's fixture-roundtrip validation pattern
(model2annotations writes goldens, traverse_by_dict re-reads them,
reference inference.py:19-70, :180-200) — here the goldens are known by
construction from the seeded generator.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from comic_text_detector_spark.fixtures import corpus_df, gen_documents, wrap_html_expr
from comic_text_detector_spark.operators.dedup import asof_dedup
from comic_text_detector_spark.plans.extract import (
    extract_document,
    extract_fused,
    extract_relational,
)

ROWS = gen_documents(150)


def test_kernel_byte_identity_and_block_counts():
    for r in ROWS:
        text, spans = extract_document(r["html"])
        assert text == r["text"], r["url"]
        assert len(spans) == r["n_blocks"], r["url"]


def test_kernel_span_consistency():
    """Slicing extracted text by spans and joining with ' ' reproduces it."""
    for r in ROWS:
        text, spans = extract_document(r["html"])
        assert " ".join(text[s:e] for _, s, e in spans) == text
        # spans are ordered, non-overlapping, within bounds
        prev_end = -1
        for bid, s, e in spans:
            assert 0 <= s < e <= len(text)
            assert s > prev_end
            prev_end = e


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_df(spark, 60).cache()


def test_fused_matches_golden_per_capture(spark, corpus):
    got = extract_fused(corpus, num_partitions=4).withColumnRenamed("text", "etext")
    joined = got.join(corpus.select("url", "text").distinct(), "url")
    # non-dup urls: extracted text equals golden byte-identically
    bad = joined.filter(
        ~F.col("url").startswith("https://dup-") & (F.col("etext") != F.col("text"))
    ).count()
    assert bad == 0


def test_asof_dedup_latest_capture_wins(spark, corpus):
    deduped = asof_dedup(corpus)
    assert deduped.count() == corpus.select("url").distinct().count()
    dup = deduped.filter(F.col("url") == "https://dup-host.example/a").collect()
    assert len(dup) == 1
    assert dup[0].text.startswith("capture version 2")
    got = extract_fused(deduped, num_partitions=4)
    bad = (
        got.withColumnRenamed("text", "etext")
        .join(deduped.select("url", "text"), "url")
        .filter(F.col("etext") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_relational_plan_equals_fused_plan(spark, corpus):
    docs = asof_dedup(corpus)
    fused = extract_fused(docs, num_partitions=4)
    rel = extract_relational(docs)
    diff = (
        fused.alias("a")
        .join(rel.alias("b"), "url")
        .filter(
            (F.col("a.text") != F.col("b.text"))
            | (F.col("a.spans").cast("string") != F.col("b.spans").cast("string"))
        )
        .count()
    )
    assert diff == 0
    assert fused.count() == rel.count() == docs.count()


def test_driver_documents_roundtrip(spark):
    dd = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for two_p in (False, True):
        wrapped = dd.select(
            F.col("doc_id").cast("string").alias("url"),
            wrap_html_expr(F.col("text"), two_paragraphs=two_p).alias("html"),
            F.col("text").alias("golden"),
        )
        got = extract_fused(wrapped.select("url", "html"))
        bad = (
            got.join(wrapped.select("url", "golden"), "url")
            .filter(F.col("text") != F.col("golden"))
            .count()
        )
        assert bad == 0


def test_null_html_extracts_empty(spark):
    """Nullable html:binary cells (real crawl tables) extract as '' rows,
    never a task failure."""
    from comic_text_detector_spark.plans.extract import extract_fused

    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<p>real content here</p>")],
        "url string, html binary",
    )
    out = {r.url: r.text for r in extract_fused(df).collect()}
    assert out["u1"] == ""
    assert "real content" in out["u2"]


def test_extract_batches_slicewise_memory_bound():
    """The fused kernel converts html Arrow->Python slice-wise: peak
    Python-side allocation stays near slice-size x page-size, not
    batch-size x page-size, and output is unchanged for outlier rows."""
    import tracemalloc

    import pyarrow as pa

    from comic_text_detector_spark.fixtures import _shell
    from comic_text_detector_spark.plans.extract import _extract_batches

    big_text = ("lorem ipsum dolor sit amet " * 40_000).strip()  # ~1 MB
    htmls = [_shell(i % 7, [big_text]).encode() for i in range(40)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"u{i}" for i in range(40)]), pa.array(htmls)],
        names=["url", "html"],
    )
    tracemalloc.start()
    out = list(_extract_batches(iter([batch])))
    _, peak_sliced = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert sum(b.num_rows for b in out) == 40  # sliced into several batches
    assert len(out) > 1
    assert out[0].column("text")[0].as_py() == big_text
    all_urls = [u for b in out for u in b.column("url").to_pylist()]
    assert all_urls == [f"u{i}" for i in range(40)]

    # baseline: the pre-fix whole-batch materialization (outputs dominate
    # either way and are the batch contract; the fix removes the full
    # input-side copy, so the sliced peak must sit at least ~most of the
    # html volume below the whole-batch peak)
    from comic_text_detector_spark.plans.extract import extract_document

    tracemalloc.start()
    all_htmls = batch.column("html").to_pylist()
    texts = [extract_document(h)[0] for h in all_htmls]
    _, peak_full = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    del all_htmls, texts
    total_html = sum(len(h) for h in htmls)
    assert peak_sliced < peak_full * 0.6, (peak_sliced, peak_full)
    assert peak_sliced < total_html, (peak_sliced, total_html)


def test_entity_tail_decoding():
    # the high-frequency named-entity tail decodes; unknown names pass
    # through verbatim (never guessed)
    from comic_text_detector_spark.functions.html import unescape

    assert unescape("a&mdash;b&hellip;") == "a—b…"
    assert unescape("&copy; 2026 &middot; caf&eacute;") == "© 2026 · café"
    assert unescape("&euro;5 &frac12; &sup2;") == "€5 ½ ²"
    assert unescape("&rsquo;&ldquo;&rdquo;") == "’“”"
    assert unescape("&notanentity; &x;") == "&notanentity; &x;"
    assert unescape("&#x2014; &#8212;") == "— —"


def test_annotate_job_sinks_agree(spark, tmp_path, capsys):
    """jobs/annotate_job.py fans one extraction out to three sinks: the
    JSON block records and the label lines carry exactly the spans of
    extracted/, one block record per url, and the summary's ``docs`` is
    the rows of extracted/ (one per url after the as-of pick)."""
    import json

    from jobs import annotate_job

    src, out = str(tmp_path / "docs"), str(tmp_path / "out")
    corpus = corpus_df(spark, 20)
    corpus.write.parquet(src)
    capsys.readouterr()
    assert annotate_job.main(["--input", src, "--output", out], spark=spark) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    extracted = spark.read.parquet(f"{out}/extracted").collect()
    spans = sorted(
        (r.url, s.block_id, s.char_start, s.char_end)
        for r in extracted
        for s in r.spans
    )
    records = spark.read.json(f"{out}/blocks_json").collect()
    blocks = sorted(
        (r.url, b["block_id"], b["char_start"], b["char_end"])
        for r in records
        for b in json.loads(r.blocks_json)
    )
    labels = sorted(
        (url, int(bid), int(start), int(end))
        for url, bid, start, end in (
            r.value.split(" ") for r in spark.read.text(f"{out}/labels").collect()
        )
    )
    assert spans and blocks == spans == labels
    assert sorted(r.url for r in records) == sorted(r.url for r in extracted)
    n_urls = corpus.select("url").distinct().count()
    assert summary == {"docs": len(extracted), "output": out}
    assert len(extracted) == n_urls
    assert not spark.sparkContext._jsc.sc().isStopped()
