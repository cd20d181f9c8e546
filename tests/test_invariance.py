"""Determinism/invariance: results must not depend on physical layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from comic_text_detector_spark.fixtures import corpus_df
from comic_text_detector_spark.operators.dedup import asof_dedup
from comic_text_detector_spark.plans.extract import extract_fused
from comic_text_detector_spark.plans.runner import read_extracted, run_extract


def test_extract_invariant_to_partitioning(spark):
    docs = asof_dedup(corpus_df(spark, 40)).cache()
    a = {(r.url, r.text) for r in extract_fused(docs, num_partitions=2).collect()}
    b = {(r.url, r.text) for r in extract_fused(docs, num_partitions=16).collect()}
    c = {
        (r.url, r.text)
        for r in extract_fused(docs.repartition(7), num_partitions=None).collect()
    }
    assert a == b == c


def test_runner_salted_mode_end_to_end(spark, tmp_path):
    corpus = corpus_df(spark, 60)
    expected = asof_dedup(corpus)
    out = str(tmp_path / "salted")
    run_extract(
        spark, corpus, out, num_partitions=8, num_chunks=2,
        salt_hot_hosts=True, hot_row_threshold=5,
    )
    got = read_extracted(spark, out)
    assert got.count() == expected.count()
    bad = (
        got.withColumnRenamed("text", "etext")
        .join(expected.select("url", "text"), "url")
        .filter(F.col("etext") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_session_ops_invariant_to_partitioning(spark):
    """Round-5 additions must not depend on physical layout: blocklist
    verdicts, bitext pairs, sentence dedup, CMS estimates, trustrank."""
    docs = spark.createDataFrame(
        [
            (i, f"https://s{i % 3}.d{i % 5}.com/{l}/p{i % 11}", l,
             f"Common intro line. Fact {i} here. Shared tail s{i % 2}.")
            for i, l in ((j, ["en", "fr", "de"][j % 3]) for j in range(60))
        ],
        "doc_id long, url string, lang string, text string",
    )
    bl = spark.createDataFrame(
        [("d1.com", "domain", "x"), ("s2.d2.com", "host", "y")],
        "pattern string, kind string, category string",
    )

    def run_all(d):
        from comic_text_detector_spark.operators.curation import (
            bitext_url_pairs,
            blocklist_filter,
            sentence_freq_dedup,
        )
        from comic_text_detector_spark.operators.graph import trustrank
        from comic_text_detector_spark.operators.stats import (
            count_min_estimate,
            count_min_sketch,
        )

        out = []
        out.append(sorted(map(tuple, blocklist_filter(d, bl).select(
            "doc_id", "block_category", "block_kind").collect())))
        out.append(sorted(map(tuple, bitext_url_pairs(d).collect())))
        out.append(sorted(map(tuple, sentence_freq_dedup(d).collect())))
        sk = count_min_sketch(d, "url", depth=3, width=128)
        out.append(sorted(map(tuple, count_min_estimate(
            sk, d, "url", depth=3, width=128).collect())))
        edges = d.select(
            F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
            .alias("src"),
            F.concat(F.lit("h"), ((F.col("doc_id") * 3 + 1) % 7)
                     .cast("string")).alias("dst"),
        )
        seeds = spark.createDataFrame([("h1",)], "node string")
        out.append(sorted(map(tuple, trustrank(edges, seeds, n_iter=3)
                              .collect())))
        return out

    assert run_all(docs) == run_all(docs.repartition(13))
