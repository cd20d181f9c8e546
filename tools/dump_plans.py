"""Regenerate PLANS.md: physical-plan audits of the headline queries.

Keeps each plan's operator tree plus the load-bearing detail lines
(ReadSchema / PushedFilters / Exchange / Join / Aggregate modes) and elides
the rest — the full output of the 64-aggregate minhash plan alone is ~50 KB.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

KEY = re.compile(
    r"ReadSchema|PushedFilters|Location|hashpartitioning|REPARTITION|"
    r"BroadcastHashJoin|SortMergeJoin|BuildRight|BuildLeft|MapInArrow|"
    r"ArrowEvalPython|FlatMapGroupsInPandas|Keys|Functions \[|partial|"
    r"InMemoryTableScan|InMemoryRelation|PartitionFilters"
)


def trim(plan: str, max_tree_lines: int = 30, max_detail: int = 24) -> str:
    lines = plan.strip().splitlines()
    split = next(
        (i for i, ln in enumerate(lines) if ln.startswith("(1)")), len(lines)
    )
    tree = lines[:split][:max_tree_lines]
    detail = [ln for ln in lines[split:] if KEY.search(ln)][:max_detail]
    return "\n".join(tree + ["", "-- key details --"] + detail)


def _bucketed_lookup(spark, wrapped):
    import shutil
    import tempfile

    from comic_text_detector_spark.sources.sinks import (
        read_url,
        write_extracted_table,
    )

    tbl = tempfile.mkdtemp(prefix="ctd_plans_tbl_")
    shutil.rmtree(tbl)
    write_extracted_table(wrapped.limit(200), tbl, buckets=16)
    target = wrapped.select("url").first().url
    return read_url(spark, tbl, target)


def _kmeans_training_frame(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.curation import hash_uniform

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    ).filter(hash_uniform(F.col("id"), "kmeans") < F.lit(0.1))


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from comic_text_detector_spark.fixtures import wrap_html_expr
    from comic_text_detector_spark.plans.extract import extract_fused
    from comic_text_detector_spark.session import get_spark

    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    fmt = lambda df: df._jdf.queryExecution().explainString(  # noqa: E731
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    wrapped = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        wrap_html_expr(F.col("text")).alias("html"),
    )
    sections = [
        (
            "Flagship: extract_fused",
            extract_fused(wrapped, 64),
            "ONE exchange (explicit xxhash64(url) repartition), column-pruned "
            "scan (url, html only), single MapInArrow stage. Nothing "
            "node-granular ever shuffles.",
        ),
        (
            "tpch_q1",
            e._q_tpch_q1(spark, sf),
            "Filter pushed to the parquet scan (PushedFilters on l_shipdate), "
            "pruned ReadSchema, map-side partial HashAggregate before the "
            "exchange, WholeStageCodegen spans scan→partial-agg.",
        ),
        (
            "j5_revenue_by_segment",
            e._q_j5_revenue_by_segment(spark, sf),
            "Small dimension broadcast (BroadcastHashJoin BuildRight) — zero "
            "shuffle of the fact side before partial aggregation.",
        ),
        (
            "minhash_lsh_pairs (signature stage)",
            e._q_minhash_lsh_pairs(spark, sf).limit(1),
            "Explode → one xxhash64 per shingle → 64 min() aggregates with "
            "map-side partial aggregation: the shuffle carries one row per "
            "doc, not one per shingle. (A naive array-expression form is 64x "
            "slower: Catalyst does not CSE nested lambda trees.) Pair "
            "emission is bucket_pairs: ONE Window over one exchange on the "
            "band key computes each row's bucket size, anchor, predecessor "
            "and next members, and one Generate explodes its pairs (the "
            "dropDuplicates aggregate above it folds away under this "
            "audit's limit(1)) — no union, no cached frame, and the "
            "signature pipeline appears ONCE, where the round-1 self-join "
            "ran it twice. Hot buckets emit O(k) anchor + predecessor "
            "rows, never C(k,2).",
        ),
        (
            "w3_sessionize_events",
            e._q_w3_sessionize_events(spark, sf),
            "One exchange on the window partition key; lag + running sum + "
            "final agg all reuse the same partitioning (no second shuffle).",
        ),
        (
            "bucketed table point lookup (read_url)",
            _bucketed_lookup(spark, wrapped),
            "Iceberg-style layout: write_extracted_table partitions by "
            "url_bucket = pmod(xxhash64(url), N); read_url filters on the "
            "LITERAL bucket value, so the scan shows PartitionFilters on "
            "url_bucket and reads one directory — a 1/N-th scan at any "
            "table size, plus the url predicate pushed to parquet.",
        ),
        (
            "pipeline_e2e",
            e._q_pipeline_e2e(spark, sf),
            "Full training-data pipeline in one plan: the Arrow extraction "
            "stage feeds JVM-side quality/lang/token exprs and the dedup "
            "aggregate; the only exchange is the final groupBy key.",
        ),
        (
            "line_freq_dedup (boilerplate join-back)",
            e._q_line_freq_dedup(spark, sf),
            "Round-3 hardening: the join-back's build side is the VIOLATOR "
            "lines only (df > max_doc_freq) and broadcast — "
            "BroadcastHashJoin, so the Zipf-skewed line-hash key "
            "('subscribe now' in every doc) can never skew a sort-merge "
            "join; the probe side streams with no exchange of its own.",
        ),
        (
            "word_doc_freq (vocabulary join-back)",
            e._q_word_doc_freq(spark, sf),
            "Same hardening: the vocabulary-sized frequency table "
            "broadcasts (BroadcastHashJoin) — the word key is Zipf-skewed "
            "('the' joins once per document) and must never be a "
            "shuffled-join build side at scale.",
        ),
        (
            "substring_dup_spans",
            e._q_substring_dup_spans(spark, sf),
            "Span-level exact-substring dedup: two scan+explode passes "
            "(frequency groupBy with map-side partial agg, then the keyed "
            "join-back on the gram hash) and ONE per-doc window for run "
            "assembly. No all-pairs anywhere — a suffix-array formulation "
            "would need a global sort; this is the linear bucketed shape.",
        ),
        (
            "quality_logit",
            e._q_quality_logit(spark, sf),
            "Hashing-trick classifier: explode → pure column arithmetic → "
            "one partial-aggregated groupBy. NO join and no vocabulary "
            "table at any corpus size — that is the point of the hashing "
            "trick.",
        ),
        (
            "kmeans training scan (sample-trained IVF)",
            _kmeans_training_frame(spark),
            "kmeans_centroids(sample_rate=...): every Lloyd iteration "
            "scans only rows passing the deterministic hash_uniform "
            "filter (visible as the Filter over the scan) — at 100 TB the "
            "quantizer trains on ~10^5 vectors while only the single "
            "assignment pass in ivf_topk touches the full corpus.",
        ),
        (
            "token_counts_v3 (pair-merge BPE)",
            e._q_token_counts_v3(spark, sf),
            "The ENTIRE BPE tokenizer is one Project over the scan — 40 "
            "literal replaces inside whole-stage codegen, zero exchanges, "
            "zero Python. The two-step projection keeps the replace chain "
            "single-evaluated (CollapseProject leaves multi-referenced "
            "non-trivial exprs alone).",
        ),
        (
            "lm_score (bigram LM scoring)",
            e._q_lm_score(spark, sf),
            "Model-as-data joins: corpus tokens join the unigram/bigram "
            "count tables on their n-gram keys (shuffled equi-joins with "
            "map-side partial aggregation for the counts; the model side "
            "is broadcast when it fits, shuffled when a 10^8-gram model "
            "does not) plus ONE per-doc window for the lag. No driver "
            "state beyond the single N scalar.",
        ),
        (
            "pagerank iteration",
            __import__(
                "comic_text_detector_spark.operators.graph",
                fromlist=["pagerank"],
            ).pagerank(
                spark.createDataFrame(
                    [(f"h{i}", f"h{(i * 7 + 3) % 20}") for i in range(20)],
                    "src string, dst string",
                ),
                n_iter=1,
            ),
            "One iteration = one shuffle: ranks join edges on src "
            "(broadcast here at toy size; co-located when edges are "
            "pre-partitioned by src at scale), contributions aggregate by "
            "dst with map-side partials, and the round is localCheckpoint"
            "-ed so the logical plan cannot grow with the iteration count "
            "(the plan shows the checkpoint scan, not 3 nested joins).",
        ),
    ]
    out = [
        "# PLANS — physical-plan audits (explain-and-iterate evidence)\n",
        "Generated from live `.explain('formatted')` at sf0.01; regenerate "
        "with `python tools/dump_plans.py`. Each plan is trimmed to its "
        "operator tree + load-bearing detail lines.\n",
    ]
    for title, df, note in sections:
        out.append(f"## {title}\n\n{note}\n\n```\n{trim(fmt(df))}\n```\n")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
