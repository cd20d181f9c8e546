"""The crawl-index job: extracted corpus → every index artifact a crawl
serves or searches with, in one spark-submit pass.

Composes four oracle-checked operator families over the SAME corpus scan:

1. CDX url index (``cdx_lines``) — '{surt} {ts14} {json}' lines written
   SORTED by (surt, ts14), so every registered domain is one contiguous
   range (the ``surt_key`` pruning argument materialized);
2. BM25 inverted index (``write_inverted_index``) — postings
   hash-partitioned by term bucket for pruned query reads, lengths +
   meta beside them;
3. host link graph (``extract_links``; needs --html-col) — (src_host,
   dst_host, n_links) edges;
4. authority ranks over that graph — integer-deterministic ``pagerank``,
   plus ``trustrank`` when --seeds names a parquet of trusted hosts;
5. (--communities) label-propagation host communities — the link-farm /
   mutual-ring signal beside the authority ranks;
6. (--anchors) the anchor-expanded BM25 index (``build_anchor_index``,
   anchor tokens at field weight 2) written beside the plain one.

Each summary count is observed on the write of the table it counts; only
``communities``, a distinct count, is an action over the written file.

Usage:
  spark-submit --py-files dist/ctd_spark.zip jobs/index_job.py \
      --input <parquet (url, warc_ts, text[, html])> --output /tmp/index \
      [--html-col html] [--seeds <parquet (node)>] \
      [--n-term-buckets 64] [--pagerank-iters 3]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str], spark=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--url-col", default="url")
    p.add_argument("--ts-col", default="warc_ts")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--html-col",
        default=None,
        help="if set, extract the host link graph + ranks from this column",
    )
    p.add_argument(
        "--seeds",
        default=None,
        help="parquet of trusted hosts (column 'node') → also write "
        "trustrank beside pagerank",
    )
    p.add_argument("--n-term-buckets", type=int, default=64)
    p.add_argument("--pagerank-iters", type=int, default=3)
    p.add_argument(
        "--anchors",
        action="store_true",
        help="also write the anchor-expanded BM25 index (needs "
        "--html-col; anchors whose href is not a corpus url are "
        "dropped — canonicalize upstream)",
    )
    p.add_argument(
        "--communities",
        action="store_true",
        help="also write label-propagation host communities (needs "
        "--html-col)",
    )
    args = p.parse_args(argv)
    if (args.anchors or args.communities) and not args.html_col:
        p.error("--anchors/--communities require --html-col")

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.retrieval import (
        write_inverted_index,
    )
    from comic_text_detector_spark.session import get_spark
    from comic_text_detector_spark.sources.sinks import write_counted
    from comic_text_detector_spark.sources.warc import cdx_lines

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="ctd-index")
        spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(args.input)

    # 1. CDX — sortWithinPartitions after a range repartition on surt
    # gives globally ordered files without a single-partition sort. One
    # line per doc, so its count is docs_in, observed above the range
    # exchange (whose sampler runs the subtree below it twice)
    cdx = cdx_lines(
        docs, url_col=args.url_col, ts_col=args.ts_col,
        payload_col=args.text_col,
    )
    _, n_docs = write_counted(
        cdx.repartitionByRange("surt", "ts14").sortWithinPartitions(
            "surt", "ts14"
        ),
        f"{args.output}/cdx",
    )
    summary: dict = {"docs_in": n_docs, "cdx_lines": n_docs}

    # 2. BM25 inverted index (term-bucket pruned layout)
    summary["bm25_postings"] = write_inverted_index(
        docs,
        f"{args.output}/bm25",
        id_col=args.url_col,
        text_col=args.text_col,
        n_term_buckets=args.n_term_buckets,
    )

    # 3+4. link graph + ranks (optional: needs page html)
    if args.html_col:
        from comic_text_detector_spark.functions.links import (
            extract_links,
            host_of,
        )
        from comic_text_detector_spark.operators.graph import (
            pagerank,
            trustrank,
        )

        links = extract_links(
            docs, url_col=args.url_col, html_col=args.html_col
        )
        # node identity = portless host on BOTH edge ends — otherwise a
        # :8080 deployment splits into two graph nodes and trust never flows
        edges, summary["edges"] = write_counted(
            links.select(
                host_of(F.col("src_url"), strip_port=True).alias("src"),
                host_of(F.col("href"), strip_port=True).alias("dst"),
            )
            .filter((F.col("src") != "") & (F.col("dst") != ""))
            .groupBy("src", "dst")
            .agg(F.count("*").cast("long").alias("n_links")),
            f"{args.output}/links",
        )
        _, summary["ranked_nodes"] = write_counted(
            pagerank(edges, n_iter=args.pagerank_iters),
            f"{args.output}/pagerank",
        )
        if args.seeds:
            seeds = spark.read.parquet(args.seeds)
            trusted = Observation()
            trustrank(edges, seeds, n_iter=args.pagerank_iters).observe(
                trusted, F.count_if(F.col("rank") > 0).alias("n")
            ).write.mode("overwrite").parquet(f"{args.output}/trustrank")
            summary["trusted_nodes"] = trusted.get["n"]
        if args.communities:
            from comic_text_detector_spark.operators.graph import (
                label_propagation,
            )

            comm, _ = write_counted(
                label_propagation(edges, n_iter=3),
                f"{args.output}/communities",
            )
            # a distinct count cannot be an observed metric, so this one
            # stays an action over the written file
            summary["communities"] = (
                comm.select("community").distinct().count()
            )
        if args.anchors:
            from comic_text_detector_spark.operators.retrieval import (
                build_anchor_index,
            )

            a_post, a_len = build_anchor_index(
                docs,
                links,
                id_col=args.url_col,
                text_col=args.text_col,
                anchor_weight=2,
            )
            _, summary["anchor_postings"] = write_counted(
                a_post, f"{args.output}/bm25_anchor/postings"
            )
            a_len.write.mode("overwrite").parquet(
                f"{args.output}/bm25_anchor/lengths"
            )

    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
