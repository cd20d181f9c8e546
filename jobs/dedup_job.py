"""The corpus-deduplication job: exact + near-dup → cluster → survivors.

The training-data pipeline's second pass (after jobs/extract_job.py):

1. exact dedup groups (md5 groupBy, map-side combined);
2. minhash-LSH candidate pairs via the one-pass star-capped ``bucket_pairs``
   (a boilerplate-identical template cluster emits O(k) rows, never C(k,2));
3. exact n-gram Jaccard verify on the candidates;
4. distributed connected components over verified pairs;
5. survivors table (cluster representative rows) + a cluster map, both
   written as parquet (Iceberg ``writeTo(...).append()`` in prod).

Usage:
  spark-submit --py-files dist/ctd_spark.zip jobs/dedup_job.py \
      --input <documents parquet with (url, text)> --output /tmp/dedup_out \
      [--jaccard 0.8] [--id-col url] [--text-col text]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str], spark=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--id-col", default="url")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--band-index-out",
        default=None,
        help="also materialize the exact-survivors' banded minhash "
        "signatures here (write_band_index) so the NEXT snapshot can "
        "run incremental near-dup without recomputing this corpus",
    )
    p.add_argument(
        "--base-band-index",
        default=None,
        help="INCREMENTAL mode: near-dup candidates come from this "
        "stored band index (neardup_incremental_pairs) plus "
        "within-input pairs, instead of a full self-join of the input",
    )
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.dedup import (
        exact_dedup_survivors,
        minhash_lsh_pairs,
        neardup_incremental_pairs,
        ngram_jaccard_pairs,
        write_band_index,
    )
    from comic_text_detector_spark.operators.graph import connected_components
    from comic_text_detector_spark.session import get_spark
    from comic_text_detector_spark.sources.sinks import write_counted

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="ctd-dedup")
        spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(args.input).select(args.id_col, args.text_col)
    n_in = docs.count()

    # pass 1: exact — one window, keeps the min-id row per distinct text
    exact, n_exact = write_counted(
        exact_dedup_survivors(docs, args.text_col, args.id_col),
        f"{args.output}/exact_survivors",
    )

    # optionally materialize this corpus's band index for future
    # incremental runs (the signature pass is the expensive leg)
    if args.band_index_out:
        write_band_index(exact, args.band_index_out, args.id_col, args.text_col)

    # pass 2: near-dup candidates → verify (materialized — the pair table is
    # both an output and the input to two downstream reads) → clusters →
    # representatives. INCREMENTAL mode: candidates come from the stored
    # base index + within-input pairs. An input doc that band-collides
    # with a BASE doc is dropped as dup-of-base at candidate level (the
    # base corpus holds the canonical copy; its text is not in this
    # input, so no Jaccard verify is possible — documented trade-off,
    # audited in the summary and the dup_of_base output). Within-input
    # pairs go through the normal verify→cluster→survivor pipeline.
    n_dup_of_base = 0
    if args.base_band_index:
        cand_all = neardup_incremental_pairs(
            spark.read.parquet(args.base_band_index),
            exact,
            args.id_col,
            args.text_col,
        )
        ids = exact.select(F.col(args.id_col).alias("__id"))
        in_a = cand_all.join(
            ids.withColumnRenamed("__id", "id_a"), "id_a", "left_semi"
        )
        both = in_a.join(
            ids.withColumnRenamed("__id", "id_b"), "id_b", "left_semi"
        )
        # pairs with a base-side member: the input-side id is the dup
        base_a = cand_all.join(
            ids.withColumnRenamed("__id", "id_a"), "id_a", "left_anti"
        ).select(F.col("id_b").alias(args.id_col))
        base_b = cand_all.join(
            ids.withColumnRenamed("__id", "id_b"), "id_b", "left_anti"
        ).select(F.col("id_a").alias(args.id_col))
        dup_of_base, n_dup_of_base = write_counted(
            base_a.unionByName(base_b).distinct(), f"{args.output}/dup_of_base"
        )
        exact = exact.join(dup_of_base, args.id_col, "left_anti")
        cand = both
    else:
        cand = minhash_lsh_pairs(exact, args.id_col, args.text_col)
    verified = ngram_jaccard_pairs(
        cand, exact, args.id_col, args.text_col
    ).filter(F.col("jaccard") >= args.jaccard)
    pairs, _ = write_counted(verified, f"{args.output}/near_dup_pairs")
    # survivors derive from the clusters ALREADY written — the iterative CC
    # (the job's most expensive stage) runs exactly once
    cc, _ = write_counted(connected_components(pairs), f"{args.output}/clusters")
    losers = cc.filter(F.col("id") != F.col("cluster_rep")).select(
        F.col("id").alias(args.id_col)
    )
    _, n_out = write_counted(
        exact.join(losers, args.id_col, "left_anti"), f"{args.output}/survivors"
    )
    # bucket_pairs persists its annotated signature frame for plan reuse;
    # release it now that every downstream output is materialized
    spark.catalog.clearCache()

    summary = {
        "docs_in": n_in,
        "after_exact": n_exact,
        "after_near_dup": n_out,
        # n_exact was counted BEFORE the dup-of-base anti-join, so the
        # within-input near-dup count must exclude the dup_of_base docs
        # reported on their own line (else one removal shows up twice)
        "near_dup_removed": n_exact - n_dup_of_base - n_out,
        "dup_of_base_removed": n_dup_of_base,
    }
    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
