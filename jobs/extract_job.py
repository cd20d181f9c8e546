"""spark-submit entry point for the extraction job (north_rule packaging).

Usage:
  scripts/build_pyfiles.sh   # builds dist/ctd_spark.zip
  spark-submit --py-files dist/ctd_spark.zip jobs/extract_job.py \
      --input /root/testdata/sf0.001-docs --output /tmp/extract_out \
      --run-id run1 --num-partitions 64 --num-chunks 4

On a cluster the same invocation takes --master/--num-executors from
spark-submit; the job code is identical (session.get_spark only fills a
local master when spark-submit didn't set one).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str], spark=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="job output dir")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--num-partitions", type=int, default=64)
    p.add_argument("--num-chunks", type=int, default=4)
    args = p.parse_args(argv)

    from comic_text_detector_spark.plans.runner import read_metrics, run_extract
    from comic_text_detector_spark.session import get_spark
    from comic_text_detector_spark.sources.readers import read_documents

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="ctd-extract")
        spark.sparkContext.setLogLevel("WARN")
    import time

    docs = read_documents(spark, args.input)
    t0 = time.monotonic()
    summary = run_extract(
        spark,
        docs,
        args.output,
        run_id=args.run_id,
        num_partitions=args.num_partitions,
        num_chunks=args.num_chunks,
    )
    wall_s = time.monotonic() - t0
    from pyspark.sql import functions as F

    # throughput covers THIS invocation only: the metrics table is
    # cumulative across runs/resumes of the same output dir, so dividing
    # its total by this run's wall would inflate resumed runs; filter by
    # run_id (pass a distinct --run-id per invocation for clean lineage).
    # One aggregation gives the cumulative totals and this run's docs_in.
    agg = (
        read_metrics(spark, args.output)
        .agg(
            F.sum("docs_in"),
            F.sum("docs_out"),
            F.sum("bytes"),
            F.sum(F.when(F.col("run_id") == args.run_id, F.col("docs_in"))),
        )
        .collect()[0]
    )
    this_run = agg[3] or 0
    summary.update(
        docs_in=agg[0] or 0, docs_out=agg[1] or 0, bytes=agg[2] or 0,
        wall_s=round(wall_s, 2),
        docs_per_sec=round(this_run / wall_s, 1),
    )
    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
