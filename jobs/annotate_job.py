"""The batch-ETL fan-out job: one extraction pass, multiple sinks.

Mirrors the reference's ``model2annotations`` shape (inference.py:19-70):
directory scan → per-document pipeline → fan-out to per-format outputs
(there: yolo labels, line polys, JSON blocks, masks; here: the extracted
table, a JSON block-record sink (S6/F22), and a flat label text sink (S4)).
The extracted table is written once with ``write_counted``; the other two
sinks read it back, so extraction runs once, and the summary's ``docs`` is
the row count observed on that write.

Usage:
  spark-submit --py-files dist/ctd_spark.zip jobs/annotate_job.py \
      --input <documents.parquet> --output /tmp/annot_out
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str], spark=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from comic_text_detector_spark.functions.textstats import lang_id
    from comic_text_detector_spark.operators.dedup import asof_dedup
    from comic_text_detector_spark.plans.extract import extract_fused
    from comic_text_detector_spark.session import get_spark
    from comic_text_detector_spark.sources.readers import read_documents
    from comic_text_detector_spark.sources.sinks import write_counted

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="ctd-annotate")
        spark.sparkContext.setLogLevel("WARN")
    docs = asof_dedup(read_documents(spark, args.input))

    # sink 1: the canonical table; the other sinks read it back
    extracted, n = write_counted(extract_fused(docs), f"{args.output}/extracted")

    # sink 2: JSON block records (S6/F22) — one line per url
    blocks = extracted.select(
        "url",
        F.to_json(
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["block_id"].alias("block_id"),
                    s["char_start"].alias("char_start"),
                    s["char_end"].alias("char_end"),
                    lang_id(
                        F.substring(
                            F.col("text"),
                            s["char_start"] + 1,
                            s["char_end"] - s["char_start"],
                        )
                    ).alias("language"),
                ),
            )
        ).alias("blocks_json"),
    )
    blocks.write.mode("overwrite").json(f"{args.output}/blocks_json")

    # sink 3: flat span-label text lines (S4 analog)
    labels = extracted.select(
        F.explode("spans").alias("s"), F.col("url")
    ).select(
        F.format_string(
            "%s %d %d %d", F.col("url"), F.col("s.block_id"),
            F.col("s.char_start"), F.col("s.char_end"),
        ).alias("value")
    )
    labels.write.mode("overwrite").text(f"{args.output}/labels")

    print(json.dumps({"docs": n, "output": args.output}))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
