"""SparkSession builder with the engine's standard configuration.

The configs here are the Spark-side analog of the reference's resource
governance (cache budget seg_dataset.py:151, batch/stride alignment
inference.py:75): AQE on (runtime re-plan + skew-join splitting), Arrow
batches sized so one batch of binary html stays in the tens of MB, and a
shuffle-partition default that matches local[32] testing while remaining a
plain config knob for a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# One Arrow batch of html-bearing rows. Median synthetic page is ~2-8 KB but
# the skew tier is 100-1000x that (FIXTURES.md 'huge-'); 512 rows keeps a
# batch under ~64 MB even when several huge rows land together.
ARROW_MAX_RECORDS = 512


def get_spark(
    app_name: str = "comic_text_detector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) in the sandbox; on a real cluster the caller passes no
    master and spark-submit supplies it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        # html: binary values can exceed the 2 GiB offset space of 32-bit
        # Arrow var-width types when a batch holds many huge pages.
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        # output compression: zstd ~30-40% smaller than snappy at similar
        # decode speed — at 100 TB that is tens of TB of storage/IO saved
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Local-mode driver hosts ALL executor threads: 8g across 32
        # task slots is 256 MB per concurrent task, which corpus-scale
        # aggregates (span-dedup position frequencies at sf1.0) overflow.
        # 16g on the 128 GiB sandbox keeps the same unified-memory model
        # with headroom; real clusters size executor memory separately
        # and the knob stays SPARK_DRIVER_MEM either way.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
