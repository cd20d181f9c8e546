"""Sinks (SURVEY.md §2.1 S3-S7).

The reference fans one compute out to four per-image files (yolo labels,
line polys, JSON blocks, mask PNG — inference.py:43-70); the engine's
canonical sink is a url-bucketed parquet/Iceberg table
(``write_extracted_table``, read back by ``read_url``), with the yolo-label
and JSON-block text formats kept as column expressions so the byte format
is testable without I/O. Jobs that materialize a stage write it with
``write_counted``, which counts the rows during the write.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def url_bucket(url_col: Column, buckets: int) -> Column:
    """The table's partition transform: pmod(xxhash64(url), buckets) — the
    plain-Spark analog of Iceberg's ``bucket(N, url)``. One expression shared
    by writer and reader so pruning is correct by construction."""
    return F.pmod(F.xxhash64(url_col), F.lit(buckets)).cast("int")


def write_counted(df: DataFrame, path: str) -> tuple[DataFrame, int]:
    """Overwrite ``path`` with ``df`` as parquet; return the written table,
    read back, and its row count. The count is an ``Observation`` that the
    write itself fills, and the read takes ``df``'s schema instead of
    inferring it from the files, so neither costs a Spark job. The returned
    frame's plan is one file scan, not ``df``'s lineage."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path), obs.get["rows"]


def write_extracted_table(
    df: DataFrame,
    path: str,
    buckets: int = 64,
    mode: str = "append",
    url_col: str = "url",
) -> None:
    """S3 at 100-TB scale (SURVEY §1.3's Iceberg-style storage): the table
    is physically partitioned by ``url_bucket = pmod(xxhash64(url), N)`` —
    plain parquet ``partitionBy`` standing in for Iceberg's ``bucket(N,
    url)`` partition transform, with ``mode='append'`` as the snapshot
    append. Point lookups and bucket-local jobs then read ONE directory
    (``read_url``; partition-pruning audit in PLANS.md). The bucket count
    is part of the table's identity and persisted in ``_table_meta.json``;
    appending with a different count would corrupt pruning and raises."""
    os.makedirs(path, exist_ok=True)
    meta_path = os.path.join(path, "_table_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            prev = json.load(f)
        if prev.get("buckets") != buckets:
            raise ValueError(
                f"table at {path} was written with buckets={prev.get('buckets')},"
                f" got {buckets}; reads would prune to the wrong directory"
            )
    else:
        with open(meta_path, "w") as f:
            json.dump({"buckets": buckets, "url_col": url_col}, f)
    (
        df.withColumn("url_bucket", url_bucket(F.col(url_col), buckets))
        .write.mode(mode)
        .partitionBy("url_bucket")
        .parquet(path)
    )


def read_url(spark: SparkSession, path: str, url: str) -> DataFrame:
    """Point lookup against the bucketed layout: the url's bucket is
    computed up front (same expression as the writer) and applied as a
    LITERAL filter on the partition column, so Catalyst prunes the scan to
    one ``url_bucket=K`` directory (PartitionFilters in the plan) — a
    1/N-th scan regardless of table size."""
    with open(os.path.join(path, "_table_meta.json")) as f:
        buckets = json.load(f)["buckets"]
    b = (
        spark.range(1)
        .select(url_bucket(F.lit(url), buckets).alias("b"))
        .first()
        .b
    )
    return spark.read.parquet(path).filter(
        (F.col("url_bucket") == F.lit(b)) & (F.col("url") == url)
    )


def yolo_label_lines(
    cls: Column, cx: Column, cy: Column, w: Column, h: Column
) -> Column:
    """S4 yolo-label text format: 'cls cx cy w h' per box (reference
    get_yololabel_strings, utils/imgproc_utils.py:22-28). Coordinates are
    emitted with 6 fractional digits like np.savetxt's default-ish contract;
    format_string is JVM-side printf."""
    return F.format_string("%d %.6f %.6f %.6f %.6f", cls, cx, cy, w, h)


def blocks_json(blocks_struct: Column) -> Column:
    """S6 JSON blocks sink: to_json of the block struct array (reference
    json.dumps(blk_dict_list, cls=NumpyEncoder), inference.py:66-68)."""
    return F.to_json(blocks_struct)
