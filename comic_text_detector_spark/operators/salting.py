"""Hot-key salting (north_rule: 'salting of hot hosts to kill skew').

The reference never needs this (strictly per-image work), so skew handling
is engine-original: a cheap pre-pass counts rows (or bytes) per host
(``functions/links.py::host_of``); keys above the threshold get a salt
derived from xxhash64(url) so one hot host spreads over ``n_salts``
partitions. The salt map is tiny (only hot hosts)
and is broadcast — the pre-pass is a map-side-combined count, the apply is
a broadcast join, so the total added cost is one small aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.links import host_of


def hot_hosts(
    documents: DataFrame,
    url_col: str = "url",
    row_threshold: int = 10_000,
    byte_col: str | None = None,
    byte_threshold: int = 1 << 30,
) -> DataFrame:
    """(host, n_rows[, n_bytes]) for hosts above the skew thresholds."""
    aggs = [F.count("*").alias("n_rows")]
    if byte_col is not None:
        aggs.append(F.sum(F.length(F.col(byte_col))).alias("n_bytes"))
    g = documents.groupBy(host_of(F.col(url_col)).alias("host")).agg(*aggs)
    cond = F.col("n_rows") >= row_threshold
    if byte_col is not None:
        cond = cond | (F.col("n_bytes") >= byte_threshold)
    return g.filter(cond)


def salted_partition_key(
    documents: DataFrame,
    url_col: str = "url",
    n_salts: int = 16,
    row_threshold: int = 10_000,
    byte_col: str | None = None,
) -> DataFrame:
    """Adds ``salt_key``: host for cold hosts, host#salt for hot ones.

    Repartitioning on salt_key (or hashing it into partition_id) spreads a
    hot host over n_salts partitions while keeping cold hosts co-located.
    """
    hot = hot_hosts(documents, url_col, row_threshold, byte_col).select(
        "host", F.lit(True).alias("__hot")
    )
    with_host = documents.withColumn("host", host_of(F.col(url_col)))
    joined = with_host.join(F.broadcast(hot), "host", "left")
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_salts))
    return joined.withColumn(
        "salt_key",
        F.when(
            F.col("__hot").isNotNull(),
            F.concat_ws("#", F.col("host"), salt.cast("string")),
        ).otherwise(F.col("host")),
    ).drop("__hot")
