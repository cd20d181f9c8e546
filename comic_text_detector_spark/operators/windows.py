"""Window-function operators (SURVEY.md §2.5).

Every sort in the reference is per-image; the engine therefore NEVER uses a
global orderBy — always Window.partitionBy(group) (SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int,
    rank_name: str = "rn",
) -> DataFrame:
    """W4 conf-ordered candidate cap (reference utils/yolov5_utils.py:196-204):
    per-group top-k with NO global sort — the map-side window keeps the
    shuffle keyed on the group only."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )


def nth_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], n: int
) -> DataFrame:
    """A14 second-largest analog (reference utils/textmask.py:113-118)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == n
    ).drop("__rn")
