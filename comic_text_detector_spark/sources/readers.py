"""Sources (SURVEY.md §2.1 S-group).

S1 directory scan with a declared schema → Spark's file source + Catalyst
pruning (``read_documents``), or an Iceberg table when one is configured
(``read_table``); S11 annotation-line parse as column expressions
(``parse_ann_line``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DOCUMENTS_SCHEMA


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """S1: the standard scan. Schema declared so a missing/extra parquet
    column fails loudly instead of drifting."""
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)


def read_table(spark: SparkSession, source: str) -> DataFrame:
    """Production scan: an Iceberg table identifier (``catalog.db.table``)
    when an Iceberg catalog is configured, else a parquet path. Iceberg
    gives partition pruning on bucket(url) plus snapshot isolation for the
    resumable runner; the sandbox has no Iceberg runtime, so parquet paths
    exercise the same code path."""
    if "/" not in source:
        try:
            return spark.read.format("iceberg").load(source)
        except Exception:
            return spark.table(source)
    return spark.read.parquet(source)


def parse_ann_line(line_col, page_w=None, page_h=None):
    """S11 annotation-line parse (reference db_dataset.py:224-230):
    'x1 y1 x2 y2 x3 y3 x4 y4' text → array of 4 [x, y] pairs, optionally
    normalized to relative coordinates. split + cast + transform — no UDF."""
    flat = F.transform(F.split(line_col, " "), lambda v: v.cast("double"))
    pts = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.array(
            F.element_at(flat, i * 2 + 1), F.element_at(flat, i * 2 + 2)
        ),
    )
    if page_w is not None:
        pts = F.transform(
            pts, lambda p: F.array(p[0] / page_w, p[1] / page_h)
        )
    return pts
