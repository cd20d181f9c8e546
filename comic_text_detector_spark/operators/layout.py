"""Layout keys: the Z-order (Morton-curve) key and dense ids.

At 100 TB a table sorted by one key prunes scans on that key only; a
Z-order interleave of two key spaces clusters rows so that *both* keys'
min/max ranges are tight per file — a filter on either column (or both)
skips most row groups. This is the standard layout move behind
Delta/Iceberg OPTIMIZE ZORDER; here the key is a plain column expression,
so ``repartitionByRange`` on it lets vanilla parquet min/max statistics
do the pruning, no table-format extension needed.

The interleave is pure bitwise arithmetic on non-negative ints < 2^bits —
exact and identical in any engine (the oracle twin replays the same
shift/mask sums in SQL).

Reference parity: the reference orders detected text blocks by a spatial
examine-order heuristic before grouping (textblockdetector/textblock.py
``sort_regions``); Z-order is the scale analogue — a spatial sort that
keeps 2-D neighbourhoods contiguous on disk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "dense_ids"]


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton code: interleave the low ``bits`` bits of two non-negative
    int columns — x in even positions, y in odd. Inputs outside
    [0, 2^bits) are masked to their low bits (callers bucket first)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        bx = F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1))
        by = F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(bx, 2 * i) + F.shiftleft(by, 2 * i + 1)
    return z


def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical interleave as ANSI/DuckDB SQL text (shift/mask sum)."""
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({x} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({y} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def dense_ids(
    df: DataFrame,
    sort_cols: list,
    id_name: str = "dense_id",
) -> DataFrame:
    """Deterministic dense ids 0..N−1 in the total order of
    ``sort_cols`` (which must be a TOTAL order — include a unique
    tie-break column) WITHOUT a single-partition window.

    The dictionary-building primitive: term → dense int for compact
    postings, node → int for graph compression, label → id for
    classifier heads. A naive ``row_number() OVER (ORDER BY …)``
    collapses the whole relation onto one task; this is the standard
    scalable recast:

    1. range-repartition + sort within partitions on the order keys;
    2. ONE tiny aggregate of per-partition row counts (numPartitions
       rows to the driver — driver-scale by construction);
    3. id = cumulative offset of the partition (partitions are ordered
       by the range exchange) + the row's within-partition rank.

    The assigned IDS are a pure function of the data and the sort keys
    — range boundaries may vary between runs, but moving a row to a
    neighbouring partition moves its offset and local rank in lockstep,
    so the (row → id) mapping never changes (asserted by the
    repartition-invariance test)."""
    from pyspark.sql import Window

    cols = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    s = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    # pin ONE materialization: the size pass and the id pass must see
    # identical partition boundaries (range sampling re-rolls per
    # execution otherwise)
    s = s.withColumn("__pid", F.spark_partition_id()).localCheckpoint()
    sizes = sorted(
        (r["__pid"], r["n"])
        for r in s.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in sizes:
        offsets[pid] = acc
        acc += n
    omap = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        s.withColumn(
            id_name,
            (
                omap[F.col("__pid")]
                + F.row_number().over(w)
                - F.lit(1)
            ).cast("long"),
        )
        .drop("__pid")
    )
