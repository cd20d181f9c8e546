"""Join operators (SURVEY.md §2.3) — the five join semantics of the
reference, expressed relationally.

The theta (interval-overlap) joins are always equi-joined on the grouping
key first (url / user), so the range predicate only runs within tiny
per-group candidate sets — the shuffle is keyed on the group, never on the
intervals. That is what keeps J1/J3 linear at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def interval_overlap(
    ls: Column, le: Column, rs: Column, re: Column
) -> Column:
    """F1 union_area recast to 1-D intervals (reference
    utils/imgproc_utils.py:13-20): overlap length, 0 when disjoint."""
    return F.greatest(F.lit(0.0), F.least(le, re) - F.greatest(ls, rs))


def overlap_argmax_join(
    lines: DataFrame,
    blocks: DataFrame,
    group_col: str,
    line_id: str,
    block_id: str,
    l_start: str,
    l_end: str,
    b_start: str,
    b_end: str,
    score_thresh: float = 0.4,
) -> DataFrame:
    """J1 line→block assignment (reference utils/textblock.py:428-453):
    theta overlap join + top-1 per line; score = overlap / line length;
    assign when score > thresh (reference threshold 0.4); ties broken by
    block id asc (the reference's first-max-wins index order,
    textblock.py:436-440). Unassigned lines surface with NULL block
    (the anti-join residue)."""
    j = lines.join(blocks, on=group_col, how="left")
    score = interval_overlap(
        F.col(l_start), F.col(l_end), F.col(b_start), F.col(b_end)
    ) / (F.col(l_end) - F.col(l_start))
    j = j.withColumn("overlap_score", score)
    w = Window.partitionBy(group_col, line_id).orderBy(
        F.col("overlap_score").desc(), F.col(block_id).asc()
    )
    best = j.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return best.select(
        group_col,
        line_id,
        F.when(F.col("overlap_score") > score_thresh, F.col(block_id)).alias(
            "assigned_block"
        ),
        F.when(
            F.col("overlap_score") > score_thresh, F.col("overlap_score")
        ).alias("assigned_score"),
    )


def recover_uncovered(
    components: DataFrame,
    blocks: DataFrame,
    group_col: str,
    comp_id: str,
    c_start: str,
    c_end: str,
    b_start: str,
    b_end: str,
    max_coverage: float = 0.5,
) -> DataFrame:
    """J3 undetected-component recovery (reference utils/textmask.py:135-156):
    keep a component when its max coverage by any existing block is below
    the threshold (reference 0.5) — a left join + max-aggregate variant of
    the anti-join."""
    j = components.join(blocks, on=group_col, how="left")
    cov = interval_overlap(
        F.col(c_start), F.col(c_end), F.col(b_start), F.col(b_end)
    ) / (F.col(c_end) - F.col(c_start))
    agg = (
        j.withColumn("__cov", F.coalesce(cov, F.lit(0.0)))
        .groupBy(group_col, comp_id, c_start, c_end)
        .agg(F.max("__cov").alias("max_coverage"))
    )
    return agg.filter(F.col("max_coverage") < max_coverage)
