"""U7 loss functions + F21 border map, recast as relational aggregates.

The reference uses these at TRAINING time (utils/loss.py; border map
utils/db_utils.py:674-692). The engine has no training loop, but the same
quantities are exactly what an extraction-quality EVALUATION needs: treat
per-position keep/drop decisions as a soft mask (the seg-head analog) and
score them against golden spans. Each loss is a groupBy aggregate over
(pred, gt, mask) rows — map-side partial aggregation, one keyed exchange,
any corpus size.

Float contract: dice and masked-L1 are sums of products of caller values
(dyadic inputs → exact sums in any order) plus one division — SQL-oracle
checkable bit-for-bit.

Reference analogs:
* DiceLoss — /root/reference/utils/loss.py:103-138
  (1 - 2·Σ(p·g·m) / (Σ(p·m) + Σ(g·m) + eps)).
* MaskL1Loss — /root/reference/utils/loss.py:140-147
  (Σ(|p−g|·m) / (Σm + eps)).
* border map — /root/reference/utils/db_utils.py:674-692 (per-pixel
  clipped distance to the polygon edge over the dilated band; 1-D recast
  below uses the F18 offset δ = L(1−r²)/2 as the band width).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dice_loss(
    df: DataFrame,
    group_col: str,
    pred_col: str = "pred",
    gt_col: str = "gt",
    mask_col: str | None = "mask",
    eps: float = 1e-6,
) -> DataFrame:
    """(group, dice_loss): 1 − 2·Σ(p·g·m) / (Σ(p·m) + Σ(g·m) + eps)."""
    m = F.col(mask_col) if mask_col else F.lit(1.0)
    p, g = F.col(pred_col), F.col(gt_col)
    agg = df.groupBy(group_col).agg(
        F.sum(p * g * m).alias("inter"),
        F.sum(p * m).alias("sp"),
        F.sum(g * m).alias("sg"),
    )
    return agg.select(
        group_col,
        (
            F.lit(1.0)
            - 2.0 * F.col("inter") / (F.col("sp") + F.col("sg") + F.lit(eps))
        ).alias("dice_loss"),
    )


def masked_l1_loss(
    df: DataFrame,
    group_col: str,
    pred_col: str = "pred",
    gt_col: str = "gt",
    mask_col: str = "mask",
    eps: float = 1e-6,
) -> DataFrame:
    """(group, l1_loss): Σ(|p−g|·m) / (Σm + eps)."""
    p, g, m = F.col(pred_col), F.col(gt_col), F.col(mask_col)
    agg = df.groupBy(group_col).agg(
        F.sum(F.abs(p - g) * m).alias("num"),
        F.sum(m).alias("den"),
    )
    return agg.select(
        group_col,
        (F.col("num") / (F.col("den") + F.lit(eps))).alias("l1_loss"),
    )


def border_map_expr(
    start: Column, end: Column, length: Column, ratio: float = 0.4
) -> Column:
    """F21 border map, interval recast: per position i in 1..length,
    value = clip(1 − min(|i−start|, |end−i|)/δ, 0, 1) with the F18 offset
    δ = (end−start)·(1−ratio²)/2 as the band width — a triangular ridge
    over each span endpoint, exactly the supervision shape DBNet's border
    map gives polygon edges, in one dimension. Pure array exprs; one
    division per position (oracle-exact)."""
    one_minus_r2 = 1.0 - ratio * ratio
    delta = (end - start).cast("double") * one_minus_r2 / 2.0
    return F.transform(
        F.sequence(F.lit(1), length),
        lambda i: F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                F.lit(1.0)
                - F.least(
                    F.abs(i - start), F.abs(end - i)
                ).cast("double")
                / delta,
            ),
        ),
    )
