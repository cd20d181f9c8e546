"""U7 losses vs an independent numpy replication; F21 border-map recast."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from comic_text_detector_spark.functions.losses import (
    border_map_expr,
    dice_loss,
    masked_l1_loss,
)


def test_losses_match_numpy(spark):
    rng = np.random.RandomState(7)
    n = 240
    grp = rng.randint(0, 3, n)
    p = rng.randint(0, 17, n) / 16.0
    g = (rng.rand(n) < 0.4).astype(float)
    m = (rng.rand(n) < 0.9).astype(float)
    df = spark.createDataFrame(
        [
            (int(grp[i]), float(p[i]), float(g[i]), float(m[i]))
            for i in range(n)
        ],
        "grp int, pred double, gt double, mask double",
    )
    dice = {r.grp: r.dice_loss for r in dice_loss(df, "grp").collect()}
    l1 = {r.grp: r.l1_loss for r in masked_l1_loss(df, "grp").collect()}
    for k in range(3):
        s = grp == k
        inter = (p * g * m)[s].sum()
        sp, sg = (p * m)[s].sum(), (g * m)[s].sum()
        assert abs(dice[k] - (1 - 2 * inter / (sp + sg + 1e-6))) < 1e-9
        exp_l1 = (np.abs(p - g) * m)[s].sum() / (m[s].sum() + 1e-6)
        assert abs(l1[k] - exp_l1) < 1e-9


def test_border_map_shape(spark):
    df = spark.createDataFrame([(1,)], "id int")
    vals = df.select(
        border_map_expr(F.lit(5), F.lit(10), F.lit(12)).alias("b")
    ).collect()[0].b
    assert len(vals) == 12
    delta = 5 * (1.0 - 0.16000000000000003) / 2.0
    assert vals[4] == 1.0                      # i=5: on the start edge
    assert vals[9] == 1.0                      # i=10: on the end edge
    assert abs(vals[3] - (1 - 1 / delta)) < 1e-12   # i=4: distance 1
    assert vals[0] == 0.0                      # i=1: beyond the band
    mid = min(abs(7 - 5), abs(10 - 7))
    assert abs(vals[6] - max(0.0, 1 - mid / delta)) < 1e-12
    # ridge is symmetric around each endpoint
    assert vals[3] == vals[5] and vals[8] == vals[10]
