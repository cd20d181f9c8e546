"""Operator-level tests: NMS (J2), merge (J4), spans algebra (X-group/A6),
refinement (U4), salting, geometry (F-group)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from comic_text_detector_spark.functions.geometry import (
    iou,
    union_area,
    xyxy2yolo,
)
from comic_text_detector_spark.operators.merge import merge_blocks, merge_spans_by_gap
from comic_text_detector_spark.operators.nms import nms_boxes, nms_spans
from comic_text_detector_spark.operators.refine import refine_blocks_hysteresis
from comic_text_detector_spark.operators.salting import hot_hosts, salted_partition_key
from comic_text_detector_spark.operators.spans import (
    coalesce_spans,
    interval_xor_len,
    min_xor_candidate,
)


def test_nms_greedy_suppression(spark):
    rows = [
        # group u1: three overlapping same-class boxes; highest conf wins,
        # the far one survives
        ("u1", 1, 0.0, 0.0, 10.0, 10.0, 0.9, 0),
        ("u1", 2, 1.0, 1.0, 11.0, 11.0, 0.8, 0),  # iou with 1 > 0.35 → dead
        ("u1", 3, 50.0, 50.0, 60.0, 60.0, 0.7, 0),  # disjoint → kept
        # different class overlapping → kept (class-aware NMS)
        ("u1", 4, 0.0, 0.0, 10.0, 10.0, 0.6, 1),
        # below conf threshold → pre-filtered
        ("u1", 5, 0.0, 0.0, 10.0, 10.0, 0.3, 0),
        # group u2 unaffected
        ("u2", 6, 0.0, 0.0, 10.0, 10.0, 0.5, 0),
    ]
    df = spark.createDataFrame(
        rows, "url string, box_id long, x1 double, y1 double, x2 double, y2 double, conf double, cls int"
    )
    kept = {(r.url, r.box_id) for r in nms_boxes(df).collect()}
    assert kept == {("u1", 1), ("u1", 3), ("u1", 4), ("u2", 6)}


def test_nms_spans_1d(spark):
    rows = [
        ("u1", 1, 0, 100, 0.9, 0),
        ("u1", 2, 10, 110, 0.8, 0),  # heavy overlap → suppressed
        ("u1", 3, 200, 260, 0.7, 0),
    ]
    df = spark.createDataFrame(
        rows, "url string, span_id long, char_start int, char_end int, conf double, cls int"
    )
    kept = {r.span_id for r in nms_spans(df).collect()}
    assert kept == {1, 3}


def test_merge_blocks_union_find(spark):
    # b1-b2 mergeable (same font, close, same direction); b3 far; b4 font
    # ratio too large
    rows = [
        ("u1", 1, 10.0, 1.0, 0.0, 0.0, 0.0),
        ("u1", 2, 11.0, 1.0, 0.0, 15.0, 0.0),  # dist 15 <= 2*11
        ("u1", 3, 10.0, 1.0, 0.0, 500.0, 0.0),
        ("u1", 4, 20.0, 1.0, 0.0, 5.0, 0.0),  # 20/10 = 2 > 1.3
    ]
    df = spark.createDataFrame(
        rows, "url string, block_id long, font_size double, vec_x double, vec_y double, cx double, cy double"
    )
    m = {r.block_id: r.merged_id for r in merge_blocks(df).collect()}
    assert m[1] == 1 and m[2] == 1  # merged into smallest id
    assert m[3] == 3 and m[4] == 4


def test_merge_spans_by_gap(spark):
    rows = [("u1", 0, 100), ("u1", 110, 200), ("u1", 500, 600)]
    df = spark.createDataFrame(rows, "url string, char_start int, char_end int")
    out = sorted(
        (r.char_start, r.char_end)
        for r in merge_spans_by_gap(df, "url", gap_expr=F.lit(50)).collect()
    )
    assert out == [(0, 200), (500, 600)]


def test_coalesce_spans(spark):
    rows = [("u1", 0, 10), ("u1", 5, 20), ("u1", 20, 30), ("u1", 40, 50)]
    df = spark.createDataFrame(rows, "url string, char_start int, char_end int")
    out = sorted(
        (r.char_start, r.char_end) for r in coalesce_spans(df, ["url"]).collect()
    )
    # touching intervals (20 == 20) merge; 40 starts a new island
    assert out == [(0, 30), (40, 50)]


def test_interval_xor_len(spark):
    a = spark.createDataFrame(
        [("u1", 0, 10), ("u1", 20, 30)], "url string, char_start int, char_end int"
    )
    b = spark.createDataFrame(
        [("u1", 5, 25)], "url string, char_start int, char_end int"
    )
    out = interval_xor_len(a, b, ["url"]).collect()
    # A∪B covers [0,30]; overlap = [5,10] ∪ [20,25] = 10 → xor = 30 - 2*10 = wrong;
    # xor = |A xor B| = (10-5) + (20-10 of B only) + (30-25)
    #     = [0,5)A + [10,20)B + [25,30)A = 5 + 10 + 5 = 20
    assert out[0].xor_len == 20


def test_min_xor_candidate(spark):
    target = spark.createDataFrame(
        [("u1", 0, 100)], "url string, char_start int, char_end int"
    )
    cands = spark.createDataFrame(
        [
            ("u1", 1, 0, 90),     # xor 10
            ("u1", 2, 0, 100),    # xor 0  ← winner
            ("u1", 3, 10, 120),   # xor 30
        ],
        "url string, candidate_id int, char_start int, char_end int",
    )
    out = min_xor_candidate(cands, target, ["url"]).collect()
    assert len(out) == 1 and out[0].candidate_id == 2 and out[0].xor_len == 0


def test_refine_hysteresis(spark):
    # block covers [2..5]: node 1 (adjacent, 0.9 >= high) absorbed through
    # the contiguous in-block node 2 (0.4 >= low); node 6 (adjacent, 0.5)
    # NOT absorbed (< high)
    nodes = spark.createDataFrame(
        [
            ("u1", 0, 0.9),
            ("u1", 1, 0.9),
            ("u1", 2, 0.4),
            ("u1", 3, 0.8),
            ("u1", 4, 0.8),
            ("u1", 5, 0.6),
            ("u1", 6, 0.5),
        ],
        "url string, node_id int, score double",
    )
    blocks = spark.createDataFrame(
        [("u1", 0, 2, 5)], "url string, block_id int, node_start int, node_end int"
    )
    out = refine_blocks_hysteresis(nodes, blocks).collect()
    assert len(out) == 1
    assert (out[0].node_start, out[0].node_end) == (1, 5)

    # trimming breaks contiguity: node 2 below low → leading trim, and the
    # adjacent strong node 1 cannot attach through the hole
    nodes2 = spark.createDataFrame(
        [("u1", 1, 0.9), ("u1", 2, 0.1), ("u1", 3, 0.8), ("u1", 4, 0.8), ("u1", 5, 0.6)],
        "url string, node_id int, score double",
    )
    out2 = refine_blocks_hysteresis(nodes2, blocks).collect()
    assert (out2[0].node_start, out2[0].node_end) == (3, 5)


def test_salting_spreads_hot_host(spark):
    rows = [(f"https://hot.example/{i}", i) for i in range(200)] + [
        (f"https://cold{i}.example/x", i) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "url string, i int")
    hot = hot_hosts(df, row_threshold=100).collect()
    assert [h.host for h in hot] == ["hot.example"]
    salted = salted_partition_key(df, n_salts=8, row_threshold=100)
    keys = salted.groupBy("salt_key").count().collect()
    hot_keys = [r for r in keys if r.salt_key.startswith("hot.example#")]
    cold_keys = [r for r in keys if "#" not in r.salt_key]
    assert len(hot_keys) == 8  # hot host spread over 8 salts
    assert max(r["count"] for r in hot_keys) < 200 / 2  # no salt holds the host
    assert len(cold_keys) == 20
    # case variants of one host count toward one hot host
    mixed = spark.createDataFrame(
        [(f"https://{'HOT' if i % 2 else 'hot'}.example/{i}", i) for i in range(120)],
        "url string, i int",
    )
    hot = hot_hosts(mixed, row_threshold=100).collect()
    assert [(h.host, h.n_rows) for h in hot] == [("hot.example", 120)]


def test_geometry_exprs(spark):
    df = spark.createDataFrame([(0.0, 0.0, 10.0, 10.0, 5.0, 5.0, 15.0, 15.0)],
        "ax1 double, ay1 double, ax2 double, ay2 double, bx1 double, by1 double, bx2 double, by2 double")
    r = df.select(
        union_area(*[F.col(c) for c in df.columns]).alias("ua"),
        iou(*[F.col(c) for c in df.columns]).alias("iou"),
    ).collect()[0]
    assert r.ua == 25.0
    assert abs(r.iou - 25.0 / 175.0) < 1e-12
    # disjoint → -1
    df2 = spark.createDataFrame([(0.0, 0.0, 1.0, 1.0, 5.0, 5.0, 6.0, 6.0)], df.schema)
    assert df2.select(union_area(*[F.col(c) for c in df.columns]).alias("ua")).collect()[0].ua == -1.0
    # yolo normalization: (cx, cy, w, h) over the page size
    df3 = spark.createDataFrame([(10.0, 20.0, 30.0, 60.0)], "x1 double, y1 double, x2 double, y2 double")
    pw, ph = F.lit(100.0), F.lit(200.0)
    yolo = xyxy2yolo(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"), pw, ph)
    vals = df3.select(*[b.alias(f"v{i}") for i, b in enumerate(yolo)]).collect()[0]
    assert [vals.v0, vals.v1, vals.v2, vals.v3] == [0.2, 0.2, 0.2, 0.2]


def test_shrink_span_collapses_to_midpoint(spark):
    from comic_text_detector_spark.functions.geometry import shrink_span, unclip_span

    df = spark.createDataFrame([(10.0, 12.0), (0.0, 100.0)], "s double, e double")
    ss, se = shrink_span(F.col("s"), F.col("e"), 0.0)  # r=0: full shrink
    rows = df.select(ss.alias("a"), se.alias("b")).collect()
    assert rows[0].a == rows[0].b == 11.0  # collapsed, never inverted
    us, ue = unclip_span(F.col("s"), F.col("e"), 1.5)
    r = df.select(us.alias("a"), ue.alias("b")).collect()[1]
    assert (r.a, r.b) == (-75.0, 175.0)


def test_order_mini_box_and_quad_warp(spark):
    """F19 corner ordering (reference comparison structure incl. the
    stable x-tie behavior) and the F25 unit-square→quad warp."""
    from pyspark.sql import functions as F

    from comic_text_detector_spark.functions.geometry import (
        mini_box_short_side,
        order_mini_box,
        quad_warp_coeffs,
        warp_point,
    )

    pts = [[12.0, 2.0], [3.0, 9.0], [3.0, 2.0], [12.0, 9.0]]  # scrambled
    df = spark.createDataFrame([(pts,)], "pts array<array<double>>")
    row = (
        df.select(order_mini_box(F.col("pts")).alias("box"))
        .select(
            "box",
            mini_box_short_side(F.col("box")).alias("s"),
            quad_warp_coeffs(F.col("box")).alias("cf"),
        )
        .select(
            "box",
            "s",
            warp_point(F.col("cf"), F.lit(0.5), F.lit(0.5)).alias("c"),
            warp_point(F.col("cf"), F.lit(0.0), F.lit(1.0)).alias("bl"),
        )
        .collect()[0]
    )
    assert row.box == [[3.0, 2.0], [12.0, 2.0], [12.0, 9.0], [3.0, 9.0]]
    assert row.s == 7.0
    assert row.c == [7.5, 5.5]       # rect center
    assert row.bl == [3.0, 9.0]      # (u,v)=(0,1) → bl corner

    # x-tie: python sorted() is stable, ours breaks ties by original index
    tie = [[5.0, 9.0], [5.0, 2.0], [7.0, 1.0], [7.0, 8.0]]
    df2 = spark.createDataFrame([(tie,)], "pts array<array<double>>")
    box2 = df2.select(order_mini_box(F.col("pts")).alias("b")).collect()[0].b
    assert box2 == [[5.0, 2.0], [7.0, 1.0], [7.0, 8.0], [5.0, 9.0]]

    # perspective quad: corners map to unit-square corners exactly
    quad = [[2.0, 1.0], [13.0, 3.0], [11.0, 12.0], [1.0, 9.0]]
    df3 = spark.createDataFrame([(quad,)], "q array<array<double>>")
    got = (
        df3.select(quad_warp_coeffs(F.col("q")).alias("cf"))
        .select(
            warp_point(F.col("cf"), F.lit(0.0), F.lit(0.0)).alias("tl"),
            warp_point(F.col("cf"), F.lit(1.0), F.lit(1.0)).alias("br"),
        )
        .collect()[0]
    )
    assert got.tl == [2.0, 1.0]
    assert [round(x, 9) for x in got.br] == [11.0, 12.0]
