"""Rotated-rect IoU + true convex polygon offset (the round-3 closure of
the last two scoped-out reference geometry paths)."""

from __future__ import annotations

import math

from comic_text_detector_spark.operators.polygons import (
    _offset_ccw,
    convex_iou,
    offset_polygons_df,
    polygon_iou_df,
    rect_corners,
)


def test_convex_iou_planted():
    sq = rect_corners(0, 0, 2, 2, 0.0)
    assert convex_iou(sq, sq) == 1.0
    assert convex_iou(sq, rect_corners(10, 0, 2, 2, 0)) == 0.0
    # overlap 1x2 = 2, union 4+4-2 = 6
    assert abs(convex_iou(sq, rect_corners(1, 0, 2, 2, 0)) - 1 / 3) < 1e-12
    # square vs its own 45-degree rotation: intersection is the regular
    # octagon of area 8*(sqrt(2)-1)
    oct_area = 8 * (math.sqrt(2) - 1)
    expect = oct_area / (8 - oct_area)
    got = convex_iou(sq, rect_corners(0, 0, 2, 2, math.pi / 4))
    assert abs(got - expect) < 1e-9
    # touching rects share a zero-area edge
    assert convex_iou(sq, rect_corners(2, 0, 2, 2, 0)) == 0.0


def test_rotated_iou_rotation_invariant():
    a = (0.3, 0.1, 3.0, 1.5, 0.2)
    b = (0.8, -0.4, 2.0, 2.5, 1.1)
    def rotated_rect_iou(r1, r2):
        return convex_iou(rect_corners(*r1), rect_corners(*r2))

    i0 = rotated_rect_iou(a, b)
    assert 0 < i0 < 1
    for th in (0.7, -1.3, math.pi / 2):
        c, s = math.cos(th), math.sin(th)

        def rot(r):
            return (r[0] * c - r[1] * s, r[0] * s + r[1] * c, r[2], r[3],
                    r[4] + th)

        assert abs(rotated_rect_iou(rot(a), rot(b)) - i0) < 1e-9


def test_offset_shrink_unclip_roundtrip(spark):
    sq = rect_corners(0, 0, 2, 2, 0)
    # shrink beyond the inradius refuses (would yield a phantom polygon)
    assert _offset_ccw(sq, -1.5) is None
    assert _offset_ccw(sq, -1.0) is None  # exact inradius collapses
    # offset round-trips on a rotated pentagon
    pent = [
        (math.cos(2 * math.pi * k / 5) * 3 + 1,
         math.sin(2 * math.pi * k / 5) * 3 - 2)
        for k in range(5)
    ]
    back = _offset_ccw(_offset_ccw(pent, 0.5), -0.5)
    err = max(
        abs(a - b) for p, q in zip(pent, back) for a, b in zip(p, q)
    )
    assert err < 1e-9
    # clockwise input is normalized, not corrupted: unclip ratio 1.5 is
    # d = 4*1.5/8 = 0.75 → side 3.5 either way round
    polys = spark.createDataFrame(
        [(1, [list(p) for p in sq]), (2, [list(p) for p in reversed(sq)])],
        "doc_id bigint, poly array<array<double>>",
    )
    unc = offset_polygons_df(polys, ratio=1.5, mode="unclip").collect()
    assert all(r.ok and abs(r.area_out - 12.25) < 1e-12 for r in unc)


def test_polygon_df_faces(spark):
    df = spark.createDataFrame(
        [
            (1, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]],
             [[1.0, 0.0], [3.0, 0.0], [3.0, 2.0], [1.0, 2.0]]),
            (2, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]], None),
            (3, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]],
             [[1.0, 0.0], [3.0], [3.0, 2.0], [1.0, 2.0]]),
        ],
        "pair_id bigint, poly_a array<array<double>>,"
        " poly_b array<array<double>>",
    )
    got = {r.pair_id: r.iou for r in polygon_iou_df(df).collect()}
    assert abs(got[1] - 1 / 3) < 1e-12
    assert got[2] is None and got[3] is None

    polys = spark.createDataFrame(
        [
            (1, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]),
            (2, [[0.0, 0.0], [0.1, 0.0], [0.1, 30.0], [0.0, 30.0]]),
            # degenerate collinear 'polygon': honest ok=false, row kept
            (3, [[0.0, 0.0], [1.0, 0.0], [2.0, 0.0], [3.0, 0.0]]),
        ],
        "doc_id bigint, poly array<array<double>>",
    )
    shr = {
        r.doc_id: r
        for r in offset_polygons_df(
            polys, ratio=0.4, mode="shrink"
        ).collect()
    }
    assert shr[1].ok and abs(shr[1].area_out - 1.16 * 1.16) < 1e-12
    # note: for convex shapes d = A(1-r^2)/p <= A/p <= inradius, so a
    # VALID convex polygon never refuses to shrink — only degenerates do
    assert shr[2].ok and 0 < shr[2].area_out < shr[2].area_in
    assert not shr[3].ok and shr[3].poly_out is None
    unc = {
        r.doc_id: r
        for r in offset_polygons_df(polys, ratio=1.5, mode="unclip").collect()
    }
    assert unc[1].ok and abs(unc[1].area_out - 12.25) < 1e-12
    assert unc[2].ok and unc[2].area_out > unc[2].area_in
    assert not unc[3].ok


def test_polygon_review_repros(spark):
    """Round-3 review repros: NaN coordinates refuse (never an ok=true
    all-NaN polygon), < 3 points emit null iou (not a fake 0.0), and a
    near-collinear vertex does not explode the miter into a spurious
    refusal."""
    import math

    import pytest

    nanq = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, float("nan"))]
    with pytest.raises(ValueError):
        convex_iou(rect_corners(0, 0, 2, 2, 0), nanq)
    with pytest.raises(ValueError):
        convex_iou(rect_corners(0, 0, 2, 2, 0), [(0.0, 0.0), (2.0, 0.0)])

    df = spark.createDataFrame(
        [
            (1, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]],
             [[0.0, 0.0], [2.0, 0.0]]),                      # 2 points
            (2, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]],
             [[0.0, 0.0], [2.0, 0.0], [2.0, float("nan")]]),  # NaN
        ],
        "pair_id bigint, poly_a array<array<double>>,"
        " poly_b array<array<double>>",
    )
    got = {r.pair_id: r.iou for r in polygon_iou_df(df).collect()}
    assert got[1] is None and got[2] is None

    # vertex quantized almost onto an edge: the miter clamp keeps the
    # offset finite and the polygon is NOT spuriously refused
    near = [[0.0, 0.0], [1.0, -1e-9], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]
    plain = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]
    polys = spark.createDataFrame(
        [(1, near), (2, plain)], "doc_id bigint, poly array<array<double>>"
    )
    u = {
        r.doc_id: r
        for r in offset_polygons_df(polys, ratio=1.5, mode="unclip").collect()
    }
    assert u[1].ok and u[2].ok
    assert abs(u[1].area_out - u[2].area_out) < 1e-6

    # NaN polygons through the offset DataFrame face stay ok=false
    polys = spark.createDataFrame(
        [(1, [[0.0, 0.0], [2.0, 0.0], [2.0, float("nan")]])],
        "doc_id bigint, poly array<array<double>>",
    )
    row = offset_polygons_df(polys, ratio=1.5, mode="unclip").collect()[0]
    assert not row.ok and row.poly_out is None
