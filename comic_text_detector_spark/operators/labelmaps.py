"""2-D rasterized training-label maps — the U8 completeness tier over the
polygon kernels: DBNet-style shrink map / shrink mask / border (threshold)
map built on REAL pixel grids (reference utils/db_utils.py:527-701,
MakeShrinkMap + MakeBorderMap), no cv2/shapely/pyclipper.

Per polygon (convex, the kernel family's contract):

* ignore rule — min bounding side < ``min_text_size``, |area| < 1, or a
  failed shrink → the ORIGINAL polygon is zeroed in the shrink mask and
  nothing is drawn (reference :556-564).
* shrink map — the polygon offset inward by d = A(1-r²)/P (miter
  offset, ``polygons._offset_ccw``) filled 1.
* border map — offset the polygon OUTWARD by the same d, and inside that
  padded region write max(0, 1 - dist/d) where dist is the distance to
  the nearest original-polygon edge; the canvas composes polygons with
  fmax and is finally scaled into [thresh_min, thresh_max] (:624-676).
  The border mask marks the padded support.

Deviations from the reference, documented rather than imitated:

* pyclipper returns integer-quantized offset polygons and cv2.fillPoly
  applies its own scan-conversion fill rule; here the offset stays in
  float and a lattice point (x, y) is "inside" iff it lies on the closed
  left side of every CCW edge (cross products >= 0). Deterministic,
  engine-replayable (the axis-aligned oracle reproduces the counts with
  ceil/floor arithmetic), and exact for the dyadic fixtures.
* dist uses the standard clamped-projection point-to-segment form, not
  the law-of-cosines rearrangement — same value, better conditioning.

Scale shape: one row in = one bounded raster out (mapInPandas,
embarrassingly parallel, no shuffle); maps re-encode as real PNGs via the
stdlib encoder so the training-tensor sink is the same S7 machinery.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .polygons import (
    _offset_ccw,
    _validate_poly,
    ensure_ccw,
    polygon_area_signed,
)

Point = tuple[float, float]


def _inside_ccw(poly: list[Point], w: int, h: int) -> np.ndarray:
    """(h, w) bool grid: lattice point (x, y) on the closed interior side
    of every CCW edge. Edge tests run only on the polygon's bounding-box
    subgrid (everything outside is trivially outside) — a page-size
    raster with many small text polygons costs O(Σ bbox) instead of
    O(n_polys · W · H)."""
    inside = np.zeros((h, w), dtype=bool)
    if not poly:
        return inside
    x0 = max(0, int(math.floor(min(q[0] for q in poly))))
    x1 = min(w - 1, int(math.ceil(max(q[0] for q in poly))))
    y0 = max(0, int(math.floor(min(q[1] for q in poly))))
    y1 = min(h - 1, int(math.ceil(max(q[1] for q in poly))))
    if x1 < x0 or y1 < y0:
        return inside
    xs = np.arange(x0, x1 + 1, dtype=np.float64)[None, :]
    ys = np.arange(y0, y1 + 1, dtype=np.float64)[:, None]
    sub = np.ones((y1 - y0 + 1, x1 - x0 + 1), dtype=bool)
    n = len(poly)
    for i in range(n):
        ex1, ey1 = poly[i]
        ex2, ey2 = poly[(i + 1) % n]
        sub &= (ex2 - ex1) * (ys - ey1) - (ey2 - ey1) * (xs - ex1) >= 0
    inside[y0 : y1 + 1, x0 : x1 + 1] = sub
    return inside


def _seg_dist(xs: np.ndarray, ys: np.ndarray, a: Point, b: Point) -> np.ndarray:
    """Vectorized point-to-segment distance (clamped projection)."""
    ax, ay = a
    bx, by = b
    ex, ey = bx - ax, by - ay
    ln2 = ex * ex + ey * ey
    if ln2 == 0:
        return np.hypot(xs - ax, ys - ay)
    t = np.clip(((xs - ax) * ex + (ys - ay) * ey) / ln2, 0.0, 1.0)
    return np.hypot(xs - (ax + t * ex), ys - (ay + t * ey))


def build_label_maps(
    w: int,
    h: int,
    polys: list[list[Point]],
    shrink_ratio: float = 0.4,
    min_text_size: int = 4,
    thresh_min: float = 0.3,
    thresh_max: float = 0.7,
) -> dict:
    """Rasterize every polygon's labels into one image's maps. Returns
    {'shrink': uint8 (h,w) 0/1, 'mask': uint8 0/1, 'border': float32 in
    [thresh_min, thresh_max], 'border_mask': uint8 0/1}."""
    if w <= 0 or h <= 0 or w * h > 1 << 24:
        raise ValueError(f"bad raster dims {w}x{h}")
    shrink = np.zeros((h, w), dtype=np.uint8)
    mask = np.ones((h, w), dtype=np.uint8)
    canvas = np.zeros((h, w), dtype=np.float64)
    border_mask = np.zeros((h, w), dtype=np.uint8)
    for raw in polys or []:
        # reference validate_polygons: clip coords into the image (:573-576)
        pts = [
            (min(max(float(x), 0.0), float(w - 1)),
             min(max(float(y), 0.0), float(h - 1)))
            for x, y in raw
        ]
        try:
            p = ensure_ccw(_validate_poly(pts))
        except ValueError:
            continue  # degenerate input: nothing to draw or ignore
        area = abs(polygon_area_signed(p))
        xs_p = [q[0] for q in p]
        ys_p = [q[1] for q in p]
        width = max(xs_p) - min(xs_p)
        height = max(ys_p) - min(ys_p)
        per = sum(
            math.hypot(p[(i + 1) % len(p)][0] - p[i][0],
                       p[(i + 1) % len(p)][1] - p[i][1])
            for i in range(len(p))
        )
        d = area * (1 - shrink_ratio * shrink_ratio) / per if per else 0.0
        shrunk = (
            _offset_ccw(p, -d)
            if area >= 1 and min(height, width) >= min_text_size and per
            else None
        )
        if shrunk is None:
            mask[_inside_ccw(p, w, h)] = 0
            continue
        shrink[_inside_ccw(shrunk, w, h)] = 1
        padded = _offset_ccw(p, d)
        if padded is None:  # outward offset of a valid CCW polygon never
            continue  # refuses; guard stays for degenerate float edges
        support = _inside_ccw(padded, w, h)
        border_mask[support] = 1
        pxs = [q[0] for q in padded]
        pys = [q[1] for q in padded]
        x0 = max(0, int(math.floor(min(pxs))))
        x1 = min(w - 1, int(math.ceil(max(pxs))))
        y0 = max(0, int(math.floor(min(pys))))
        y1 = min(h - 1, int(math.ceil(max(pys))))
        if x1 < x0 or y1 < y0:
            continue
        gx = np.arange(x0, x1 + 1, dtype=np.float64)[None, :]
        gy = np.arange(y0, y1 + 1, dtype=np.float64)[:, None]
        dist = None
        for i in range(len(p)):
            e = _seg_dist(gx, gy, p[i], p[(i + 1) % len(p)])
            dist = e if dist is None else np.minimum(dist, e)
        val = 1.0 - np.clip(dist / d, 0.0, 1.0) if d > 0 else np.zeros_like(dist)
        region = canvas[y0 : y1 + 1, x0 : x1 + 1]
        sup = support[y0 : y1 + 1, x0 : x1 + 1]
        region[sup] = np.fmax(region[sup], val[sup])
    border = (canvas * (thresh_max - thresh_min) + thresh_min).astype(
        np.float32
    )
    return {
        "shrink": shrink,
        "mask": mask,
        "border": border,
        "border_mask": border_mask,
    }


LABEL_MAPS_DDL = (
    "media_id string, n_shrink bigint, n_masked_off bigint,"
    " n_border_support bigint, shrink_png binary, mask_png binary,"
    " border_png binary"
)


def label_maps_df(
    df: DataFrame,
    media_col: str = "media_id",
    w_col: str = "w",
    h_col: str = "h",
    polys_col: str = "polys",
    shrink_ratio: float = 0.4,
    min_text_size: int = 4,
) -> DataFrame:
    """DataFrame face of U8: (media_id, w, h, polys) → per-image label-map
    summary counts + the real maps as PNGs (border quantized to uint8
    round(255·v)). ``polys`` is array<array<array<double>>> —
    [[x, y], ...] per polygon. The nested column crosses the Arrow
    boundary as JSON text: pyarrow's nested-list→pandas conversion has
    shown an INTERMITTENT segfault in this environment (observed on
    identical inputs that pass on re-run), and a flat string column
    sidesteps that entire code path for a negligible parse cost."""
    import json

    import pandas as pd

    from ..multimodal.pixels import encode_png

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, w, h, polys_json in zip(
                pdf[media_col], pdf[w_col], pdf[h_col], pdf["_polys_json"]
            ):
                try:
                    polys = json.loads(polys_json) if polys_json else []
                    maps = build_label_maps(
                        int(w), int(h),
                        [
                            [(float(q[0]), float(q[1])) for q in poly]
                            for poly in polys
                        ],
                        shrink_ratio=shrink_ratio,
                        min_text_size=min_text_size,
                    )
                except (ValueError, TypeError, IndexError):
                    rows.append((mid, None, None, None, None, None, None))
                    continue
                rows.append(
                    (
                        mid,
                        int(maps["shrink"].sum()),
                        int((maps["mask"] == 0).sum()),
                        int(maps["border_mask"].sum()),
                        encode_png(maps["shrink"][:, :, None] * 255),
                        encode_png(maps["mask"][:, :, None] * 255),
                        encode_png(
                            np.clip(
                                np.floor(maps["border"] * 255.0 + 0.5),
                                0, 255,
                            ).astype(np.uint8)[:, :, None]
                        ),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_shrink", "n_masked_off",
                    "n_border_support", "shrink_png", "mask_png",
                    "border_png",
                ],
            )

    return df.select(
        media_col, w_col, h_col,
        F.to_json(F.col(polys_col)).alias("_polys_json"),
    ).mapInPandas(kernel, LABEL_MAPS_DDL)
