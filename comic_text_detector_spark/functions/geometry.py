"""Box/polygon geometry as pure column expressions (SURVEY.md §2.8 F-group).

Every function here mirrors a reference scalar function; all are
whole-stage-codegen'd arithmetic — no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def union_area(
    ax1: Column, ay1: Column, ax2: Column, ay2: Column,
    bx1: Column, by1: Column, bx2: Column, by2: Column,
) -> Column:
    """F1 rect intersection area, -1 when disjoint (reference
    utils/imgproc_utils.py:13-20 returns -1 for non-overlapping boxes)."""
    iw = F.least(ax2, bx2) - F.greatest(ax1, bx1)
    ih = F.least(ay2, by2) - F.greatest(ay1, by1)
    return F.when((iw > 0) & (ih > 0), iw * ih).otherwise(F.lit(-1.0))


def iou(
    ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
) -> Column:
    """Box IoU (reference utils/yolov5_utils.py:100-122)."""
    iw = F.greatest(F.least(ax2, bx2) - F.greatest(ax1, bx1), F.lit(0.0))
    ih = F.greatest(F.least(ay2, by2) - F.greatest(ay1, by1), F.lit(0.0))
    inter = iw * ih
    ua = (ax2 - ax1) * (ay2 - ay1) + (bx2 - bx1) * (by2 - by1) - inter
    return inter / ua


def xyxy2xywh(x1: Column, y1: Column, x2: Column, y2: Column) -> list[Column]:
    return [(x1 + x2) / 2, (y1 + y2) / 2, x2 - x1, y2 - y1]


def xyxy2yolo(
    x1: Column, y1: Column, x2: Column, y2: Column, page_w: Column, page_h: Column
) -> list[Column]:
    """F3 normalize to yolo (cx, cy, w, h) in [0,1]
    (utils/imgproc_utils.py:39-51)."""
    cx, cy, w, h = xyxy2xywh(x1, y1, x2, y2)
    return [cx / page_w, cy / page_h, w / page_w, h / page_h]


def rotate_polygon(pts: Column, cx: Column, cy: Column, angle_rad: Column) -> Column:
    """F4 rotate_polygons (utils/imgproc_utils.py:68-84): rotate an
    array<array<double>> of [x, y] points about (cx, cy)."""
    cos, sin = F.cos(angle_rad), F.sin(angle_rad)
    return F.transform(
        pts,
        lambda p: F.array(
            cx + (p[0] - cx) * cos - (p[1] - cy) * sin,
            cy + (p[0] - cx) * sin + (p[1] - cy) * cos,
        ),
    )


def min_rect(
    pts: Column,
    cx: Column,
    cy: Column,
    angle_rad: Column,
    rotate_back: bool = True,
) -> Column:
    """F14 min_rect (reference utils/textblock.py:121-134): rotate the
    polygon by −angle about the center, take the axis-aligned bbox, and
    (optionally) rotate its corners back into the page frame. Corners are
    returned [tl, tr, br, bl] as array<array<double>> — all higher-order
    array exprs, JVM-side."""
    rot = rotate_polygon(pts, cx, cy, -angle_rad)
    xs = F.transform(rot, lambda p: p[0])
    ys = F.transform(rot, lambda p: p[1])
    mnx, mxx = F.array_min(xs), F.array_max(xs)
    mny, mxy = F.array_min(ys), F.array_max(ys)
    bbox = F.array(
        F.array(mnx, mny),
        F.array(mxx, mny),
        F.array(mxx, mxy),
        F.array(mnx, mxy),
    )
    return rotate_polygon(bbox, cx, cy, angle_rad) if rotate_back else bbox


def aspect_ratio(rect: Column) -> Column:
    """F13 aspect ratio via midpoint norms (reference utils/textblock.py:
    110-115): edge midpoints mid_i = (rect[(i+1)%4] + rect[i]) / 2, then
    ‖mid2 − mid0‖ / ‖mid1 − mid3‖ (vertical over horizontal extent)."""

    def mid(i: int, j: int) -> tuple[Column, Column]:
        return (rect[i][0] + rect[j][0]) / 2, (rect[i][1] + rect[j][1]) / 2

    m0x, m0y = mid(0, 1)
    m1x, m1y = mid(1, 2)
    m2x, m2y = mid(2, 3)
    m3x, m3y = mid(3, 0)
    norm_v = F.sqrt((m2x - m0x) ** 2 + (m2y - m0y) ** 2)
    norm_h = F.sqrt((m1x - m3x) ** 2 + (m1y - m3y) ** 2)
    return norm_v / norm_h


def shrink_span(start: Column, end: Column, ratio: float) -> list[Column]:
    """F18 shrink, interval analog (reference utils/db_utils.py:501-525:
    polygon offset distance = area·(1−r²)/perimeter). A 1-D span of length
    L has 'area' L and two endpoints, so δ = L·(1−r²)/2 and the span
    becomes [s+δ, e−δ], collapsing to the midpoint rather than inverting."""
    d = (end - start) * (1.0 - ratio * ratio) / 2.0
    mid = (start + end) / 2.0
    return [F.least(start + d, mid), F.greatest(end - d, mid)]


def unclip_span(start: Column, end: Column, ratio: float = 1.5) -> list[Column]:
    """F18 unclip, interval analog (reference utils/db_utils.py:168-174:
    distance = area·r/perimeter): δ = L·r/2, span grows to [s−δ, e+δ]."""
    d = (end - start) * ratio / 2.0
    return [start - d, end + d]


def expand_eng_span(
    start: Column, end: Column, font_size: Column, page_len: Column
) -> list[Column]:
    """F17 eng-block expansion (reference utils/textblock.py:492-506: grow
    the block by max(fontsize*0.1, 2) along its direction, clipped to the
    page): interval recast [s−δ, e+δ] with δ = greatest(font_size*0.1, 2),
    clipped to [0, page_len]."""
    d = F.greatest(font_size * 0.1, F.lit(2.0))
    return [
        F.greatest(F.lit(0.0), start - d),
        F.least(page_len, end + d),
    ]


def hex2rgb(color: Column) -> Column:
    """F11 hex color bit-unpack (reference utils/imgproc_utils.py:5-11):
    int color → [r, g, b] via shift/mask exprs."""
    return F.array(
        F.shiftright(color, 16).bitwiseAND(F.lit(255)),
        F.shiftright(color, 8).bitwiseAND(F.lit(255)),
        color.bitwiseAND(F.lit(255)),
    )


def order_mini_box(pts: Column) -> Column:
    """F19 get_mini_boxes corner ordering (reference utils/db_utils.py:
    176-195): stable-sort the 4 corners by x (original index breaks ties,
    mirroring python's stable ``sorted(key=x)``), then within the left
    pair and the right pair the smaller-y point goes on top →
    [tl, tr, br, bl] as array<array<double>>. Works on any 4-point
    polygon, not just minAreaRect output — the reference's exact
    comparison structure, as pure array exprs."""
    # two-parameter transform lambda receives (element, index) — here
    # that documented behavior is exactly what the stable tiebreak needs
    tagged = F.transform(
        pts,
        lambda p, i: F.struct(
            p[0].alias("x"), i.alias("i"), p[1].alias("y")
        ),
    )
    s = F.array_sort(tagged)  # struct sort = lexicographic (x, i, y)
    p0, p1, p2, p3 = s[0], s[1], s[2], s[3]

    def pt(p):
        return F.array(p["x"], p["y"])

    left_ok = p1["y"] > p0["y"]   # reference: points[1][1] > points[0][1]
    right_ok = p3["y"] > p2["y"]  # reference: points[3][1] > points[2][1]
    tl = F.when(left_ok, pt(p0)).otherwise(pt(p1))
    bl = F.when(left_ok, pt(p1)).otherwise(pt(p0))
    tr = F.when(right_ok, pt(p2)).otherwise(pt(p3))
    br = F.when(right_ok, pt(p3)).otherwise(pt(p2))
    return F.array(tl, tr, br, bl)


def mini_box_short_side(box: Column) -> Column:
    """F19's second return (reference utils/db_utils.py:195 returns
    ``min(bounding_box[1])`` = the rect's short side): for a general
    ordered quad, the lesser of the top and right edge norms. Explicit
    d*d products, not pow() — pow differs from multiplication in the last
    bit across engines."""
    dx01, dy01 = box[1][0] - box[0][0], box[1][1] - box[0][1]
    dx12, dy12 = box[2][0] - box[1][0], box[2][1] - box[1][1]
    return F.least(
        F.sqrt(dx01 * dx01 + dy01 * dy01),
        F.sqrt(dx12 * dx12 + dy12 * dy12),
    )


def quad_warp_coeffs(quad: Column) -> Column:
    """F25 homography core (reference utils/textblock.py:162-194 runs
    cv2.findHomography(src_quad, dst_rect) + warpPerspective; with
    exactly 4 correspondences the solve is the exact projective map,
    which has a closed form — the classic unit-square→quad
    parameterization from the graphics-gems literature). Returns the 8
    coefficients [a,b,c,d,e,f,g,h] of

        x(u,v) = (a·u + b·v + c) / (g·u + h·v + 1)
        y(u,v) = (d·u + e·v + f) / (g·u + h·v + 1)

    mapping the unit square onto ``quad`` = [tl, tr, br, bl]. A W×H
    destination pixel (X, Y) samples the source at
    ``warp_point(coeffs, X/(W-1), Y/(H-1))`` — the inverse warp cv2
    applies internally, obtained here WITHOUT any matrix inversion.
    Affine quads (parallelograms) fall out naturally with g = h = 0.
    Degenerate (collinear-corner) quads divide by zero → ±inf/nan
    coefficients, never a wrong-looking answer."""
    x0, y0 = quad[0][0], quad[0][1]  # tl ↔ (u,v) = (0,0)
    x1, y1 = quad[1][0], quad[1][1]  # tr ↔ (1,0)
    x2, y2 = quad[2][0], quad[2][1]  # br ↔ (1,1)
    x3, y3 = quad[3][0], quad[3][1]  # bl ↔ (0,1)
    dx1, dy1 = x1 - x2, y1 - y2
    dx2, dy2 = x3 - x2, y3 - y2
    dx3, dy3 = x0 - x1 + x2 - x3, y0 - y1 + y2 - y3
    den = dx1 * dy2 - dy1 * dx2
    g = (dx3 * dy2 - dy3 * dx2) / den
    h = (dx1 * dy3 - dy1 * dx3) / den
    return F.array(
        x1 - x0 + g * x1,  # a
        x3 - x0 + h * x3,  # b
        x0,                # c
        y1 - y0 + g * y1,  # d
        y3 - y0 + h * y3,  # e
        y0,                # f
        g,
        h,
    )


def warp_point(coeffs: Column, u: Column, v: Column) -> Column:
    """Apply ``quad_warp_coeffs``: (u, v) in the unit square → [x, y] in
    the source frame. One fixed sequence of IEEE ops — oracle-exact."""
    den = coeffs[6] * u + coeffs[7] * v + F.lit(1.0)
    return F.array(
        (coeffs[0] * u + coeffs[1] * v + coeffs[2]) / den,
        (coeffs[3] * u + coeffs[4] * v + coeffs[5]) / den,
    )
