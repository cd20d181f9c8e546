"""Crawl-trap detection — per-host URL-shape statistics that flag the
three classic spider traps before they eat the fetch budget: query
explosion (session ids / faceted search minting unbounded variants of
one path), path-segment repetition (calendar and breadcrumb loops),
and runaway depth. The frontier scheduler
(``operators/curation.py::schedule_frontier``) consumes the flags as
a host blocklist input.

Reference analog: the detector skipping degenerate boxes before the
refine stage (``basemodel.py``'s area/aspect gates) — cheap shape
statistics that keep pathological inputs out of the expensive loop.

All pure column expressions + two keyed aggregates; the per-url
segment-repetition scan is higher-order array algebra on a
few-element split (JVM-side, quadratic only in the ≤ depth-cap
segment count of ONE url). Deterministic, fully oracle-replayable.

Scale shape: groupBy(host, path) with map-side partial distinct, then
groupBy(host) over the already-tiny per-path frame — the second
shuffle moves one row per distinct path. A 10^12-url frontier costs
one real exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.links import host_of

_PATH = r"^[a-zA-Z]+://[^/?#]+([^?#]*)"
_QUERY = r"^[^?#]*\?([^#]*)"


def url_shape(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-url shape columns: (url, host, path, query, depth,
    max_seg_repeat). ``path`` '' normalizes to '/'; ``query`` is NULL
    when absent (no '?'), '' when present-but-empty — the variants
    count must distinguish '?' minting from no query at all."""
    u = F.col(url_col)
    raw_path = F.regexp_extract(u, _PATH, 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    has_q = u.rlike(r"^[^#]*\?")
    segs = F.filter(
        F.split(path, "/"), lambda s: s != ""
    )
    rep = F.when(
        F.size(segs) > 0,
        F.array_max(
            F.transform(
                segs,
                lambda s: F.size(F.filter(segs, lambda t: t == s)),
            )
        ),
    ).otherwise(F.lit(0))
    return df.select(
        u.alias("url"),
        host_of(u).alias("host"),
        path.alias("path"),
        F.when(has_q, F.regexp_extract(u, _QUERY, 1)).alias("query"),
        F.size(segs).alias("depth"),
        rep.alias("max_seg_repeat"),
    )


def detect_traps(
    df: DataFrame,
    url_col: str = "url",
    query_variant_threshold: int = 50,
    seg_repeat_threshold: int = 3,
    depth_threshold: int = 12,
) -> DataFrame:
    """Per-host trap report: (host, n_urls, n_paths,
    max_query_variants, max_depth, max_seg_repeat, query_trap,
    repeat_trap, depth_trap).

    ``max_query_variants`` is the per-host max over paths of the EXACT
    distinct-query count (NULL no-query rows don't count as a
    variant); thresholds are policy knobs a crawl operator tunes —
    the defaults flag hosts a polite crawler should rate-limit or
    pattern-blocklist, never auto-drop."""
    shaped = url_shape(df, url_col)
    per_path = shaped.groupBy("host", "path").agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.col("query")).alias("__qv"),
        F.max("depth").alias("__d"),
        F.max("max_seg_repeat").alias("__r"),
    )
    rep = per_path.groupBy("host").agg(
        F.sum("__n").alias("n_urls"),
        F.count(F.lit(1)).alias("n_paths"),
        F.max("__qv").alias("max_query_variants"),
        F.max("__d").alias("max_depth"),
        F.max("__r").alias("max_seg_repeat"),
    )
    return rep.select(
        "host",
        "n_urls",
        "n_paths",
        "max_query_variants",
        "max_depth",
        "max_seg_repeat",
        (F.col("max_query_variants") >= query_variant_threshold).alias(
            "query_trap"
        ),
        (F.col("max_seg_repeat") >= seg_repeat_threshold).alias(
            "repeat_trap"
        ),
        (F.col("max_depth") >= depth_threshold).alias("depth_trap"),
    )
