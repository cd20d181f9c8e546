"""Paginated-article stitching — reassemble multi-page articles from
``rel="next"`` declarations so the corpus carries ONE document per
article instead of k fragments (fragments depress quality scores, split
dedup identities, and truncate training sequences mid-thought).

``stitch_pagination`` takes the (url, next_url) edge list and walks the
next-pointer chains from their ROOTS (pages nobody points to),
concatenating the member texts in chain order.

Discipline (shared with ``resolve_redirects``): no visited-set state —
a pagination CYCLE (malformed sites do emit them) simply stops growing
at ``max_hops`` and the stitched row reports ``truncated=true``; a
next-pointer to a page absent from the corpus ends the chain there
(what we have is what we stitch). A url with several distinct declared
nexts keeps the LEXICOGRAPHICALLY SMALLEST (deterministic; real pages
declaring two nexts are broken markup).

Scale shape: only pages participating in pagination iterate (a few
percent of a crawl); each hop is one keyed equi-join of the surviving
frontier against the (deduped, localCheckpoint-ed) edge list — the
frontier SHRINKS as chains terminate; the final assembly is one
(root)-keyed aggregate with an ordered array_sort reassembly, the same
shape as line_freq_dedup's rebuild.

Reference analog: the detector merges vertically-adjacent text blocks
into one reading-order run (``textblockdetector/textblock.py`` group
sort) — here the page graph declares adjacency instead of geometry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stitch_pagination(
    pages: DataFrame,
    nexts: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    max_hops: int = 16,
    sep: str = "\n",
) -> DataFrame:
    """(root_url, n_pages, truncated, text): one stitched row per
    chain ROOT — a page that declares a next but is nobody's next.
    Non-paginated pages are untouched (absent from the output; union
    them back at the call site if a full-corpus view is wanted).

    ``truncated`` is true when the walk stopped at ``max_hops`` with
    the chain still growing (deeper chain or a cycle)."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = (
        nexts.groupBy(F.col("url").alias("src"))
        .agg(F.min("next_url").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    roots = e.join(
        e.select(F.col("dst").alias("src")), "src", "left_anti"
    ).select(F.col("src").alias("root"))
    # members accumulates (root, member, pos); frontier is the last hop
    members = roots.select(
        "root", F.col("root").alias("member"), F.lit(0).alias("pos")
    ).localCheckpoint()
    frontier = members
    truncated_roots = None
    for hop in range(1, max_hops + 1):
        step = (
            frontier.join(
                e, frontier["member"] == e["src"]
            )
            .select(
                "root",
                F.col("dst").alias("member"),
                F.lit(hop).alias("pos"),
            )
            .localCheckpoint()
        )
        if step.isEmpty():
            frontier = step
            break
        members = members.unionByName(step)
        frontier = step
    # truncated = the walk ended while the frontier still had outgoing
    # edges (deeper chain or a cycle) — a frontier member that simply
    # has no next finished cleanly
    truncated_roots = (
        frontier.join(e, frontier["member"] == e["src"])
        .select("root")
        .distinct()
    )
    texts = pages.select(
        F.col(url_col).alias("member"),
        F.col(text_col).cast("string").alias("t"),
    )
    joined = members.join(texts, "member", "left")
    stitched = (
        joined.groupBy("root")
        .agg(
            F.count(F.when(F.col("t").isNotNull(), 1))
            .cast("long")
            .alias("n_pages"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("t").isNotNull(),
                                F.struct(F.col("pos"), F.col("t")),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                sep,
            ).alias("text"),
        )
        .join(
            truncated_roots.withColumn("truncated", F.lit(True)),
            "root",
            "left",
        )
        .select(
            F.col("root").alias("root_url"),
            "n_pages",
            F.coalesce("truncated", F.lit(False)).alias("truncated"),
            "text",
        )
    )
    # ROOTLESS cycles (a→b→a with no entry page) have no root and would
    # otherwise VANISH — a silent corpus loss, since the union-back
    # recipe above treats every edge participant as consumed. Surface
    # each orphan member as its own single-page truncated row instead.
    participants = (
        e.select(F.col("src").alias("member"))
        .unionByName(e.select(F.col("dst").alias("member")))
        .distinct()
    )
    orphans = participants.join(
        members.select("member").distinct(), "member", "left_anti"
    )
    orphan_rows = orphans.join(texts, "member").select(
        F.col("member").alias("root_url"),
        F.lit(1).cast("long").alias("n_pages"),
        F.lit(True).alias("truncated"),
        F.col("t").alias("text"),
    )  # inner join: ghost urls with no corpus page carry no content
    return stitched.unionByName(orphan_rows)
