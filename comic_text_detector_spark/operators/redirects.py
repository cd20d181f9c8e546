"""Redirect-chain resolution — collapse 3xx hop chains from a fetch
table into (url, final_url, n_hops, terminal_status, resolved) so the
extraction tier and the canonical-dedup stage see one identity per
chain instead of k aliases.

Consumes exactly what ``functions/http.py::http_response_meta``
emits: one (url, status, location) row per capture. Reference analog:
the detector following its model's two heads to a final box identity
(``basemodel.py``'s det→seg handoff) — here the server declares the
handoff and the operator follows it.

Scale shape: only REDIRECT rows iterate. Non-3xx rows resolve to
themselves with zero joins; the 3xx subset (a few percent of a real
crawl) is joined back to the fetch table ``max_hops`` times on the
url key — each hop a keyed equi-join AQE broadcasts when the
surviving frontier is small (chains shrink geometrically: most
redirects terminate in one hop). No visited-set state is carried:
a cycle simply never reaches a non-3xx terminal and surfaces as
``resolved=false`` at the hop cap — deterministic, never mislabeled.

Location resolution is ``functions/links.py::resolve_ref``, the one
``canonical_dedup`` uses: absolute targets as declared;
protocol-relative on the source's scheme; root-relative
(``Location: /new``) against the source's scheme+host; any other
relative form ends the chain unresolved (drop-not-fake — RFC 9110
allows them, but without full reference resolution we must not
guess).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.links import resolve_ref


def resolve_redirects(
    fetches: DataFrame,
    max_hops: int = 4,
    url_col: str = "url",
    status_col: str = "status",
    location_col: str = "location",
) -> DataFrame:
    """(url, final_url, n_hops, terminal_status, resolved) per input
    row.

    * A chain ends at the first non-3xx row: ``final_url`` is that
      row's url, ``terminal_status`` its status, ``resolved=true``.
    * A hop to a url ABSENT from the fetch table ends the chain there:
      ``terminal_status`` NULL (unfetched), ``resolved=true`` — the
      destination is known even though its capture is not.
    * A chain still on a 3xx after ``max_hops`` (deep chains, cycles)
      reports the frontier reached and ``resolved=false``.
    * A 3xx with a NULL or non-resolvable Location is a broken
      redirect: final_url = its own url, terminal_status = its own
      3xx status, ``resolved=false``.

    Re-fetched urls: several usable-redirect captures of the SAME url
    collapse to one chain row (lexicographic-min target — deterministic
    across partitionings); non-redirect captures pass through one row
    per capture."""
    is_redir = (
        (F.col(status_col) >= 300)
        & (F.col(status_col) <= 399)
        & F.col(location_col).isNotNull()
    )
    target = resolve_ref(F.col(url_col), F.col(location_col))
    # the edge list: one row per usable redirect. Broken redirects
    # (NULL/relative Location) are excluded — they terminate in place.
    edges = (
        fetches.filter(is_redir & target.isNotNull())
        .select(
            F.col(url_col).alias("src"),
            target.alias("dst"),
        )
        # one capture wins per url (re-fetches): lexicographic min —
        # deterministic across runs/partitionings, oracle-replayable.
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
        # the edge list (3xx subset, a few % of a crawl) is joined at
        # EVERY hop: checkpoint it once so each hop reuses the
        # materialized subset instead of rescanning the fetch table —
        # the graph.py::pagerank convention.
        .localCheckpoint()
    )
    statuses = (
        fetches.select(
            F.col(url_col).alias("u"), F.col(status_col).alias("st")
        )
        .groupBy("u")
        .agg(F.min("st").alias("st"))
    )

    # frontier: chains still standing on a usable redirect row.
    chains = edges.select(
        F.col("src").alias("url"),
        F.col("dst").alias("cur"),
        F.lit(1).alias("n_hops"),
    )
    done = chains.limit(0)
    for _ in range(max_hops - 1):
        hop = (
            chains.join(edges, chains["cur"] == edges["src"], "left")
            .select(
                "url",
                F.col("dst").alias("nxt"),
                "cur",
                "n_hops",
            )
        )
        settled = hop.filter(F.col("nxt").isNull()).select(
            "url", "cur", "n_hops"
        )
        done = done.unionByName(settled)
        chains = hop.filter(F.col("nxt").isNotNull()).select(
            "url",
            F.col("nxt").alias("cur"),
            (F.col("n_hops") + 1).alias("n_hops"),
        )
    # whatever is left after the loop: settled if its cur has no edge
    # (checked above each round), else hop-capped. One last split:
    last = chains.join(
        edges.select(F.col("src").alias("cur"), F.lit(True).alias("__e")),
        "cur",
        "left",
    )
    done = done.unionByName(
        last.filter(F.col("__e").isNull()).select("url", "cur", "n_hops")
    )
    capped = last.filter(F.col("__e").isNotNull()).select(
        "url", "cur", "n_hops"
    )

    def finish(df: DataFrame, resolved_if_terminal: bool) -> DataFrame:
        j = df.join(statuses, df["cur"] == statuses["u"], "left")
        still_redir = (F.col("st") >= 300) & (F.col("st") <= 399)
        return j.select(
            "url",
            F.col("cur").alias("final_url"),
            "n_hops",
            F.col("st").alias("terminal_status"),
            (
                F.lit(resolved_if_terminal)
                & ~F.coalesce(still_redir, F.lit(False))
            ).alias("resolved"),
        )

    redirected = finish(done, True).unionByName(finish(capped, False))

    broken = fetches.filter(is_redir & target.isNull()).select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("final_url"),
        F.lit(0).alias("n_hops"),
        F.col(status_col).alias("terminal_status"),
        F.lit(False).alias("resolved"),
    )
    plain = fetches.filter(~F.coalesce(is_redir, F.lit(False))).select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("final_url"),
        F.lit(0).alias("n_hops"),
        F.col(status_col).alias("terminal_status"),
        F.lit(True).alias("resolved"),
    )
    return redirected.unionByName(broken).unionByName(plain)
