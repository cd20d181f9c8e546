"""Hyperlink extraction from raw html — the crawl-graph feeder: (src,
href, anchor text, destination host) rows that downstream ops aggregate
(anchor-text signals) or fold into the link graph ``operators.graph.
pagerank`` scores for harvest prioritization.

Pure column expressions (regexp_extract_all + per-element regexp_extract
in the RE2 ∩ Java dialect, no lazy quantifiers), so extraction runs inside
the scan projection — zero shuffles of its own, and the DuckDB oracle
replays it verbatim. The pattern is deliberately the PRAGMATIC crawl
shape: double-quoted ``href`` attributes on ``<a>`` tags with untagged
anchor text — the overwhelming real-world case; exotic markup (unquoted
hrefs, nested tags inside the anchor) yields no row rather than a wrong
one, matching the extraction kernel's drop-not-fake discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# a whole <a ... href="..." ...>anchor</a> element (both-dialect-safe:
# negated classes instead of lazy quantifiers). The attribute name is
# anchored at a space boundary — `([^>]* )?href=` / ` href=` — so that
# `data-href="a"` can never satisfy the `href` match (the unanchored
# `[^>]*href=` form silently extracted the WRONG attribute's value,
# violating drop-not-fake; the tag always starts '<a ' so a real href is
# always space-preceded inside the matched tag).
A_TAG = '<a ([^>]* )?href="[^">]*"[^>]*>[^<]*</a>'
HREF = ' href="([^">]*)"'
ANCHOR = '>([^<]*)</a>'


def extract_links(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, href, anchor, dst_host): one row per <a href> element in
    each page. ``html`` may be binary (cast to string) or string."""
    h = F.col(html_col).cast("string")
    tags = df.select(
        F.col(url_col).alias("src_url"),
        F.explode(
            F.regexp_extract_all(h, F.lit(A_TAG), F.lit(0))
        ).alias("tag"),
    )
    href = F.regexp_extract(F.col("tag"), HREF, 1)
    return tags.select(
        "src_url",
        href.alias("href"),
        F.regexp_extract(F.col("tag"), ANCHOR, 1).alias("anchor"),
        host_of(href).alias("dst_host"),
    )


def anchor_stats(
    links: DataFrame, dst_col: str = "dst_host"
) -> DataFrame:
    """Per-destination anchor-text aggregate: (dst, n_links,
    n_unique_anchors, top_anchor) — ``top_anchor`` is the most-frequent
    anchor, ties broken toward the lexicographically LAST (max-struct
    semantics; deterministic and oracle-replayable via ORDER BY c DESC,
    anchor DESC) — the classic anchor-text relevance signal."""
    counts = links.groupBy(dst_col, "anchor").agg(
        F.count("*").cast("long").alias("c")
    )
    ranked = counts.groupBy(dst_col).agg(
        F.sum("c").alias("n_links"),
        F.count("*").cast("long").alias("n_unique_anchors"),
        F.max(F.struct(F.col("c"), F.col("anchor").alias("a"))).alias("top"),
    )
    return ranked.select(
        dst_col,
        "n_links",
        "n_unique_anchors",
        F.col("top.a").alias("top_anchor"),
    )


# page-level directives. Attribute names are space-anchored exactly like
# A_TAG/HREF above (a 'data-href'/'data-rel' can never satisfy the
# match) and each attribute pair is matched in BOTH orders — HTML does
# not promise attribute order, so rel-then-href and href-then-rel are
# separate patterns whose results coalesce.
CANON_A = '(?i)<link ([^>]* )?rel="canonical"[^>]* href="([^">]*)"'
CANON_B = '(?i)<link ([^>]* )?href="([^">]*)"[^>]* rel="canonical"'
META_ROBOTS_A = '(?i)<meta ([^>]* )?name="robots"[^>]* content="([^">]*)"'
META_ROBOTS_B = '(?i)<meta ([^>]* )?content="([^">]*)"[^>]* name="robots"'
BASE_HREF = '(?i)<base ([^>]* )?href="([^">]*)"'


def decode_entities(col: Column) -> Column:
    """&apos;/&amp; entity decode, &amp; LAST (same ordering rationale
    as extract_links). THE one definition — the feed parser
    (operators/curation.py::parse_feed) imports this too, so link
    normalization cannot diverge between the two parsers."""
    return F.replace(
        F.replace(col, F.lit("&apos;"), F.lit("'")),
        F.lit("&amp;"), F.lit("&"),
    )


_decode_entities = decode_entities  # established internal alias


def host_of(url: Column, strip_port: bool = False) -> Column:
    """The host of a url: its authority (RFC 3986 §3.2) lowercased, with
    any ``userinfo@`` dropped — the one host key of the package, so the
    link graph, frontier, caps, traps, robots and blocklists agree on a
    url's host. '' when the url has no ``scheme://`` authority.
    ``strip_port`` drops an explicit :port — blocklists, splits and
    graph node ids are portless; politeness, caps, traps and robots
    keep it."""
    auth = F.regexp_extract(url, r"^[a-zA-Z]+://([^/?#]+)", 1)
    h = F.lower(F.regexp_replace(auth, r"^[^@]*@", ""))
    return F.regexp_replace(h, r":\d+$", "") if strip_port else h


def resolve_ref(base: Column, ref: Column) -> Column:
    """``ref`` resolved against the absolute url ``base`` for the
    RFC 3986 §4.2 forms a crawler meets in Location headers and
    canonical links: absolute as declared, protocol-relative
    (``//host/p``) on base's scheme, root-relative (``/p``) on base's
    scheme+authority. NULL for any other form, or a NULL ``ref``: the
    caller picks the fallback (drop-not-fake — without full reference
    resolution we must not guess)."""
    scheme = F.regexp_extract(base, r"^([a-zA-Z]+):", 1)
    scheme_host = F.regexp_extract(base, r"^([a-zA-Z]+://[^/?#]+)", 1)
    return (
        F.when(ref.rlike("^[a-zA-Z]+://"), ref)
        .when(  # network-path reference: prepending scheme_host would
            # fabricate http://own//other/p
            ref.startswith("//") & (scheme != ""),
            F.concat(scheme, F.lit(":"), ref),
        )
        .when(
            ref.startswith("/") & (scheme_host != ""),
            F.concat(scheme_host, ref),
        )
    )


def page_directives(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-page indexing directives the curation pipeline must honor
    BEFORE a page enters the corpus: (url, canonical_url, base_href,
    robots_content, noindex, nofollow, noarchive).

    * ``canonical_url`` — <link rel="canonical" href=..>, entity-decoded,
      NULL when absent (never fabricated from the page url: the caller
      decides the fallback — drop-not-fake).
    * ``robots_content`` — <meta name="robots" content=..> raw string;
      the three booleans token-match its comma-split (``noindex`` must
      not fire on ``nonoindexy``).
    * ``base_href`` — <base href=..>, for relative-link resolution.

    Pure regexp column expressions in the scan projection — zero
    shuffles, oracle-replayable. First match wins per pattern
    (regexp_extract semantics), matching browser behavior for duplicate
    canonical/meta tags."""
    h = F.col(html_col).cast("string")

    def first_of(pa: str, pb: str) -> Column:
        a = F.regexp_extract(h, pa, 2)
        b = F.regexp_extract(h, pb, 2)
        return F.when(a != "", a).when(b != "", b)

    canon = _decode_entities(first_of(CANON_A, CANON_B))
    robots = first_of(META_ROBOTS_A, META_ROBOTS_B)
    base = F.regexp_extract(h, BASE_HREF, 2)

    def has_token(tok: str) -> Column:
        return F.coalesce(
            F.exists(
                F.split(F.lower(robots), ","),
                lambda t: F.trim(t) == tok,
            ),
            F.lit(False),
        )

    return df.select(
        F.col(url_col).alias("url"),
        canon.alias("canonical_url"),
        F.when(base != "", _decode_entities(base)).alias("base_href"),
        robots.alias("robots_content"),
        has_token("noindex").alias("noindex"),
        has_token("nofollow").alias("nofollow"),
        has_token("noarchive").alias("noarchive"),
    )


def canonical_dedup(
    directives: DataFrame,
    url_col: str = "url",
    ts_col: str | None = None,
) -> DataFrame:
    """Canonicalization-based crawl dedup: pages sharing a canonical
    target collapse to one group and ONE representative capture survives
    — the earliest capture when ``ts_col`` is given (ties →
    lexicographic url), else the lexicographically-smallest url.
    Returns (url, canonical_group, is_representative).

    Group key resolution (``resolve_ref``): an ABSOLUTE canonical is
    used as declared; a ROOT-RELATIVE canonical (href="/index.html" —
    extremely common) resolves against the page's own scheme+host (two
    different hosts declaring "/index.html" must NOT collapse into one
    group), a protocol-relative one against its scheme; any other
    relative form, or no canonical, falls back to the page's own url
    (drop-not-fake: without base resolution we must not guess an
    identity).

    One shuffle on the group key (min-struct aggregate with map-side
    combine; group fan-in is tiny at crawl scale, the join back is
    shuffle-colocated with the aggregate). The representative test
    compares the FULL (ts, url) key, so of several captures of the
    winning url only the earliest one is marked. noindex pages should
    be filtered BEFORE grouping (an unindexable page must not become a
    group representative)."""
    own = F.col(url_col)
    resolved = F.coalesce(resolve_ref(own, F.col("canonical_url")), own)
    g = directives.select(
        F.col(url_col).alias("url"),
        resolved.alias("canonical_group"),
        *([F.col(ts_col).alias("__ts")] if ts_col else []),
    )
    key = (
        F.struct(F.col("__ts"), F.col("url"))
        if ts_col
        else F.struct(F.col("url"))
    )
    reps = g.groupBy("canonical_group").agg(F.min(key).alias("k"))
    return (
        g.withColumn("__key", key)
        .join(reps, "canonical_group")
        .select(
            "url",
            "canonical_group",
            (F.col("__key") == F.col("k")).alias("is_representative"),
        )
    )


def _meta_first_of(h: Column, attr: str, key: str) -> Column:
    """First <meta ATTR="KEY" content=..> value in either attribute
    order (key-first / content-first), NULL when absent. Shared by
    ``page_meta`` so every field follows one extraction discipline."""
    pa = f'(?i)<meta ([^>]* )?{attr}="{key}"[^>]* content="([^">]*)"'
    pb = f'(?i)<meta ([^>]* )?content="([^">]*)"[^>]* {attr}="{key}"'
    a = F.regexp_extract(h, pa, 2)
    b = F.regexp_extract(h, pb, 2)
    return decode_entities(F.when(a != "", a).when(b != "", b))


def page_meta(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Page-head metadata a corpus/index pipeline wants per document:
    (url, title, description, og_title, og_description, og_image,
    og_type, twitter_card, published_time).

    * ``title`` — the <title> element text (first one, entity-decoded).
    * ``description`` — <meta name="description">.
    * ``og_*`` — Open Graph <meta property="og:...">; ``published_time``
      is <meta property="article:published_time"> (raw string — the
      caller parses; formats vary too much to fabricate a timestamp).
    * ``twitter_card`` — <meta name="twitter:card">.

    Every field is NULL when absent (drop-not-fake, same discipline as
    ``page_directives``), both attribute orders are matched; on
    duplicate tags the first match PER PATTERN wins with the key-first
    order preferred (regexp_extract semantics — the same documented
    discipline as ``page_directives``). Pure regexp
    column expressions in the scan projection — zero shuffles, and the
    DuckDB oracle replays the extraction verbatim.

    Reference analog: the per-image metadata the detector carries
    beside its pixel tensors (``inference.py``'s per-page dict); here
    the page-head tags are the webtext equivalent of those sidecar
    fields."""
    h = F.col(html_col).cast("string")
    title = F.regexp_extract(h, "(?i)<title>([^<]*)</title>", 1)
    return df.select(
        F.col(url_col).alias("url"),
        decode_entities(F.when(title != "", title)).alias("title"),
        _meta_first_of(h, "name", "description").alias("description"),
        _meta_first_of(h, "property", "og:title").alias("og_title"),
        _meta_first_of(h, "property", "og:description").alias(
            "og_description"
        ),
        _meta_first_of(h, "property", "og:image").alias("og_image"),
        _meta_first_of(h, "property", "og:type").alias("og_type"),
        _meta_first_of(h, "name", "twitter:card").alias("twitter_card"),
        _meta_first_of(h, "property", "article:published_time").alias(
            "published_time"
        ),
    )


# hreflang alternates: the multilingual-cluster discovery signal that
# feeds bitext mining (operators/curation.py::bitext_url_pairs reads url
# patterns; hreflang is the page-declared version of the same linkage).
_HREFLANG_TAG = '(?is)<link\\s[^>]*hreflang="[^">]*"[^>]*>'


def extract_hreflang(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per <link ... hreflang=.. href=..> tag: (url, hreflang
    lowercased, href entity-decoded). Tags missing either attribute
    are dropped, never guessed; rel="alternate" is NOT required (real
    pages omit it, the hreflang attribute is the signal). Explode of a
    regexp_extract_all — map-side, zero shuffles, oracle-replayable."""
    h = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(h, F.lit(_HREFLANG_TAG), 0)
    t = F.col("tag")
    lang = F.regexp_extract(t, '(?i)\\shreflang="([^">]*)"', 1)
    href = F.regexp_extract(t, '(?i)\\shref="([^">]*)"', 1)
    return (
        df.select(
            F.col(url_col).alias("url"),
            F.explode(tags).alias("tag"),
        )
        .select(
            "url",
            F.when(lang != "", F.lower(lang)).alias("hreflang"),
            F.when(href != "", decode_entities(href)).alias("href"),
        )
        .filter(F.col("hreflang").isNotNull() & F.col("href").isNotNull())
    )


# the common two-level public suffixes (ICANN country-code second-level
# registrations — public-suffix-list-derived subset, public knowledge).
# Deliberately a HEURISTIC CORE, not the full PSL: the full list is a
# moving data file; this covers the high-traffic tail and the function
# documents the trade. Extend via the `extra_suffixes` parameter.
TWO_LEVEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.mx", "org.mx", "gob.mx",
    "co.in", "net.in", "org.in", "gov.in", "ac.in",
    "co.kr", "or.kr", "go.kr", "ac.kr",
    "com.tw", "org.tw", "gov.tw",
    "com.sg", "org.sg", "edu.sg",
    "co.za", "org.za", "gov.za",
    "com.ar", "com.tr", "com.hk", "com.my", "com.ph", "com.vn",
    "com.eg", "com.sa", "com.ua", "com.pl", "co.th", "co.id",
    "co.nz", "org.nz", "govt.nz",
    "com.co", "com.pe", "com.ve", "com.uy", "com.ec",
]


def registered_domain(host: Column, extra_suffixes: list[str] | None = None) -> Column:
    """eTLD+1-style registered domain of a lowercased host — the grain
    at which site-level signals should aggregate when subdomain farms
    are in play (every *.blogspot-style tenant host is a distinct HOST
    but one registrant; host-grain quality/split/dedup then leak or
    fragment).

    Heuristic contract (documented, not hidden): two-level public
    suffixes come from the COMMON core above (+ ``extra_suffixes``);
    an uncovered exotic suffix degrades to the generic last-2-labels
    rule — deterministic and conservative, never a crash. IPv4
    literals and single-label hosts pass through unchanged."""
    sufs = list(TWO_LEVEL_SUFFIXES) + [
        s.lower() for s in (extra_suffixes or [])
    ]
    h = F.lower(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, -2, 2), ".")
    last3 = F.array_join(F.slice(labels, -3, 3), ".")
    is_ip = h.rlike(r"^\d+\.\d+\.\d+\.\d+$")
    return (
        F.when(is_ip | (n <= 2), h)
        .when(last2.isin(sufs) & (n >= 3), last3)
        .otherwise(last2)
    )
