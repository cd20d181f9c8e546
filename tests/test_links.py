"""Hyperlink extraction + anchor aggregation (functions/links.py)."""

from __future__ import annotations

from comic_text_detector_spark.functions.links import (
    anchor_stats,
    extract_links,
)


def test_extract_links_planted(spark):
    html_a = (
        b'<html><body><a href="https://x.example/p">go here</a>'
        b'<a class="c" href="http://y.example:8080/q?z=1">and there</a>'
        b"<a href='unquoted.example'>single-quoted skipped</a>"
        b'<a href="relative/path">rel</a></body></html>'
    )
    df = spark.createDataFrame(
        [("u1", html_a), ("u2", b"<p>no links at all</p>"), ("u3", None)],
        "url string, html binary",
    )
    rows = extract_links(df).collect()
    by_href = {r.href: r for r in rows}
    assert set(by_href) == {
        "https://x.example/p", "http://y.example:8080/q?z=1", "relative/path",
    }
    assert by_href["https://x.example/p"].anchor == "go here"
    assert by_href["https://x.example/p"].dst_host == "x.example"
    assert by_href["http://y.example:8080/q?z=1"].dst_host == "y.example:8080"
    # relative href → no scheme → empty host (caller resolves/filters)
    assert by_href["relative/path"].dst_host == ""
    assert all(r.src_url == "u1" for r in rows)
    # dst_host is host_of's: lowercased, userinfo dropped, port kept
    mixed = spark.createDataFrame(
        [("u4", '<a href="https://user@Z.Example:8443/r">z</a>')],
        "url string, html string",
    )
    assert [r.dst_host for r in extract_links(mixed).collect()] == [
        "z.example:8443"
    ]


def test_data_href_not_mistaken_for_href(spark):
    """Drop-not-fake (advice finding): `data-href="a"` must never satisfy
    the href match — the attribute name is anchored at a space boundary,
    so the real href wins and a tag with ONLY data-href yields no row."""
    df = spark.createDataFrame(
        [("u", b'<a data-href="decoy" href="https://real.example/p">x</a>'
              b'<a data-href="only-decoy">y</a>'
              b'<a href="https://plain.example/q">z</a>')],
        "url string, html binary",
    )
    rows = extract_links(df).collect()
    assert sorted(r.href for r in rows) == [
        "https://plain.example/q", "https://real.example/p",
    ]
    by_href = {r.href: r for r in rows}
    assert by_href["https://real.example/p"].anchor == "x"
    assert by_href["https://real.example/p"].dst_host == "real.example"


def test_anchor_stats_counts_and_tiebreak(spark):
    links = spark.createDataFrame(
        [
            ("a", "h1", "click"),
            ("b", "h1", "click"),
            ("c", "h1", "zz"),
            ("d", "h1", "aa"),
            ("e", "h2", "x"),
            ("f", "h2", "y"),  # tie at 1 → lexicographically last wins
        ],
        "src_url string, dst_host string, anchor string",
    )
    out = {r.dst_host: r for r in anchor_stats(links).collect()}
    assert out["h1"].n_links == 4
    assert out["h1"].n_unique_anchors == 3
    assert out["h1"].top_anchor == "click"
    assert out["h2"].top_anchor == "y"


def test_href_containing_gt_yields_no_row(spark):
    """Drop-not-fake (review finding): a '>' inside the href value must
    yield NO row, not a corrupted anchor."""
    df = spark.createDataFrame(
        [("u", b'<a href="https://x.example/a>b">click</a>'
              b'<a href="https://ok.example/p">fine</a>')],
        "url string, html binary",
    )
    rows = extract_links(df).collect()
    assert [r.href for r in rows] == ["https://ok.example/p"]


def test_page_directives_extraction(spark):
    from comic_text_detector_spark.functions.links import page_directives

    docs = spark.createDataFrame(
        [
            (
                "https://a/1",
                '<head><LINK rel="canonical" href="https://a/c?x=1&amp;y=2"/>'
                '<meta name="robots" content="NOINDEX, nofollow"/>'
                '<base href="https://a/base/"/></head>',
            ),
            (
                "https://a/2",
                '<link href="https://a/c" rel="canonical">'
                '<meta content="noarchive" name="robots">',
            ),
            ("https://a/3", "<p>nothing</p>"),
            ("https://a/4", '<meta name="robots" content="nonoindexy">'),
            (
                "https://a/5",
                '<link data-rel="canonical" data-href="https://WRONG/" '
                'rel="stylesheet" href="https://a/css">',
            ),
        ],
        "url string, html string",
    )
    got = {r.url: r for r in page_directives(docs).collect()}
    r1 = got["https://a/1"]
    assert r1.canonical_url == "https://a/c?x=1&y=2"  # decoded, case-insens
    assert r1.noindex and r1.nofollow and not r1.noarchive
    assert r1.base_href == "https://a/base/"
    r2 = got["https://a/2"]
    assert r2.canonical_url == "https://a/c"  # href-before-rel order
    assert r2.noarchive and not r2.noindex
    r3 = got["https://a/3"]
    assert r3.canonical_url is None and r3.robots_content is None
    assert not r3.noindex
    assert not got["https://a/4"].noindex  # token match, not substring
    assert got["https://a/5"].canonical_url is None  # stylesheet != canonical


def test_page_directives_binary_html(spark):
    from comic_text_detector_spark.functions.links import page_directives

    docs = spark.createDataFrame(
        [("u", '<link rel="canonical" href="https://b/c">'.encode())],
        "url string, html binary",
    )
    assert page_directives(docs).collect()[0].canonical_url == "https://b/c"


def test_canonical_dedup_groups_and_reps(spark):
    from comic_text_detector_spark.functions.links import canonical_dedup

    d = spark.createDataFrame(
        [
            ("https://a/p1", "https://a/c", None),
            ("https://a/p2", "https://a/c", None),
            ("https://a/p3", None, None),
        ],
        "url string, canonical_url string, base_href string",
    )
    got = {r.url: r for r in canonical_dedup(d).collect()}
    assert got["https://a/p1"].canonical_group == "https://a/c"
    assert got["https://a/p1"].is_representative  # lexicographic min
    assert not got["https://a/p2"].is_representative
    assert got["https://a/p3"].canonical_group == "https://a/p3"
    assert got["https://a/p3"].is_representative


def test_canonical_dedup_earliest_capture_wins(spark):
    from comic_text_detector_spark.functions.links import canonical_dedup

    d = spark.createDataFrame(
        [
            ("https://a/z", "https://a/c", "2024-01-01 00:00:00"),
            ("https://a/a", "https://a/c", "2024-02-01 00:00:00"),
        ],
        "url string, canonical_url string, warc_ts string",
    ).withColumn("warc_ts", __import__("pyspark.sql.functions",
                                       fromlist=["F"]).to_timestamp("warc_ts"))
    got = {r.url: r.is_representative
           for r in canonical_dedup(d, ts_col="warc_ts").collect()}
    assert got["https://a/z"] and not got["https://a/a"]  # earliest ts wins


def test_canonical_dedup_relative_canonicals_resolve_per_host(spark):
    """Root-relative canonicals resolve against the page's own host —
    two hosts declaring '/index.html' must NOT collapse; non-root
    relative forms fall back to the page's own url."""
    from comic_text_detector_spark.functions.links import canonical_dedup

    d = spark.createDataFrame(
        [
            ("https://a.com/x", "/index.html", None),
            ("https://b.com/y", "/index.html", None),
            ("https://a.com/z", "../rel.html", None),  # unresolvable
        ],
        "url string, canonical_url string, base_href string",
    )
    got = {r.url: r for r in canonical_dedup(d).collect()}
    assert got["https://a.com/x"].canonical_group == "https://a.com/index.html"
    assert got["https://b.com/y"].canonical_group == "https://b.com/index.html"
    assert got["https://a.com/x"].is_representative
    assert got["https://b.com/y"].is_representative  # different groups
    assert got["https://a.com/z"].canonical_group == "https://a.com/z"


def test_canonical_dedup_multiple_captures_one_representative(spark):
    """Two captures of the SAME winning url: only the earliest capture
    row is the representative (full-key comparison, not url-only)."""
    from pyspark.sql import functions as F

    from comic_text_detector_spark.functions.links import canonical_dedup

    d = spark.createDataFrame(
        [
            ("https://a/u1", "https://a/c", "2024-01-01 00:00:00"),
            ("https://a/u1", "https://a/c", "2024-02-01 00:00:00"),
            ("https://a/u2", "https://a/c", "2024-03-01 00:00:00"),
        ],
        "url string, canonical_url string, warc_ts string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    rows = canonical_dedup(d, ts_col="warc_ts").collect()
    reps = [r for r in rows if r.is_representative]
    assert len(rows) == 3 and len(reps) == 1
    assert reps[0].url == "https://a/u1"


def test_page_meta_planted(spark):
    """OG/meta extraction: both attribute orders, entity decode in the
    value, first-match-wins on duplicate tags, NULL when absent."""
    from comic_text_detector_spark.functions.links import page_meta

    html = (
        b"<html><head><title>First &amp; Title</title>"
        b"<title>Second ignored</title>"
        b'<meta name="description" content="a desc"/>'
        b'<meta content="OG T" property="og:title"/>'
        b'<meta property="og:title" content="dup ignored"/>'
        b'<meta property="og:image" content="https://i.example/x.jpg"/>'
        b'<meta name="twitter:card" content="summary_large_image"/>'
        b'<meta property="article:published_time"'
        b' content="2023-07-01T12:00:00Z"/>'
        b"</head></html>"
    )
    df = spark.createDataFrame(
        [("u1", html), ("u2", b"<p>nothing</p>")], "url string, html binary"
    )
    rows = {r.url: r for r in page_meta(df).collect()}
    r1 = rows["u1"]
    assert r1.title == "First & Title"
    assert r1.description == "a desc"
    # first match is per-PATTERN with key-first order preferred (the
    # page_directives discipline): the key-first duplicate wins even
    # though the content-first tag appears earlier in the document
    assert r1.og_title == "dup ignored"
    assert r1.og_image == "https://i.example/x.jpg"
    assert r1.og_description is None
    assert r1.twitter_card == "summary_large_image"
    assert r1.published_time == "2023-07-01T12:00:00Z"
    r2 = rows["u2"]
    assert r2.title is None and r2.og_title is None
    assert r2.description is None and r2.twitter_card is None


def test_extract_hreflang(spark):
    from comic_text_detector_spark.functions.links import extract_hreflang

    html = (
        '<head><link rel="alternate" hreflang="en" href="https://e/en"/>'
        '<link hreflang="DE-de" href="https://e/de?a=1&amp;b=2">'
        '<link rel="alternate" hreflang="fr">'  # no href: dropped
        '<link rel="stylesheet" href="/s.css"></head>'
    )
    df = spark.createDataFrame(
        [("p", html), ("q", "<p>no links</p>")], "url string, html string"
    )
    rows = extract_hreflang(df).collect()
    assert all(r.url == "p" for r in rows)
    got = {r.hreflang: r.href for r in rows}
    assert got == {
        "en": "https://e/en",
        "de-de": "https://e/de?a=1&b=2",  # lowercased + entity-decoded
    }


def test_registered_domain(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.functions.links import registered_domain

    rows = [
        ("a.b.example.com",), ("x.blog.co.uk",), ("10.0.0.1",),
        ("localhost",), ("sub.example.com.au",), ("EXAMPLE.ORG",),
        ("deep.sub.weird.zz",),
    ]
    df = spark.createDataFrame(rows, "host string")
    got = {r.host: r.rd for r in df.select(
        "host", registered_domain(F.col("host")).alias("rd")
    ).collect()}
    assert got["a.b.example.com"] == "example.com"
    assert got["x.blog.co.uk"] == "blog.co.uk"
    assert got["10.0.0.1"] == "10.0.0.1"       # IPv4 passes through
    assert got["localhost"] == "localhost"
    assert got["sub.example.com.au"] == "example.com.au"
    assert got["EXAMPLE.ORG"] == "example.org"
    # uncovered exotic suffix degrades to last-2 (documented heuristic)
    assert got["deep.sub.weird.zz"] == "weird.zz"


def test_registered_domain_extra_suffixes(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.functions.links import registered_domain

    df = spark.createDataFrame([("a.b.github.io",)], "host string")
    (r,) = df.select(registered_domain(
        F.col("host"), extra_suffixes=["github.io"]
    ).alias("rd")).collect()
    assert r.rd == "b.github.io"
