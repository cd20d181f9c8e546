"""Crawl-archive record formats: revisit classification and CDXJ lines."""

from __future__ import annotations


def test_classify_revisits_digest_dedup(spark):
    from comic_text_detector_spark.sources.warc import classify_revisits

    pages = spark.createDataFrame(
        [
            ("u1", 100, "BODY A"),
            ("u2", 50, "BODY B"),
            ("u3", 200, "BODY A"),  # later identical -> revisit of u1
            ("u0", 100, "BODY A"),  # ts tie with u1: url breaks it, u0 wins
            ("u4", 10, None),  # null payload: response, no digest
            ("u5", 20, None),  # second null payload: NOT grouped with u4
        ],
        "url string, warc_ts long, html string",
    )
    out = {r.url: r for r in classify_revisits(pages).collect()}
    assert out["u0"].record_type == "response"
    assert out["u1"].record_type == "revisit"
    assert out["u1"].refers_to_url == "u0" and out["u1"].refers_to_ts == 100
    assert out["u3"].refers_to_url == "u0"
    assert out["u2"].record_type == "response"
    assert out["u4"].record_type == "response" and out["u4"].digest is None
    assert out["u5"].record_type == "response"
    assert out["u4"].refers_to_url is None
    assert len(out) == 6


def test_cdx_roundtrip_and_malformed(spark):
    """Emit → parse returns every field; malformed lines yield NULLs
    instead of failing; ts parses to a real timestamp."""
    import datetime

    from pyspark.sql import functions as F

    from comic_text_detector_spark.sources.warc import cdx_lines, parse_cdx

    docs = spark.createDataFrame(
        [("https://www.Ex.org/a", "2024-03-05 06:07:08", "hello world")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    lines = cdx_lines(docs)
    row = lines.collect()[0]
    assert row.surt == "org,ex)/a"  # www+scheme stripped, reversed
    assert row.ts14 == "20240305060708"
    assert row.cdx_line.startswith("org,ex)/a 20240305060708 {\"url\": ")
    parsed = parse_cdx(lines).collect()[0]
    assert parsed.url == "https://www.Ex.org/a"
    assert parsed.mime == "text/html" and parsed.status == 200
    assert parsed.length == len("hello world")
    assert parsed.ts == datetime.datetime(2024, 3, 5, 6, 7, 8)
    bad = spark.createDataFrame([("not a cdx line",)], "cdx_line string")
    b = parse_cdx(bad).collect()[0]
    assert b.surt is None and b.ts is None and b.url is None


def test_cdx_sorted_index_is_domain_contiguous(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.sources.warc import cdx_lines

    docs = spark.createDataFrame(
        [
            ("https://b.example.org/1", "2024-01-01 00:00:00", "x"),
            ("https://a.example.org/2", "2024-01-01 00:00:00", "x"),
            ("https://other.net/3", "2024-01-01 00:00:00", "x"),
            ("https://example.org/4", "2024-01-02 00:00:00", "x"),
        ],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    surts = [r.surt for r in
             cdx_lines(docs).orderBy("surt", "ts14").collect()]
    # all example.org captures (any subdomain) are one contiguous run
    in_dom = [s.startswith("org,example") for s in surts]
    first, last = in_dom.index(True), len(in_dom) - 1 - in_dom[::-1].index(True)
    assert all(in_dom[first:last + 1])


def test_cdx_url_with_quote_roundtrips(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.sources.warc import cdx_lines, parse_cdx

    url = 'https://h/p?q="x"\\y'
    docs = spark.createDataFrame(
        [(url, "2024-01-01 00:00:00", "t")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    parsed = parse_cdx(cdx_lines(docs)).collect()[0]
    assert parsed.url == url  # escaped on emit, unescaped by the parser
    assert parsed.length == 1
