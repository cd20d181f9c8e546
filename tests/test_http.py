"""HTTP response-envelope parsing (functions/http.py)."""

from __future__ import annotations

from comic_text_detector_spark.functions.http import http_response_meta

OK = (
    "HTTP/1.1 200 OK\r\nServer: x\r\nContent-Type: text/html;"
    " charset=UTF-8\r\nContent-Length: 13\r\n\r\n<p>hello</p>!"
)


def _meta(spark, rows):
    df = spark.createDataFrame(rows, "url string, payload string")
    return {r.url: r for r in http_response_meta(df).collect()}


def test_http_response_meta_planted(spark):
    rows = _meta(
        spark,
        [
            ("ok", OK),
            ("redir", "HTTP/1.0 301 Moved Permanently\r\nLocation:"
                      " https://n.example/\r\n\r\n"),
            ("pdf", "HTTP/1.1 200 OK\r\nContent-Type:"
                    " application/pdf\r\n\r\n%PDF-1.4"),
            ("trunc", "HTTP/1.1 200 OK\r\nContent-Type: text/html"),
            ("raw", "<html>no envelope</html>"),
            ("null", None),
        ],
    )
    ok = rows["ok"]
    assert ok.status == 200 and ok.content_type == "text/html"
    assert ok.charset == "utf-8" and ok.content_length == 13
    assert ok.body == "<p>hello</p>!"
    r = rows["redir"]
    assert r.status == 301 and r.location == "https://n.example/"
    assert r.content_type is None and r.body == ""
    assert rows["pdf"].content_type == "application/pdf"
    assert rows["pdf"].charset is None
    # headers never terminated: body NULL, not '' (drop-not-fake)
    assert rows["trunc"].status == 200 and rows["trunc"].body is None
    # not an envelope at all: every field NULL
    raw = rows["raw"]
    assert raw.status is None and raw.content_type is None
    assert raw.body is None
    assert rows["null"].status is None


def test_dechunk_and_gunzip_kernels():
    import zlib

    from comic_text_detector_spark.functions.http import (
        dechunk_bytes,
        gunzip_bytes,
    )

    chunked = b"4\r\nWiki\r\n7;ext=1\r\npedia i\r\nB\r\nn \r\nchunks.\r\n0\r\nX-T: v\r\n\r\n"
    assert dechunk_bytes(chunked) == b"Wikipedia in \r\nchunks."
    assert dechunk_bytes(b"zz\r\nhi\r\n0\r\n\r\n") is None  # bad hex
    assert dechunk_bytes(b"5\r\nhi\r\n0\r\n\r\n") is None  # short data
    assert dechunk_bytes(b"4\r\nWiki") is None  # truncated
    assert dechunk_bytes(None) is None

    co = zlib.compressobj(9, zlib.DEFLATED, zlib.MAX_WBITS | 16)
    gz = co.compress(b"hello gzip body") + co.flush()
    assert gunzip_bytes(gz) == b"hello gzip body"
    assert gunzip_bytes(zlib.compress(b"raw deflate")[2:-4]) == b"raw deflate"
    assert gunzip_bytes(b"\x1f\x8b corrupt") is None
    assert gunzip_bytes(gz[:-3]) is None  # truncated stream: refused
    assert gunzip_bytes(None) is None


def test_decode_bodies_dataframe(spark):
    import zlib

    from comic_text_detector_spark.functions.http import decode_bodies

    co = zlib.compressobj(9, zlib.DEFLATED, zlib.MAX_WBITS | 16)
    gz = co.compress(b"<p>zipped</p>") + co.flush()
    chunked_gz = (
        b"%x\r\n" % len(gz[:5]) + gz[:5] + b"\r\n"
        b"%x\r\n" % len(gz[5:]) + gz[5:] + b"\r\n0\r\n\r\n"
    )
    rows = [
        ("plain", bytearray(b"<p>x</p>"), None, None),
        ("gz", bytearray(gz), None, "gzip"),
        ("both", bytearray(chunked_gz), "chunked", "gzip"),
        ("badgz", bytearray(b"nope"), None, "gzip"),
        ("nullb", None, "chunked", None),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, body binary, transfer_encoding string,"
        " content_encoding string",
    )
    out = {r.url: bytes(r.decoded_body) if r.decoded_body is not None
           else None for r in decode_bodies(df).collect()}
    assert out["plain"] == b"<p>x</p>"
    assert out["gz"] == b"<p>zipped</p>"
    assert out["both"] == b"<p>zipped</p>"
    assert out["badgz"] is None
    assert out["nullb"] is None


def test_soft404_signals(spark):
    from comic_text_detector_spark.functions.http import soft404_signals

    long_pad = "word " * 200
    rows = [
        ("t", 200, "404 Page Not Found", long_pad),       # title alone
        ("bt", 200, "Oops", "Sorry, page not found. " ),  # body + tiny
        ("b", 200, "Blog", "the page not found error " + long_pad),
        ("real404", 404, "Page not found", "gone"),        # real 404
        ("ok", 200, "Hello", long_pad),
        ("nulls", 200, None, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, status int, title string, text string"
    )
    got = {r.url: r for r in soft404_signals(df).collect()}
    assert got["t"].is_soft404 and got["t"].soft404_score == 600
    assert got["bt"].is_soft404 and got["bt"].soft404_score == 500
    assert not got["b"].is_soft404  # body phrase alone: article about 404s
    assert got["b"].soft404_score == 400
    assert not got["real404"].is_soft404  # real status speaks for itself
    assert not got["ok"].is_soft404 and got["ok"].soft404_score == 0
    n = got["nulls"]  # absence of evidence except tininess
    assert n.soft404_score == 100 and not n.is_soft404
