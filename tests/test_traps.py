"""Crawl-trap detection (operators/traps.py)."""

from __future__ import annotations

from comic_text_detector_spark.operators.traps import detect_traps, url_shape


def test_url_shape(spark):
    rows = [
        ("https://h.ex/a/b/a/b?x=1",),
        ("https://h.ex",),  # bare host: path '/'
        ("https://h.ex/p?",),  # present-but-empty query
        ("https://h.ex/p#frag",),  # fragment is not a query
    ]
    df = spark.createDataFrame(rows, "url string")
    got = {r.url: r for r in url_shape(df).collect()}
    a = got["https://h.ex/a/b/a/b?x=1"]
    assert (a.host, a.path, a.query) == ("h.ex", "/a/b/a/b", "x=1")
    assert a.depth == 4 and a.max_seg_repeat == 2
    bare = got["https://h.ex"]
    assert bare.path == "/" and bare.depth == 0 and bare.max_seg_repeat == 0
    assert got["https://h.ex/p?"].query == ""
    assert got["https://h.ex/p#frag"].query is None


def test_detect_traps(spark):
    rows = (
        # session-id trap: one path, 60 query variants
        [(f"https://q.ex/shop?sid={k}",) for k in range(60)]
        # calendar trap: segment repeated 3x
        + [("https://r.ex/cal/2024/cal/2024/cal/2024",)]
        # deep trap
        + [("https://d.ex/" + "/".join(f"s{k}" for k in range(14)),)]
        # healthy host: 3 paths, one query each
        + [(f"https://ok.ex/p{k}?x=1",) for k in range(3)]
        # one host in three cases
        + [("https://m.ex/a",), ("https://M.ex/b",), ("https://m.EX/c",)]
    )
    df = spark.createDataFrame(rows, "url string")
    got = {r.host: r for r in detect_traps(df).collect()}
    q = got["q.ex"]
    assert q.max_query_variants == 60 and q.query_trap
    assert not (q.repeat_trap or q.depth_trap)
    r = got["r.ex"]
    assert r.max_seg_repeat == 3 and r.repeat_trap and not r.query_trap
    d = got["d.ex"]
    assert d.max_depth == 14 and d.depth_trap
    ok = got["ok.ex"]
    assert ok.n_urls == 3 and ok.n_paths == 3
    assert not (ok.query_trap or ok.repeat_trap or ok.depth_trap)
    assert got["m.ex"].n_urls == 3 and set(got) == {
        "q.ex", "r.ex", "d.ex", "ok.ex", "m.ex"
    }
