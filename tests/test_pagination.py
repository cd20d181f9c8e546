"""Paginated-article stitching (operators/pagination.py)."""

from __future__ import annotations

from comic_text_detector_spark.operators.pagination import stitch_pagination


def test_stitch_pagination_chain(spark):
    pages = spark.createDataFrame(
        [
            ("http://s/a1", "one"),
            ("http://s/a2", "two"),
            ("http://s/a3", "three"),
            ("http://s/solo", "alone"),
        ],
        "url string, text string",
    )
    nexts = spark.createDataFrame(
        [
            ("http://s/a1", "http://s/a2"),
            ("http://s/a2", "http://s/a3"),
            # next points OUTSIDE the corpus: chain ends at what we have
            ("http://s/a3", "http://s/a4-missing"),
        ],
        "url string, next_url string",
    )
    rows = stitch_pagination(pages, nexts).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.root_url == "http://s/a1"
    assert r.text == "one\ntwo\nthree"
    assert r.n_pages == 3 and not r.truncated


def test_stitch_pagination_cycle_truncates(spark):
    pages = spark.createDataFrame(
        [("r", "start"), ("x", "loop1"), ("y", "loop2")],
        "url string, text string",
    )
    nexts = spark.createDataFrame(
        [("r", "x"), ("x", "y"), ("y", "x")],
        "url string, next_url string",
    )
    (row,) = stitch_pagination(pages, nexts, max_hops=5).collect()
    assert row.root_url == "r" and row.truncated
    # the cycle contributes bounded members, never an infinite loop
    assert row.text.startswith("start\nloop1\nloop2")


def test_stitch_pagination_branch_determinism(spark):
    # broken markup: one page declares two nexts -> smallest wins
    pages = spark.createDataFrame(
        [("r", "a"), ("p1", "b"), ("p2", "c")], "url string, text string"
    )
    nexts = spark.createDataFrame(
        [("r", "p2"), ("r", "p1")], "url string, next_url string"
    )
    (row,) = stitch_pagination(pages, nexts).collect()
    assert row.text == "a\nb" and row.n_pages == 2


def test_stitch_rootless_cycle_surfaces(spark):
    # a->b->a with no entry: both pages must SURVIVE as single-page
    # truncated rows, not vanish
    pages = spark.createDataFrame(
        [("a", "one"), ("b", "two")], "url string, text string"
    )
    nexts = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "url string, next_url string"
    )
    got = {r.root_url: r for r in stitch_pagination(pages, nexts).collect()}
    assert set(got) == {"a", "b"}
    assert all(r.truncated and r.n_pages == 1 for r in got.values())
    assert got["a"].text == "one" and got["b"].text == "two"
