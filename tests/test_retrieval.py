"""BM25 scoring (operators/retrieval.py): hand-computed planted values,
ranking sanity, length normalization, contracts."""

from __future__ import annotations

import math

import pytest

from comic_text_detector_spark.operators.retrieval import bm25_score


def _corpus(spark):
    return spark.createDataFrame(
        [
            ("hit2", "apple banana apple cherry"),
            ("hit1", "apple date elderberry fig grape"),
            ("miss", "kiwi lemon mango"),
            ("short", "apple"),
            ("empty", ""),
        ],
        "doc_id string, text string",
    )


def test_bm25_hand_computed(spark):
    out = {r.doc_id: r for r in
           bm25_score(_corpus(spark), ("apple", "banana")).collect()}
    # corpus stats: docs with tokens: 4 (empty excluded), total tokens 13
    n, avgdl = 4, 13 / 4
    k1, b = 1.2, 0.75

    def term(tf, df, dl):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return round(
            idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * dl / avgdl))
            * 1e6
        )

    # hit2: apple tf=2 df=3 dl=4; banana tf=1 df=1 dl=4
    want = (term(2, 3, 4) + term(1, 1, 4)) / 1e6
    assert abs(out["hit2"].score - want) < 1e-9
    assert out["hit2"].n_hit_terms == 2 and out["hit2"].dl == 4
    # miss and empty absent
    assert set(out) == {"hit2", "hit1", "short"}
    # short doc with same tf beats longer doc (length normalization)
    assert out["short"].score > out["hit1"].score


def test_bm25_ranking_and_contracts(spark):
    with pytest.raises(ValueError):
        bm25_score(_corpus(spark), ())
    empty = spark.createDataFrame(
        [("a", ""), ("b", None)], "doc_id string, text string"
    )
    with pytest.raises(ValueError):
        bm25_score(empty, ("x",))
    # rarer term outranks common term at equal tf/dl
    docs = spark.createDataFrame(
        [("r", "rare zz zz"), ("c", "common zz zz")]
        + [(f"f{i}", "common pad pad") for i in range(8)],
        "doc_id string, text string",
    )
    out = {r.doc_id: r.score
           for r in bm25_score(docs, ("rare", "common")).collect()}
    assert out["r"] > out["c"]


def test_bm25_phrase_adjacent_beats_scattered(spark):
    """The planted ranking the phrase/proximity scorer exists for: same
    bag of terms, but adjacent > near > far-scattered > one-term-only."""
    from comic_text_detector_spark.operators.retrieval import bm25_phrase

    docs = spark.createDataFrame(
        [
            ("adj", "x x alpha beta x x x x"),
            ("near", "x x alpha x beta x x x"),
            ("far", "alpha x x x x x x beta"),
            ("one", "alpha x x x x x x x"),
            ("none", "x y z"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in
           bm25_phrase(docs, ("alpha", "beta")).collect()}
    assert "none" not in out  # no query term → absent
    # identical bag stats (same tf/dl) → ordering decided by phrase+prox
    assert out["adj"].score > out["near"].score > out["far"].score
    assert out["far"].score > out["one"].score
    assert out["adj"].n_phrase == 1
    assert out["near"].n_phrase == 0 and out["far"].n_phrase == 0
    # phrase bonus 1.0 and prox 0.5/gap: adj gap 1, near gap 2, far gap 7
    # (each component micro-quantized, per the determinism contract)
    assert out["adj"].score - out["far"].score == pytest.approx(
        (1_000_000 + 500_000 - round(1e6 * 0.5 / 7)) / 1e6, abs=1e-9
    )


def test_bm25_phrase_counts_and_order(spark):
    from comic_text_detector_spark.operators.retrieval import bm25_phrase

    docs = spark.createDataFrame(
        [
            ("two", "alpha beta x alpha beta"),
            ("rev", "beta alpha"),  # wrong order: no phrase, no ordered gap
            ("tri", "a b c x a b x c"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in
           bm25_phrase(docs, ("alpha", "beta")).collect()}
    assert out["two"].n_phrase == 2
    assert out["rev"].n_phrase == 0
    # rev has no alpha-before-beta pair → no proximity either: its score
    # equals the pure bag score
    from comic_text_detector_spark.operators.retrieval import bm25_score

    bag = {r.doc_id: r for r in
           bm25_score(docs, ("alpha", "beta")).collect()}
    assert out["rev"].score == pytest.approx(bag["rev"].score, abs=1e-9)

    tri = {r.doc_id: r for r in
           bm25_phrase(docs, ("a", "b", "c")).collect()}
    assert tri["tri"].n_phrase == 1  # only the first a-b-c run is adjacent


def test_bm25_phrase_repeated_term(spark):
    from comic_text_detector_spark.operators.retrieval import bm25_phrase

    docs = spark.createDataFrame(
        [("dup", "w w x w"), ("single", "w x y")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in bm25_phrase(docs, ("w", "w")).collect()}
    assert out["dup"].n_phrase == 1  # positions (1,2) — only adjacent run
    assert out["single"].n_phrase == 0


def test_bm25_phrase_contracts(spark):
    from comic_text_detector_spark.operators.retrieval import bm25_phrase

    docs = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with pytest.raises(ValueError):
        bm25_phrase(docs, ("only",))
    with pytest.raises(ValueError):
        bm25_phrase(docs, ("a", ""))


class TestInvertedIndex:
    def _docs(self, spark):
        rows = [
            (1, "spark shuffles data across the cluster"),
            (2, "spark spark spark tiny"),
            (3, "an unrelated document about gardens"),
            (4, "data data everywhere and not a byte to keep"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_index_path_matches_direct_bit_for_bit(self, spark):
        from comic_text_detector_spark.operators.retrieval import (
            bm25_from_index,
            bm25_score,
            build_inverted_index,
        )

        docs = self._docs(spark)
        terms = ("spark", "data")
        direct = {
            r["doc_id"]: (r["dl"], r["n_hit_terms"], r["score"])
            for r in bm25_score(docs, terms).collect()
        }
        postings, lengths = build_inverted_index(docs)
        via_index = {
            r["doc_id"]: (r["dl"], r["n_hit_terms"], r["score"])
            for r in bm25_from_index(postings, lengths, terms).collect()
        }
        assert via_index == direct  # exact, including the float scores
        assert set(direct) == {1, 2, 4}

    def test_write_read_prunes_term_partitions(self, spark, tmp_path):
        from comic_text_detector_spark.operators.retrieval import (
            bm25_from_index_path,
            bm25_score,
            write_inverted_index,
        )

        docs = self._docs(spark)
        path = str(tmp_path / "idx")
        write_inverted_index(docs, path, n_term_buckets=16)
        got = bm25_from_index_path(spark, path, ("spark", "data"))
        direct = {
            r["doc_id"]: r["score"]
            for r in bm25_score(docs, ("spark", "data")).collect()
        }
        assert {r["doc_id"]: r["score"] for r in got.collect()} == direct
        # the postings scan must carry a term_bucket partition filter
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "term_bucket" in plan and "PartitionFilters: [" in plan

    def test_empty_query_and_empty_index(self, spark, tmp_path):
        import pytest as _pt

        from comic_text_detector_spark.operators.retrieval import (
            bm25_from_index,
            build_inverted_index,
        )

        docs = self._docs(spark)
        postings, lengths = build_inverted_index(docs)
        with _pt.raises(ValueError):
            bm25_from_index(postings, lengths, ())
        empty = spark.createDataFrame([], "doc_id long, text string")
        p2, l2 = build_inverted_index(empty)
        with _pt.raises(ValueError):
            bm25_from_index(p2, l2, ("x",))


def test_positional_index_phrase_matches_direct(spark):
    """Index-backed phrase scoring equals the direct path exactly,
    including n_phrase and the proximity component."""
    from comic_text_detector_spark.operators.retrieval import (
        bm25_phrase,
        bm25_phrase_from_index,
        build_positional_index,
    )

    rows = [
        (1, "hash table lookup is a hash table trick"),
        (2, "the table of hash values"),        # scattered, reversed
        (3, "hash  table with doubled space"),  # empty slot between
        (4, "nothing relevant here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    direct = {
        r["doc_id"]: (r["dl"], r["n_hit_terms"], r["n_phrase"], r["score"])
        for r in bm25_phrase(docs, ("hash", "table")).collect()
    }
    postings, lengths = build_positional_index(docs)
    via = {
        r["doc_id"]: (r["dl"], r["n_hit_terms"], r["n_phrase"], r["score"])
        for r in bm25_phrase_from_index(
            postings, lengths, ("hash", "table")
        ).collect()
    }
    assert via == direct
    assert direct[1][2] == 2   # two adjacent occurrences
    assert direct[2][2] == 0   # present but never adjacent


def test_index_job_end_to_end(spark, tmp_path):
    """jobs/index_job.py writes all four artifacts: sorted CDX, pruned
    BM25 index, the host link graph, pagerank + trustrank ranks; a
    query through the materialized index finds the planted doc. Every
    summary count but ``communities`` is observed on the write of the
    table it counts, so no output is read back to count it: each value
    matches its parquet output, and the call launches a pinned number of
    Spark jobs."""
    import contextlib
    import io
    import json

    from pyspark.sql import functions as F

    from jobs import index_job
    from tests.test_runner import _jobs_in_group

    docs = spark.createDataFrame(
        [
            ("https://a.com/1", "2024-01-01 00:00:00",
             "needle in the haystack",
             '<a href="https://b.com:8080/x">b</a>'),  # port must not
             # split b.com into a second graph node
            ("https://b.com/x", "2024-01-02 00:00:00",
             "plain words only",
             '<a href="https://a.com/1">a</a>'),
            ("https://spam.biz/z", "2024-01-03 00:00:00",
             "needle needle needle",
             '<a href="https://spam.biz/z2">s</a>'),
        ],
        "url string, warc_ts string, text string, html string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    inp, out, seeds = (str(tmp_path / d) for d in ("in", "out", "seeds"))
    docs.write.parquet(inp)
    spark.createDataFrame([("a.com",)], "node string").write.parquet(seeds)
    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout):
        n_jobs = _jobs_in_group(
            spark, "index-job",
            lambda: index_job.main(
                ["--input", inp, "--output", out, "--html-col", "html",
                 "--seeds", seeds, "--n-term-buckets", "8",
                 "--anchors", "--communities"],
                spark=spark,
            ),
        )
    s = json.loads(stdout.getvalue().strip().splitlines()[-1])

    def rows(name):
        return spark.read.parquet(f"{out}/{name}")

    assert s == {
        "docs_in": spark.read.parquet(inp).count(),
        "cdx_lines": rows("cdx").count(),
        "bm25_postings": rows("bm25/postings").count(),
        "edges": rows("links").count(),
        "ranked_nodes": rows("pagerank").count(),
        "trusted_nodes": rows("trustrank").filter("rank > 0").count(),
        "communities": rows("communities").select("community").distinct().count(),
        "anchor_postings": rows("bm25_anchor/postings").count(),
    } == {
        "docs_in": 3, "cdx_lines": 3, "bm25_postings": 8, "edges": 3,
        "ranked_nodes": 3, "trusted_nodes": 2, "communities": 2,
        "anchor_postings": 9,
    }
    assert n_jobs == 103
    cdx = spark.read.parquet(f"{out}/cdx")
    assert cdx.count() == 3
    assert {r.surt for r in cdx.collect()} == {
        "com,a)/1", "com,b)/x", "biz,spam)/z"
    }
    # BM25 through the materialized index surfaces the needle docs
    from comic_text_detector_spark.operators.retrieval import (
        bm25_from_index_path,
    )

    hits = bm25_from_index_path(
        spark, f"{out}/bm25", ["needle"], id_col="url"
    ).collect()
    assert {h.url for h in hits} == {"https://a.com/1", "https://spam.biz/z"}
    pr = {r.node: r.rank for r in
          spark.read.parquet(f"{out}/pagerank").collect()}
    assert pr["a.com"] > 0 and pr["b.com"] > 0
    tr = {r.node: r.rank for r in
          spark.read.parquet(f"{out}/trustrank").collect()}
    assert tr["b.com"] > 0      # reachable from the a.com seed
    assert tr["spam.biz"] == 0  # the spam island holds zero trust
    # communities: the a.com<->b.com pair fuses; spam.biz stays alone
    comm = {r.node: r.community for r in
            spark.read.parquet(f"{out}/communities").collect()}
    assert comm["a.com"] == comm["b.com"] == "a.com"
    assert comm["spam.biz"] == "spam.biz"
    # anchor index: a.com/1 gains the weighted anchor token 'a' from
    # b.com's link; the port-mismatched href to b.com:8080/x matched
    # no corpus url, so it indexed nothing
    from comic_text_detector_spark.operators.retrieval import (
        bm25_from_index,
    )

    a_post = spark.read.parquet(f"{out}/bm25_anchor/postings")
    a_len = spark.read.parquet(f"{out}/bm25_anchor/lengths")
    hits_a = bm25_from_index(a_post, a_len, ("a",), id_col="url").collect()
    assert {h.url for h in hits_a} == {"https://a.com/1"}
    hits_b = bm25_from_index(a_post, a_len, ("b",), id_col="url").collect()
    assert hits_b == []


def test_topk_keywords(spark):
    from comic_text_detector_spark.operators.retrieval import topk_keywords

    rows = [
        (1, "spark spark spark common common word"),
        (2, "duck duck common common word"),
        (3, "common word xx"),  # 'xx' below min_len
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = topk_keywords(df, k=2, min_len=3)
    got = {(r.doc_id, r.rank): r for r in out.collect()}
    # 'spark' is unique to doc 1 (df=1) and tf=3: top keyword
    assert got[(1, 1)].term == "spark" and got[(1, 1)].tf == 3
    assert got[(2, 1)].term == "duck"
    # 'common' appears in all docs -> idf floor, never outranks unique
    assert got[(1, 2)].term in ("common", "word")
    # doc 3 has only corpus-wide terms; tie at equal score resolves
    # lexicographically: 'common' before 'word'
    assert got[(3, 1)].term == "common" and got[(3, 2)].term == "word"
    assert all(r.rank <= 2 for r in out.collect())


def test_postings_compress_roundtrip(spark):
    from comic_text_detector_spark.operators.retrieval import (
        compress_postings,
        decompress_postings,
    )

    # gaps crossing every interesting varint width (1, 127, 128, 16384,
    # 2^21) and a df larger than the block size to force block splits
    ids_a = [0, 1, 128, 256, 16640, 16641, (1 << 21) + 16641, 1 << 40]
    rows = [("a", i, 1 + k % 3) for k, i in enumerate(ids_a)]
    rows += [("b", 2 * k + 5, 1) for k in range(10)]  # 10 > block 4
    df = spark.createDataFrame(rows, "w string, id long, tf long")
    blocks = compress_postings(df, block=4)
    got = blocks.collect()
    # block accounting: ceil(8/4)=2 blocks for a, ceil(10/4)=3 for b
    assert sorted((r.w, r.block_idx) for r in got) == [
        ("a", 0), ("a", 1), ("b", 0), ("b", 1), ("b", 2)
    ]
    for r in got:
        assert r.bytes_len == len(r.blob)  # emitted length IS the blob's
        assert r.n_postings <= 4
    # first block of 'a': gaps 0,1,127,128 + tfs -> 1+1+1+1 (gaps 0,1,127
    # are 1 byte, 128 is 2) + 4 tf bytes = 9
    a0 = next(r for r in got if (r.w, r.block_idx) == ("a", 0))
    assert (a0.first_id, a0.bytes_len) == (0, 9)
    back = sorted(
        (r.w, r.id, r.tf) for r in decompress_postings(blocks).collect()
    )
    assert back == sorted(rows)


def test_postings_compress_guards(spark):
    import pytest as _pytest

    from comic_text_detector_spark.operators.retrieval import (
        _read_varint,
        _varint,
        compress_postings,
        decompress_postings,
    )

    # varint unit vectors
    for v, want in [(0, b"\x00"), (127, b"\x7f"), (128, b"\x80\x01"),
                    (16384, b"\x80\x80\x01")]:
        assert _varint(v) == want
        assert _read_varint(want, 0) == (v, len(want))
    with _pytest.raises(ValueError):
        _read_varint(b"\x80", 0)  # truncated continuation
    with _pytest.raises(ValueError):
        _varint(-1)
    with _pytest.raises(ValueError):
        compress_postings(
            spark.createDataFrame([("a", 0, 1)], "w string, id long, tf long"),
            block=0,
        )
    # duplicate doc id within a term: the kernel must refuse, not emit
    # an undecodable block
    dup = spark.createDataFrame(
        [("a", 3, 1), ("a", 3, 2)], "w string, id long, tf long"
    )
    with _pytest.raises(Exception):
        compress_postings(dup, block=4).collect()
    # corrupt blob: decompress raises rather than fabricating postings
    ok = compress_postings(
        spark.createDataFrame([("a", 5, 2)], "w string, id long, tf long"),
        block=4,
    ).collect()[0]
    bad = spark.createDataFrame(
        [(ok.w, ok.block_idx, ok.n_postings, ok.first_id,
          ok.bytes_len + 1, bytes(ok.blob) + b"\x00")],
        "w string, block_idx int, n_postings long, first_id long,"
        " bytes_len long, blob binary",
    )
    with _pytest.raises(Exception):
        decompress_postings(bad).collect()


def test_bm25_from_compressed_parity(spark):
    from comic_text_detector_spark.operators.retrieval import (
        bm25_from_compressed,
        bm25_from_index,
        build_inverted_index,
        compress_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog the dog the dog"),
            (3, "cats are not dogs"),
            (4, "the the the the the the the the the"),
        ],
        "doc_id long, text string",
    )
    postings, lengths = build_inverted_index(docs)
    q = ("the", "dog")
    raw = sorted(map(tuple, bm25_from_index(postings, lengths, q).collect()))
    comp = sorted(
        map(
            tuple,
            bm25_from_compressed(
                compress_postings(postings, block=2), lengths, q
            ).collect(),
        )
    )
    assert raw == comp  # compression provably costs zero correctness


def test_anchor_index_expansion(spark):
    from comic_text_detector_spark.operators.retrieval import (
        bm25_from_index,
        build_anchor_index,
    )

    docs = spark.createDataFrame(
        [("a", "cats and dogs"), ("b", "plain page"), ("c", "other")],
        "doc_id string, text string",
    )
    links = spark.createDataFrame(
        [
            ("x", "b", "best cats resource"),
            ("y", "b", "cats"),
            ("z", "nowhere", "cats cats cats"),  # dangling: dropped
        ],
        "src string, href string, anchor string",
    )
    postings, lengths = build_anchor_index(docs, links, anchor_weight=2)
    p = {(r.w, r.id): r.tf for r in postings.collect()}
    # b's virtual doc: 'plain page' + 2x('best cats resource') + 2x('cats')
    assert p[("cats", "b")] == 4  # 2 anchors x weight 2
    assert p[("cats", "a")] == 1  # own text only
    assert ("cats", "nowhere") not in p
    dl = {r.id: r.dl for r in lengths.collect()}
    assert dl["b"] == 2 + 2 * 3 + 2 * 1  # own 2 + weighted anchor tokens
    assert dl["a"] == 3 and dl["c"] == 1
    # anchor-aware ranking: b now outranks a for 'cats'
    scores = {
        r.doc_id: r.score
        for r in bm25_from_index(postings, lengths, ("cats",)).collect()
    }
    assert scores["b"] > scores["a"]
    assert "c" not in scores


def test_anchor_index_weight_guard(spark):
    import pytest

    from comic_text_detector_spark.operators.retrieval import (
        build_anchor_index,
    )

    docs = spark.createDataFrame([("a", "t")], "doc_id string, text string")
    links = spark.createDataFrame(
        [("s", "a", "x")], "src string, href string, anchor string"
    )
    with pytest.raises(ValueError):
        build_anchor_index(docs, links, anchor_weight=0)


def test_snippet_window_best(spark):
    from comic_text_detector_spark.operators.retrieval import (
        build_positional_index,
        snippet_window,
    )

    docs = spark.createDataFrame(
        [
            # alpha@3, gamma@5, alpha@8, beta@9: best 4-window is [5,8]?
            # windows from hits: @3 covers alpha,gamma (2 terms, 2 hits)
            # @5 covers gamma@5, alpha@8 (2 terms) ... @8 covers
            # alpha@8, beta@9 (2 terms). Tie on terms+hits -> min start 3
            ("d1", "f f alpha f gamma f f alpha beta"),
            # all three terms inside one window anchored at 2
            ("d2", "f alpha beta gamma f f"),
            # no query terms at all: absent from output
            ("d3", "f f f"),
        ],
        "doc_id string, text string",
    )
    postings, _ = build_positional_index(docs)
    got = {
        r.doc_id: (r.start_pos, r.end_pos, r.n_terms, r.n_hits)
        for r in snippet_window(
            postings, ("alpha", "beta", "gamma"), window=4
        ).collect()
    }
    assert got["d2"] == (2, 5, 3, 3)
    assert got["d1"][2] == 2 and got["d1"][0] == 3
    assert "d3" not in got


def test_snippet_window_guards(spark):
    import pytest

    from comic_text_detector_spark.operators.retrieval import (
        build_positional_index,
        snippet_window,
    )

    docs = spark.createDataFrame([("d", "a b")], "doc_id string, text string")
    postings, _ = build_positional_index(docs)
    with pytest.raises(ValueError):
        snippet_window(postings, (), window=4)
    with pytest.raises(ValueError):
        snippet_window(postings, ("a",), window=0)


def test_diversify_topk(spark):
    from comic_text_detector_spark.operators.retrieval import diversify_topk

    rows = [
        ("a1", "h1", 10.0), ("a2", "h1", 9.0), ("a3", "h1", 8.0),
        ("b1", "h2", 7.0), ("b2", "h2", 6.0),
        ("c1", "h3", 5.0),
    ]
    df = spark.createDataFrame(rows, "doc_id string, host string, score double")
    got = [
        (r.doc_id, r.rank)
        for r in diversify_topk(df, k=4, per_group=2)
        .orderBy("rank")
        .collect()
    ]
    # a3 is h1's third result: displaced despite outscoring b2/c1
    assert got == [("a1", 1), ("a2", 2), ("b1", 3), ("b2", 4)]


def test_diversify_topk_tie_break(spark):
    from comic_text_detector_spark.operators.retrieval import diversify_topk

    rows = [("x2", "h", 5.0), ("x1", "h", 5.0), ("y1", "g", 5.0)]
    df = spark.createDataFrame(rows, "doc_id string, host string, score double")
    got = [
        (r.doc_id, r.rank)
        for r in diversify_topk(df, k=3, per_group=1).orderBy("rank").collect()
    ]
    # ties broken by id everywhere: x1 beats x2 within h; x1 < y1 globally
    assert got == [("x1", 1), ("y1", 2)]


def _blocks_dict(df):
    return {
        (r.w, r.block_idx): (r.n_postings, r.first_id, r.bytes_len,
                             bytes(r.blob))
        for r in df.collect()
    }


def test_merge_postings_delta_byte_identical(spark):
    from comic_text_detector_spark.operators.retrieval import (
        build_inverted_index,
        compress_postings,
        merge_postings_delta,
    )

    old = spark.createDataFrame(
        [(i, "alpha beta " + ("gamma " * (i % 3))) for i in range(10)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, "alpha delta") for i in range(5)],
        "doc_id long, text string",
    )
    both = old.unionByName(new)
    op, _ = build_inverted_index(old)
    np_, _ = build_inverted_index(new)
    merged = merge_postings_delta(compress_postings(op, block=4), np_,
                                  block=4)
    want = compress_postings(build_inverted_index(both)[0], block=4)
    assert _blocks_dict(merged) == _blocks_dict(want)


def test_merge_postings_delta_monotone_guard(spark):
    import pytest

    from comic_text_detector_spark.operators.retrieval import (
        build_inverted_index,
        compress_postings,
        merge_postings_delta,
    )

    old = spark.createDataFrame(
        [(5, "alpha"), (9, "alpha")], "doc_id long, text string"
    )
    # new id 7 interleaves with indexed ids: must RAISE, not mis-merge
    bad = spark.createDataFrame([(7, "alpha")], "doc_id long, text string")
    op, _ = build_inverted_index(old)
    np_, _ = build_inverted_index(bad)
    with pytest.raises(Exception, match="monotone-append"):
        merge_postings_delta(
            compress_postings(op, block=4), np_, block=4
        ).collect()


def test_merge_postings_delta_untouched_blocks(spark):
    from comic_text_detector_spark.operators.retrieval import (
        build_inverted_index,
        compress_postings,
        merge_postings_delta,
    )

    # 'quiet' never appears in the delta: its block must pass through
    old = spark.createDataFrame(
        [(1, "quiet alpha"), (2, "quiet alpha"), (3, "quiet")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(50, "alpha")], "doc_id long, text string")
    op, _ = build_inverted_index(old)
    np_, _ = build_inverted_index(new)
    base = _blocks_dict(compress_postings(op, block=2))
    got = _blocks_dict(
        merge_postings_delta(compress_postings(op, block=2), np_, block=2)
    )
    assert got[("quiet", 0)] == base[("quiet", 0)]
    assert got[("quiet", 1)] == base[("quiet", 1)]
    # alpha gained a posting: tail block re-encoded
    assert got[("alpha", 1)][0] == 1 and got[("alpha", 1)][1] == 50


def test_recency_blend(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.retrieval import recency_blend

    df = spark.createDataFrame(
        [
            ("fresh", "2025-12-31", 100),
            ("month", "2025-12-01", 100),
            ("year", "2025-01-05", 100),
            ("ancient", "1970-01-01", 100),
            ("future", "2026-06-01", 100),  # clock skew: clamps to age 0
        ],
        "id string, warc_ts string, score_micro long",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    got = {
        r.id: r.blended_micro
        for r in recency_blend(
            df, ref_date="2026-01-01", halflife_days=30,
            base_micro=1_000_000,
        ).collect()
    }
    assert got["fresh"] == 100 + 1_000_000  # age 1, shift 0
    assert got["month"] == 100 + 500_000    # age 31, one half-life
    assert got["year"] == 100 + (1_000_000 >> (361 // 30))
    assert got["ancient"] == 100            # shift > 62: zero, NOT wrapped
    assert got["future"] == 100 + 1_000_000


def test_recency_blend_null_ts_gets_no_bonus(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.retrieval import recency_blend

    df = spark.createDataFrame(
        [("ok", "2025-12-31", 100), ("corrupt", None, 100)],
        "id string, warc_ts string, score_micro long",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    got = {r.id: r.blended_micro for r in recency_blend(
        df, ref_date="2026-01-01", halflife_days=30,
        base_micro=1_000_000,
    ).collect()}
    assert got["ok"] == 100 + 1_000_000
    assert got["corrupt"] == 100  # no evidence of freshness = no bonus
