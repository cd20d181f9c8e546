"""Bigram LM quality scoring (operators/lm.py): fluent-vs-garbage
separation, backoff/OOV paths, hand-computed planted values, bucketing,
determinism."""

from __future__ import annotations

import math

import pytest

from comic_text_detector_spark.operators.lm import (
    lm_score,
    train_bigram_lm,
)


def _model(spark):
    ref = spark.createDataFrame(
        [
            ("r1", "the cat sat on the mat"),
            ("r2", "the cat ran to the house"),
            ("r3", "a dog sat on a mat"),
        ],
        "doc_id string, text string",
    )
    uni, big = train_bigram_lm(ref)
    return ref, uni, big


def test_counts_exact(spark):
    _, uni, big = _model(spark)
    u = {r.w: r.c for r in uni.collect()}
    assert u["the"] == 4 and u["cat"] == 2 and u["a"] == 2 and u["mat"] == 2
    b = {(r.prev, r.w): r.c2 for r in big.collect()}
    assert b[("the", "cat")] == 2
    assert b[("sat", "on")] == 2
    assert ("mat", "the") not in b  # bigrams never cross documents


def test_planted_score_hand_computed(spark):
    """Score of 'the cat sat' against the tiny model, replicated by hand:
    p(the)=4/18, p(cat|the)=2/4, p(sat|cat)=1/2."""
    ref, uni, big = _model(spark)
    doc = spark.createDataFrame(
        [("d", "the cat sat")], "doc_id string, text string"
    )
    row = lm_score(doc, uni, big).collect()[0]
    n_total = sum(r.c for r in uni.collect())
    assert n_total == 18
    mlp = (
        round(math.log10(4 / 18) * 1000.0)
        + round(math.log10(2 / 4) * 1000.0)
        + round(math.log10(1 / 2) * 1000.0)
    )
    assert row.n_tokens == 3
    assert row.sum_milli_lp == mlp
    assert abs(row.score - mlp / 3000.0) < 1e-12


def test_fluent_beats_garbage_and_backoff_paths(spark):
    ref, uni, big = _model(spark)
    docs = spark.createDataFrame(
        [
            ("fluent", "the cat sat on the mat"),
            ("shuffled", "mat the on sat cat the"),  # unigram backoff path
            ("oov", "zz qq ww"),                      # OOV path
        ],
        "doc_id string, text string",
    )
    s = {r.doc_id: r.score for r in lm_score(docs, uni, big).collect()}
    assert s["fluent"] > s["shuffled"] > s["oov"]


def test_wordless_absent_and_empty_model_raises(spark):
    ref, uni, big = _model(spark)
    docs = spark.createDataFrame(
        [("e", ""), ("n", None), ("ok", "the cat")],
        "doc_id string, text string",
    )
    out = lm_score(docs, uni, big).collect()
    assert {r.doc_id for r in out} == {"ok"}
    empty = spark.createDataFrame([("x", "")], "doc_id string, text string")
    eu, eb = train_bigram_lm(empty)
    with pytest.raises(ValueError):
        lm_score(docs, eu, eb)


def test_bucketing(spark):
    ref, uni, big = _model(spark)
    docs = spark.createDataFrame(
        [("good", "the cat sat on the mat"), ("bad", "zz qq ww rr tt yy")],
        "doc_id string, text string",
    )
    s = {r.doc_id: r.score for r in lm_score(docs, uni, big).collect()}
    assert s["good"] >= -1.0 and s["bad"] <= -1.5


def test_ccnet_tiers_per_language_quantiles(spark):
    """Quantile tiers are cut PER LANGUAGE: each language's own best
    third is head regardless of how its absolute scores compare to the
    other language's; wordless docs are absent."""
    from comic_text_detector_spark.operators.lm import ccnet_tiers

    ref, uni, big = _model(spark)
    # 6 docs per 'language', monotone quality within each
    docs = spark.createDataFrame(
        [
            ("a1", "the cat sat on the mat", "aa"),
            ("a2", "the cat sat on qq mat", "aa"),
            ("a3", "the cat qq on qq mat", "aa"),
            ("a4", "the qq qq on qq mat", "aa"),
            ("a5", "qq qq qq on qq mat", "aa"),
            ("a6", "qq qq qq qq qq zz", "aa"),
            ("b1", "the dog sat on the mat", "bb"),
            ("b2", "the dog sat on ww mat", "bb"),
            ("b3", "the dog ww on ww mat", "bb"),
            ("b4", "the ww ww on ww mat", "bb"),
            ("b5", "ww ww ww on ww mat", "bb"),
            ("b6", "ww ww ww ww ww zz", "bb"),
            ("none", "", "aa"),
        ],
        "doc_id string, text string, lang string",
    )
    out = ccnet_tiers(docs, uni, big, id_col="doc_id").collect()
    tiers = {r.doc_id: r.tier for r in out}
    assert "none" not in tiers  # wordless absent
    for p in ("a", "b"):
        # 6 docs: pr = 0, .2, .4, .6, .8, 1.0 → 2 head, 2 middle, 2 tail
        # (.6 < 2/3 so the 4th-best doc is still middle)
        assert [tiers[p + str(i)] for i in range(1, 7)] == [
            "head", "head", "middle", "middle", "tail", "tail",
        ]
    # per-language independence: same tier pattern even though the two
    # languages' absolute scores differ (dog/ww vs cat/qq frequencies)
    prs = {r.doc_id: r.pr for r in out}
    assert prs["a1"] == 0.0 and prs["a6"] == 1.0


def test_deterministic_across_repartition(spark):
    ref, uni, big = _model(spark)
    docs = spark.createDataFrame(
        [(f"d{i}", "the cat sat on a dog") for i in range(20)],
        "doc_id string, text string",
    )
    a = sorted(map(tuple, lm_score(docs, uni, big).collect()))
    b = sorted(
        map(tuple, lm_score(docs.repartition(7), uni, big).collect())
    )
    assert a == b


def test_curate_job_min_lm_score(spark, tmp_path):
    """--min-lm-score: docs far from the reference LM leave; fluent docs
    stay (the CCNet perplexity-floor stage wired into the job)."""
    from jobs import curate_job

    docs = spark.createDataFrame(
        [
            ("http://h/fluent", "the cat sat on the mat", "en"),
            ("http://h/junk", "zxqj vvkw qqpl mmzn ttrb", "en"),
        ],
        "url string, text string, lang string",
    )
    corpus, bench = str(tmp_path / "c"), str(tmp_path / "b")
    docs.write.parquet(corpus)
    spark.createDataFrame(
        [("the cat sat on the mat and the dog ran to the house",)],
        "text string",
    ).write.parquet(bench)
    out = str(tmp_path / "out")
    assert curate_job.main(
        [
            "--input", corpus, "--benchmark", bench, "--output", out,
            "--rates", '{"en": 1.0}', "--max-shared-ngrams", "99",
            "--min-lm-score", "-1.0",
        ],
        spark=spark,
    ) == 0
    kept = {r.url for r in spark.read.parquet(f"{out}/curated").collect()}
    assert kept == {"http://h/fluent"}


def _tri_model(spark):
    ref = spark.createDataFrame(
        [
            ("r1", "the cat sat on the mat"),
            ("r2", "the cat ran to the house"),
            ("r3", "a dog sat on a mat"),
        ],
        "doc_id string, text string",
    )
    from comic_text_detector_spark.operators.lm import train_trigram_lm

    return ref, train_trigram_lm(ref)


def test_trigram_counts_exact(spark):
    _, (uni, big, tri) = _tri_model(spark)
    t = {(r.prev2, r.prev, r.w): r.c3 for r in tri.collect()}
    assert t[("the", "cat", "sat")] == 1
    assert t[("the", "cat", "ran")] == 1
    assert t[("sat", "on", "the")] == 1
    assert t[("sat", "on", "a")] == 1
    assert ("mat", "the", "cat") not in t  # never crosses documents
    assert sum(t.values()) == 12  # 4 + 4 + 4 interior positions


def test_trigram_planted_ladder_hand_computed(spark):
    """'ran to the cat' hand-replayed rung by rung: p(ran)=1/18 (pos 0,
    unigram, no penalty), p(to|ran)=c2(ran,to)/c(ran)=1/1 (pos 1, bigram
    rung, no penalty), p(the|ran,to)=c3/c2(ran,to)=1/1 (trigram seen),
    p(cat|to,the)=a*c2(the,cat)/c(the)=0.4*2/4 (trigram unseen, bigram
    fallback pays one alpha)."""
    import math

    from comic_text_detector_spark.operators.lm import lm_score_trigram

    ref, (uni, big, tri) = _tri_model(spark)
    doc = spark.createDataFrame(
        [("d", "ran to the cat")], "doc_id string, text string"
    )
    row = lm_score_trigram(doc, uni, big, tri).collect()[0]
    expect = sum(
        round(math.log10(p) * 1000.0)
        for p in (1 / 18, 1 / 1, 1 / 1, 0.4 * 2 / 4)
    )
    assert row.n_tokens == 4
    assert row.sum_milli_lp == expect


def test_trigram_oov_and_unigram_rungs(spark):
    """'zzz' at position 0 scores alpha/N; deep-context OOV pays a^3/N;
    a seen word with unseen context pays a^2 * c(w)/N."""
    import math

    from comic_text_detector_spark.operators.lm import lm_score_trigram

    ref, (uni, big, tri) = _tri_model(spark)
    doc = spark.createDataFrame(
        [("d", "zzz qqq www"), ("e", "mat dog house")],
        "doc_id string, text string",
    )
    rows = {
        r.doc_id: r for r in lm_score_trigram(doc, uni, big, tri).collect()
    }
    a, n = 0.4, 18
    d_expect = sum(
        round(math.log10(p) * 1000.0)
        for p in (a / n, a * a / n, a * a * a / n)
    )
    assert rows["d"].sum_milli_lp == d_expect
    # 'mat dog house': p(mat)=2/18; bigram (mat,dog) unseen → a*c(dog)/N
    # = a*1/18; trigram and bigram unseen for house → a^2 * c(house)/N
    e_expect = sum(
        round(math.log10(p) * 1000.0)
        for p in (2 / n, a * 1 / n, a * a * 1 / n)
    )
    assert rows["e"].sum_milli_lp == e_expect


def test_trigram_fluent_beats_garbage(spark):
    from comic_text_detector_spark.operators.lm import lm_score_trigram

    ref, (uni, big, tri) = _tri_model(spark)
    docs = spark.createDataFrame(
        [("good", "the cat sat on the mat"), ("bad", "mat the on sat zz")],
        "doc_id string, text string",
    )
    s = {r.doc_id: r.score for r in lm_score_trigram(docs, uni, big, tri).collect()}
    assert s["good"] > s["bad"]


def test_lm_outlier_spans_planted(spark):
    """A fluent sentence with a gibberish run in the middle: the span
    localizer flags exactly the OOV-dominated window region and reports
    one island whose bounds cover the gibberish tokens."""
    from comic_text_detector_spark.operators.lm import (
        lm_outlier_spans,
        train_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and ran to the house")
         for i in range(5)],
        "doc_id long, text string",
    )
    uni, big = train_bigram_lm(ref)
    doc = spark.createDataFrame(
        [(1, "the cat sat qq1 qq2 qq3 qq4 qq5 on the mat"),
         (2, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    import math

    # N = 55 reference tokens; an OOV token scores round(log10(.4/55)e3)
    oov = round(math.log10(0.4 / 55) * 1000.0)
    spans = lm_outlier_spans(
        doc, uni, big, window=3, min_mean_milli=-2000
    ).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc  # fully fluent doc: no spans
    assert len(by_doc[1]) == 1
    s = by_doc[1][0]
    # gibberish at pos 3..7; the trailing 3-window is all-OOV (and only
    # then below the floor) at positions 5..7 exactly
    assert (s.start_pos, s.end_pos, s.n_tokens) == (5, 7, 3)
    assert s.min_mlp == oov


def test_cut_token_spans_surgery(spark):
    from comic_text_detector_spark.operators.lm import cut_token_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z"), (3, "only junk here")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 2, 3), (1, 5, 5), (3, 0, 2)],  # two spans in doc 1; all of 3
        "doc_id long, start_pos long, end_pos long",
    )
    got = {r.doc_id: r for r in cut_token_spans(docs, spans).collect()}
    assert got[1].text == "a b e"  # c,d and f cut
    assert got[1].n_tokens_in == 6 and got[1].n_tokens_cut == 3
    assert got[2].text == "x y z" and got[2].n_tokens_cut == 0
    assert got[3].text == "" and got[3].n_tokens_cut == 3  # row survives
