"""Curation operators: decontamination + deterministic sampling."""

import contextlib
import io
import json

from pyspark.sql import functions as F

from comic_text_detector_spark.operators.curation import (
    contaminated_docs,
    hash_sample,
    hash_uniform,
)


def test_contaminated_docs_planted(spark):
    bench = spark.createDataFrame(
        [("b0", "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id string, text string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim inclusion: many shared 5-grams
            ("c0", "intro words then the quick brown fox jumps over the lazy dog tonight and more"),
            # clean doc: zero shared 5-grams
            ("c1", "completely unrelated text about spark plans and shuffles at scale here"),
            # partial: exactly one shared 5-gram
            ("c2", "xx quick brown fox jumps over yy zz aa bb cc"),
        ],
        "doc_id string, text string",
    )
    got = {r.id: r.n_shared for r in contaminated_docs(corpus, bench).collect()}
    assert got["c0"] >= 6  # the 10-word benchmark has 6 distinct 5-grams
    assert got.get("c2") == 1
    assert "c1" not in got


def test_hash_sample_deterministic_and_stratified(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zz").alias("lang"),
    )
    out = hash_sample(df, "doc_id", rates_by="lang", rates={"en": 0.5}, salt="t")
    rows1 = sorted(r.doc_id for r in out.collect())
    # reproducible under repartitioning (unlike df.sample)
    rows2 = sorted(
        r.doc_id
        for r in hash_sample(
            df.repartition(7), "doc_id", rates_by="lang", rates={"en": 0.5}, salt="t"
        ).collect()
    )
    assert rows1 == rows2
    assert all(i % 2 == 0 for i in rows1)  # zz stratum dropped entirely
    assert 0.4 < len(rows1) / 1000 < 0.6  # ~rate of the en stratum

    flat = hash_sample(df, "doc_id", rate=0.25, salt="t").count()
    assert 0.2 < flat / 2000 < 0.3


def test_hash_uniform_range(spark):
    stats = (
        spark.range(5000)
        .select(hash_uniform(F.col("id"), "u").alias("u"))
        .agg(F.min("u"), F.max("u"), F.avg("u"))
        .collect()[0]
    )
    assert 0.0 <= stats[0] and stats[1] < 1.0
    assert 0.45 < stats[2] < 0.55


def test_line_freq_dedup_planted(spark):
    from comic_text_detector_spark.operators.curation import line_freq_dedup

    rows = [
        ("a", "unique alpha line\nSUBSCRIBE NOW\nalpha tail"),
        ("b", "unique beta line\nSUBSCRIBE NOW"),
        ("c", "unique gamma line\nSUBSCRIBE NOW"),
        ("d", "SUBSCRIBE NOW"),  # all-boilerplate doc must SURVIVE as ''
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r for r in line_freq_dedup(df, max_doc_freq=2).collect()}
    assert len(got) == 4  # no row lost
    assert got["a"].text == "unique alpha line\nalpha tail"
    assert got["b"].text == "unique beta line"
    assert got["d"].text == "" and got["d"].n_lines_kept == 0
    assert got["a"].n_lines_in == 3 and got["a"].n_lines_kept == 2
    # with a looser threshold nothing is boilerplate
    loose = {r.doc_id: r.text for r in line_freq_dedup(df, max_doc_freq=4).collect()}
    assert loose["a"] == rows[0][1]


def test_line_freq_dedup_blank_lines_and_literal_sep(spark):
    """Blank lines are exempt from the frequency drop (they'd strip every
    paragraph break in a real corpus), and a regex-metachar separator is
    treated literally."""
    from comic_text_detector_spark.operators.curation import line_freq_dedup

    rows = [
        ("a", "alpha one\n\nalpha two\nSPAM"),
        ("b", "beta one\n\nbeta two\nSPAM"),
        ("c", "gamma\n\nSPAM"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r.text for r in line_freq_dedup(df, max_doc_freq=2).collect()}
    assert got["a"] == "alpha one\n\nalpha two"  # paragraph break survives
    assert got["c"] == "gamma\n"

    # '|' is a regex metachar: must split on the literal pipe, not on ''
    pdf = spark.createDataFrame(
        [("x", "keep me|SPAM"), ("y", "also keep|SPAM"), ("z", "third|SPAM")],
        "doc_id string, text string",
    )
    got2 = {
        r.doc_id: r.text
        for r in line_freq_dedup(pdf, sep="|", max_doc_freq=2).collect()
    }
    assert got2["x"] == "keep me"


def test_normalize_url_cases(spark):
    from comic_text_detector_spark.operators.curation import normalize_url

    cases = [
        ("HTTPS://Ex.COM/Path?utm_source=a", "https://ex.com/Path"),
        ("http://h/p?utm_source=a&q=1", "http://h/p?q=1"),
        ("http://h/p?q=1&utm_campaign=b&r=2", "http://h/p?q=1&r=2"),
        ("http://h/p?q=1&gclid=x", "http://h/p?q=1"),
        ("http://h/p#section", "http://h/p"),
        ("http://h/p/", "http://h/p"),
        ("http://h/", "http://h"),
        ("http://h/p?utm_a=1&utm_b=2", "http://h/p"),
        ("http://h/p?fbclid=z&utm_x=1&keep=y", "http://h/p?keep=y"),
        ("http://h/p?q=1", "http://h/p?q=1"),  # untouched
        # review repros: parts are normalized in ISOLATION —
        ("http://h/a&b/c?q=1", "http://h/a&b/c?q=1"),  # literal & in path
        ("http://h/a&gclid=1/b", "http://h/a&gclid=1/b"),  # 'gclid' in path
        ("http://h/p?next=/", "http://h/p?next=/"),  # query value ends in /
        ("http://h/p?q=1/", "http://h/p?q=1/"),
        # round-3 ADVICE repros: case-insensitive + full utm key charset
        ("http://h/p?UTM_SOURCE=x&q=1", "http://h/p?q=1"),
        ("http://h/p?utm_source_platform=x", "http://h/p"),
        ("http://h/p?Utm_Campaign2=x&GCLID=y", "http://h/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.n for r in df.select(normalize_url(F.col("url")).alias("n")).collect()]
    assert got == [want for _, want in cases]


def test_word_doc_freq_score(spark):
    from comic_text_detector_spark.operators.curation import word_doc_freq_score

    df = spark.createDataFrame(
        [
            ("common", "the the cat"),   # distinct: the, cat
            ("mixed", "the dog"),
            ("rare", "zyx qwv"),
        ],
        "doc_id string, text string",
    )
    got = {r.doc_id: r for r in word_doc_freq_score(df).collect()}
    # 'the' df=2, 'cat'=1, 'dog'=1, 'zyx'=1, 'qwv'=1
    assert got["common"].n_distinct_words == 2
    assert got["common"].mean_word_df == 1.5   # (2+1)/2
    assert got["mixed"].mean_word_df == 1.5
    assert got["rare"].mean_word_df == 1.0     # gibberish scores lowest


def test_word_doc_freq_empty_tokens(spark):
    """Review repro: '' pseudo-words from null text / space runs must not
    score empty docs as highest quality; wordless docs are absent."""
    from comic_text_detector_spark.operators.curation import word_doc_freq_score

    df = spark.createDataFrame(
        [("a", "x  y"), ("b", " "), ("c", None), ("d", "x")],
        "doc_id string, text string",
    )
    got = {r.doc_id: r for r in word_doc_freq_score(df).collect()}
    assert set(got) == {"a", "d"}  # wordless docs absent, not top-scored
    assert got["a"].n_distinct_words == 2  # '' from the double space gone
    assert got["d"].mean_word_df == 2.0


def test_robots_filter_longest_match(spark):
    from comic_text_detector_spark.operators.curation import robots_filter

    rules = spark.createDataFrame(
        [
            ("h.com", "/private", False),
            ("h.com", "/private/ok", True),   # longer allow carve-out
            ("h.com", "/dup", True),          # IDENTICAL prefix, both
            ("h.com", "/dup", False),         # polarities: allow wins (RFC)
            ("blocked.com", "/", False),
        ],
        "host string, path_prefix string, allow boolean",
    )
    urls = spark.createDataFrame(
        [
            (1, "https://h.com/public/x"),      # no rule matches → allowed
            (2, "https://h.com/private/x"),     # blocked
            (3, "https://h.com/private/ok/x"),  # carve-out allows
            (4, "https://H.com/private/y"),     # host case-insensitive
            (5, "https://blocked.com/anything"),
            (6, "https://unknown.org/x"),       # host with no rules
            (7, "https://blocked.com"),         # empty path → '/'
            (8, "https://h.com/public/x"),      # DUPLICATE of 1: both kept
            (9, "https://h.com/dup/x"),         # equal-length tie → allow
            (10, "https://blocked.com?x=1"),    # query-only path → '/?x=1'
            (11, "https://blocked.com#top"),    # fragment after authority
            (12, "https://user@blocked.com/x"),  # userinfo before host
            (13, None),                          # null url: explicit drop
        ],
        "id int, url string",
    )
    got = sorted(r.id for r in robots_filter(urls, rules).collect())
    assert got == [1, 3, 6, 8, 9]


def test_robots_filter_rfc9309_wildcards(spark):
    """RFC 9309 §2.2.3 pattern grammar: trailing-$ anchor, mid-pattern *,
    and literal-octet specificity (wildcards don't count)."""
    from comic_text_detector_spark.operators.curation import robots_filter

    rules = spark.createDataFrame(
        [
            ("h.com", "/*.pdf$", False),       # any path ENDING in .pdf
            ("h.com", "/docs/keep*", True),    # 10 literals beats 5
            ("h.com", "/a/*/c", False),        # mid-pattern *
            ("h.com", "/q?*", False),          # '?' is a LITERAL octet
            ("star.com", "/*", False),         # block-all via star
            ("star.com", "/pub", True),        # 4 literals beat 1
        ],
        "host string, path_prefix string, allow boolean",
    )
    urls = spark.createDataFrame(
        [
            (1, "https://h.com/docs/file.pdf"),     # $-anchored block
            (2, "https://h.com/docs/file.pdfx"),    # NOT at end → allowed
            (3, "https://h.com/docs/keep/file.pdf"),  # 10 > 5 literals
            (4, "https://h.com/x.pdf/y"),           # .pdf not at end
            (5, "https://h.com/a/zz/c/d"),          # mid-* matches
            (6, "https://h.com/a/c"),               # needs the /*/ run
            (7, "https://h.com/q?x=1"),             # literal '?' pattern
            (8, "https://star.com/anything"),       # /* blocks
            (9, "https://star.com/pub/x"),          # carve-out by literals
            (10, "https://h.com/plain"),            # nothing matches
        ],
        "id int, url string",
    )
    got = sorted(r.id for r in robots_filter(urls, rules).collect())
    assert got == [2, 3, 4, 6, 9, 10]


def test_curate_job_recurate(spark, tmp_path):
    """Re-curating a previous curate_job output (which already carries the
    n_lines_in/n_lines_kept audit columns) must not produce duplicate
    column names on the stage-1b join (round-3 ADVICE repro)."""
    from jobs import curate_job

    docs = spark.createDataFrame(
        [
            (f"http://h/{i}", "subscribe now\n" + ("real text " * 20) + str(i), "en")
            for i in range(6)
        ],
        "url string, text string, lang string",
    )
    corpus = str(tmp_path / "corpus")
    bench = str(tmp_path / "bench")
    docs.write.parquet(corpus)
    spark.createDataFrame([("zz qq ww rr tt",)], "text string").write.parquet(bench)

    args = ["--benchmark", bench, "--rates", '{"en": 1.0}',
            "--max-line-doc-freq", "2", "--cut-dup-spans",
            "--dup-k", "12", "--dup-min-len", "40"]
    out1 = str(tmp_path / "out1")
    assert curate_job.main(
        ["--input", corpus, "--output", out1] + args, spark=spark
    ) == 0
    first = spark.read.parquet(f"{out1}/curated")
    assert first.columns.count("n_lines_in") == 1
    assert first.columns.count("n_cut_spans") == 1
    assert first.count() == 6
    # the cross-doc verbatim 'real text ...' run was cut from every doc
    assert all("real text real text real text" not in r.text
               for r in first.collect())

    out2 = str(tmp_path / "out2")
    assert curate_job.main(
        ["--input", f"{out1}/curated", "--output", out2] + args, spark=spark
    ) == 0
    second = spark.read.parquet(f"{out2}/curated")
    assert second.columns.count("n_lines_in") == 1
    assert second.count() == 6
    # the boilerplate line was already stripped in run 1
    assert all("subscribe now" not in r.text for r in second.collect())


def test_substring_dup_spans_planted(spark):
    """Cross-doc verbatim passage found with exact maximal boundaries;
    within-doc repetition and clean docs stay silent."""
    from comic_text_detector_spark.operators.curation import (
        substring_dup_spans,
    )

    shared = "SHARED" * 5  # 30 chars
    rows = [
        ("a", "AAAA unique intro " + shared + " tail one"),
        ("b", "different start " + shared + " other ending here"),
        ("c", "totally clean document with no overlap at all whatsoever xyz"),
        ("d", "rep rep " + "REPEAT" * 4 + " " + "REPEAT" * 4 + " only-here"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r.doc_id: r for r in substring_dup_spans(df, k=10, min_len=20).collect()
    }
    assert set(got) == {"a", "b"}
    ta = rows[0][1]
    # maximal common substring is ' '+shared+' ' (both docs share the
    # surrounding spaces): 1-based [idx, idx+len+1]
    assert got["a"].start_pos == ta.index(shared)
    assert got["a"].end_pos == ta.index(shared) + len(shared) + 1
    assert got["a"].span_len == len(shared) + 2

    # winnowed mode: 1/select_mod of positions, passage still found with
    # a widened merge gap; boundaries are approximate by design
    sampled = {
        r.doc_id: r
        for r in substring_dup_spans(
            df, k=10, min_len=15, select_mod=3, merge_gap=13
        ).collect()
    }
    assert "c" not in sampled and "d" not in sampled


def test_quality_logit_planted(spark):
    """Explicit sparse milliweights: separable corpus separates; exact
    arithmetic; wordless docs absent; default weights deterministic under
    repartitioning."""
    import hashlib

    from comic_text_detector_spark.operators.curation import quality_logit

    nb = 1 << 18

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % nb

    weights = {bucket("good"): 1000, bucket("great"): 1500, bucket("spam"): -2000}
    assert len(weights) == 3  # no test-word bucket collisions
    df = spark.createDataFrame(
        [
            ("pos", "good great good"),
            ("neg", "spam spam click"),
            ("mix", "good spam"),
            ("empty", " "),
            ("none", None),
        ],
        "doc_id string, text string",
    )
    got = {r.doc_id: r for r in quality_logit(df, weights=weights).collect()}
    assert got["pos"].logit == 3.5 and got["pos"].n_tokens == 3
    assert got["neg"].logit == -4.0  # unknown word 'click' weighs 0
    assert got["mix"].logit == -1.0
    assert "empty" not in got and "none" not in got

    d1 = {r.doc_id: r.logit for r in quality_logit(df).collect()}
    d2 = {
        r.doc_id: r.logit
        for r in quality_logit(df.repartition(3)).collect()
    }
    assert d1 == d2 and set(d1) == {"pos", "neg", "mix"}


def test_cut_spans_apply(spark):
    """cut_spans removes exactly the flagged ranges, stitches the rest in
    order, passes span-less docs through, and degrades gracefully on
    overlapping spans."""
    from comic_text_detector_spark.operators.curation import cut_spans

    df = spark.createDataFrame(
        [("a", "0123456789abcdefghij"), ("b", "no spans here")],
        "doc_id string, text string",
    )
    spans = spark.createDataFrame(
        [("a", 3, 5), ("a", 9, 12)],
        "doc_id string, start_pos long, end_pos long",
    )
    got = {r.doc_id: r for r in cut_spans(df, spans).collect()}
    t = "0123456789abcdefghij"
    assert got["a"].text_cut == t[:2] + t[5:8] + t[12:]
    assert got["a"].n_cut_spans == 2 and got["a"].n_chars_cut == 7
    assert got["b"].text_cut == "no spans here" and got["b"].n_cut_spans == 0

    # overlap clamps to the cursor instead of double-cutting
    over = spark.createDataFrame(
        [("a", 3, 8), ("a", 6, 10)],
        "doc_id string, start_pos long, end_pos long",
    )
    got2 = cut_spans(df, over).collect()
    ga = [r for r in got2 if r.doc_id == "a"][0]
    assert ga.text_cut == t[:2] + t[10:]
    assert ga.n_chars_cut == 8

    # end-to-end with substring_dup_spans: planted passage disappears
    from comic_text_detector_spark.operators.curation import (
        substring_dup_spans,
    )

    shared = "SHARED" * 5
    corpus = spark.createDataFrame(
        [
            ("x", "unique intro here " + shared + " unique tail"),
            ("y", "other start text " + shared + " other endings"),
        ],
        "doc_id string, text string",
    )
    sp = substring_dup_spans(corpus, k=10, min_len=20)
    cut = {r.doc_id: r.text_cut for r in cut_spans(corpus, sp).collect()}
    assert "SHARED" not in cut["x"] and "SHARED" not in cut["y"]
    assert cut["x"].startswith("unique intro here") and cut["x"].endswith("unique tail")


def test_quality_logit_empty_weights(spark):
    """weights={} is a legitimate all-zero model: every doc scores 0.0
    (review repro: used to raise AttributeError)."""
    from comic_text_detector_spark.operators.curation import quality_logit

    df = spark.createDataFrame(
        [("a", "some words here"), ("b", "more text")],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.logit for r in quality_logit(df, weights={}).collect()}
    assert got == {"a": 0.0, "b": 0.0}


def test_curate_job_min_logit(spark, tmp_path):
    """--min-logit with trained sparse weights: docs scoring below the
    floor leave; wordless/neutral docs keep their fate."""
    import hashlib
    import json as _json

    from jobs import curate_job

    nb = 1 << 18

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % nb

    docs = spark.createDataFrame(
        [
            ("http://h/clean1", "perfectly normal document text here", "en"),
            ("http://h/clean2", "another fine document with words", "en"),
            ("http://h/spam", "badtoken badtoken badtoken filler", "en"),
        ],
        "url string, text string, lang string",
    )
    corpus, bench = str(tmp_path / "c"), str(tmp_path / "b")
    docs.write.parquet(corpus)
    spark.createDataFrame([("zz qq ww rr tt",)], "text string").write.parquet(
        bench
    )
    out = str(tmp_path / "out")
    weights = _json.dumps({bucket("badtoken"): -1000})
    assert curate_job.main(
        [
            "--input", corpus, "--benchmark", bench, "--output", out,
            "--rates", '{"en": 1.0}', "--min-logit", "-0.5",
            "--logit-weights", weights,
        ],
        spark=spark,
    ) == 0
    kept = {r.url for r in spark.read.parquet(f"{out}/curated").collect()}
    assert kept == {"http://h/clean1", "http://h/clean2"}


def test_schedule_frontier_politeness(spark):
    """Host affinity (one worker owns each host), deterministic slots,
    delay spacing, repartition invariance."""
    import pytest

    from comic_text_detector_spark.operators.curation import (
        schedule_frontier,
    )

    urls = spark.createDataFrame(
        [(f"https://h{i % 3}.example/p/{i}",) for i in range(30)],
        "url string",
    )
    out = schedule_frontier(urls, n_workers=4, per_host_delay_ms=500).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, []).append(r)
    assert set(by_host) == {"h0.example", "h1.example", "h2.example"}
    for host, rows in by_host.items():
        assert len({r.worker for r in rows}) == 1  # one owner per host
        slots = sorted(r.slot for r in rows)
        assert slots == list(range(10))  # dense slots from 0
        for r in rows:
            assert r.fetch_at_ms == r.slot * 500
    # determinism across repartitionings
    a = sorted(map(tuple, out))
    b = sorted(
        map(
            tuple,
            schedule_frontier(
                urls.repartition(7), n_workers=4, per_host_delay_ms=500
            ).collect(),
        )
    )
    assert a == b
    with pytest.raises(ValueError):
        schedule_frontier(urls, n_workers=0)


def test_schedule_frontier_excludes_hostless(spark):
    from comic_text_detector_spark.operators.curation import (
        schedule_frontier,
    )

    urls = spark.createDataFrame(
        [("https://ok.example/p",), ("relative/path",), ("",), (None,)],
        "url string",
    )
    out = schedule_frontier(urls, n_workers=4).collect()
    assert [r.url for r in out] == ["https://ok.example/p"]


def test_parse_robots_rules(spark):
    """RFC 9309 group semantics: multi-agent groups share rules, empty
    Disallow drops, unknown directives/comments ignored, case folded,
    and the parsed rows feed robots_filter end-to-end."""
    from comic_text_detector_spark.operators.curation import (
        parse_robots_rules,
        robots_filter,
    )

    txt = (
        "# banner\r\n"
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "\n"
        "User-agent: GoodBot\n"
        "User-agent: OtherBot\n"
        "Disallow: /\n"
        "Disallow:\n"
        "Crawl-delay: 5\n"
        "Sitemap: https://h1/x.xml\n"
    )
    df = spark.createDataFrame(
        [("h1", txt), ("empty", None), ("norules", "User-agent: *\n")],
        "host string, robots_txt string",
    )
    rows = sorted(map(tuple, parse_robots_rules(df).collect()))
    assert rows == [
        ("h1", "*", "/private", False),
        ("h1", "*", "/private/ok", True),
        ("h1", "goodbot", "/", False),
        ("h1", "otherbot", "/", False),
    ]

    # parsed rules drive the filter: /private blocked, /private/ok carved
    rules = parse_robots_rules(df).filter(F.col("agent") == "*").select(
        "host", "path_prefix", "allow"
    )
    urls = spark.createDataFrame(
        [
            ("https://h1/private/x", "h1"),
            ("https://h1/private/ok", "h1"),
            ("https://h1/public", "h1"),
        ],
        "url string, host string",
    )
    kept = {r.url for r in robots_filter(urls, rules).collect()}
    assert kept == {"https://h1/private/ok", "https://h1/public"}


def test_robots_rules_for_agent_group_selection(spark):
    """RFC 9309 §2.2.1: a crawler's own group REPLACES the wildcard group
    — even an empty own group means crawl-everything, not fallback; and
    duplicate hosts/files parse independently (no interleaving)."""
    from comic_text_detector_spark.operators.curation import (
        parse_robots_rules,
        robots_rules_for_agent,
    )

    df = spark.createDataFrame(
        [
            # goodbot has its own (laxer) group; '*' must NOT apply to it
            ("h1", "User-agent: *\nDisallow: /\n\n"
                   "User-agent: GoodBot\nDisallow: /private\n"),
            # emptybot's group has no rules: crawl-all, NOT '*' fallback
            ("h2", "User-agent: *\nDisallow: /\n\nUser-agent: EmptyBot\n"),
            # no specific group: '*' applies
            ("h3", "User-agent: *\nDisallow: /blocked\n"),
        ],
        "host string, robots_txt string",
    )
    good = {(r.host, r.path_prefix, r.allow)
            for r in robots_rules_for_agent(df, "GoodBot").collect()}
    assert good == {
        ("h1", "/private", False),  # own group replaces '*'
        ("h2", "/", False),         # no own group on h2 -> '*' fallback
        ("h3", "/blocked", False),
    }
    empty = {(r.host, r.path_prefix)
             for r in robots_rules_for_agent(df, "emptybot").collect()}
    # h2 absent: own EMPTY group suppresses the '*' fallback (crawl-all);
    # h1/h3 have no emptybot group -> '*' fallback applies
    assert empty == {("h1", "/"), ("h3", "/blocked")}
    other = {(r.host, r.path_prefix)
             for r in robots_rules_for_agent(df, "stranger").collect()}
    assert other == {("h1", "/"), ("h2", "/"), ("h3", "/blocked")}

    # duplicate host rows (two files) parse per-file: rules are the union,
    # never a cross-file interleaving, and repeated runs agree
    two = spark.createDataFrame(
        [("h", "User-agent: a\nDisallow: /x\n"),
         ("h", "User-agent: b\nDisallow: /y\n")],
        "host string, robots_txt string",
    )
    got = {(r.agent, r.path_prefix) for r in parse_robots_rules(two).collect()}
    assert got == {("a", "/x"), ("b", "/y")}
    # duplicate User-agent lines dedup
    dup = spark.createDataFrame(
        [("h", "User-agent: *\nUser-Agent: *\nDisallow: /x\n")],
        "host string, robots_txt string",
    )
    assert parse_robots_rules(dup).count() == 1


class TestGopherQuality:
    def _run(self, spark, rows):
        from comic_text_detector_spark.operators.curation import gopher_quality

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc_id"]: r for r in gopher_quality(df).collect()}

    def test_planted_verdicts(self, spark):
        good = " ".join(
            ["the quick brown fox jumps over that lazy dog and runs off"] * 6
        )
        bullets = "\n".join(f"- item {i} of the and that have" for i in range(20))
        dups = "\n".join(["the same line of the and that have with words"] * 10)
        out = self._run(
            spark,
            [
                (1, good),
                (2, bullets + "\n" + good),
                (3, dups),
                (4, ""),
                (5, None),
            ],
        )
        assert out[1]["keep"] is True
        assert out[1]["n_stop_kinds"] >= 2
        # 20 bullet lines of 21 nonempty lines > 0.9 bullet fraction
        assert out[2]["bullet_line_frac"] > 0.9 and out[2]["keep"] is False
        # 10 identical lines → 9/10 duplicate rows, 90% duplicate chars
        assert out[3]["dup_line_frac"] == 0.9
        assert out[3]["keep"] is False
        assert out[4]["keep"] is False and out[4]["n_words"] == 0
        assert out[5]["keep"] is False

    def test_word_stats_exact(self, spark):
        # "aa bbb  cc" → words [aa,bbb,cc] (empty token filtered),
        # word_chars 7, mean milli = 7000 div 3 = 2333
        out = self._run(spark, [(1, "aa bbb  cc")])
        assert out[1]["n_words"] == 3
        assert out[1]["mean_word_len_milli"] == 2333
        # symbol + alpha fractions: one '#' word of three
        out = self._run(spark, [(2, "ab #tag 12")])
        assert out[2]["sym_word_frac"] == 1 / 3
        assert out[2]["alpha_word_frac"] == 2 / 3


def test_curate_job_gopher_stage(spark, tmp_path):
    """--gopher drops rule-violating docs inside the job pipeline."""
    from jobs import curate_job

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog and runs off"] * 6
    )
    bullets = "\n".join(f"- item {i} of the and that have" for i in range(30))
    docs = spark.createDataFrame(
        [("http://h/good", good, "en"), ("http://h/bullets", bullets, "en")],
        "url string, text string, lang string",
    )
    corpus, bench = str(tmp_path / "c"), str(tmp_path / "b")
    docs.write.parquet(corpus)
    spark.createDataFrame([("zz qq ww",)], "text string").write.parquet(bench)
    out = str(tmp_path / "out")
    assert curate_job.main(
        [
            "--input", corpus, "--benchmark", bench, "--output", out,
            "--rates", '{"en": 1.0}', "--gopher", "--gopher-min-words", "10",
        ],
        spark=spark,
    ) == 0
    kept = {r.url for r in spark.read.parquet(f"{out}/curated").collect()}
    assert kept == {"http://h/good"}


class TestTemperatureSample:
    def _df(self, spark):
        rows = [(i, "en" if i < 400 else ("es" if i < 480 else "de"))
                for i in range(500)]
        return spark.createDataFrame(rows, "doc_id long, lang string")

    def test_rates_follow_alpha(self, spark):
        import math

        from comic_text_detector_spark.operators.curation import (
            temperature_sample,
        )

        out = temperature_sample(self._df(spark), by="lang", alpha=0.5)
        rates = {r["lang"]: r["rate"] for r in out.select("lang", "rate").distinct().collect()}
        # n_min = 20 (de): de keeps everything, en at sqrt(20/400)
        assert rates["de"] == 1.0
        assert rates["en"] == math.sqrt(20 / 400)
        assert rates["es"] == math.sqrt(20 / 80)
        kept = out.groupBy("lang").count().collect()
        by_lang = {r["lang"]: r["count"] for r in kept}
        assert by_lang["de"] == 20  # rate 1.0 keeps all

    def test_deterministic_across_repartition(self, spark):
        from comic_text_detector_spark.operators.curation import (
            temperature_sample,
        )

        df = self._df(spark)
        a = sorted(r["doc_id"] for r in temperature_sample(df).collect())
        b = sorted(
            r["doc_id"] for r in temperature_sample(df.repartition(13)).collect()
        )
        assert a == b

    def test_alpha_one_keeps_everything(self, spark):
        from comic_text_detector_spark.operators.curation import (
            temperature_sample,
        )

        df = self._df(spark)
        assert temperature_sample(df, alpha=1.0).count() == 500


def test_curate_job_temperature_mixture(spark, tmp_path):
    """--temperature-alpha rebalances the mixture from live counts."""
    from jobs import curate_job

    text = " ".join(["plain words that are fine"] * 5)
    rows = [(f"http://h/en{i}", text, "en") for i in range(40)] + [
        ("http://h/de0", text, "de")
    ]
    docs = spark.createDataFrame(rows, "url string, text string, lang string")
    corpus, bench = str(tmp_path / "c"), str(tmp_path / "b")
    docs.write.parquet(corpus)
    spark.createDataFrame([("zz qq ww",)], "text string").write.parquet(bench)
    out = str(tmp_path / "out")
    assert curate_job.main(
        [
            "--input", corpus, "--benchmark", bench, "--output", out,
            "--temperature-alpha", "0.5",
        ],
        spark=spark,
    ) == 0
    kept = spark.read.parquet(f"{out}/curated")
    by_lang = {r["lang"]: r["count"] for r in kept.groupBy("lang").count().collect()}
    assert by_lang.get("de") == 1          # rarest keeps everything
    assert 0 < by_lang.get("en", 0) < 40   # common language downsampled


class TestRobotsExtras:
    def test_sitemap_line_does_not_split_ua_group(self, spark):
        """RFC 9309 §2.2.2: non-group records are transparent — a Sitemap
        between two User-agent lines must leave them one group for the
        RULES parse; the crawl-delay parse still scopes by its own runs."""
        from comic_text_detector_spark.operators.curation import (
            parse_robots_rules,
            robots_sitemaps,
        )

        txt = (
            "User-agent: a\nSitemap: https://h/s.xml\nUser-agent: b\n"
            "Disallow: /x\n"
        )
        df = spark.createDataFrame(
            [("h", txt)], "host string, robots_txt string"
        )
        rules = {
            (r["agent"], r["path_prefix"])
            for r in parse_robots_rules(df).collect()
        }
        assert rules == {("a", "/x"), ("b", "/x")}
        sm = robots_sitemaps(df).collect()
        assert [(r["host"], r["sitemap"]) for r in sm] == [
            ("h", "https://h/s.xml")
        ]

    def test_crawl_delay_scoping_and_validation(self, spark):
        from comic_text_detector_spark.operators.curation import (
            robots_crawl_delay,
        )

        txt = (
            "User-agent: a\r\nCrawl-delay: 0.25\r\n"
            "User-agent: b\nCrawl-delay: -3\n"      # negative → drop
            "User-agent: c\nCrawl-delay: soon\n"    # bogus → drop
        )
        df = spark.createDataFrame(
            [("h", txt)], "host string, robots_txt string"
        )
        got = {
            (r["agent"], r["delay_milli"])
            for r in robots_crawl_delay(df).collect()
        }
        assert got == {("a", 250)}

    def test_delay_max_across_files(self, spark):
        """Two fetched copies of a host's file keep the MAX delay."""
        from comic_text_detector_spark.operators.curation import (
            robots_crawl_delay,
        )

        df = spark.createDataFrame(
            [
                ("h", "User-agent: *\nCrawl-delay: 2\n"),
                ("h", "User-agent: *\nCrawl-delay: 5\n"),
            ],
            "host string, robots_txt string",
        )
        got = robots_crawl_delay(df).collect()
        assert [(r["agent"], r["delay_milli"]) for r in got] == [("*", 5000)]


class TestCapPerHost:
    def _df(self, spark):
        rows = [(f"https://big.example/p{i}",) for i in range(30)] + [
            ("https://small.example/only",),
            ("relative/path/no/host",),
            ("also-no-host",),
        ]
        return spark.createDataFrame(rows, "url string")

    def test_cap_binds_and_hostless_pass(self, spark):
        from comic_text_detector_spark.operators.curation import cap_per_host

        out = cap_per_host(self._df(spark), cap=5).collect()
        by_host = {}
        for r in out:
            by_host.setdefault(r["host"], []).append(r)
        assert len(by_host["big.example"]) == 5
        assert len(by_host["small.example"]) == 1
        assert len(by_host[""]) == 2  # hostless rows are never capped

    def test_deterministic_uniform_selection(self, spark):
        from comic_text_detector_spark.operators.curation import cap_per_host

        df = self._df(spark)
        a = sorted(r["url"] for r in cap_per_host(df, cap=5).collect())
        b = sorted(
            r["url"] for r in cap_per_host(df.repartition(7), cap=5).collect()
        )
        assert a == b
        # selection is hash-ordered, not ingest-ordered: the kept five are
        # (overwhelmingly) not simply p0..p4
        kept_big = [u for u in a if "big.example" in u]
        assert kept_big != [f"https://big.example/p{i}" for i in range(5)]

    def test_bad_cap_rejected(self, spark):
        import pytest as _pt

        from comic_text_detector_spark.operators.curation import cap_per_host

        with _pt.raises(ValueError):
            cap_per_host(self._df(spark), cap=0)


def test_temperature_sample_null_group_cannot_poison_rates(spark):
    """A handful of NULL-lang docs must not become n_min and crush the
    real groups' rates (review finding): nulls are excluded up front."""
    from comic_text_detector_spark.operators.curation import temperature_sample

    rows = [(i, "en") for i in range(400)] + [
        (1000, None), (1001, None), (1002, "de"), (1003, "de")
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, by="lang", alpha=0.5)
    rates = {r["lang"]: r["rate"] for r in out.select("lang", "rate").distinct().collect()}
    assert rates["de"] == 1.0            # n_min = 2 (de), NOT the nulls
    assert abs(rates["en"] - (2 / 400) ** 0.5) < 1e-12
    assert out.filter("lang IS NULL").count() == 0


def test_cap_per_host_null_urls_pass_unranked(spark):
    from comic_text_detector_spark.operators.curation import cap_per_host

    rows = [("https://h.example/a",), ("https://h.example/b",), (None,), (None,)]
    df = spark.createDataFrame(rows, "url string")
    out = cap_per_host(df, cap=1).collect()
    nulls = [r for r in out if r["url"] is None]
    assert len(nulls) == 2 and all(r["host_rank"] is None for r in nulls)
    assert sum(1 for r in out if r["host"] == "h.example") == 1


def test_gopher_line_structured_and_crlf(spark):
    """One word per line must count as N words, not one fused token; CRLF
    endings must not defeat the ellipsis check (review finding)."""
    from comic_text_detector_spark.operators.curation import gopher_quality

    one_per_line = "\n".join(
        ["the", "be", "to", "of", "and"] + [f"w{i}" for i in range(95)]
    )
    crlf = "good line one...\r\nsecond line also fine...\r\n"
    df = spark.createDataFrame(
        [(1, one_per_line), (2, crlf)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert out[1]["n_words"] == 100      # not 1
    assert out[1]["n_stop_kinds"] == 5
    assert out[2]["ellipsis_line_frac"] == 1.0
    assert out[2]["n_lines"] == 2        # the trailing \r\n adds no line


class TestSitemaps:
    def test_parse_blocks_entities_and_kinds(self, spark):
        from comic_text_detector_spark.operators.curation import parse_sitemap

        xml = (
            "<urlset>\n"
            "  <url>\n    <loc>  https://h/a?x=1&amp;y=2  </loc>\n"
            "    <lastmod>2024-03-05T10:00:00Z</lastmod>\n"
            "    <changefreq>Weekly</changefreq>\n"
            "    <priority>0.5</priority>\n  </url>\n"
            "  <url><lastmod>2024-01-01</lastmod></url>\n"  # no loc → drop
            "  <url><loc>https://h/b</loc><lastmod>junk</lastmod>"
            "<priority>high</priority></url>\n"
            "</urlset>\n"
            "<sitemapindex><sitemap><loc>https://h/s1.xml</loc></sitemap>"
            "</sitemapindex>"
        )
        df = spark.createDataFrame([("h", xml)], "host string, sitemap_xml string")
        rows = {r["loc"]: r for r in parse_sitemap(df).collect()}
        assert set(rows) == {"https://h/a?x=1&y=2", "https://h/b", "https://h/s1.xml"}
        a = rows["https://h/a?x=1&y=2"]
        assert a["kind"] == "url" and str(a["lastmod_date"]) == "2024-03-05"
        assert a["changefreq"] == "weekly" and a["priority"] == 0.5
        assert rows["https://h/b"]["lastmod"] == "junk"
        assert rows["https://h/b"]["lastmod_date"] is None
        assert rows["https://h/b"]["priority"] is None  # 'high': refused
        assert rows["https://h/b"]["changefreq"] is None
        assert rows["https://h/s1.xml"]["kind"] == "sitemap"

    def test_refetch_unknown_lastmod_is_not_modified(self, spark):
        from comic_text_detector_spark.operators.curation import (
            parse_sitemap,
            refetch_candidates,
        )

        xml = (
            "<urlset>"
            "<url><loc>https://h/seen-nolastmod</loc></url>"
            "<url><loc>https://h/seen-old</loc>"
            "<lastmod>2020-01-01</lastmod></url>"
            "<url><loc>https://h/seen-new</loc>"
            "<lastmod>2030-01-01</lastmod></url>"
            "<url><loc>https://h/unseen</loc></url>"
            "</urlset>"
        )
        rows = parse_sitemap(
            spark.createDataFrame([("h", xml)], "host string, sitemap_xml string")
        )
        crawled = spark.createDataFrame(
            [
                ("https://h/seen-nolastmod", "2024-01-01 00:00:00"),
                ("https://h/seen-old", "2024-01-01 00:00:00"),
                ("https://h/seen-new", "2024-01-01 00:00:00"),
            ],
            "url string, warc_ts string",
        ).selectExpr("url", "CAST(warc_ts AS TIMESTAMP) AS warc_ts")
        got = {
            r["url"]: r["reason"] for r in refetch_candidates(rows, crawled).collect()
        }
        assert got == {
            "https://h/seen-new": "modified",
            "https://h/unseen": "never_crawled",
        }


def test_frontier_job_e2e(spark, tmp_path):
    """robots + sitemaps + crawl state → scheduled fetch plan: rules
    block /private, the agent-specific crawl-delay spaces slots, refetch
    decisions respect lastmod."""
    import json

    from jobs import frontier_job

    robots = spark.createDataFrame(
        [
            (
                "a.example",
                "User-agent: *\nDisallow: /private\nCrawl-delay: 1\n"
                "User-agent: ctdbot\nDisallow: /private\nCrawl-delay: 3\n",
            ),
            ("b.example", "User-agent: *\nDisallow:\n"),
        ],
        "host string, robots_txt string",
    )
    sitemaps = spark.createDataFrame(
        [
            (
                "a.example",
                "<urlset>"
                "<url><loc>https://a.example/p1</loc></url>"
                "<url><loc>https://a.example/p2</loc></url>"
                "<url><loc>https://a.example/private/x</loc></url>"
                "<url><loc>https://a.example/seen</loc>"
                "<lastmod>2020-01-01</lastmod></url>"
                "</urlset>",
            ),
            (
                "b.example",
                "<urlset><url><loc>https://b.example/q</loc></url></urlset>",
            ),
        ],
        "host string, sitemap_xml string",
    )
    state = spark.createDataFrame(
        [("https://a.example/seen", "2024-01-01 00:00:00")],
        "url string, warc_ts string",
    ).selectExpr("url", "CAST(warc_ts AS TIMESTAMP) AS warc_ts")

    rdir, sdir, cdir = (
        str(tmp_path / d) for d in ("robots", "sitemaps", "state")
    )
    robots.write.parquet(rdir)
    sitemaps.write.parquet(sdir)
    state.write.parquet(cdir)
    out = str(tmp_path / "out")
    assert frontier_job.main(
        [
            "--robots", rdir, "--sitemaps", sdir, "--output", out,
            "--crawl-state", cdir, "--agent", "ctdbot",
            "--default-delay-ms", "500",
        ],
        spark=spark,
    ) == 0
    sched = spark.read.parquet(f"{out}/schedule").collect()
    urls = {r["url"] for r in sched}
    # /private blocked; /seen unmodified → not refetched; p1/p2/q scheduled
    assert urls == {
        "https://a.example/p1", "https://a.example/p2", "https://b.example/q"
    }
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r)
    # a.example uses the ctdbot-specific 3s delay, not '*'s 1s
    a = sorted(by_host["a.example"], key=lambda r: r["slot"])
    assert [r["fetch_at_ms"] for r in a] == [0, 3000]
    # b.example has no crawl-delay → the default 500ms
    assert [r["fetch_at_ms"] for r in by_host["b.example"]] == [0]
    cand = spark.read.parquet(f"{out}/candidates").collect()
    assert {r["url"]: r["reason"] for r in cand} == {
        "https://a.example/p1": "never_crawled",
        "https://a.example/p2": "never_crawled",
        "https://a.example/private/x": "never_crawled",
        "https://b.example/q": "never_crawled",
    }


def test_frontier_job_own_group_suppresses_star_delay(spark, tmp_path):
    """RFC 9309 group selection for DELAYS too (review finding): a host
    where our agent has its OWN group (even delay-less) must not inherit
    the '*' group's Crawl-delay — the default applies instead."""
    from jobs import frontier_job

    robots = spark.createDataFrame(
        [
            (
                "a.example",
                "User-agent: ctdbot\nDisallow: /x\n\n"
                "User-agent: *\nCrawl-delay: 30\n",
            ),
        ],
        "host string, robots_txt string",
    )
    sitemaps = spark.createDataFrame(
        [
            (
                "a.example",
                "<urlset><url><loc>https://a.example/p1</loc></url>"
                "<url><loc>https://a.example/p2</loc></url></urlset>",
            )
        ],
        "host string, sitemap_xml string",
    )
    rdir, sdir = str(tmp_path / "r"), str(tmp_path / "s")
    robots.write.parquet(rdir)
    sitemaps.write.parquet(sdir)
    out = str(tmp_path / "out")
    assert frontier_job.main(
        [
            "--robots", rdir, "--sitemaps", sdir, "--output", out,
            "--agent", "ctdbot", "--default-delay-ms", "250",
        ],
        spark=spark,
    ) == 0
    sched = sorted(
        spark.read.parquet(f"{out}/schedule").collect(),
        key=lambda r: r["slot"],
    )
    # default 250ms spacing, NOT the '*' group's 30s
    assert [r["fetch_at_ms"] for r in sched] == [0, 250]


def test_curate_job_host_cap_stage(spark, tmp_path):
    from jobs import curate_job

    text = " ".join(["sturdy words that pass the floor"] * 4)
    rows = [(f"https://big.example/p{i}", text, "en") for i in range(20)] + [
        ("https://small.example/x", text, "en")
    ]
    docs = spark.createDataFrame(rows, "url string, text string, lang string")
    corpus, bench = str(tmp_path / "c"), str(tmp_path / "b")
    docs.write.parquet(corpus)
    spark.createDataFrame([("zz qq ww",)], "text string").write.parquet(bench)
    out = str(tmp_path / "out")
    assert curate_job.main(
        [
            "--input", corpus, "--benchmark", bench, "--output", out,
            "--rates", '{"en": 1.0}', "--max-docs-per-host", "5",
        ],
        spark=spark,
    ) == 0
    kept = [r["url"] for r in spark.read.parquet(f"{out}/curated").collect()]
    assert sum(1 for u in kept if "big.example" in u) == 5
    assert "https://small.example/x" in kept


def test_snapshot_diff_statuses(spark):
    from comic_text_detector_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [("a", "same"), ("b", "before"), ("c", "gone"), ("n", None),
         ("e", ""), ("z", None)],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("a", "same"), ("b", "after"), ("d", "fresh"), ("n", "now set"),
         ("e", None), ("z", None)],
        "url string, text string",
    )
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        "a": "unchanged", "b": "changed", "c": "removed",
        "d": "added", "n": "changed",  # NULL → value counts as a change
        "e": "changed",  # '' → NULL is a regression, not 'unchanged'
        "z": "unchanged",  # NULL → NULL really is unchanged
    }


def test_surt_key_canonical_forms(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.curation import surt_key

    cases = [
        ("https://www.News.Example.org/a?q=1", "org,example,news)/a?q=1"),
        ("HTTP://Example.COM:80/Path/", "com,example)/path"),
        ("https://a.b.c.example.org:443/x#frag", "org,example,c,b,a)/x"),
        ("https://example.org", "org,example)"),
        # www only stripped as a LEADING label; tracking params stripped
        ("https://wwwx.example.org/?utm_source=t", "org,example,wwwx)"),
        ("https://www.example.org:8080/p", "org,example:8080)/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url: string")
    got = {
        r.url: r.surt
        for r in df.select("url", surt_key(F.col("url")).alias("surt")).collect()
    }
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)


def test_surt_key_domain_range_contiguity(spark):
    """The point of SURT: a registered domain and all its subdomains sort
    into one contiguous key range."""
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.curation import surt_key

    urls = [
        "https://example.org/1",
        "https://a.example.org/2",
        "https://z.example.org/3",
        "https://examplf.org/other",
        "https://aaa.example.net/x",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url: string")
    rows = sorted(
        (r.surt, r.url)
        for r in df.select("url", surt_key(F.col("url")).alias("surt")).collect()
    )
    dom = ["example.org" in u for _, u in rows]
    # all example.org rows are adjacent in surt order
    first, last = dom.index(True), len(dom) - 1 - dom[::-1].index(True)
    assert all(dom[first : last + 1])


def test_parse_feed_rss_atom(spark):
    """RSS items + Atom entries from one XML string: CDATA strip, entity
    decode, RFC 822 and ISO dates, link-less drop, data-href trap."""
    from comic_text_detector_spark.operators.curation import parse_feed

    rss = (
        "<rss><channel><title>chan</title>"
        "<item><title>Post One</title><link> https://h1/a?x=1&amp;y=2 "
        "</link><guid isPermaLink=\"false\">g1</guid>"
        "<pubDate>Mon, 15 Apr 2024 10:00:00 GMT</pubDate></item>"
        "<item><title><![CDATA[Two & More]]></title>"
        "<link>https://h1/b</link></item>"
        "<item><title>NoLink</title></item>"
        "<item><title>BadDate</title><link>https://h1/c</link>"
        "<pubDate>whenever</pubDate></item></channel></rss>"
    )
    atom = (
        "<feed><entry><title>A-One</title>"
        '<link rel="alternate" href="https://h2/e1"/>'
        "<id>tag:1</id><updated>2024-04-15T10:00:00Z</updated></entry>"
        "<entry><title>A-NoLink</title><id>tag:2</id></entry>"
        '<entry><title>Trap</title><link data-href="https://WRONG/"'
        ' href="https://h2/e3"/><updated>junk</updated></entry></feed>'
    )
    df = spark.createDataFrame(
        [("h1", rss), ("h2", atom)], "host string, feed_xml string"
    )
    rows = {(r.host, r.link): r for r in parse_feed(df).collect()}
    assert len(rows) == 5  # two link-less entries dropped
    r1 = rows[("h1", "https://h1/a?x=1&y=2")]  # entity decoded + trimmed
    assert r1.title == "Post One" and r1.entry_id == "g1"
    assert str(r1.published_date) == "2024-04-15"
    assert rows[("h1", "https://h1/b")].title == "Two & More"  # CDATA
    assert rows[("h1", "https://h1/c")].published_date is None
    a1 = rows[("h2", "https://h2/e1")]
    assert a1.format == "atom" and a1.entry_id == "tag:1"
    assert str(a1.published_date) == "2024-04-15"
    assert ("h2", "https://WRONG/") not in rows  # data-href never matches
    assert rows[("h2", "https://h2/e3")].published_date is None


def test_parse_feed_rfc822_date_variants(spark):
    """1- and 2-digit days, all month names, missing weekday, and a
    month-name typo (NULL date, raw string kept)."""
    from comic_text_detector_spark.operators.curation import parse_feed

    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
              "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    items = "".join(
        f"<item><link>https://h/m{k}</link>"
        f"<pubDate>2 {m} 2023 00:00:00 GMT</pubDate></item>"
        for k, m in enumerate(months)
    ) + (
        "<item><link>https://h/bad</link>"
        "<pubDate>2 Foo 2023 00:00:00 GMT</pubDate></item>"
    )
    df = spark.createDataFrame(
        [("h", f"<rss>{items}</rss>")], "host string, feed_xml string"
    )
    got = {r.link: r.published_date for r in parse_feed(df).collect()}
    for k in range(12):
        d = got[f"https://h/m{k}"]
        assert (d.year, d.month, d.day) == (2023, k + 1, 2)
    assert got["https://h/bad"] is None


def test_blocklist_filter_kinds_and_priority(spark):
    from comic_text_detector_spark.operators.curation import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "https://ads.bad.com/x"),        # domain suffix match
            (2, "https://sub.ads.bad.com/x"),    # deeper suffix match
            (3, "https://bad.com/x"),            # exact domain as host
            (4, "https://goodbad.com/x"),        # NOT a suffix (no dot)
            (5, "https://Host.Exact.org/x"),     # host kind, case-folded
            (6, "https://pre.net/ads/1"),        # url_prefix hit
            (7, "https://pre.net/ok/1"),         # same host, prefix miss
            (8, "https://both.com/x"),           # host AND domain → host
            (9, "not-a-url"),                    # no host → clean
        ],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame(
        [
            ("bad.com", "domain", "adult"),
            ("host.exact.org", "host", "tracker"),
            ("https://pre.net/ads/", "url_prefix", "ads"),
            ("both.com", "domain", "zdomain"),
            ("both.com", "host", "ahost"),
        ],
        "pattern string, kind string, category string",
    )
    got = {
        r.doc_id: (r.block_category, r.block_kind)
        for r in blocklist_filter(docs, bl).collect()
    }
    assert got[1] == ("adult", "domain")
    assert got[2] == ("adult", "domain")
    assert got[3] == ("adult", "domain")
    assert got[4] == (None, None)
    assert got[5] == ("tracker", "host")
    assert got[6] == ("ads", "url_prefix")
    assert got[7] == (None, None)
    assert got[8] == ("ahost", "host")  # host kind outranks domain kind
    assert got[9] == (None, None)


def test_badword_score_weights_and_wordless(spark):
    from comic_text_detector_spark.operators.curation import badword_score

    docs = spark.createDataFrame(
        [
            (1, "Spam and SPAM again"),
            (2, "clean words only here"),
            (3, "  "),
        ],
        "doc_id long, text string",
    )
    lex = spark.createDataFrame(
        [("spam", 5), ("junk", 2)], "word string, weight long"
    )
    got = {r.doc_id: r for r in badword_score(docs, lex).collect()}
    assert got[1].n_tokens == 4 and got[1].n_bad == 2
    assert got[1].bad_weight == 10 and got[1].bad_frac == 0.5
    assert got[2].n_bad == 0 and got[2].bad_weight == 0
    assert 3 not in got  # wordless: absent, not fake-clean


def test_curate_job_blocklist_and_noindex(spark, tmp_path):
    """--blocklist and --honor-noindex front-door stages: a blocklisted
    domain and a meta-noindex page never reach the curated output; the
    summary counts both."""
    from jobs import curate_job

    docs = spark.createDataFrame(
        [
            ("https://ok.com/a", "good words here", "en",
             "<p>good words here</p>"),
            ("https://ads.bad.com/x", "spammy stuff", "en", "<p>s</p>"),
            ("https://ok.com/hidden", "secret page", "en",
             '<meta name="robots" content="noindex">'),
        ],
        "url string, text string, lang string, html string",
    )
    corpus, bench = str(tmp_path / "c"), str(tmp_path / "b")
    docs.write.parquet(corpus)
    spark.createDataFrame(
        [("unrelated benchmark text",)], "text string"
    ).write.parquet(bench)
    bl = str(tmp_path / "bl")
    spark.createDataFrame(
        [("bad.com", "domain", "adult")],
        "pattern string, kind string, category string",
    ).write.parquet(bl)
    out = str(tmp_path / "out")
    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout):
        assert curate_job.main(
            [
                "--input", corpus, "--benchmark", bench, "--output", out,
                "--rates", '{"en": 1.0}', "--max-shared-ngrams", "99",
                "--blocklist", bl, "--honor-noindex",
            ],
            spark=spark,
        ) == 0
    kept = {r.url for r in spark.read.parquet(f"{out}/curated").collect()}
    assert kept == {"https://ok.com/a"}
    s = json.loads(stdout.getvalue().strip().splitlines()[-1])
    assert (s["blocklisted"], s["noindexed"], s["contaminated_removed"]) == (
        1, 1, 0
    )


def test_bitext_url_pairs_planted(spark):
    from comic_text_detector_spark.operators.curation import bitext_url_pairs

    docs = spark.createDataFrame(
        [
            ("https://s/en/about", "en", "hello world"),        # pairs
            ("https://s/fr/about", "fr", "bonjour le monde"),   # with en
            ("https://s/de/other", "de", "x"),                  # alone
            ("https://s/plain", "en", "no marker"),             # keyless
            ("https://q/p?lang=en", "en", "aaaa"),              # query form
            ("https://q/p?lang=fr", "fr", "bb"),
        ],
        "url string, lang string, text string",
    )
    got = {(r.url_a, r.url_b): r for r in bitext_url_pairs(docs).collect()}
    assert set(got) == {
        ("https://s/en/about", "https://s/fr/about"),
        ("https://q/p?lang=en", "https://q/p?lang=fr"),
    }
    r = got[("https://s/en/about", "https://s/fr/about")]
    assert r.lang_a == "en" and r.lang_b == "fr"
    assert abs(r.len_ratio - len("hello world") / len("bonjour le monde")) < 1e-12
    assert got[("https://q/p?lang=en", "https://q/p?lang=fr")].len_ratio == 0.5


def test_bitext_url_pairs_star_cap(spark):
    """A template key shared by too many pages drops entirely."""
    from comic_text_detector_spark.operators.curation import bitext_url_pairs

    rows = [(f"https://t/en/p{k}", "en", "x") for k in range(2)]
    rows += [("https://t/en/tmpl", "en", "x")]
    rows += [(f"https://t/{l}/tmpl", l, "x")
             for l in ("fr", "de", "es", "it", "pt")]
    docs = spark.createDataFrame(rows, "url string, lang string, text string")
    # cap of 3: the 6-page /tmpl group vanishes, nothing else pairs
    assert bitext_url_pairs(docs, max_group=3).count() == 0
    # cap of 6 admits it
    assert bitext_url_pairs(docs, max_group=6).count() > 0


def test_sentence_freq_dedup_planted(spark):
    from comic_text_detector_spark.operators.curation import (
        sentence_freq_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "Subscribe now. Fact one here. The end."),
            (2, "Subscribe now. Fact two here. The end."),
            (3, "Subscribe now. Fact three here. The end."),
            (4, ""),
            (5, "Subscribe now. The end."),  # everything boilerplate
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           sentence_freq_dedup(docs, max_doc_freq=2).collect()}
    assert got[1].text == "Fact one here."
    assert got[1].n_sents_in == 3 and got[1].n_sents_kept == 1
    assert got[2].text == "Fact two here."
    assert got[4].text == "" and got[4].n_sents_in == 0  # row preserved
    assert got[5].text == "" and got[5].n_sents_kept == 0
    assert len(got) == 5


def test_percent_normalize_rfc3986(spark):
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.curation import (
        percent_normalize,
    )

    cases = {
        "https://h/p%41%2fq%3a%7E?x=%zz%": "https://h/pA%2Fq%3A~?x=%zz%",
        "no-escapes": "no-escapes",
        "%": "%",
        "a%%41b": "a%Ab",
        "%2D%2e%5F%7e": "-._~",       # the four unreserved punctuation
        "%20%2B": "%20%2B",           # space/plus stay encoded, upper
    }
    df = spark.createDataFrame([(k,) for k in cases], "url string")
    got = {r.url: r.n for r in df.select(
        "url", percent_normalize(F.col("url")).alias("n")).collect()}
    for k, want in cases.items():
        assert got[k] == want, (k, got[k], want)


def test_parse_feed_atom_alternate_link_priority(spark):
    """An Atom entry listing self/edit links BEFORE the alternate link
    must still yield the article url; entries with no alternate fall
    back to the first href."""
    from comic_text_detector_spark.operators.curation import parse_feed

    atom = (
        "<feed><entry><title>A</title>"
        '<link rel="edit" href="https://api.example/e/1"/>'
        '<link rel="self" href="https://api.example/s/1"/>'
        '<link rel="alternate" href="https://blog.example/post1"/>'
        "<id>t:1</id></entry>"
        "<entry><title>B</title>"
        '<link href="https://blog.example/post2" rel="alternate"/>'
        "</entry>"
        "<entry><title>C</title>"
        '<link href="https://plain.example/only"/>'
        "</entry></feed>"
    )
    df = spark.createDataFrame([("h", atom)], "host string, feed_xml string")
    got = {r.title: r.link for r in parse_feed(df).collect()}
    assert got["A"] == "https://blog.example/post1"
    assert got["B"] == "https://blog.example/post2"
    assert got["C"] == "https://plain.example/only"


def test_badword_score_duplicate_lexicon_rows(spark):
    """A word listed twice (concatenated public lists) must not inflate
    token counts; the max weight wins."""
    from comic_text_detector_spark.operators.curation import badword_score

    docs = spark.createDataFrame(
        [(1, "bad word")], "doc_id long, text string"
    )
    lex = spark.createDataFrame(
        [("bad", 1), ("bad", 5)], "word string, weight long"
    )
    r = badword_score(docs, lex).collect()[0]
    assert r.n_tokens == 2 and r.n_bad == 1 and r.bad_weight == 5
    assert r.bad_frac == 0.5


def test_curate_job_traps_and_soft404(spark, tmp_path):
    """--drop-traps removes every doc on a query-trap host;
    --drop-soft404 removes a 200-status not-found template page."""
    from jobs import curate_job

    good = "real text " * 30
    docs = spark.createDataFrame(
        # trap host: one path, 12 distinct session queries
        [(f"http://trap.ex/shop?sid={k}", good + str(k),
          f"<html><title>Shop</title><p>{good}</p></html>", "en")
         for k in range(12)]
        # soft-404 page on a healthy host
        + [("http://ok.ex/missing",
            "Sorry, this page not found.",
            "<html><title>404 Page Not Found</title></html>", "en")]
        # healthy pages
        + [(f"http://ok.ex/p{k}", good + f"p{k}",
            f"<html><title>Page {k}</title><p>{good}</p></html>", "en")
           for k in range(3)],
        "url string, text string, html string, lang string",
    )
    corpus = str(tmp_path / "corpus2")
    bench = str(tmp_path / "bench2")
    docs.write.parquet(corpus)
    spark.createDataFrame([("zz qq ww",)], "text string").write.parquet(bench)

    out = str(tmp_path / "out_traps")
    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout):
        assert curate_job.main(
            ["--input", corpus, "--output", out, "--benchmark", bench,
             "--rates", '{"en": 1.0}', "--drop-traps",
             "--trap-query-variants", "10", "--drop-soft404"],
            spark=spark,
        ) == 0
    kept = [r.url for r in spark.read.parquet(f"{out}/curated").collect()]
    assert sorted(kept) == [f"http://ok.ex/p{k}" for k in range(3)]
    s = json.loads(stdout.getvalue().strip().splitlines()[-1])
    assert (s["trap_dropped"], s["soft404_dropped"], s["contaminated_removed"]) == (
        12, 1, 0
    )


def test_c4_line_filter_rules(spark):
    from comic_text_detector_spark.operators.curation import c4_line_filter

    page_ok = "\n".join(
        [
            "The first sentence is long enough to keep.",
            "too short",  # no terminal punct, 2 words
            "Please enable javascript to continue reading.",  # js drop
            "We explained our cookie policy in detail.",  # policy drop
            "Second one stays! Third stays? Fourth stays.",
            "Fifth keeps the page over the sentence floor.",
        ]
    )
    rows = spark.createDataFrame(
        [
            (0, page_ok),
            (1, page_ok + "\nsample with a { brace inside."),
            (2, page_ok + "\nLorem Ipsum dolor sit amet."),
            (3, "One sentence only stays here.\nshort"),
            (4, None),
            (5, "Ends mid line no punct at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in c4_line_filter(rows).collect()}
    assert got[0].doc_pass and got[0].drop_reason is None
    assert got[0].n_lines_in == 6 and got[0].n_lines_kept == 3
    assert got[0].n_sentences == 5
    assert "javascript" not in got[0].text
    assert "cookie" not in got[0].text
    assert got[1].drop_reason == "brace"
    assert got[2].drop_reason == "lorem_ipsum"  # case-insensitive
    assert got[3].drop_reason == "too_few_sentences"
    assert got[3].n_lines_kept == 1
    assert got[4].drop_reason == "too_few_sentences" and got[4].text == ""
    assert got[5].n_lines_kept == 0  # no terminal punctuation


def test_c4_line_filter_matches_sql_twin(spark, tmp_path):
    import duckdb

    from comic_text_detector_spark.operators.curation import (
        c4_line_filter,
        c4_line_filter_sql,
    )

    data = [
        (i, f"Line number {i} ends well.\nshort\nUses Cookies banner here.")
        for i in range(20)
    ] + [(99, "Brace { page.\nLong enough sentence to keep around.")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in c4_line_filter(df).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        __import__("pandas").DataFrame(
            data, columns=["doc_id", "text"]
        ),
    )
    want = sorted(tuple(r) for r in con.execute(c4_line_filter_sql()).fetchall())
    assert got == want


def test_train_order_shards_permutation_and_determinism(spark):
    from comic_text_detector_spark.operators.curation import (
        train_order_shards,
    )

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    out = train_order_shards(df, n_shards=4).collect()
    assert len(out) == 500
    shards = {}
    for r in out:
        shards.setdefault(r.shard, []).append((r.pos, r.sort_key, r.doc_id))
    assert set(shards) == {0, 1, 2, 3}
    for s, rows in shards.items():
        rows.sort()
        assert [p for p, _, _ in rows] == list(range(1, len(rows) + 1))
        keys = [k for _, k, _ in rows]
        assert keys == sorted(keys)  # pos order == key order
    # shard ranges are contiguous in key space: max key of shard i <
    # min key of shard j is NOT required (hash-range on first 8 hex),
    # but the first-8-hex prefix buckets must be monotone with shard id
    firsts = {
        s: (min(k for _, k, _ in rows), max(k for _, k, _ in rows))
        for s, rows in shards.items()
    }
    for s in range(3):
        assert firsts[s][1][:8] <= firsts[s + 1][0][:8]
    # epoch salt changes the permutation
    out2 = train_order_shards(df, n_shards=4, salt="epoch-1").collect()
    perm1 = sorted((r.shard, r.pos, r.doc_id) for r in out)
    perm2 = sorted((r.shard, r.pos, r.doc_id) for r in out2)
    assert perm1 != perm2
    # repartitioning the input cannot change the assignment
    out3 = train_order_shards(df.repartition(7), n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out3))


def test_split_by_host_leakage_guard(spark):
    from comic_text_detector_spark.operators.curation import split_by_host

    rows = [(i, f"https://h{i % 7}.example.org/p/{i}") for i in range(200)]
    rows += [(900, "/relative/path"), (901, None)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = split_by_host(
        df, [("train", 0.5), ("val", 0.25), ("test", 0.25)]
    ).collect()
    by_host = {}
    for r in out:
        if r.host:
            by_host.setdefault(r.host, set()).add(r.split)
    # the leakage guard: every page of a host lands in exactly one split
    assert by_host and all(len(s) == 1 for s in by_host.values())
    # hostless rows are explicitly unassigned, never guessed
    hostless = [r for r in out if not r.host]
    assert len(hostless) == 2
    assert all(r.split is None for r in hostless)
    # deterministic: a re-run (fresh plan) assigns identically
    again = split_by_host(
        df, [("train", 0.5), ("val", 0.25), ("test", 0.25)]
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_split_by_host_holdout_and_validation(spark):
    import pytest as _pytest

    from comic_text_detector_spark.operators.curation import split_by_host

    df = spark.createDataFrame(
        [(i, f"https://h{i}.example.org/") for i in range(64)],
        "doc_id long, url string",
    )
    # weights summing below 1 leave a NULL-split holdout rather than
    # silently rescaling
    out = split_by_host(df, [("train", 0.25)]).collect()
    assert {r.split for r in out} == {"train", None}
    with _pytest.raises(ValueError):
        split_by_host(df, [("a", 0.7), ("b", 0.4)])
    with _pytest.raises(ValueError):
        split_by_host(df, [("a", 0.0)])
    with _pytest.raises(ValueError):
        split_by_host(df, [])


def test_mixture_allocate_hamilton(spark):
    import pytest as _pytest

    from comic_text_detector_spark.operators.curation import (
        mixture_allocate,
    )

    df = spark.createDataFrame(
        [(i, ["a", "a", "a", "b", "c"][i % 5], 10) for i in range(50)],
        "doc_id long, src string, toks int",
    )
    # counts: a=30 rows, b=10, c=10; weights 1/3 each (inexact thirds
    # force remainder bonuses), budget 100 -> quotas 33.3331 each
    w = {"a": 333_333, "b": 333_333, "c": 333_334}
    out = {
        r.src: r
        for r in mixture_allocate(df, w, budget=100, by="src").collect()
    }
    assert sum(r.alloc for r in out.values()) == 100  # exact apportionment
    # floors are 33+33+33 = 99, so exactly one bonus unit exists and it
    # goes to the largest remainder: c (rem 333400 vs 333300)
    assert out["c"].alloc == 34 and out["a"].alloc == 33
    assert out["b"].alloc == 33
    # availability clamp: a has 30 rows < 33 allocated
    assert out["a"].granted == 30 and out["a"].shortfall == 3
    assert out["b"].granted == 10 and out["b"].shortfall == 23
    # size_col mode: 10 tokens per row scales availability x10 - no clamp
    out2 = {
        r.src: r
        for r in mixture_allocate(
            df, w, budget=100, by="src", size_col="toks"
        ).collect()
    }
    assert all(r.shortfall == 0 for r in out2.values())
    # a weighted group absent from the corpus: full shortfall
    out3 = {
        r.src: r
        for r in mixture_allocate(
            df, {"a": 500_000, "zz": 500_000}, budget=10, by="src"
        ).collect()
    }
    assert out3["zz"].available == 0 and out3["zz"].shortfall == 5
    with _pytest.raises(ValueError):
        mixture_allocate(df, {"a": 1}, budget=10, by="src")
    with _pytest.raises(ValueError):
        mixture_allocate(df, {}, budget=10, by="src")


def test_align_bitext_sentences_planted(spark):
    from comic_text_detector_spark.operators.curation import (
        align_bitext_sentences,
    )

    df = spark.createDataFrame(
        [
            # equal totals: proportional midpoints land directly on B
            ("p1", ["aaaa", "bb", "cccccc"], ["xx", "yyyy", "zzzzzz"]),
            ("z0", ["aaa"], []),           # zero-length b side: dropped
            ("z1", [], ["bbb"]),           # zero-length a side: dropped
        ],
        "bitext_key string, sents_a array<string>, sents_b array<string>",
    )
    out = sorted(
        (r.bitext_key, r.a_idx, r.b_idx, r.len_a, r.len_b,
         r.len_milli_ratio)
        for r in align_bitext_sentences(df).collect()
    )
    # a0 (mid 2.0) sits exactly on the b0/b1 boundary -> b1 (half-open
    # intervals); a1 (mid 5) -> b1; a2 (mid 9) -> b2. The consecutive
    # a's sharing b1 are the 2-into-1 merge signal downstream consumes.
    assert out == [
        ("p1", 0, 1, 4, 4, 1000),
        ("p1", 1, 1, 2, 4, 500),
        ("p1", 2, 2, 6, 6, 1000),
    ]


def test_align_bitext_scaled_and_monotone(spark):
    from comic_text_detector_spark.operators.curation import (
        align_bitext_sentences,
    )

    # b twice as long as a: alignment must scale, not match absolutes
    df = spark.createDataFrame(
        [("p", ["aa", "bb", "cc"], ["xxxx", "yyyy", "zzzz"])],
        "bitext_key string, sents_a array<string>, sents_b array<string>",
    )
    out = {r.a_idx: r.b_idx for r in align_bitext_sentences(df).collect()}
    assert out == {0: 0, 1: 1, 2: 2}
    # monotone: b_idx never decreases along a_idx
    seq = [out[i] for i in sorted(out)]
    assert seq == sorted(seq)


def test_host_quality_shrunk(spark):
    import pytest as _pytest

    from comic_text_detector_spark.operators.curation import (
        host_quality_shrunk,
    )

    rows = [("h1", 1000)] + [("h2", 500)] * 9
    df = spark.createDataFrame(rows, "host string, score int")
    out = {
        r.host: r
        for r in host_quality_shrunk(df, prior_strength=20).collect()
    }
    # global mean 550.0 -> g_milli 550000
    assert out["h1"].mean_milli == 1_000_000
    assert out["h1"].shrunk_milli == (1_000_000 + 20 * 550_000) // 21
    assert out["h2"].mean_milli == 500_000
    assert out["h2"].shrunk_milli == (4_500_000 + 20 * 550_000) // 29
    # the 1-doc outlier host is pulled most of the way to the prior;
    # the 9-doc host moves far less (that is the point of shrinkage)
    assert abs(out["h1"].shrunk_milli - 550_000) < 25_000
    assert abs(out["h1"].shrunk_milli - 1_000_000) > 400_000
    # m=0 degenerates to the raw mean
    raw = {
        r.host: r
        for r in host_quality_shrunk(df, prior_strength=0).collect()
    }
    assert all(r.shrunk_milli == r.mean_milli for r in raw.values())
    with _pytest.raises(ValueError):
        host_quality_shrunk(df, prior_strength=-1)


def test_score_shards_exact_ntile(spark):
    from comic_text_detector_spark.operators.curation import score_shards

    # 12 rows, scores 0..11, 4 shards -> exact quartiles
    df = spark.createDataFrame(
        [(i, i) for i in range(12)], "id long, q long"
    )
    got = {r.id: r.shard for r in score_shards(df, "q", 4).collect()}
    assert got == {i: i // 3 for i in range(12)}
    # descending curriculum: highest scores first
    got_d = {
        r.id: r.shard
        for r in score_shards(df, "q", 4, ascending=False).collect()
    }
    assert got_d == {i: (11 - i) // 3 for i in range(12)}


def test_score_shards_ties_stay_together(spark):
    from comic_text_detector_spark.operators.curation import score_shards

    # one dominant tie group: all of score 5 lands in ONE shard
    rows = [(i, 5) for i in range(8)] + [(8, 1), (9, 9)]
    df = spark.createDataFrame(rows, "id long, q long")
    got = {r.id: r.shard for r in score_shards(df, "q", 2).collect()}
    assert got[8] == 0 and got[9] == 1
    assert len({got[i] for i in range(8)}) == 1  # never split


def test_score_shards_repartition_invariant(spark):
    from comic_text_detector_spark.operators.curation import score_shards

    df = spark.createDataFrame(
        [(i, (i * 7) % 13) for i in range(200)], "id long, q long"
    )
    a = sorted(map(tuple, score_shards(df, "q", 5).collect()))
    b = sorted(map(tuple, score_shards(df.repartition(7), "q", 5).collect()))
    assert a == b


def test_host_boilerplate_dedup(spark):
    from comic_text_detector_spark.operators.curation import (
        host_boilerplate_dedup,
    )

    rows = [
        (1, "a.com", "MENU\narticle one"),
        (2, "a.com", "MENU\narticle two"),
        (3, "a.com", "MENU\narticle three"),
        # same literal line on b.com appears only once THERE: kept
        (4, "b.com", "MENU\nsomething else"),
        (5, "b.com", "just text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    got = {
        r.doc_id: (r.text, r.n_lines_in, r.n_lines_kept)
        for r in host_boilerplate_dedup(df, max_doc_freq=2).collect()
    }
    # MENU is boilerplate on a.com (df 3 > 2) but NOT on b.com (df 1)
    assert got[1] == ("article one", 2, 1)
    assert got[4] == ("MENU\nsomething else", 2, 2)
    assert got[5] == ("just text", 1, 1)


def test_host_boilerplate_empty_survives(spark):
    from comic_text_detector_spark.operators.curation import (
        host_boilerplate_dedup,
    )

    rows = [(i, "h", "NAV") for i in range(4)] + [(9, "h", "")]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    got = {r.doc_id: r.text
           for r in host_boilerplate_dedup(df, max_doc_freq=2).collect()}
    # all-boilerplate docs survive as '' rather than vanishing
    assert got[0] == "" and got[9] == "" and len(got) == 5


def test_curate_job_host_boilerplate_stage(spark, tmp_path):
    """--max-host-line-doc-freq strips per-site nav lines whose
    corpus-wide df never crosses the 1b threshold, and re-curation
    stays duplicate-column-safe."""
    from jobs import curate_job

    rows = []
    for i in range(4):
        rows.append(
            (f"http://siteA/{i}", "SITEA NAV\n" + f"unique body {i} "
             + "filler words here", "en")
        )
    rows.append(("http://siteB/0", "SITEA NAV\nother page", "en"))
    docs = spark.createDataFrame(rows, "url string, text string, lang string")
    corpus, bench = str(tmp_path / "c"), str(tmp_path / "b")
    docs.write.parquet(corpus)
    spark.createDataFrame([("zz qq ww",)], "text string").write.parquet(bench)
    out = str(tmp_path / "out")
    assert curate_job.main(
        ["--input", corpus, "--output", out, "--benchmark", bench,
         "--rates", '{"en": 1.0}', "--max-host-line-doc-freq", "2"],
        spark=spark,
    ) == 0
    got = {r.url: r for r in spark.read.parquet(f"{out}/curated").collect()}
    # dropped on siteA (4 docs share it there), kept on siteB (df 1)
    assert all("SITEA NAV" not in got[f"http://siteA/{i}"].text
               for i in range(4))
    assert "SITEA NAV" in got["http://siteB/0"].text
    assert got["http://siteA/0"].n_host_lines_in == 2
    assert got["http://siteA/0"].n_host_lines_kept == 1


def test_score_shards_null_scores_dropped_cleanly(spark):
    import pytest

    from comic_text_detector_spark.operators.curation import score_shards

    df = spark.createDataFrame(
        [(0, None), (1, None), (2, 1), (3, 2), (4, 3), (5, 4)],
        "id long, q long",
    )
    got = {r.id: r.shard for r in score_shards(df, "q", 4).collect()}
    # NULLs dropped (documented), and they must NOT inflate offsets:
    # the four real scores still land in four distinct shards
    assert got == {2: 0, 3: 1, 4: 2, 5: 3}
    with pytest.raises(ValueError):
        score_shards(df, "q", 0)
