"""ANALYZE-style exact table stats."""

from __future__ import annotations

from comic_text_detector_spark.operators.stats import collect_table_stats


def test_collect_table_stats_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "aa", None),
            (2, "bb", 5),
            (3, "aa", 7),
            (4, None, 7),
        ],
        "id long, s string, v long",
    )
    got = {r.col: r for r in collect_table_stats(df).collect()}
    assert got["id"].n_rows == 4 and got["id"].n_nulls == 0
    assert got["id"].ndv == 4 and got["id"].min_s == "1" and got["id"].max_s == "4"
    assert got["s"].n_nulls == 1 and got["s"].ndv == 2
    assert got["s"].total_len == 6  # 3 non-null x 2 chars
    assert got["v"].n_nulls == 1 and got["v"].ndv == 2
    assert got["v"].min_s == "5" and got["v"].max_s == "7"


def test_collect_table_stats_digest_cols(spark):
    import hashlib

    df = spark.createDataFrame(
        [(1, "zzz"), (2, "aaa")], "id long, t string"
    )
    got = {
        r.col: r
        for r in collect_table_stats(df, digest_cols=("t",)).collect()
    }
    digs = sorted(
        hashlib.md5(x.encode()).hexdigest() for x in ("zzz", "aaa")
    )
    # min/max are over the digest, ndv/total_len over the raw values
    assert (got["t"].min_s, got["t"].max_s) == (digs[0], digs[-1])
    assert got["t"].ndv == 2 and got["t"].total_len == 6


def test_count_min_upper_bound_and_exactness(spark):
    """Estimates never undercount; with a wide sketch (no collisions)
    they are exact; merging two batch sketches = sketch of the union."""
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.stats import (
        count_min_estimate,
        count_min_sketch,
    )

    rows = [("a",)] * 50 + [("b",)] * 7 + [("c",)] * 1
    df = spark.createDataFrame(rows, "host string")
    truth = {"a": 50, "b": 7, "c": 1}
    # wide: 4x4096 over 3 keys — collisions across all 4 rows impossible
    sk = count_min_sketch(df, "host", depth=4, width=4096)
    est = {r.key: r.est for r in
           count_min_estimate(sk, df, "host", depth=4, width=4096).collect()}
    assert est == truth
    # narrow: still an upper bound for every key
    skn = count_min_sketch(df, "host", depth=2, width=4)
    estn = {r.key: r.est for r in
            count_min_estimate(skn, df, "host", depth=2, width=4).collect()}
    assert all(estn[k] >= v for k, v in truth.items())
    # mergeability: sum of per-batch sketches == sketch of the whole
    h1, h2 = df.randomSplit([0.5, 0.5], seed=7)
    merged = (
        count_min_sketch(h1, "host", depth=4, width=4096)
        .unionByName(count_min_sketch(h2, "host", depth=4, width=4096))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    estm = {r.key: r.est for r in
            count_min_estimate(merged, df, "host", depth=4, width=4096)
            .collect()}
    assert estm == truth


def test_count_min_unseen_key_is_zero(spark):
    from comic_text_detector_spark.operators.stats import (
        count_min_estimate,
        count_min_sketch,
    )

    df = spark.createDataFrame([("a",)], "host string")
    probe = spark.createDataFrame([("zzz",)], "host string")
    sk = count_min_sketch(df, "host", depth=4, width=4096)
    got = count_min_estimate(sk, probe, "host", depth=4, width=4096)
    assert got.collect()[0].est == 0


def test_zipf_report_planted(spark):
    """Planted geometric corpus (counts 64/32/16/8 at ranks 1..4): the
    report's slope/intercept must equal the same milli-quantized
    least-squares arithmetic replayed in plain Python, and the counts/
    coverage/top-1 fields are known exactly."""
    import math

    from comic_text_detector_spark.operators.stats import zipf_report

    words = (["aa"] * 64 + ["bb"] * 32 + ["cc"] * 16 + ["dd"] * 8)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    r = zipf_report(docs, top_n=1000).collect()[0]
    assert r.n_types == 4 and r.n_tokens == 120
    assert r.top1_word == "aa" and r.top1_count == 64
    assert r.top100_coverage == 1.0
    xs = [round(math.log10(k) * 1000) for k in (1, 2, 3, 4)]
    ys = [round(math.log10(c) * 1000) for c in (64, 32, 16, 8)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r.zipf_slope == slope
    assert slope < -1  # steeper than Zipf: counts halve every rank
    assert r.zipf_intercept_milli == round((sy - slope * sx) / n)


def test_zipf_rank_tie_breaks_by_word(spark):
    from comic_text_detector_spark.operators.stats import zipf_report

    docs = spark.createDataFrame(
        [(1, "zz aa zz aa")], "doc_id long, text string"
    )
    r = zipf_report(docs).collect()[0]
    assert r.top1_word == "aa"  # tie on count=2 → word ASC


def test_vocab_drift_dunning(spark):
    import math

    from comic_text_detector_spark.operators.stats import vocab_drift

    old = spark.createDataFrame(
        [(1, "stable stable stable quiet")], "id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "stable stable stable burst burst burst burst")],
        "id long, text string",
    )
    rows = vocab_drift(old, new, top_k=10).collect()
    by_term = {r.term: r for r in rows}
    # 'burst' (0 -> 4) must dominate; direction up
    assert rows[0].term == "burst" and rows[0].direction == "up"
    assert by_term["quiet"].direction == "down"
    # hand-check burst's G2: k11=0,k12=4,k21=4,k22=3, N=11
    def xlx(x):
        return x * math.log(x) if x > 0 else 0.0

    g2 = 2.0 * (
        xlx(0) + xlx(4) + xlx(4) + xlx(3)
        - xlx(4) - xlx(7) - xlx(4) - xlx(7) + xlx(11)
    )
    assert by_term["burst"].llr_micro == round(g2 * 1e6)
    # 'stable' (3 vs 3) drifts less than 'burst'
    assert by_term["stable"].llr_micro < by_term["burst"].llr_micro


def test_vocab_drift_guards(spark):
    import pytest

    from comic_text_detector_spark.operators.stats import vocab_drift

    docs = spark.createDataFrame([(1, "a")], "id long, text string")
    empty = spark.createDataFrame([(1, "")], "id long, text string")
    with pytest.raises(ValueError):
        vocab_drift(docs, empty)
    with pytest.raises(ValueError):
        vocab_drift(docs, docs, top_k=0)


def test_cooccur_pmi(spark):
    import math

    from comic_text_detector_spark.operators.stats import cooccur_pmi

    docs = spark.createDataFrame(
        [
            (1, "probe buddy noise"),
            (2, "probe buddy"),
            (3, "probe stray"),
            (4, "buddy alone"),
            (5, "noise everywhere noise"),
            (6, "noise again"),
        ],
        "doc_id long, text string",
    )
    rows = cooccur_pmi(docs, "probe", top_k=5, min_pairs=2).collect()
    by = {r.term: r for r in rows}
    # 'stray' co-occurs once: cut by min_pairs; probe excluded
    assert "stray" not in by and "probe" not in by
    # buddy: n_pair=2, n_term=3, N=6, n_probe=3
    assert by["buddy"].n_pair == 2 and by["buddy"].n_term == 3
    assert by["buddy"].pmi_micro == round(math.log(2 * 6 / (3 * 3)) * 1e6)
    # buddy associates stronger than noise (pmi ordering)
    assert rows[0].term == "buddy"


def test_cooccur_pmi_guards(spark):
    import pytest

    from comic_text_detector_spark.operators.stats import cooccur_pmi

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        cooccur_pmi(docs, "missing")
    with pytest.raises(ValueError):
        cooccur_pmi(docs, "")


def test_release_manifest(spark):
    from comic_text_detector_spark.operators.stats import release_manifest

    docs = spark.createDataFrame(
        [
            (1, "train", "a b c"),
            (2, "train", "d  e"),   # double space: empty token dropped
            (3, "val", ""),
        ],
        "doc_id long, split string, text string",
    )
    got = {r.split: r for r in release_manifest(docs, ["split"]).collect()}
    assert (got["train"].n_docs, got["train"].n_tokens) == (2, 5)
    assert got["train"].n_chars == 5 + 4
    assert (got["val"].n_docs, got["val"].n_tokens, got["val"].n_chars) == (
        1, 0, 0,
    )
    # any single-document change shifts the checksum
    docs2 = spark.createDataFrame(
        [(1, "train", "a b C"), (2, "train", "d  e"), (3, "val", "")],
        "doc_id long, split string, text string",
    )
    got2 = {r.split: r for r in release_manifest(docs2, ["split"]).collect()}
    assert got2["train"].checksum_add != got["train"].checksum_add
    assert got2["val"].checksum_add == got["val"].checksum_add
    # order/partitioning-insensitive
    got3 = {
        r.split: r
        for r in release_manifest(docs.repartition(5), ["split"]).collect()
    }
    assert got3["train"].checksum_add == got["train"].checksum_add


def test_char_entropy_closed_form(spark):
    import math

    from comic_text_detector_spark.operators.stats import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),     # single symbol: entropy exactly 0
            (2, "abab"),     # two equiprobable symbols: ln 2
            (3, "abcd"),     # four equiprobable symbols: ln 4
            (4, "aab"),      # skew: top fraction 2/3
            (5, ""),         # empty: no row (drop-not-fake)
            (6, None),       # null: no row
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in char_entropy(df).collect()}
    assert set(got) == {1, 2, 3, 4}

    assert got[1].n_chars == 4 and got[1].n_distinct == 1
    assert got[1].top_char_frac_micro == 1_000_000
    assert got[1].entropy_micro == 0

    # replay the exact micro ladder for the uniform arms
    def ladder(n, counts):
        sxlx = sum(round(c * math.log(c) * 1e6) for c in counts)
        xn = round(n * math.log(n) * 1e6)
        return (xn - sxlx) // n

    assert got[2].entropy_micro == ladder(4, [2, 2])  # ~= ln2 * 1e6
    assert abs(got[2].entropy_micro - round(math.log(2) * 1e6)) <= 1
    assert got[3].n_distinct == 4
    assert got[3].entropy_micro == ladder(4, [1, 1, 1, 1])
    assert abs(got[3].entropy_micro - round(math.log(4) * 1e6)) <= 1

    assert got[4].top_char_frac_micro == 2_000_000 // 3
    # skewed arm is strictly between the degenerate and uniform arms
    assert 0 < got[4].entropy_micro < got[3].entropy_micro


def test_char_entropy_repartition_invariant(spark):
    from comic_text_detector_spark.operators.stats import char_entropy

    rows = [(i, ("ab" * (i % 5 + 1)) + "xyz"[: i % 3]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, char_entropy(df.coalesce(1)).collect()))
    b = sorted(map(tuple, char_entropy(df.repartition(13)).collect()))
    assert a == b


def test_token_entropy_closed_form(spark):
    import math

    from comic_text_detector_spark.operators.stats import token_entropy

    df = spark.createDataFrame(
        [
            (1, "buy buy buy buy"),        # stuffed: entropy 0
            (2, "the cat sat on a mat"),   # 6 distinct: ln 6
            (3, "a b a b"),                # two equiprobable: ln 2
            (4, "   "),                    # whitespace-only: no row
            (5, None),                     # null: no row
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in token_entropy(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].n_tokens == 4 and got[1].n_distinct == 1
    assert got[1].top_token_frac_micro == 1_000_000
    assert got[1].entropy_micro == 0
    assert got[2].n_distinct == 6
    assert abs(got[2].entropy_micro - round(math.log(6) * 1e6)) <= 1
    assert abs(got[3].entropy_micro - round(math.log(2) * 1e6)) <= 1
    assert got[3].top_token_frac_micro == 500_000


def test_streaming_count_min_accumulates_across_batches(spark, tmp_path):
    """count_min_sketch is a plain streaming aggregation: run it over a
    file stream in complete mode across two availableNow triggers
    sharing a checkpoint — the final sketch equals the batch sketch of
    ALL rows (cell-exact), i.e. cross-batch heavy-hitter state needs no
    custom operator."""
    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.stats import (
        count_min_estimate,
        count_min_sketch,
    )

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    b1 = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "host string")
    b1.write.parquet(in_dir)

    def run_once():
        stream = spark.readStream.schema("host string").parquet(in_dir)
        q = (
            count_min_sketch(stream, "host", depth=3, width=256)
            .writeStream.format("memory")
            .queryName("cms_sink")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    b2 = spark.createDataFrame([("a",)] * 3 + [("c",)] * 4, "host string")
    b2.write.mode("append").parquet(in_dir)
    run_once()
    streamed = spark.sql("SELECT * FROM cms_sink")
    batch = count_min_sketch(
        spark.read.parquet(in_dir), "host", depth=3, width=256
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    est = {
        r.key: r.est
        for r in count_min_estimate(
            streamed, spark.read.parquet(in_dir), "host", depth=3, width=256
        ).collect()
    }
    assert est["a"] == 8 and est["b"] == 2 and est["c"] == 4
