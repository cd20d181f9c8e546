"""Dedup family: exact, minhash-LSH, simhash, n-gram Jaccard."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from comic_text_detector_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
)


def _docs(spark):
    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(40):
        rows.append((f"d{i:03d}", " ".join(rng.choice(words) for _ in range(60))))
    # planted exact dup
    rows.append(("dup1", rows[0][1]))
    # planted near dup: one word changed out of 60
    w = rows[1][1].split()
    w[30] = "CHANGED"
    rows.append(("near1", " ".join(w)))
    return spark.createDataFrame(rows, "id string, text string")


def test_exact_dedup(spark):
    docs = _docs(spark)
    groups = exact_dedup(docs, "text", "id")
    assert groups.count() == docs.count() - 1  # one exact dup collapses
    dup = groups.filter(F.col("dup_count") == 2).collect()
    assert len(dup) == 1 and dup[0].representative == "d000"


def test_minhash_lsh_finds_planted_dups(spark):
    docs = _docs(spark)
    pairs = minhash_lsh_pairs(docs, "id", "text", num_hashes=64, bands=16)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert ("d000", "dup1") in found
    assert ("d001", "near1") in found
    # verification stage: exact jaccard on the candidates
    verified = ngram_jaccard_pairs(pairs, docs, "id", "text", n=3)
    vmap = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert vmap[("d000", "dup1")] == 1.0
    assert 0.7 < vmap[("d001", "near1")] < 1.0


def test_simhash_pairs_banded(spark):
    from comic_text_detector_spark.operators.dedup import simhash_pairs

    docs = _docs(spark)
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, "id", "text", max_hamming=8).collect()}
    assert pairs[("d000", "dup1")] == 0
    assert ("d001", "near1") in pairs and pairs[("d001", "near1")] <= 8
    # random pairs don't appear
    assert all(a in ("d000", "d001") for a, b in pairs)


def test_simhash_near_dup_small_hamming(spark):
    out = simhash64(_docs(spark), "id", "text")
    sig = {r.id: r.simhash for r in out.collect()}
    ham_dup = bin((sig["d000"] ^ sig["dup1"]) & ((1 << 64) - 1)).count("1")
    ham_near = bin((sig["d001"] ^ sig["near1"]) & ((1 << 64) - 1)).count("1")
    rng_pairs = [("d002", "d003"), ("d004", "d005"), ("d006", "d007")]
    ham_rand = min(
        bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1") for a, b in rng_pairs
    )
    assert ham_dup == 0
    assert ham_near <= 8
    assert ham_rand > 8


def test_bucket_pairs_small_all_pairs_and_star_cap(spark):
    """bucket_pairs: all C(k,2) pairs below the cap, star above it."""
    from comic_text_detector_spark.operators.dedup import bucket_pairs

    banded = spark.createDataFrame(
        [("a", 0, 1), ("b", 0, 1), ("c", 0, 1),
         ("x", 1, 2), ("y", 1, 2), ("solo", 2, 3)],
        "id string, band_id int, band_hash bigint",
    )
    out = bucket_pairs(banded, ["band_id", "band_hash"]).collect()
    assert {(r.id_a, r.id_b) for r in out} == {
        ("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")
    }
    assert {r.bucket_size for r in out} == {2, 3}
    # cap=2: the 3-doc bucket exceeds it and emits star (min-id anchor) +
    # chain (consecutive in sort order) — for k=3 that happens to equal
    # all pairs, but via the linear O(k) path
    star = bucket_pairs(banded, ["band_id", "band_hash"], max_bucket_size=2)
    assert {(r.id_a, r.id_b) for r in star.collect()} == {
        ("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")
    }


def test_bucket_pairs_leaves_no_cached_frame(spark):
    """bucket_pairs is one plan over its input with no persisted frame:
    collecting its pairs leaves the session's cache empty."""
    from comic_text_detector_spark.operators.dedup import bucket_pairs

    spark.catalog.clearCache()
    banded = spark.createDataFrame(
        [("a", 0, 1), ("b", 0, 1), ("c", 0, 1), ("x", 1, 2), ("y", 1, 2)],
        "id string, band_id int, band_hash bigint",
    )
    for cap in (32, 2, 1):
        pairs = bucket_pairs(banded, ["band_id", "band_hash"], [], cap)
        assert len(pairs.collect()) == 4
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_hot_bucket_star_emission_is_linear(spark):
    """A 1000-identical-doc template cluster (the common crawl skew case)
    emits star + chain pairs — O(k), same connected components — instead of
    C(1000,2) ≈ 500k all-pairs rows."""
    text = " ".join(f"w{i % 17}" for i in range(80))
    docs = spark.createDataFrame(
        [(f"d{i:04d}", text) for i in range(1000)], "id string, text string"
    )
    rows = minhash_lsh_pairs(docs, "id", "text", num_hashes=64, bands=16).collect()
    # 999 star pairs (anchored at the bucket min) ∪ 999 chain pairs
    # (consecutive ids), overlapping on (d0000, d0001) → 1997, never 500k
    assert len(rows) == 2 * 999 - 1
    star = [r for r in rows if r.id_a == "d0000"]
    assert len(star) == 999  # the anchor still reaches every member
    chain = {(r.id_a, r.id_b) for r in rows if r.id_a != "d0000"}
    assert ("d0500", "d0501") in chain  # consecutive members directly paired


def test_bucket_pairs_degenerate_inputs(spark):
    from comic_text_detector_spark.operators.dedup import bucket_pairs

    empty = spark.createDataFrame([], "id string, band_id int, band_hash bigint")
    assert bucket_pairs(empty, ["band_id", "band_hash"]).count() == 0
    solo = spark.createDataFrame(
        [("only", 0, 1)], "id string, band_id int, band_hash bigint"
    )
    assert bucket_pairs(solo, ["band_id", "band_hash"]).count() == 0


def test_portable_md5_mode_matches_planted_truth(spark):
    """hash_fn='md5' (the oracle-checkable mode) finds the same planted
    dups as the xxhash64 fast path and yields signatures within the 60-bit
    range the portable packing promises."""
    from comic_text_detector_spark.operators.dedup import simhash_pairs

    docs = _docs(spark)
    pairs = minhash_lsh_pairs(
        docs, "id", "text", num_hashes=64, bands=16, hash_fn="md5"
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert ("d000", "dup1") in found
    assert ("d001", "near1") in found

    sig = {r.id: r.simhash for r in simhash64(docs, "id", "text", hash_fn="md5").collect()}
    assert all(0 <= s < (1 << 60) for s in sig.values())
    assert sig["d000"] == sig["dup1"]

    sp = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs, "id", "text", max_hamming=8, hash_fn="md5").collect()
    }
    assert sp[("d000", "dup1")] == 0


def test_portable_hash_parity_adversarial_texts(spark):
    """Spark and DuckDB must agree on the md5-mode minhash signature and
    simhash for text shapes the sf corpora never exercise: empty, single
    word, runs of spaces (split keeps empty tokens on BOTH engines — that
    agreement is part of the contract), leading/trailing spaces, unicode,
    and repeated shingles."""
    import duckdb

    from comic_text_detector_spark.operators.dedup import (
        minhash_signatures,
        simhash64,
    )

    texts = [
        "",
        "one",
        "a b",
        "double  space  runs",
        " leading and trailing ",
        "ünïcödé wörds façade 中文 分词 here too",
        "rep rep rep rep rep rep",
        "tab\tinside one token",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    sig = {
        r.id: (r.mh0, r.mh1, r.mh2, r.mh3)
        for r in minhash_signatures(df, "id", "text", 4, 3, "md5").collect()
    }
    sh = {r.id: r.simhash for r in simhash64(df, "id", "text", 2, "md5").collect()}

    con = duckdb.connect()
    from comic_text_detector_spark.operators.dedup import _MERSENNE, _mh_consts

    mins = ", ".join(
        f"min((h*{a} + {b}) % {_MERSENNE}) AS mh{i}"
        for i, (a, b) in ((i, _mh_consts(i)) for i in range(4))
    )
    dsig = dict(
        (r[0], tuple(r[1:]))
        for r in con.execute(
            "WITH t AS (SELECT unnest(range(8)) AS id, string_split(unnest(?), ' ') AS w), "
            "sh AS (SELECT id, unnest(list_distinct(CASE WHEN len(w) >= 3 THEN "
            "list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2),' ')) "
            "ELSE [] END)) AS s FROM t), "
            "h AS (SELECT id, ('0x'||substr(md5(s),1,8))::BIGINT % 2147483648 AS h FROM sh) "
            f"SELECT id, {mins} FROM h GROUP BY id",
            [texts],
        ).fetchall()
    )
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(60)
    )
    packed = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60)
    )
    dsh = dict(
        con.execute(
            "WITH t AS (SELECT unnest(range(8)) AS id, string_split(unnest(?), ' ') AS w), "
            "sh AS (SELECT id, unnest(CASE WHEN len(w) >= 2 THEN "
            "list_transform(generate_series(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+1),' ')) "
            "ELSE [] END) AS s FROM t), "
            "h AS (SELECT id, ('0x'||substr(md5(s),1,15))::BIGINT AS h FROM sh), "
            f"votes AS (SELECT id, {votes} FROM h GROUP BY id) "
            f"SELECT id, CAST({packed} AS BIGINT) FROM votes",
            [texts],
        ).fetchall()
    )
    assert sig == dsig  # docs with <3 words have no signature on either side
    assert sh == dsh


class TestBloomNewKeys:
    def test_exact_under_heavy_fp(self, spark):
        """A deliberately tiny filter (128 bits) pushes nearly
        every key down the candidate path — the output must STILL be the
        exact set difference (the bloom is performance-only)."""
        from pyspark.sql import functions as F

        from comic_text_detector_spark.operators.bloom import bloom_new_keys

        base = spark.range(0, 300).select(
            F.concat(F.lit("k"), F.col("id")).alias("url")
        )
        incr = spark.range(200, 400).select(
            F.concat(F.lit("k"), F.col("id")).alias("url")
        )
        exp = sorted(f"k{i}" for i in range(300, 400))
        for kwargs in ({}, {"m_bits": 128, "k": 2}):
            got = sorted(
                r["url"]
                for r in bloom_new_keys(base, incr, "url", **kwargs).collect()
            )
            assert got == exp

    def test_no_false_negatives_ever(self, spark):
        """Every base key queried back must be recognized (bloom property:
        zero false negatives), so re-presenting the base yields nothing."""
        from pyspark.sql import functions as F

        from comic_text_detector_spark.operators.bloom import bloom_new_keys

        base = spark.range(0, 500).select(
            F.concat(F.lit("u"), F.col("id")).alias("url")
        )
        assert bloom_new_keys(base, base, "url").count() == 0

    def test_nulls_dropped_and_empty_base(self, spark):
        from comic_text_detector_spark.operators.bloom import bloom_new_keys

        base = spark.createDataFrame([], "url string")
        incr = spark.createDataFrame(
            [("a",), (None,), ("b",), ("a",)], "url string"
        )
        got = sorted(r["url"] for r in bloom_new_keys(base, incr, "url").collect())
        assert got == ["a", "b"]  # distinct, null dropped, all new

    def test_prefilter_splits_without_shuffle(self, spark):
        """The bloom lookup side is k broadcast joins — the candidate
        anti-join is the only exchange keyed by data volume."""
        from pyspark.sql import functions as F

        from comic_text_detector_spark.operators.bloom import bloom_new_keys

        base = spark.range(0, 200).select(
            F.concat(F.lit("k"), F.col("id")).alias("url")
        )
        incr = spark.range(100, 300).select(
            F.concat(F.lit("k"), F.col("id")).alias("url")
        )
        plan = bloom_new_keys(base, incr, "url")._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 4  # the k probe joins


class TestNeardupSurvivors:
    def test_cluster_collapses_to_min_id(self, spark):
        from comic_text_detector_spark.operators.dedup import neardup_survivors

        body = " ".join(f"w{i}" for i in range(60))
        rows = [
            (10, body),                       # near-dup cluster {10, 11, 12}
            (11, body + " extra"),
            (12, "w0 " + body),
            (20, " ".join(f"q{i}" for i in range(60))),  # unique
            (30, "short"),                    # too short to shingle-collide
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            r["doc_id"] for r in neardup_survivors(df, hash_fn="md5").collect()
        )
        assert got == [10, 20, 30]

    def test_transitive_chain_single_survivor(self, spark):
        """A~B and B~C imply one cluster even if A and C share no band."""
        from comic_text_detector_spark.operators.dedup import (
            minhash_lsh_pairs,
            neardup_survivors,
        )

        w = [f"t{i}" for i in range(40)]
        a = " ".join(w)
        b = " ".join(w[:20] + ["X"] + w[20:])   # close to a
        c = " ".join(w[:10] + ["Y", "Z", "Q", "R"] + w[10:])  # closer to a/b head
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, "doc_id", "text", hash_fn="md5").collect()
        }
        surv = sorted(
            r["doc_id"] for r in neardup_survivors(df, hash_fn="md5").collect()
        )
        if pairs >= {(1, 2), (2, 3)} or pairs >= {(1, 2), (1, 3)}:
            assert surv == [1]  # one transitive cluster
        # whatever the LSH emitted, survivors = docs minus non-min members
        from comic_text_detector_spark.operators.graph import connected_components

        if pairs:
            losers = {
                r["id"]
                for r in connected_components(
                    minhash_lsh_pairs(df, "doc_id", "text", hash_fn="md5")
                ).collect()
                if r["id"] != r["cluster_rep"]
            }
            assert surv == sorted({1, 2, 3} - losers)


class TestNeardupIncremental:
    def test_matches_full_recompute_and_write_read(self, spark, tmp_path):
        """The incremental pair set must equal 'all banded pairs touching
        the increment' from a full-corpus run — including through the
        materialized band-index write/read round trip."""
        from pyspark.sql import functions as F

        from comic_text_detector_spark.operators.dedup import (
            banded_signatures,
            minhash_lsh_pairs,
            neardup_incremental_pairs,
            write_band_index,
        )

        body = " ".join(f"w{i}" for i in range(60))
        rows = [
            (1, body), (2, body + " x"),            # base near-dups
            (3, " ".join(f"q{i}" for i in range(60))),
            (10, "w9 " + body),                      # incr, near base 1/2
            (11, "w9 " + body + " y"),               # incr, near 10
            (12, " ".join(f"z{i}" for i in range(60))),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        base = docs.filter(F.col("doc_id") < 10)
        incr = docs.filter(F.col("doc_id") >= 10)

        full = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                docs, "doc_id", "text", max_bucket_size=1 << 20, hash_fn="md5"
            ).collect()
        }
        expected = {p for p in full if p[0] >= 10 or p[1] >= 10}

        path = str(tmp_path / "bands")
        base_bands = write_band_index(
            banded_signatures(base, "doc_id", "text", hash_fn="md5"), path
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in neardup_incremental_pairs(
                base_bands,
                banded_signatures(incr, "doc_id", "text", hash_fn="md5"),
                max_bucket_size=1 << 20,
            ).collect()
        }
        assert got == expected
        assert any(a < 10 or b < 10 for a, b in got)  # cross pairs exist
        assert (10, 11) in got                        # within-incr pair

    def test_recaptured_id_never_self_pairs(self, spark):
        from comic_text_detector_spark.operators.dedup import (
            banded_signatures,
            neardup_incremental_pairs,
        )

        body = " ".join(f"w{i}" for i in range(40))
        docs = spark.createDataFrame([(1, body)], "doc_id long, text string")
        bands = banded_signatures(docs, "doc_id", "text", hash_fn="md5")
        pairs = neardup_incremental_pairs(bands, bands).collect()
        assert pairs == []


def test_dedup_job_incremental_band_index(spark, tmp_path):
    """Run 1 materializes the band index and reads its own pairs from
    it, so the index costs one Spark job (its write) over the same run
    without it, not a second signature pass; run 2 (new snapshot) drops
    docs that collide with base as dup_of_base and dedups the rest
    within-snapshot via the normal verify pipeline; its summary counts
    each removal once."""
    import contextlib
    import io
    import json

    from jobs import dedup_job
    from tests.test_runner import _jobs_in_group

    body = " ".join(f"w{i}" for i in range(80))
    other = " ".join(f"q{i}" for i in range(80))
    base_docs = spark.createDataFrame(
        [("b1", body), ("b2", other)], "url string, text string"
    )
    incr_docs = spark.createDataFrame(
        [
            ("n1", body + " tail"),      # near-dup of base b1 → dropped
            ("n2", " ".join(f"z{i}" for i in range(80))),  # fresh
            ("n3", " ".join(f"z{i}" for i in range(80)) + " x"),  # ~n2
        ],
        "url string, text string",
    )
    base_in, base_out = str(tmp_path / "bi"), str(tmp_path / "bo")
    incr_in, incr_out = str(tmp_path / "ii"), str(tmp_path / "io")
    bands = str(tmp_path / "bands")
    base_docs.write.parquet(base_in)
    incr_docs.write.parquet(incr_in)

    with_index = _jobs_in_group(
        spark, "dedup-band-index",
        lambda: dedup_job.main(
            ["--input", base_in, "--output", base_out,
             "--band-index-out", bands],
            spark=spark,
        ),
    )
    without_index = _jobs_in_group(
        spark, "dedup-no-band-index",
        lambda: dedup_job.main(
            ["--input", base_in, "--output", str(tmp_path / "bo2")],
            spark=spark,
        ),
    )
    # the index write is the one extra job: the pairs read the written
    # bands back instead of running the signature pass a second time
    assert with_index - without_index == 1
    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout):
        assert dedup_job.main(
            ["--input", incr_in, "--output", incr_out,
             "--base-band-index", bands, "--jaccard", "0.5"],
            spark=spark,
        ) == 0
    assert json.loads(stdout.getvalue().strip().splitlines()[-1]) == {
        "docs_in": 3, "after_exact": 3, "after_near_dup": 1,
        "near_dup_removed": 1, "dup_of_base_removed": 1,
    }
    dup = {r["url"] for r in spark.read.parquet(f"{incr_out}/dup_of_base").collect()}
    assert dup == {"n1"}
    surv = {r["url"] for r in spark.read.parquet(f"{incr_out}/survivors").collect()}
    assert surv == {"n2"}  # n1 dup-of-base, n3 clustered under n2


def test_dedup_job_summary(spark, tmp_path):
    """Full mode on a planted corpus (three exact copies, a near-dup pair,
    two unrelated docs): every summary value matches the parquet outputs.
    The call is each write with its shuffles; the input and exact counts
    are observed during the write of exact_survivors/ and the near-dup
    count during that of survivors/, which are not read back to count.
    The job caches nothing and clears no cache: a table the caller cached
    in the same session stays cached."""
    import contextlib
    import io
    import json

    from jobs import dedup_job
    from tests.test_runner import _jobs_in_group

    def words(p):
        return " ".join(f"{p}{i}" for i in range(80))

    docs = spark.createDataFrame(
        [(f"a{k}", words("w")) for k in (1, 2, 3)]
        + [("b1", words("q")), ("b2", words("q") + " tail")]
        + [("c1", words("z")), ("c2", words("y"))],
        "url string, text string",
    )
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    docs.write.parquet(inp)
    docs.createOrReplaceTempView("dedup_caller_cached")
    spark.catalog.cacheTable("dedup_caller_cached")
    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout):
        n_jobs = _jobs_in_group(
            spark, "dedup-job",
            lambda: dedup_job.main(["--input", inp, "--output", out], spark=spark),
        )
    assert spark.catalog.isCached("dedup_caller_cached")
    spark.catalog.uncacheTable("dedup_caller_cached")
    spark.catalog.dropTempView("dedup_caller_cached")
    s = json.loads(stdout.getvalue().strip().splitlines()[-1])

    def urls(name):
        return {r.url for r in spark.read.parquet(f"{out}/{name}").collect()}

    losers = spark.read.parquet(f"{out}/clusters").filter("id != cluster_rep")
    assert urls("exact_survivors") == {"a1", "b1", "b2", "c1", "c2"}
    assert urls("survivors") == {"a1", "b1", "c1", "c2"}
    assert s == {
        "docs_in": spark.read.parquet(inp).count(),
        "after_exact": len(urls("exact_survivors")),
        "after_near_dup": len(urls("survivors")),
        "near_dup_removed": losers.count(),
        "dup_of_base_removed": 0,
    } == {
        "docs_in": 7, "after_exact": 5, "after_near_dup": 4,
        "near_dup_removed": 1, "dup_of_base_removed": 0,
    }
    assert n_jobs == 35


def test_containment_pairs_asymmetric(spark):
    from comic_text_detector_spark.operators.dedup import containment_pairs

    wrapper = (
        "site nav chrome header junk alpha beta gamma delta epsilon "
        "zeta eta theta footer legal boilerplate end"
    )
    article = "alpha beta gamma delta epsilon zeta eta theta"
    other = "completely different words about other topics entirely here"
    docs = spark.createDataFrame(
        [(1, article), (2, wrapper), (3, other)],
        "doc_id long, text string",
    )
    rows = containment_pairs(
        docs, n=3, min_containment_milli=900
    ).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r.id_a, r.id_b) == (1, 2)
    # every article shingle appears in the wrapper -> full containment
    assert r.cont_a_milli == 1000
    # but the wrapper is NOT contained in the article
    assert r.cont_b_milli < 500
    # jaccard would have been n_shared/(n_a+n_b-n_shared) ~ 0.4: the
    # asymmetric axis is the whole point
    assert r.n_shared == r.n_a


def test_containment_pairs_boilerplate_df_cap(spark):
    from comic_text_detector_spark.operators.dedup import containment_pairs

    # every doc shares the same footer; with max_df=2 the footer
    # shingles are dropped so footer-only pairs vanish
    rows = [(i, f"unique{i} body{i} text{i} footer legal boilerplate")
            for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = containment_pairs(
        docs, n=3, max_df=2, min_containment_milli=500
    ).collect()
    assert got == []


def test_bag_dedup_groups_catches_permutation(spark):
    from comic_text_detector_spark.operators.dedup import bag_dedup_groups

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "jumps fox brown quick the"),     # permutation: same bag
            (3, "The quick  brown fox jumps"),    # case+spacing: same bag
            (4, "the quick brown fox"),            # missing token: differs
            (5, "the the quick brown fox jumps"),  # multiplicity: differs
        ],
        "doc_id long, text string",
    )
    groups = bag_dedup_groups(docs).collect()
    assert len(groups) == 1
    (g,) = groups
    assert g.ids == [1, 2, 3] and g.n_docs == 3 and g.n_tokens == 5
