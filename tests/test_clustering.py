"""Integer-deterministic k-means / SemDeDup / PQ ANN / Z-order / CDC.

Planted-truth tests (blobs must cluster together, planted dups must drop,
PQ must recall true neighbours on separated data) plus the determinism
property the whole design exists for: identical results after
repartitioning."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from comic_text_detector_spark.operators.clustering import (
    ann_ivfpq_topk,
    ivf_topk_int,
    ann_pq_topk,
    kmeans_assign,
    kmeans_centi,
    pq_codebooks,
    pq_encode,
    semdedup,
)
from comic_text_detector_spark.operators.dedup import cdc_chunks
from comic_text_detector_spark.operators.layout import zorder_key


def _blob_df(spark, n_per=40, dim=8):
    """Three well-separated deterministic blobs: center c in {0,1,2} at
    (10*c, ..., 10*c) with per-vector integer jitter in [-1, 1]."""
    rows = []
    for c in range(3):
        for i in range(n_per):
            vec = [
                float(10 * c + ((i * 7 + d * 3) % 3) - 1)
                for d in range(dim)
            ]
            rows.append((c * 1000 + i, vec))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_kmeans_blobs_cluster_together(spark):
    df = _blob_df(spark)
    asg = kmeans_assign(df, k=3, iters=3, salt="t").collect()
    by_blob = {}
    for r in asg:
        by_blob.setdefault(r.vec_id // 1000, set()).add(r.cid)
    # every blob lands in exactly one cluster, and the three differ
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({s.pop() for s in by_blob.values()}) == 3


def test_kmeans_model_repartition_invariant(spark):
    df = _blob_df(spark)
    a = kmeans_centi(df, k=3, iters=3, salt="t")
    b = kmeans_centi(df.repartition(7), k=3, iters=3, salt="t")
    assert a == b


def test_kmeans_sample_rate_equals_prefiltered_training(spark):
    """The 100 TB contract: sample_rate trains on the deterministic
    hash_uniform subset — the SAME model as manually pre-filtering the
    corpus with that hash, and a different one than training on all."""
    from comic_text_detector_spark.operators.curation import hash_uniform

    df = _blob_df(spark, n_per=60)
    full = kmeans_centi(df, k=3, iters=2, salt="t")
    sampled = kmeans_centi(df, k=3, iters=2, salt="t", sample_rate=0.5)
    pre = df.filter(hash_uniform(F.col("vec_id"), "t-sample") < F.lit(0.5))
    assert sampled == kmeans_centi(pre, k=3, iters=2, salt="t")
    assert full != sampled  # it genuinely trained on different data


def test_kmeans_too_few_vectors_raises(spark):
    df = _blob_df(spark, n_per=1)  # 3 vectors total
    with pytest.raises(ValueError, match="at least k"):
        kmeans_centi(df, k=5, iters=1)


def _random_df(spark, n=120, dim=16):
    """Deterministic pseudo-random vectors in [-5, 5]: high-dim random
    directions are mutually near-orthogonal, so no natural pair crosses a
    0.9 cosine threshold (verified by the test passing — the data is
    fixed, not sampled)."""
    import hashlib

    def elem(i, d):
        h = int(
            hashlib.md5(f"rv:{i}:{d}".encode()).hexdigest()[:8], 16
        )
        return (h % 1001 - 500) / 100.0

    rows = [(i, [elem(i, d) for d in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_semdedup_drops_planted_dups(spark):
    df = _random_df(spark)
    dup_exact = df.filter(F.col("vec_id") == 5).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    # near-dup: tiny perturbation on one element
    dup_near = df.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 9900).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.2)),
            F.slice("embedding", 2, 15),
        ).alias("embedding"),
    )
    planted = df.unionByName(dup_exact).unionByName(dup_near)
    out = semdedup(planted, k=4, iters=2, tau=0.9, salt="t")
    kept = {r.vec_id for r in out.collect()}
    assert 9005 not in kept and 9907 not in kept  # planted dups dropped
    assert 5 in kept and 7 in kept  # originals survive (lowest id wins)
    # random directions are mutually dissimilar: nothing else dropped
    assert len(kept) == 120


def test_semdedup_repartition_invariant(spark):
    df = _blob_df(spark)
    a = sorted(
        (r.vec_id, r.cid)
        for r in semdedup(df, k=3, iters=2, salt="t").collect()
    )
    b = sorted(
        (r.vec_id, r.cid)
        for r in semdedup(df.repartition(5), k=3, iters=2, salt="t").collect()
    )
    assert a == b


def test_pq_recalls_true_neighbors(spark):
    df = _blob_df(spark, n_per=40)
    queries = df.filter(F.col("vec_id").isin([0, 1000, 2000]))
    out = ann_pq_topk(
        df, queries, k=5, m=4, ksub=4, iters=2, dim=8, salt="t"
    ).collect()
    # every reported neighbour of a blob-center query is from the same blob
    for r in out:
        assert r.neighbor_id // 1000 == r.query_id // 1000, r
    assert len(out) == 15


def test_pq_codes_shape_and_determinism(spark):
    df = _blob_df(spark)
    books = pq_codebooks(df, m=4, ksub=4, iters=2, dim=8, salt="t")
    assert len(books) == 4 and all(len(b) == 4 for b in books)
    assert all(len(c) == 2 for b in books for c in b)  # dsub = 2
    a = sorted(
        (r.vec_id, tuple(r.codes))
        for r in pq_encode(df, books).collect()
    )
    b = sorted(
        (r.vec_id, tuple(r.codes))
        for r in pq_encode(df.repartition(6), books).collect()
    )
    assert a == b


def test_pq_scores_match_reconstruction(spark):
    """ADC score == sum of per-subspace exact integer distances, checked
    against a python recomputation from the same books and codes."""
    df = _blob_df(spark)
    books = pq_codebooks(df, m=4, ksub=4, iters=2, dim=8, salt="t")
    codes = {
        r.vec_id: list(r.codes) for r in pq_encode(df, books).collect()
    }
    vecs = {r.vec_id: list(r.embedding) for r in df.collect()}
    out = ann_pq_topk(
        df,
        df.filter(F.col("vec_id") == 0),
        k=3,
        m=4,
        ksub=4,
        iters=2,
        dim=8,
        salt="t",
        books=books,
    ).collect()
    q = [math.floor(x * 100) for x in vecs[0]]
    for r in out:
        expect = 0
        for s in range(4):
            cent = books[s][codes[r.neighbor_id][s]]
            sub = q[s * 2 : s * 2 + 2]
            expect += sum((a - b) ** 2 for a, b in zip(cent, sub))
        assert r.score == expect


def test_zorder_key_known_values(spark):
    row = (
        spark.range(1)
        .select(
            zorder_key(F.lit(3), F.lit(1)).alias("a"),  # 0b0101|0b10 = 7
            zorder_key(F.lit(0), F.lit(0)).alias("b"),
            zorder_key(F.lit(0b1111), F.lit(0)).alias("c"),  # 0b01010101
            zorder_key(F.lit(0), F.lit(0b1111)).alias("d"),  # 0b10101010
            zorder_key(F.lit(65535), F.lit(65535)).alias("e"),
        )
        .first()
    )
    assert (row.a, row.b, row.c, row.d) == (7, 0, 0b01010101, 0b10101010)
    assert row.e == (1 << 32) - 1


def test_cdc_chunks_finds_shared_passage_anywhere(spark):
    """The defining CDC property: a shared passage is found whether it is
    appended, prepended, or mid-document — boundaries resynchronize."""
    passage = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    fillers = [
        "one two three four five six seven",
        "red green blue yellow purple",
        "north south east west up down",
    ]
    rows = [
        (0, fillers[0] + " " + passage),
        (1, passage + " " + fillers[1]),
        (2, fillers[1] + " " + passage + " " + fillers[2]),
        (3, fillers[2]),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = cdc_chunks(df, mod=4, max_words=64, salt="t").collect()
    assert out, "no shared chunks found"
    best = max(out, key=lambda r: r.n_docs)
    assert best.n_docs == 3  # docs 0,1,2 share passage chunks; doc 3 none
    # and nothing claims doc 3's filler-only content is shared 3 ways
    assert all(r.n_docs <= 3 for r in out)


def test_cdc_chunks_max_words_splits_runs(spark):
    """A text with no boundary words still chunks at max_words."""
    words = " ".join(f"w{i}" for i in range(300))
    df = spark.createDataFrame(
        [(0, words), (1, words)], "doc_id: long, text: string"
    )
    out = cdc_chunks(df, mod=10**9, max_words=50, salt="t").collect()
    # 300 words / 50 = 6 forced chunks, every one shared by both docs
    assert len(out) == 6
    assert all(r.n_docs == 2 and r.n_words == 50 for r in out)


def test_cdc_chunks_repartition_invariant(spark):
    docs = [(i, " ".join(f"t{(i * 13 + j) % 40}" for j in range(120))) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    a = sorted(map(tuple, cdc_chunks(df, mod=8, salt="t").collect()))
    b = sorted(
        map(tuple, cdc_chunks(df.repartition(7), mod=8, salt="t").collect())
    )
    assert a == b


def test_ivf_trained_full_probe_equals_bruteforce(spark):
    """With nprobe == n_centroids the IVF result must equal exact integer
    L2 top-k (python recomputation) — routing only ever PRUNES."""
    df = _random_df(spark, n=60)
    out = ivf_topk_int(
        df,
        df.filter(F.col("vec_id") < 3),
        k=4,
        n_centroids=4,
        nprobe=4,
        iters=2,
        salt="t",
    ).collect()
    vecs = {
        r.vec_id: [math.floor(x * 100) for x in r.embedding]
        for r in df.collect()
    }
    for qid in range(3):
        got = sorted(
            (r.rank, r.neighbor_id, r.dist) for r in out if r.query_id == qid
        )
        brute = sorted(
            (
                sum((a - b) ** 2 for a, b in zip(vecs[nid], vecs[qid])),
                nid,
            )
            for nid in vecs
            if nid != qid
        )[:4]
        assert got == [
            (i + 1, nid, d) for i, (d, nid) in enumerate(brute)
        ], qid


def test_ivf_trained_blob_recall(spark):
    df = _blob_df(spark)
    out = ivf_topk_int(
        df,
        df.filter(F.col("vec_id").isin([0, 1000, 2000])),
        k=5,
        n_centroids=3,
        nprobe=1,
        iters=3,
        salt="t",
    ).collect()
    assert len(out) == 15
    for r in out:
        assert r.neighbor_id // 1000 == r.query_id // 1000, r


def test_ivfpq_blob_recall_and_determinism(spark):
    df = _blob_df(spark)
    kw = dict(
        k=5, n_centroids=3, nprobe=1, iters=3, m=4, ksub=4, dim=8,
        coarse_salt="t", pq_salt="tp",
    )
    queries = df.filter(F.col("vec_id").isin([0, 1000, 2000]))
    out = ann_ivfpq_topk(df, queries, **kw).collect()
    assert len(out) == 15
    for r in out:
        assert r.neighbor_id // 1000 == r.query_id // 1000, r
    again = ann_ivfpq_topk(df.repartition(7), queries, **kw).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_quantize_int8_bounds_and_zero(spark):
    from comic_text_detector_spark.operators.clustering import quantize_int8

    df = spark.createDataFrame(
        [
            (0, [1.0, -1.0, 0.5, -0.25]),
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [0.003, -0.003, 0.001, 0.0]),  # centi rounds ±0.003 to 0/-1
        ],
        "vec_id long, embedding array<float>",
    )
    q, s = quantize_int8(F.col("embedding"))
    got = {r.vec_id: (r.q, r.s) for r in df.select("vec_id", q.alias("q"), s.alias("s")).collect()}
    assert got[0][0] == [127, -127, 63, -32]  # floor toward -inf
    assert got[1] == ([0, 0, 0, 0], 0)
    assert all(-127 <= v <= 127 for v in got[2][0])


def test_ann_int8_self_is_top1_and_twin(spark):
    import duckdb
    import pandas as pd

    from comic_text_detector_spark.operators.clustering import (
        ann_int8_topk,
        ann_int8_topk_sql,
    )

    np = __import__("numpy")
    rng = np.random.default_rng(7)
    vs = rng.normal(0, 1, (40, 8))
    vs = vs / np.linalg.norm(vs, axis=1, keepdims=True)  # MIPS==cosine
    data = [(i, [float(x) for x in vs[i]]) for i in range(40)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    out = ann_int8_topk(emb, emb.filter(F.col("vec_id") < 3), k=4)
    rows = out.collect()
    top1 = {r.qid: r.cid for r in rows if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}  # unit norms: self wins exact re-score
    con = duckdb.connect()
    con.register(
        "embeddings", pd.DataFrame(data, columns=["vec_id", "embedding"])
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            ann_int8_topk_sql(k=4, dim=8, query_where="id < 3")
        ).fetchall()
    )
    got = sorted(tuple(r) for r in rows)
    assert got == want


def test_dense_ids_total_order(spark):
    from comic_text_detector_spark.operators.layout import dense_ids
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("b", 2), ("a", 9), ("c", 1), ("a", 3)], "w string, df long"
    )
    got = {
        (r.w, r.df): r.dense_id
        for r in dense_ids(df, [F.desc("df"), F.asc("w")]).collect()
    }
    # order: (a,9) (a,3) (b,2) (c,1) by df desc then w asc
    assert got == {("a", 9): 0, ("a", 3): 1, ("b", 2): 2, ("c", 1): 3}


def test_dense_ids_repartition_invariant(spark):
    from comic_text_detector_spark.operators.layout import dense_ids
    from pyspark.sql import functions as F

    rows = [(f"t{i:03d}", (i * 7) % 23) for i in range(300)]
    df = spark.createDataFrame(rows, "w string, df long")
    a = sorted(
        (r.w, r.dense_id)
        for r in dense_ids(df, [F.desc("df"), F.asc("w")]).collect()
    )
    b = sorted(
        (r.w, r.dense_id)
        for r in dense_ids(
            df.repartition(13), [F.desc("df"), F.asc("w")]
        ).collect()
    )
    assert a == b
    # ids are a dense permutation of 0..N-1
    assert sorted(i for _, i in a) == list(range(300))
