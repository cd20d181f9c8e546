"""Integer-deterministic clustering: Lloyd's k-means over centi-quantized
vectors, SemDeDup-style within-cluster embedding dedup, and product-
quantization (PQ) approximate nearest neighbour — all exactly replayable
in another SQL engine.

Why integer quantization: a float k-means mean is a reduction whose last
bits depend on aggregation order, so a trained quantizer can never be
value-checked cross-engine (``similarity.kmeans_centroids`` is rows-only
for exactly that reason). Quantizing each vector element to a centi-int
(``floor(x*100)`` — one exact IEEE multiply + floor) makes every Lloyd
step exact integer arithmetic:

- distances: sum of (q_d - c_d)^2 over <= 64 dims of values <= ~10^3 —
  exact BIGINTs, order-independent;
- means: ``floor(sum/count)`` where the sum is an exact BIGINT (order-
  independent!) and the one division is a correctly-rounded double op on
  integers < 2^53;
- argmin tie-break: lexicographic (dist, centroid index).

So the *trained model itself* is bit-identical across engines, runs, and
repartitionings, and the whole pipeline (init -> assign -> update ->
assign) unrolls into plain SQL CTEs, like the PageRank / quality-logit
oracles. The cost is a quantized metric (1e-2 resolution per element) —
for clustering/dedup/ANN *routing* decisions that is noise; the final
re-rank can always use full-precision cosine.

Reference parity: the reference groups detected text blocks by spatial
proximity into clusters before refinement (textblockdetector/textblock.py
``group_output``); here the same group-then-prune shape is applied to
embedding space, the standard web-corpus curation move (SemDeDup,
Abbas et al. 2023; PQ, Jegou et al. 2011).

Scale notes (100 TB):
- training touches a deterministic hash subsample (``sample_rate``) —
  a coarse quantizer needs 10^5-ish vectors, never the corpus;
- only k x dim ints ever reach the driver per iteration (the model
  handoff, not a data move);
- assignment / encoding is one embarrassingly-parallel pass with the
  model as a broadcast literal — no shuffle at all;
- PQ codes are m bytes per vector (vs 4*dim for raw floats): the ADC
  scan reads ~32x less data, and the per-candidate score is m integer
  array lookups, no float math.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_long

__all__ = [
    "quantize_centi",
    "kmeans_centi",
    "kmeans_assign",
    "semdedup",
    "pq_codebooks",
    "pq_encode",
    "ann_pq_topk",
    "ivf_topk_int",
    "ann_ivfpq_topk",
    "quantize_int8",
    "ann_int8_topk",
]


def quantize_centi(vec: Column) -> Column:
    """array<float> -> array<long> of floor(x*100).

    float->double cast is exact; double*100 is one correctly-rounded IEEE
    multiply; floor of a double is exact — every engine computes the same
    BIGINT (DuckDB: ``CAST(floor(CAST(x AS DOUBLE)*100) AS BIGINT)``)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(100)).cast("long")
    )


def _cents_lit(cents: list[list[int]]) -> Column:
    """The model as a literal array-of-arrays Column.

    Valid for SMALL models only (k*dim up to a few 10^4 literals —
    coarse quantizers, PQ codebooks): Catalyst builds one expression
    node per literal, so a 10^4-cluster SemDeDup-regime model would
    blow up plan construction/codegen long before the data does. At
    that scale the model belongs in a broadcast TABLE joined per row
    (explode + min-by aggregation), not a literal; every operator here
    targets the small-k regime and says so."""
    return F.array(
        *[
            F.array(*[F.lit(int(x)).cast("long") for x in c])
            for c in cents
        ]
    )


def _scored_int(qv: Column, cents: Column) -> Column:
    """array of (dist, idx) structs: exact integer L2 from ``qv`` to every
    centroid. Same fold shape as ``similarity._nearest_centroid``
    (diff-then-square on the lambda variable — no CSE surprises) but over
    BIGINTs, so the distances and every comparison on them are
    deterministic in any engine."""
    return F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(c, qv, lambda a, b: a - b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v * v,
            ).alias("dist"),
            i.alias("idx"),
        ),
    )


def _nearest_int(qv: Column, cents: Column) -> Column:
    """Index of the nearest centroid — lexicographic (dist, idx) argmin."""
    return F.array_min(_scored_int(qv, cents))["idx"]


def _probe_lists(qv: Column, cents: Column, nprobe: int) -> Column:
    """Indices of the ``nprobe`` nearest centroids (ascending distance,
    idx tie-break) — the IVF routing decision."""
    return F.transform(
        F.slice(F.array_sort(_scored_int(qv, cents)), 1, nprobe),
        lambda s: s["idx"],
    )


def kmeans_centi(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "km",
    sample_rate: float | None = None,
) -> list[list[int]]:
    """Deterministic Lloyd's k-means over centi-quantized vectors; returns
    k centroids as centi-int lists (the broadcastable model).

    Init = the k rows with smallest (md5_long(salt:id), id) — the portable
    seeded shuffle every oracle twin replays. Each iteration is one
    assignment pass (broadcast-literal centroids, zero shuffle of vectors)
    plus a long-form (cid, dim) integer-sum aggregation; the new centroid
    element is floor(sum/count) with the sum an exact BIGINT, so the
    result is independent of partitioning and reduction order. Empty
    clusters keep their previous centroid.

    ``sample_rate`` trains on a deterministic md5 subsample (the 100 TB
    path — see module docstring); the model is still exactly reproducible
    because the sample is content-addressed, not random."""
    from .curation import hash_uniform

    q = corpus.select(
        F.col(id_col).alias("id"), quantize_centi(F.col(vec_col)).alias("qv")
    )
    if sample_rate is not None:
        q = q.filter(
            hash_uniform(F.col("id"), salt + "-sample") < F.lit(sample_rate)
        )
    q = q.persist()
    try:
        init = (
            q.orderBy(
                md5_long(
                    F.concat_ws(":", F.lit(salt), F.col("id").cast("string"))
                ),
                F.col("id"),
            )
            .limit(k)
            .collect()
        )
        if len(init) < k:
            raise ValueError(
                f"k-means needs at least k={k} training vectors, got "
                f"{len(init)}"
            )
        cents = [[int(x) for x in r.qv] for r in init]
        for _ in range(iters):
            cl = _cents_lit(cents)
            means = (
                q.select(_nearest_int(F.col("qv"), cl).alias("cid"), "qv")
                .select("cid", F.posexplode("qv").alias("dim", "val"))
                .groupBy("cid", "dim")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                # floor(sum/count): sum is an exact BIGINT < 2^53, the
                # division is one correctly-rounded double op — same
                # result in any engine, unlike integer '/' whose
                # negative-operand semantics differ (Spark truncates,
                # DuckDB floors)
                .select(
                    "cid",
                    "dim",
                    F.floor(F.col("s").cast("double") / F.col("n"))
                    .cast("long")
                    .alias("m"),
                )
                .groupBy("cid")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "m"))
                    ).alias("dm")
                )
                .select(
                    "cid", F.transform("dm", lambda s: s["m"]).alias("mean")
                )
                .collect()
            )
            for r in means:  # empty clusters keep their previous centroid
                cents[r.cid] = [int(x) for x in r.mean]
        return cents
    finally:
        q.unpersist()


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "km",
    sample_rate: float | None = None,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """(id, cid) — final nearest-centroid assignment under the trained (or
    supplied) centi-int model. One broadcast-literal pass, no shuffle."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_centi(
            corpus, k, iters, id_col, vec_col, salt, sample_rate
        )
    )
    cl = _cents_lit(cents)
    return corpus.select(
        F.col(id_col),
        quantize_centi(F.col(vec_col)).alias("qv"),
    ).select(
        id_col, _nearest_int(F.col("qv"), cl).cast("int").alias("cid")
    )


def _dot_int(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def semdedup(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    tau: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "km",
    sample_rate: float | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) survivors: k-means the embeddings,
    then within each cluster drop every vector that has a lower-id
    cluster-mate with cosine >= tau; returns (id, cid) of survivors.

    The cosine threshold is evaluated without a square root:
    ``cos >= tau  <=>  dot > 0 AND dot^2 >= tau^2 * |a|^2 * |b|^2`` —
    dot and the squared norms are exact BIGINTs of the centi-quantized
    vectors (each < 2^53), so the only rounding anywhere is the one
    IEEE multiply by the tau^2 literal, identical in every engine. The
    exactness bound is ENFORCED, not assumed: elements must satisfy
    ``|centi| <= floor((2^62 / dim^2)^0.25)`` (~5793 at dim=64, i.e.
    |x| <= ~57, comfortably past any normalized or near-normalized
    embedding) or the operator raises — silent int64 wraparound (or an ANSI-mode crash
    mid-join, or a Spark-wraps-while-DuckDB-throws oracle split) is a
    wrong answer, not a degraded one.

    Keep-lowest-id is the greedy tie-break (deterministic, anti-join
    expressible); it differs from ``neardup_survivors``'s connected-
    component min — a vector is dropped iff SOME lower-id mate is
    similar, even if that mate is itself dropped. Both policies appear
    in production dedup stacks; this one needs no iteration.

    Scale: the pairwise stage is per-cluster quadratic — k is chosen so
    n/k vectors fit a partition (SemDeDup's own regime: clusters of
    ~10^4-10^5; at that k train with ``sample_rate`` and see the
    ``_cents_lit`` note on when the broadcast-literal model stops being
    the right vehicle). The join shuffles only (cid, qv) once,
    hash-partitioned by cid."""
    import math as _math

    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("semdedup needs a non-empty corpus")
    dim = len(head[0])
    bound = _math.floor((float(2**62) / (dim * dim)) ** 0.25)
    over = (
        corpus.select(quantize_centi(F.col(vec_col)).alias("qv"))
        .select(
            F.max(
                F.array_max(F.transform("qv", lambda x: F.abs(x)))
            ).alias("mx")
        )
        .first()
        .mx
    )
    if over is not None and over > bound:
        raise ValueError(
            f"semdedup exactness bound exceeded: max |centi element| "
            f"{over} > {bound} for dim={dim} — dot^2 would overflow "
            "int64; rescale/normalize the embeddings first"
        )
    assigned = (
        corpus.select(
            F.col(id_col).alias("id"),
            quantize_centi(F.col(vec_col)).alias("qv"),
        )
        .withColumn(
            "cid",
            _nearest_int(
                F.col("qv"),
                _cents_lit(
                    kmeans_centi(
                        corpus, k, iters, id_col, vec_col, salt, sample_rate
                    )
                ),
            ).cast("int"),
        )
        .withColumn("n2", _dot_int(F.col("qv"), F.col("qv")))
    )
    a = assigned.select(
        F.col("cid"),
        F.col("id").alias("id_a"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    b = assigned.select(
        F.col("cid"),
        F.col("id").alias("id_b"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    tau2 = float(tau) * float(tau)
    dot = _dot_int(F.col("qa"), F.col("qb"))
    dropped = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                (F.col("dot") * F.col("dot")).cast("double")
                >= F.lit(tau2) * (F.col("na") * F.col("nb")).cast("double")
            )
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dropped, "id", "left_anti")
        .select(F.col("id").alias(id_col), "cid")
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq",
    sample_rate: float | None = None,
) -> list[list[list[int]]]:
    """Product-quantization codebooks: split ``dim`` into ``m`` equal
    subspaces and train an independent centi-int k-means (``ksub``
    centroids) in each. Returns m x ksub x (dim/m) ints.

    All m trainings share the same md5-seeded init ids (the ordering
    ignores the subspace), which is what the one-pipeline SQL oracle
    replays."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for s in range(m):
        sliced = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("sub"),
        )
        books.append(
            kmeans_centi(
                sliced, ksub, iters, id_col, "sub", salt, sample_rate
            )
        )
    return books


def _pq_codes_expr(
    books: list[list[list[int]]], vec_col: str = "embedding"
) -> Column:
    """codes array<int> of length m: per-subspace nearest-centroid index."""
    m = len(books)
    dsub = len(books[0][0])
    qv = quantize_centi(F.col(vec_col))
    return F.array(
        *[
            _nearest_int(
                F.slice(qv, s * dsub + 1, dsub), _cents_lit(books[s])
            ).cast("int")
            for s in range(m)
        ]
    )


def _adc_qtabs(
    books: list[list[list[int]]], vec_col: str = "embedding"
) -> Column:
    """Per-query ADC tables: array (over subspaces) of arrays (over
    centroids) of exact integer L2 from the query subvector. m and dsub
    come from the BOOKS, never from separate params — a mismatch would
    make zip_with pad with NULLs and silently null every score.

    NB each subspace uses a def factory, not a default-bound lambda:
    F.transform treats a two-parameter lambda as (element, index) and
    would pass the CENTROID INDEX as the second arg, silently clobbering
    the subspace binding."""
    m = len(books)
    dsub = len(books[0][0])
    qv = quantize_centi(F.col(vec_col))

    def _qtab(s: int) -> Column:
        return F.transform(
            _cents_lit(books[s]),
            lambda c: F.aggregate(
                F.zip_with(
                    c,
                    F.slice(qv, s * dsub + 1, dsub),
                    lambda a, b: a - b,
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v * v,
            ),
        )

    return F.array(*[_qtab(s) for s in range(m)])


def _adc_rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Shared ADC tail: score candidates (codes x qtabs lookups, integer
    adds only), drop self-pairs, rank (score asc, neighbor_id asc),
    keep top k."""
    score = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("qtabs"),
            lambda code, tab: F.element_at(tab, code + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length m): per-subspace nearest-centroid
    index. One broadcast-literal pass; the codes table is the persistent
    compressed index (m bytes/vector at ksub<=256)."""
    return corpus.select(
        F.col(id_col), _pq_codes_expr(books, vec_col).alias("codes")
    )


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq",
    sample_rate: float | None = None,
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k (Jegou et al. 2011): encode the corpus
    to m-byte codes, precompute each query's distance table (exact integer
    L2 from the query subvector to every centroid), and score a candidate
    as the sum of m table lookups — integer adds only, no float math in
    the scan. Returns (query_id, rank, neighbor_id, score) with score the
    exact BIGINT quantized squared L2.

    The scan is a broadcast of the queries' tables against the codes
    table — embarrassingly parallel, reads m bytes per candidate instead
    of the raw vector. Ties rank by (score asc, neighbor_id asc)."""
    if books is None:
        books = pq_codebooks(
            corpus, m, ksub, iters, dim, id_col, vec_col, salt, sample_rate
        )
    codes = pq_encode(corpus, books, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _adc_qtabs(books, vec_col).alias("qtabs"),
    )
    return _adc_rank_topk(
        codes.crossJoin(F.broadcast(q)), k
    )


def ivf_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 3,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "ivfq",
    sample_rate: float | None = None,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer that is still value-exact:
    the centi-int k-means replaces ``similarity.ivf_topk``'s float-mean
    Lloyd (whose trained variant can only ever be rows-only checked).
    Routing probes the ``nprobe`` nearest lists; candidates re-rank by
    exact integer squared L2. Returns (query_id, rank, neighbor_id, dist).

    Scale shape is identical to ``similarity.ivf_topk`` (broadcast-literal
    model, equi-join on the list id touching ~nprobe/n_centroids of the
    corpus per query); what changed is that training itself became
    oracle-replayable."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_centi(
            corpus, n_centroids, iters, id_col, vec_col, salt, sample_rate
        )
    )
    cl = _cents_lit(cents)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_centi(F.col(vec_col)).alias("cv"),
    ).withColumn("cid", _nearest_int(F.col("cv"), cl))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_centi(F.col(vec_col)).alias("qv"),
    ).withColumn("cid", F.explode(_probe_lists(F.col("qv"), cl, nprobe)))
    cand = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("cv"), F.col("qv"), lambda a, b: a - b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v * v,
            ).alias("dist"),
        )
        # no dedup: a neighbour lives in exactly ONE inverted list, so a
        # query's probed lists can never surface it twice — an explicit
        # dropDuplicates here would add a full shuffle of the candidate
        # set to remove nothing
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dist")
    )


def ann_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 3,
    iters: int = 2,
    m: int = 8,
    ksub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_salt: str = "ivfq",
    pq_salt: str = "pq",
    sample_rate: float | None = None,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC composition, sans residual encoding):
    a trained coarse quantizer routes each query to ``nprobe`` inverted
    lists, and ONLY those lists' m-byte PQ codes are scored by integer
    table lookups. At 100 TB this is the ANN endgame: the scan touches
    ~nprobe/n_centroids of a ~32x-compressed code table, per-candidate
    cost is m integer adds, and both trained models are broadcast
    literals. Returns (query_id, rank, neighbor_id, score).

    Residuals are deliberately NOT encoded (codes quantize raw vectors):
    residual PQ trains on centered data for better recall but the
    centering re-quantization would break exactness; the routing and
    scoring machinery — the part that matters for the plan shape — is
    the real thing, and the whole composition stays oracle-checkable."""
    coarse = kmeans_centi(
        corpus, n_centroids, iters, id_col, vec_col, coarse_salt, sample_rate
    )
    books = pq_codebooks(
        corpus, m, ksub, iters, dim, id_col, vec_col, pq_salt, sample_rate
    )
    cl = _cents_lit(coarse)
    codes = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _pq_codes_expr(books, vec_col).alias("codes"),
        _nearest_int(quantize_centi(F.col(vec_col)), cl).alias("cid"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _adc_qtabs(books, vec_col).alias("qtabs"),
        F.explode(
            _probe_lists(quantize_centi(F.col(vec_col)), cl, nprobe)
        ).alias("cid"),
    )
    return _adc_rank_topk(codes.join(F.broadcast(q), "cid"), k)


# --- oracle twins (DuckDB SQL builders) -------------------------------------
# The whole point of the centi-int trainer: every stage below is exact
# integer arithmetic (plus one correctly-rounded double division per mean
# and one double multiply at the semdedup threshold), so the unrolled CTE
# chain recomputes the IDENTICAL model and outputs in DuckDB.


def _md5l_sql(expr: str) -> str:
    """md5_long's arithmetic as SQL (see dedup.md5_long: one definition)."""
    return f"('0x'||substr(md5({expr}),1,8))::BIGINT"


def _dist2_sql(c: str, v: str, dim: int) -> str:
    """Exact integer squared L2 between two BIGINT lists."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1,{dim + 1}), "
        f"i -> ({c}[i]-{v}[i])*({c}[i]-{v}[i]))), (x,y) -> x+y)"
    )


def _dot_sql(a: str, b: str, dim: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1,{dim + 1}), i -> {a}[i]*{b}[i])), "
        "(x,y) -> x+y)"
    )


def _argmin_sql(cl: str, v: str, k: int, dim: int) -> str:
    """Lexicographic (dist, idx) argmin over the centroid list."""
    return (
        f"(list_sort(list_transform(range(0,{k}), "
        "j -> {'d': " + _dist2_sql(f"{cl}[j+1]", v, dim) + ", 'j': j}"
        "))[1]).j"
    )


def _kmeans_ctes_sql(
    k: int, iters: int, salt: str, src: str, dim: int, prefix: str = ""
) -> str:
    """CTE chain (no leading WITH): {p}q(id, qv) and {p}c{iters}(cl) — the
    trained centi-int model, replaying kmeans_centi step for step.
    ``src`` is a subquery yielding (id, v) with v a float/double list;
    ``prefix`` namespaces the CTEs so two trainings (e.g. IVF coarse +
    PQ codebooks) coexist in one query."""
    p = prefix
    key = _md5l_sql(f"'{salt}:'||CAST(id AS VARCHAR)")
    parts = [
        (
            f"{p}q AS (SELECT id, list_transform(v, x -> "
            "CAST(floor(CAST(x AS DOUBLE)*100) AS BIGINT)) AS qv "
            f"FROM ({src}))"
        ),
        (
            f"{p}init AS (SELECT qv, row_number() OVER (ORDER BY "
            f"{key}, id) - 1 AS cid FROM {p}q QUALIFY cid < {k})"
        ),
        f"{p}c0 AS (SELECT list(qv ORDER BY cid) AS cl FROM {p}init)",
    ]
    for t in range(iters):
        parts += [
            (
                f"{p}a{t} AS (SELECT {p}q.id, {p}q.qv, "
                + _argmin_sql("cl", f"{p}q.qv", k, dim)
                + f" AS cid FROM {p}q, {p}c{t})"
            ),
            (
                f"{p}s{t} AS (SELECT cid, i AS dim, "
                "CAST(floor(CAST(sum(qv[i]) AS DOUBLE)/count(*)) AS BIGINT)"
                f" AS mval FROM {p}a{t} CROSS JOIN range(1,{dim + 1}) r(i) "
                "GROUP BY cid, i)"
            ),
            (
                f"{p}m{t} AS (SELECT cid, list(mval ORDER BY dim) AS mean "
                f"FROM {p}s{t} GROUP BY cid)"
            ),
            (
                f"{p}c{t + 1} AS (SELECT list(coalesce(mm.mean, "
                f"prev.cl[ci+1]) ORDER BY ci) AS cl FROM {p}c{t} prev "
                f"CROSS JOIN range(0,{k}) rr(ci) "
                f"LEFT JOIN {p}m{t} mm ON mm.cid = ci)"
            ),
        ]
    return ", ".join(parts)


def kmeans_assign_sql(
    k: int = 8,
    iters: int = 2,
    salt: str = "km",
    src: str = "SELECT vec_id AS id, embedding AS v FROM embeddings",
    dim: int = 64,
    id_out: str = "vec_id",
) -> str:
    return (
        "WITH "
        + _kmeans_ctes_sql(k, iters, salt, src, dim)
        + f" SELECT id AS {id_out}, CAST("
        + _argmin_sql("cl", "q.qv", k, dim)
        + f" AS INT) AS cid FROM q, c{iters}"
    )


def semdedup_sql(
    k: int = 8,
    iters: int = 2,
    tau: float = 0.8,
    salt: str = "km",
    src: str = "SELECT vec_id AS id, embedding AS v FROM embeddings",
    dim: int = 64,
    id_out: str = "vec_id",
) -> str:
    tau2 = float(tau) * float(tau)
    return (
        "WITH "
        + _kmeans_ctes_sql(k, iters, salt, src, dim)
        + ", ass AS (SELECT q.id, q.qv, CAST("
        + _argmin_sql("cl", "q.qv", k, dim)
        + " AS INT) AS cid, "
        + _dot_sql("q.qv", "q.qv", dim)
        + f" AS n2 FROM q, c{iters})"
        + ", pr AS (SELECT b.id AS idb, "
        + _dot_sql("a.qv", "b.qv", dim)
        + " AS dot, a.n2 AS na, b.n2 AS nb FROM ass a JOIN ass b "
        "ON a.cid = b.cid AND a.id < b.id)"
        ", dr AS (SELECT DISTINCT idb FROM pr WHERE dot > 0 AND "
        f"CAST(dot*dot AS DOUBLE) >= {tau2!r} * CAST(na*nb AS DOUBLE))"
        f" SELECT id AS {id_out}, cid FROM ass "
        "WHERE id NOT IN (SELECT idb FROM dr)"
    )


def _probe_sql(cl: str, v: str, k: int, dim: int, nprobe: int) -> str:
    """List of the nprobe nearest centroid indices (IVF routing)."""
    return (
        "list_transform(list_slice(list_sort(list_transform("
        f"range(0,{k}), j -> {{'d': "
        + _dist2_sql(f"{cl}[j+1]", v, dim)
        + f", 'j': j}})), 1, {nprobe}), s -> s.j)"
    )


def _pq_ctes_sql(
    m: int,
    ksub: int,
    iters: int,
    dim: int,
    salt: str,
    src: str,
    query_where: str,
) -> str:
    """CTE chain (no leading WITH) ending at codes(id, sub, code) and
    qt(query_id, sub, cid, d) — the PQ model, encoding and per-query
    distance tables."""
    dsub = dim // m
    key = _md5l_sql(f"'{salt}:'||CAST(id AS VARCHAR)")
    parts = [
        (
            "q AS (SELECT id, list_transform(v, x -> "
            "CAST(floor(CAST(x AS DOUBLE)*100) AS BIGINT)) AS qv "
            f"FROM ({src}))"
        ),
        (
            "initids AS (SELECT id, row_number() OVER (ORDER BY "
            f"{key}, id) - 1 AS cid FROM q QUALIFY cid < {ksub})"
        ),
        (
            f"qs AS (SELECT q.id, r.sub, list_slice(q.qv, r.sub*{dsub}+1, "
            f"r.sub*{dsub}+{dsub}) AS sv FROM q "
            f"CROSS JOIN range(0,{m}) r(sub))"
        ),
        (
            "c0 AS (SELECT sub, list(sv ORDER BY cid) AS cl FROM qs "
            "JOIN initids ON qs.id = initids.id GROUP BY sub)"
        ),
    ]
    for t in range(iters):
        parts += [
            (
                f"a{t} AS (SELECT qs.id, qs.sub, qs.sv, "
                + _argmin_sql("cc.cl", "qs.sv", ksub, dsub)
                + f" AS cid FROM qs JOIN c{t} cc ON qs.sub = cc.sub)"
            ),
            (
                f"s{t} AS (SELECT sub, cid, i AS dim, "
                "CAST(floor(CAST(sum(sv[i]) AS DOUBLE)/count(*)) AS BIGINT)"
                f" AS mval FROM a{t} CROSS JOIN range(1,{dsub + 1}) r(i) "
                "GROUP BY sub, cid, i)"
            ),
            (
                f"m{t} AS (SELECT sub, cid, list(mval ORDER BY dim) AS mean "
                f"FROM s{t} GROUP BY sub, cid)"
            ),
            (
                f"c{t + 1} AS (SELECT prev.sub, "
                "list(coalesce(mm.mean, prev.cl[ci+1]) ORDER BY ci) AS cl "
                f"FROM c{t} prev CROSS JOIN range(0,{ksub}) rr(ci) "
                f"LEFT JOIN m{t} mm ON mm.sub = prev.sub AND mm.cid = ci "
                "GROUP BY prev.sub)"
            ),
        ]
    parts += [
        (
            "codes AS (SELECT qs.id, qs.sub, "
            + _argmin_sql("cc.cl", "qs.sv", ksub, dsub)
            + f" AS code FROM qs JOIN c{iters} cc ON qs.sub = cc.sub)"
        ),
        (
            "qt AS (SELECT qs.id AS query_id, qs.sub, j.cid, "
            + _dist2_sql("cc.cl[j.cid+1]", "qs.sv", dsub)
            + f" AS d FROM qs JOIN c{iters} cc ON qs.sub = cc.sub "
            f"CROSS JOIN range(0,{ksub}) j(cid) WHERE {query_where})"
        ),
    ]
    return ", ".join(parts)


def ann_pq_topk_sql(
    k: int = 5,
    m: int = 8,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    salt: str = "pq",
    src: str = "SELECT vec_id AS id, embedding AS v FROM embeddings",
    query_where: str = "id < 10",
) -> str:
    return (
        "WITH "
        + _pq_ctes_sql(m, ksub, iters, dim, salt, src, query_where)
        + ", sc AS (SELECT qt.query_id, cf.id AS neighbor_id, "
        "CAST(sum(qt.d) AS BIGINT) AS score FROM codes cf JOIN qt "
        "ON qt.sub = cf.sub AND qt.cid = cf.code "
        "WHERE cf.id <> qt.query_id GROUP BY qt.query_id, cf.id)"
        ", r AS (SELECT query_id, neighbor_id, score, "
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY score ASC, neighbor_id ASC) AS INT) AS rank FROM sc)"
        f" SELECT query_id, rank, neighbor_id, score FROM r "
        f"WHERE rank <= {k}"
    )


def ivf_topk_int_sql(
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 3,
    iters: int = 2,
    dim: int = 64,
    salt: str = "ivfq",
    src: str = "SELECT vec_id AS id, embedding AS v FROM embeddings",
    query_where: str = "id < 10",
) -> str:
    """Trained-IVF replay: coarse k-means CTEs + assignment + routing +
    exact integer L2 re-rank."""
    return (
        "WITH "
        + _kmeans_ctes_sql(n_centroids, iters, salt, src, dim)
        + ", ass AS (SELECT q.id, q.qv, "
        + _argmin_sql("cl", "q.qv", n_centroids, dim)
        + f" AS cid FROM q, c{iters})"
        + ", qp AS (SELECT id AS query_id, qv, unnest("
        + _probe_sql("cl", "q.qv", n_centroids, dim, nprobe)
        + f") AS cid FROM q, c{iters} WHERE {query_where})"
        + ", cand AS (SELECT qp.query_id, a.id AS neighbor_id, "
        + _dist2_sql("a.qv", "qp.qv", dim)
        + " AS dist FROM ass a JOIN qp ON a.cid = qp.cid "
        "AND a.id <> qp.query_id)"
        ", r AS (SELECT query_id, neighbor_id, dist, "
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rank FROM cand)"
        f" SELECT query_id, rank, neighbor_id, dist FROM r "
        f"WHERE rank <= {k}"
    )


def ann_ivfpq_topk_sql(
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 3,
    iters: int = 2,
    m: int = 8,
    ksub: int = 8,
    dim: int = 64,
    coarse_salt: str = "ivfq",
    pq_salt: str = "pq",
    src: str = "SELECT vec_id AS id, embedding AS v FROM embeddings",
    query_where: str = "id < 10",
) -> str:
    """IVF-PQ replay: the coarse k-means chain (prefix g) next to the PQ
    chain, joined so only probed lists' codes are ADC-scored."""
    return (
        "WITH "
        + _kmeans_ctes_sql(
            n_centroids, iters, coarse_salt, src, dim, prefix="g"
        )
        + ", "
        + _pq_ctes_sql(m, ksub, iters, dim, pq_salt, src, query_where)
        + ", gass AS (SELECT gq.id, "
        + _argmin_sql("cl", "gq.qv", n_centroids, dim)
        + f" AS cid FROM gq, gc{iters})"
        + ", gqp AS (SELECT id AS query_id, unnest("
        + _probe_sql("cl", "gq.qv", n_centroids, dim, nprobe)
        + f") AS cid FROM gq, gc{iters} WHERE {query_where})"
        + ", sc AS (SELECT gqp.query_id, cf.id AS neighbor_id, "
        "CAST(sum(qt.d) AS BIGINT) AS score "
        "FROM codes cf JOIN gass ON gass.id = cf.id "
        "JOIN gqp ON gass.cid = gqp.cid AND cf.id <> gqp.query_id "
        "JOIN qt ON qt.query_id = gqp.query_id AND qt.sub = cf.sub "
        "AND qt.cid = cf.code "
        "GROUP BY gqp.query_id, cf.id)"
        ", r AS (SELECT query_id, neighbor_id, score, "
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY score ASC, neighbor_id ASC) AS INT) AS rank FROM sc)"
        f" SELECT query_id, rank, neighbor_id, score FROM r "
        f"WHERE rank <= {k}"
    )


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """(q8 array<long> in [-127,127], scale bigint): symmetric max-abs
    int8 scalar quantization OVER the centi-int lattice — q_i =
    floor(127·c_i / max|c|), with the all-zero vector mapping to all
    zeros. 127·c_i is an exact bigint product and the single double
    division is correctly rounded identically everywhere, so the codes
    are bit-deterministic across engines (the same argument as the
    k-means floor(sum/count) means above)."""
    c = quantize_centi(vec)
    s = F.array_max(F.transform(c, F.abs))
    q = F.transform(
        c,
        lambda x: F.when(
            s > 0, F.floor(F.lit(127.0) * x / s).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return q, s


def ann_int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank_mult: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized brute-force ANN with exact re-scoring: score
    every (query, corpus) pair on int8 codes (the memory-bandwidth
    fast path — 8 bytes/dim centi-longs collapse to what is logically
    1 byte/dim, and the dot is pure bigint), keep the top
    ``rerank_mult·k`` candidates per query, then re-rank those few by
    the EXACT centi dot product → (qid, cid, score8, score_centi,
    rank). Both stages break ties by candidate id, so the result is a
    pure function of the input — the DuckDB twin replays quantization,
    candidate cut and re-scoring bit-for-bit.

    Scale shape: queries broadcast (an ANN batch is thousands of rows
    vs a 10^10-vector corpus); the corpus streams through one
    projection computing the int8 dot, one per-query window takes the
    candidate cut, and the exact dot runs only on the survivors. The
    100 TB upgrade path keeps the same two-stage contract and swaps
    the scan for the IVF routing below (``ivf_topk_int``)."""
    cq, _ = quantize_int8(F.col(vec_col))
    cent = quantize_centi(F.col(vec_col))
    base = corpus.select(
        F.col(id_col).alias("cid"), cq.alias("c8"), cent.alias("ccenti")
    )
    qs = queries.select(
        F.col(id_col).alias("qid"), cq.alias("q8"), cent.alias("qcenti")
    )
    pairs = base.join(F.broadcast(qs))
    w8 = Window.partitionBy("qid").orderBy(
        F.desc("score8"), F.asc("cid")
    )
    cand = (
        pairs.select(
            "qid",
            "cid",
            _dot_int(F.col("c8"), F.col("q8")).alias("score8"),
            "ccenti",
            "qcenti",
        )
        .withColumn("r8", F.row_number().over(w8))
        .filter(F.col("r8") <= rerank_mult * k)
    )
    wex = Window.partitionBy("qid").orderBy(
        F.desc("score_centi"), F.asc("cid")
    )
    return (
        cand.select(
            "qid",
            "cid",
            "score8",
            _dot_int(F.col("ccenti"), F.col("qcenti")).alias("score_centi"),
        )
        .withColumn("rank", F.row_number().over(wex))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "score8", "score_centi", "rank")
    )


def ann_int8_topk_sql(
    k: int = 5,
    rerank_mult: int = 3,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_where: str = "id < 10",
) -> str:
    """DuckDB twin of ``ann_int8_topk``: quantization, int8 candidate
    cut and exact centi re-scoring replayed with list transforms."""
    return f"""
WITH c AS (SELECT {id_col} AS id, list_transform({vec_col},
    x -> CAST(floor(CAST(x AS DOUBLE)*100) AS BIGINT)) AS cv
  FROM {table}),
s AS (SELECT id, cv,
    list_max(list_transform(cv, x -> abs(x))) AS sc FROM c),
q8 AS (SELECT id, cv, list_transform(cv, x -> CASE WHEN sc > 0
    THEN CAST(floor(127.0 * x / sc) AS BIGINT)
    ELSE CAST(0 AS BIGINT) END) AS v8 FROM s),
qs AS (SELECT * FROM q8 WHERE {query_where}),
cand AS (SELECT qs.id AS qid, c8.id AS cid,
    {_dot_sql('c8.v8', 'qs.v8', dim)} AS score8,
    {_dot_sql('c8.cv', 'qs.cv', dim)} AS score_centi
  FROM q8 c8, qs),
cut AS (SELECT *, row_number() OVER (PARTITION BY qid
    ORDER BY score8 DESC, cid) AS r8 FROM cand),
fin AS (SELECT qid, cid, score8, score_centi,
    row_number() OVER (PARTITION BY qid
      ORDER BY score_centi DESC, cid) AS rank
  FROM cut WHERE r8 <= {rerank_mult * k})
SELECT qid, cid, score8, score_centi, rank::INT AS rank
FROM fin WHERE rank <= {k}
"""
