"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force baseline: broadcast the (small) query set
  against the corpus, dot/norms via higher-order array functions (JVM-side,
  no UDF), per-query top-k via a window. At 100 TB the corpus side streams —
  no shuffle of the corpus at all; cost is corpus x queries, which is the
  right baseline shape when |queries| is small.
* ``lsh_bucket_topk`` — the scale path: random-hyperplane (SRP) signature
  buckets computed with deterministic hash-derived planes; candidates are
  bucket-joined, then exact cosine re-ranks within buckets. Sub-linear in
  corpus size per query; recall measured in tests against the brute-force
  baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _plane_coeff(pi: int, i: Column, hash_fn: str) -> Column:
    """SRP plane coefficient in [-1, 1] for plane ``pi``, dimension ``i``.

    ``xxhash64`` is the production default (one JVM intrinsic); ``md5``
    derives the same-shaped coefficient from a digest DuckDB computes
    bit-identically, making SRP-bucketed results oracle-checkable."""
    if hash_fn == "md5":
        from .dedup import md5_long

        h = md5_long(F.concat_ws(",", F.lit(str(pi)), i.cast("string")))
    elif hash_fn == "xxhash64":
        h = F.xxhash64(F.lit(pi), i)
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return (F.pmod(h, F.lit(2001)) - F.lit(1000)) / F.lit(1000.0)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) for the k nearest corpus rows per
    query (self-matches excluded). Deterministic tie-break: cos desc then
    neighbor id asc."""
    # Norms are hoisted out of the join: each side computes sqrt(sum x^2)
    # ONCE per row instead of once per (query, neighbor) pair — the
    # higher-order array folds are interpreted (not codegen'd), so at
    # |corpus| x |queries| pairs this removes 2/3 of the lambda
    # evaluations. cos stays bit-identical: the per-pair expression is the
    # same _dot / (norm_a * norm_b) IEEE arithmetic, just with the two
    # norm factors computed upstream.
    # Parsed-SQL construction (same expression trees as the _dot/_norm
    # Column builders, which stay the API for other callers): this query
    # is rebuilt inside the frozen bench's timed region, and the
    # lambda-by-lambda py4j construction alone cost ~140 ms per build vs
    # ~60 ms parsed. Output bit-identical (collected doubles compared at
    # the bit level).
    _sum = "(acc, v) -> acc + v"
    q = queries.selectExpr(
        f"`{id_col}` as query_id",
        f"transform(`{vec_col}`, x -> cast(x as double)) as qv",
    ).selectExpr(
        "query_id",
        "qv",
        "sqrt(aggregate(transform(qv, x -> x * x),"
        f" cast(0.0 as double), {_sum})) as qn",
    )
    c = corpus.selectExpr(
        f"`{id_col}` as neighbor_id",
        f"transform(`{vec_col}`, x -> cast(x as double)) as cv",
    ).selectExpr(
        "neighbor_id",
        "cv",
        "sqrt(aggregate(transform(cv, x -> x * x),"
        f" cast(0.0 as double), {_sum})) as cn",
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).selectExpr(
        "*",
        "aggregate(zip_with(qv, cv, (x, y) -> x * y),"
        f" cast(0.0 as double), {_sum}) / (qn * cn) as cos",
    )
    return (
        scored.selectExpr(
            "query_id",
            "neighbor_id",
            "cos",
            "row_number() over (partition by query_id"
            " order by cos desc, neighbor_id asc) as rank",
        )
        .where(f"rank <= {int(k)}")
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 8,
    dim: int = 64,
    max_bucket_size: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    Scale path: SRP bucket candidates (same bucket in ANY table) → exact
    cosine verify. Near-dups (cos >= 0.9) agree on a random hyperplane with
    p = 1 - arccos(0.9)/pi ≈ 0.86 → same 8-plane bucket with p ≈ 0.3 per
    table → ≥1 of 8 tables with p ≈ 0.94. Pair emission goes through
    ``operators.dedup.bucket_pairs``: the SRP signature pipeline executes
    once (one window pass, no self-join) and buckets beyond the size cap
    emit the linear anchor + predecessor pairs instead of C(k,2).

    ``hash_fn='md5'`` derives the plane coefficients from md5 digests
    instead of xxhash64 — arithmetic an independent SQL engine reproduces
    bit-for-bit (dot products are sequential IEEE-double folds on both
    sides), which is what lets the whole SRP→verify pipeline be
    oracle-checked rather than rows-only.
    """

    def _plane(pi: int):
        # NB: the transform lambda must take exactly ONE parameter — a
        # two-parameter callable (even via a default arg) is called as
        # (element, index) by PySpark, silently scrambling the closure.
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: _plane_coeff(pi, i, hash_fn),
        )

    sig_cols = []
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    for t in range(num_tables):
        planes = F.lit(0).cast("long")
        for p in range(num_planes):
            pi = t * num_planes + p + 1_000_000  # disjoint from ANN plane ids
            plane = _plane(pi)
            dot = F.aggregate(
                F.zip_with(F.col("v"), plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            planes = planes + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
                "long"
            )
        sig_cols.append(planes.alias(f"b{t}"))
    sig = c.select("id", "v", *sig_cols)
    banded = sig.select(
        "id",
        "v",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                for t in range(num_tables)
            ])
        ).alias("tb"),
    ).select("id", "v", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    from .dedup import bucket_pairs

    cand = bucket_pairs(banded, ["t", "b"], ["v"], max_bucket_size)
    return cand.select(
        "id_a",
        "id_b",
        cosine(
            F.transform(F.col("v_a"), lambda x: x.cast("double")),
            F.transform(F.col("v_b"), lambda x: x.cast("double")),
        ).alias("cos"),
    ).filter(F.col("cos") >= threshold)


def _nearest_centroid(vec: Column, cents: Column) -> Column:
    """Index of the nearest centroid (L2) in a literal array-of-arrays —
    pure higher-order exprs: per-centroid distance via zip_with, argmin via
    array_min over (dist, idx) structs."""
    scored = F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                # fold the DIFF array and square the lambda variable:
                # Catalyst does not CSE nested lambda trees, so writing
                # (a-b)*(a-b) would subtract twice per element; and **2
                # (pow) is not required to equal x*x in the last bit,
                # which the IVF oracle twin depends on
                F.zip_with(c, vec, lambda a, b: a - b.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v * v,
            ).alias("dist"),
            i.alias("idx"),
        ),
    )
    return F.array_min(scored)["idx"]


def hash_centroids(
    n_centroids: int = 16, dim: int = 64, seed: str = "ivf"
) -> list[list[float]]:
    """Deterministic data-independent coarse quantizer: centroid j,
    dimension d = (md5-derived int % 2001 - 1000)/1000 — the same doubles
    in any language/engine, so an IVF built on it is oracle-checkable
    end-to-end (k-means-trained centroids are float-mean engine-order
    dependent and can only ever be rows-only checked). Quality trade-off
    is recall, not correctness: hash centroids partition the space
    obliviously, the probe math is identical."""
    import hashlib

    def coeff(j: int, d: int) -> float:
        h = int(hashlib.md5(f"{seed}:{j},{d}".encode()).hexdigest()[:8], 16)
        return (h % 2001 - 1000) / 1000.0

    return [[coeff(j, d) for d in range(dim)] for j in range(n_centroids)]


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rate: float | None = None,
    sample_salt: str = "kmeans",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer.

    Init = the k rows with smallest xxhash64(id) (seeded pseudo-random,
    stable across runs); each iteration assigns via broadcast-literal
    centroids (one corpus pass, no shuffle of vectors beyond the per-
    centroid partial aggregation) and recomputes means element-wise
    (posexplode → groupBy(cid, dim) avg). Only k x dim floats ever reach
    the driver — the collect is the coarse-quantizer handoff, not a data
    move. Float means are engine-order dependent in the last bits, so IVF
    results are rows-only checked (recall-vs-bruteforce in tests), same as
    the SRP path.

    ``sample_rate`` trains on a deterministic ``hash_uniform`` subsample
    of the corpus (same md5 arithmetic as ``hash_sample``, so the training
    set — and therefore the quantizer — is reproducible across runs and
    repartitioning). THIS is the 100 TB path: a coarse quantizer needs
    only enough vectors to place k centroids (10^5-10^6 rows), so every
    training iteration scans the sample, never the corpus; only the
    one assignment pass in ``ivf_topk`` touches the full data. Without it
    each Lloyd iteration is a full-corpus scan — fine at test scale,
    wasteful beyond it."""
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if sample_rate is not None:
        from .curation import hash_uniform

        c = c.filter(hash_uniform(F.col("id"), sample_salt) < F.lit(sample_rate))
    init = (
        c.orderBy(F.pmod(F.xxhash64("id"), F.lit(1 << 31)), F.col("id"))
        .limit(k)
        .collect()
    )
    if len(init) < k:
        # fail fast: with < k seed vectors the quantizer would silently
        # assign null list ids downstream and every query would return an
        # empty top-k — a wrong answer, not an error
        raise ValueError(
            f"k-means needs at least k={k} training vectors, got "
            f"{len(init)}"
            + (
                f" (sample_rate={sample_rate} too low for this corpus)"
                if sample_rate is not None
                else ""
            )
        )
    centroids = [[float(x) for x in r.v] for r in init]
    for _ in range(iters):
        cents = F.array(
            *[F.array(*[F.lit(x) for x in cent]) for cent in centroids]
        )
        assigned = c.select(_nearest_centroid(F.col("v"), cents).alias("cid"), "v")
        means = (
            assigned.select("cid", F.posexplode("v").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("dm")
            )
            .select("cid", F.transform("dm", lambda s: s["m"]).alias("mean"))
            .collect()
        )
        for r in means:  # empty clusters keep their previous centroid
            centroids[r.cid] = [float(x) for x in r.mean]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    train_sample_rate: float | None = None,
) -> DataFrame:
    """IVF ANN — the coarse-quantizer scale path next to ``lsh_bucket_topk``:
    k-means centroids partition the corpus into inverted lists (one
    assignment pass, broadcast-literal centroids); each query probes its
    ``nprobe`` nearest lists and exact cosine re-ranks only those — the
    corpus side is an equi-join on the list id, touching ~nprobe/n_centroids
    of the data per query instead of all of it.

    ``centroids`` overrides the trained quantizer with a fixed one (e.g.
    ``hash_centroids`` for the oracle-checkable variant, or a quantizer
    trained offline — the standard move at 100 TB, where you never
    re-train per job). ``train_sample_rate`` trains in-job but on a
    deterministic hash subsample, so the Lloyd iterations scan a fraction
    of the corpus (see ``kmeans_centroids``)."""
    cents_list = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            corpus, n_centroids, iters, id_col, vec_col,
            sample_rate=train_sample_rate,
        )
    )
    cents = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents_list])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cid", _nearest_centroid(F.col("cv"), cents))
    scored_cents = F.transform(
        cents,
        lambda cc, i: F.struct(
            F.aggregate(
                # diff-then-square fold — see _nearest_centroid
                F.zip_with(cc, F.col("qv"), lambda a, b: a - b),
                F.lit(0.0),
                lambda acc, v: acc + v * v,
            ).alias("dist"),
            i.alias("idx"),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn(
        "cid",
        F.explode(
            F.transform(
                F.slice(F.array_sort(scored_cents), 1, nprobe),
                lambda s: s["idx"],
            )
        ),
    )
    cand = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    dim: int = 64,
    num_tables: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Bucketed ANN: candidates share an SRP bucket in ANY of ``num_tables``
    independent tables (plane sets offset per table), exact cosine re-rank.
    ``hash_fn='md5'`` makes the plane coefficients (and therefore every
    bucket, candidate, cosine and rank) reproducible in DuckDB.
    """
    def _plane(pi: int):
        # one-parameter lambda only: see embedding_near_dup_pairs on the
        # (element, index) arity trap
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: _plane_coeff(pi, i, hash_fn),
        )

    def with_buckets(df: DataFrame, prefix: str) -> DataFrame:
        out = df
        for t in range(num_tables):
            # independent tables via disjoint plane index ranges
            planes = F.lit(0).cast("long")
            for p in range(num_planes):
                pi = t * num_planes + p
                plane = _plane(pi)
                dot = F.aggregate(
                    F.zip_with(F.col(vec_col), plane, lambda x, y: x.cast("double") * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                planes = planes + F.when(dot > 0, F.lit(1 << p)).otherwise(
                    F.lit(0)
                ).cast("long")
            out = out.withColumn(f"{prefix}b{t}", planes)
        return out

    q = with_buckets(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ).withColumnRenamed("qv", vec_col),
        "q",
    ).withColumnRenamed(vec_col, "qv")
    c = with_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col)
        ),
        "c",
    ).withColumnRenamed(vec_col, "cv")
    # candidate union over tables: explode (table, bucket) and equi-join
    qx = q.select(
        "query_id",
        "qv",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), F.col(f"qb{t}").alias("b"))
                for t in range(num_tables)
            ])
        ).alias("tb"),
    ).select("query_id", "qv", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    cx = c.select(
        "neighbor_id",
        "cv",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), F.col(f"cb{t}").alias("b"))
                for t in range(num_tables)
            ])
        ).alias("tb"),
    ).select("neighbor_id", "cv", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    cand = (
        cx.join(F.broadcast(qx), ["t", "b"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                F.transform(F.col("qv"), lambda x: x.cast("double")),
                F.transform(F.col("cv"), lambda x: x.cast("double")),
            ).alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )
