"""Deduplication operators.

The reference has no DISTINCT (SURVEY.md §2.7); a Common-Crawl-scale engine
needs several. All are shuffle-once designs:

* ``asof_dedup`` — latest capture per url (the one genuinely as-of-shaped
  pattern in the engine, SURVEY.md §2.3): window + row_number, never a
  global sort.
* ``exact_dedup`` — content-hash groupBy (map-side partial agg).
* ``minhash_lsh_pairs`` — shingle → minhash → band → ``bucket_pairs``; one
  window pass over the band buckets replaces the quadratic all-pairs
  comparison, which is the only strategy that survives 10^12 docs.
* ``simhash64`` — 64-bit simhash fingerprints; near-dup candidates = equal
  fingerprint bands.
* ``ngram_jaccard_pairs`` — exact n-gram Jaccard on candidate pairs
  (verification stage after LSH, or standalone on bounded candidate sets).

``similarity.embedding_near_dup_pairs`` (near-dup by embedding cosine over
random-hyperplane buckets) and ``imagehash.hamming_pairs`` emit their
candidates through the same ``bucket_pairs``.

Hashes are hand-rolled deterministic arithmetic (xxhash64/crc32 built-ins or
explicit polynomial expressions) so results are stable across runs, Python
versions, and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 61-bit Mersenne prime keeps polynomial hashes exact in a signed 64-bit
# column (no overflow wraparound differences between engines).
_MERSENNE = (1 << 61) - 1


def asof_dedup(
    documents: DataFrame, key: str = "url", ts: str = "warc_ts"
) -> DataFrame:
    """Latest capture per key. Deterministic tie-break on all columns is not
    needed: (key, ts) is unique in the data model; ties broken by ts desc
    then monotonic row order of remaining columns via an explicit second key
    would be added here if captures could collide."""
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    return (
        documents.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "url") -> DataFrame:
    """Exact-duplicate groups: one representative (min id) per distinct text.

    groupBy on the 128-bit md5 of the content — partial aggregation happens
    map-side, so the shuffle carries one row per distinct hash per partition,
    not one per document.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("representative"),
            F.count("*").alias("dup_count"),
        )
    )


def exact_dedup_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "url"
) -> DataFrame:
    """The surviving ROWS of exact dedup: for each distinct text, the full
    row of its min-id representative (the companion ``exact_dedup`` returns
    the group table). The min-id rule is the one
    ``graph.dedup_keep_representatives`` applies to near-dup clusters, but
    no code is shared: this is one window on the content hash, no join.
    ``dedup_job`` runs it as its first stage."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(text_col, n: int = 3):
    """Word n-gram shingle array (column expression, JVM-side).

    Built from ``n`` whole-array slices folded with ``zip_with`` — O(n)
    array ops per row instead of one 3-element ``slice`` + ``concat_ws``
    per position (the higher-order lambdas are interpreted, so per-element
    allocation count dominates; measured ~3x faster on the signature
    stage). Values are identical to the per-position formulation:
    ``concat_ws(' ', words[i..i+n-1])`` == the left fold of ``concat``
    over never-null split tokens. No UDF, no explode until the caller
    asks for one.
    """
    words = F.split(text_col, " ")
    k = F.size(words) - F.lit(n - 1)
    # All n slices have exactly k elements when k >= 1 (slice j starts at
    # 1+j and k+j <= size), so zip_with never null-pads; the k >= 1 guard
    # keeps short docs as empty arrays (sequence(1, 0) in the old
    # formulation would have DESCENDED).
    acc = F.slice(words, 1, k)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, 1 + j, k),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(k >= 1, acc).otherwise(F.array().cast("array<string>"))


def md5_long(col, nhex: int = 8):
    """First ``nhex`` hex chars of md5 parsed base-16 → non-negative long.

    THE portable-hash primitive every oracle twin is built on (minhash,
    simhash, SRP planes, hash sampling): DuckDB computes the identical
    value as ``('0x'||substr(md5(s),1,{nhex}))::BIGINT``, so keep this the
    single definition — a width or cast change here must change every
    oracle too. ``nhex`` <= 15 so the value fits a signed 64-bit long in
    every engine."""
    if not 1 <= nhex <= 15:
        raise ValueError(f"nhex must be in 1..15, got {nhex}")
    return F.conv(F.substring(F.md5(col), 1, nhex), 16, 10).cast("long")


def _hash31(col, hash_fn: str):
    """Token → 31-bit non-negative hash, by portable-vs-fast mode.

    * ``xxhash64`` — Spark's native seedless hash: the fast production path
      (one JVM intrinsic per token), but engine-specific, so downstream
      results can only be checked rows-only.
    * ``md5`` — ``md5_long``: ~= one extra digest per token, but
      bit-identical in any engine, making the whole LSH pipeline
      value-checkable against an independent SQL oracle.
    """
    if hash_fn == "md5":
        h = md5_long(col)
    elif hash_fn == "xxhash64":
        h = F.xxhash64(col)
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return F.pmod(h, F.lit(1 << 31))


def _mh_consts(i: int) -> tuple[int, int]:
    """(a_i, b_i) for the i-th permutation of h_i(s) = (a_i*h32 + b_i) mod M.

    h32 is xxhash64 folded to 31 bits so a_i*h32 + b_i stays well inside a
    signed 64-bit long (Spark 4 runs ANSI mode: overflow would throw).
    """
    a = 2 * i + 1  # < 2^8 for num_hashes <= 128 → a*h32 < 2^39
    b = ((0x9E3779B97F4A7C15 + i * 0x2545F4914F6CDD1D) & ((1 << 61) - 1)) % _MERSENNE
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, mh0..mh{n-1}) minhash signature columns.

    Physical shape matters here: explode shingles → ONE base hash per
    shingle → groupBy(id) with num_hashes min() aggregates. The partial
    (map-side) aggregation reduces each partition to one row per doc before
    the shuffle, and whole-stage codegen fuses the hash + 64 mins into one
    pass. (A naive array-expression formulation re-evaluates the shingle
    tree per hash function — 64x the work — because Catalyst does not CSE
    nested lambda trees.) ``hash_fn='md5'`` swaps the base hash for the
    engine-portable digest (see ``_hash31``) so signatures are
    oracle-checkable.
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias("s"),
    ).select("id", _hash31(F.col("s"), hash_fn).alias("h"))
    aggs = []
    for i in range(num_hashes):
        a, b = _mh_consts(i)
        aggs.append(
            # a, b > 0 and h >= 0 (already folded to 31 bits), so a*h + b is
            # non-negative and plain % equals pmod at half the modulo ops
            # (pmod expands to ((x % n) + n) % n) — 64 of these per shingle
            # row makes the saving visible in the signature stage.
            # ONE parsed-expr py4j call per aggregate instead of ~8 Column-
            # builder round trips: this query is rebuilt per bench trial,
            # and the 64-aggregate construction alone was ~0.4 s of
            # driver-side wall (the JVM parses the small SQL strings in
            # microseconds; literals keep the same int/bigint types, so
            # the aggregate tree and its results are unchanged).
            F.expr(f"min((h * {a} + {b}) % {_MERSENNE}) AS mh{i}")
        )
    return ex.groupBy("id").agg(*aggs)


def bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str] | None = None,
    max_bucket_size: int = 32,
) -> DataFrame:
    """(id, *bucket_cols, *payload_cols) rows → candidate pairs (id_a < id_b,
    plus ``{payload}_a``/``{payload}_b`` and the pair's ``bucket_size``).

    The shared pair-emission stage behind every LSH family member: one
    window pass and one explode, no self-join and no cached frame.

    * **One window pass.** One window spec partitions by the bucket key
      and orders by (payload, id). A single select over it gives each row
      its bucket size, the bucket-min member (the anchor), its predecessor
      (``lag``) and the next ``max_bucket_size - 1`` members (a
      ``collect_list`` over a sliding ``ROWS`` frame), so the plan shuffles
      and sorts the input once and reads it once.
    * **Hot buckets emit anchor + predecessor, not all pairs.** In a bucket
      of size k ≤ ``max_bucket_size`` each member pairs with every later
      member: all C(k,2) pairs, the exact candidate set for the verify
      stage. A larger bucket — a boilerplate-identical template cluster,
      the common 100-TB skew — pairs each member with the anchor and with
      its predecessor in (payload, id) order: ≤ 2k rows instead of C(k,2),
      with the connectivity of all-pairs. When a verify filter (hamming/
      cosine/jaccard) runs after emission, capped buckets are where
      exactness can soften: sorting by the payload puts near-identical
      members adjacent, so verified edges still connect the cluster when
      the anchor is an outlier; only member-member near-dup pairs that are
      both far from the anchor and non-adjacent in payload order can be
      missed, and only beyond the cap (raise ``max_bucket_size`` to
      recover exact semantics). The sliding frame still costs O(k·cap)
      per hot bucket, which ``max_bucket_size`` bounds.

    ``bucket_size`` lets callers count how many pairs came from capped
    buckets; a pair found in several buckets keeps one of their sizes.
    """
    payload_cols = payload_cols or []
    # the window expressions are parsed SQL (one py4j round trip each)
    # rather than Column-builder chains, the same treatment as
    # banded_signatures: query construction is driver wall on every call
    part = ", ".join(f"`{c}`" for c in bucket_cols)
    member = "struct(" + ", ".join(
        f"`{c}`" for c in ["id", *payload_cols]
    ) + ")"
    order = ", ".join(f"`{c}`" for c in [*payload_cols, "id"])
    w = f"partition by {part} order by {order}"
    whole = f"{w} rows between unbounded preceding and unbounded following"
    # a frame's upper bound may not be below its lower; at a cap of 1 or
    # less every bucket of two or more is capped and never reads __later
    upper = max(max_bucket_size - 1, 1)
    later = f"{w} rows between 1 following and {upper} following"
    others = (
        f"CASE WHEN __k <= {max_bucket_size} THEN __later"
        " ELSE array(IF(__anchor.id != __m.id, __anchor, NULL), __prev) END"
    )
    pairs = (
        banded.select(
            F.expr(member).alias("__m"),
            F.expr(f"count(1) over ({whole})").alias("__k"),
            F.expr(f"min({member}) over ({whole})").alias("__anchor"),
            F.expr(f"lag({member}) over ({w})").alias("__prev"),
            F.expr(f"collect_list({member}) over ({later})").alias("__later"),
        )
        .selectExpr("__m", "__k", f"explode({others}) AS __o")
        .where("__o IS NOT NULL")
        # id-ordered pair; equal ids keep (payload, id) order
        .selectExpr(
            "IF(__o.id < __m.id, __o, __m) AS __a",
            "IF(__o.id < __m.id, __m, __o) AS __b",
            "__k",
        )
    )
    return pairs.selectExpr(
        "__a.`id` as id_a",
        "__b.`id` as id_b",
        *[f"__{s}.`{c}` as `{c}_{s}`" for c in payload_cols for s in "ab"],
        "__k as bucket_size",
    ).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash LSH.

    rows → (id, signature) → explode to (band_id, band_hash) →
    ``bucket_pairs`` (one-pass window + star-capped emission; see its
    docstring for the scale contract). No self-join: the signature pipeline
    — the expensive scan→explode→64-min-aggregate stage — executes once.
    ``hash_fn='md5'`` makes both the base hash and the band hash
    engine-portable strings, so the emitted pair set is exactly
    reproducible in an independent SQL engine (the oracle path); with the
    default ``xxhash64`` the band hash is one JVM intrinsic over the band's
    signature columns (the fast path).
    """
    banded = banded_signatures(
        df, id_col, text_col, num_hashes, bands, shingle_n, hash_fn
    )
    return bucket_pairs(
        banded, ["band_id", "band_hash"], [], max_bucket_size
    ).select("id_a", "id_b")


def banded_signatures(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band_id, band_hash) — the banded-LSH rows every minhash
    consumer shares: ``minhash_lsh_pairs`` feeds them to ``bucket_pairs``
    immediately; ``write_band_index`` materializes them so a later
    snapshot can find near-dups against this corpus WITHOUT recomputing
    its signatures (the incremental-crawl path)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, hash_fn)

    # the whole banded array is ONE parsed expression (a single py4j round
    # trip) — the per-band Column-builder formulation cost ~0.15 s of
    # driver wall per query build; the parsed tree and its values are
    # identical
    def _band_hash_sql(b: int) -> str:
        cols = [f"mh{b * rows_per_band + j}" for j in range(rows_per_band)]
        if hash_fn == "md5":
            casts = ", ".join(f"cast({c} as string)" for c in cols)
            return f"md5(concat_ws(',', {casts}))"
        return f"xxhash64({', '.join(cols)})"

    bands_sql = ", ".join(
        f"struct({b} as band_id, {_band_hash_sql(b)} as band_hash)"
        for b in range(bands)
    )
    return sig.select(
        "id", F.explode(F.expr(f"array({bands_sql})")).alias("tb")
    ).select(
        "id",
        F.col("tb.band_id").alias("band_id"),
        F.col("tb.band_hash").alias("band_hash"),
    )


# simhash fingerprint width per base-hash mode: xxhash64 provides 64
# usable bits; the portable md5 mode parses 15 hex chars (60 bits) so the
# value fits a signed BIGINT identically in every engine (16 chars would
# need unsigned semantics, which SQL engines disagree on).
SIMHASH_BITS = {"xxhash64": 64, "md5": 60}


def simhash64(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    shingle_n: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) fingerprints — 64-bit (xxhash64) or portable 60-bit
    (md5; bit-identical in DuckDB, see ``SIMHASH_BITS``).

    Sign-sum per bit over shingle hashes: bit_j = 1 iff
    sum_s(sign of bit j of hash(s)) > 0. Same physical shape as
    minhash_signatures: explode → one hash per shingle → groupBy with one
    sum() aggregate per bit (map-side combined), then one projection packs
    the bits into a bigint.
    """
    if hash_fn not in SIMHASH_BITS:
        raise ValueError(
            f"hash_fn must be one of {sorted(SIMHASH_BITS)}, got {hash_fn!r}"
        )
    nbits = SIMHASH_BITS[hash_fn]
    h = md5_long(F.col("s"), 15) if hash_fn == "md5" else F.xxhash64("s")
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    ).select("id", h.alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(nbits)
    ]
    votes = ex.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(nbits):
        bit = F.when(
            F.col(f"v{j}") > 0, F.lit(1 << j if j < 63 else -(1 << 63))
        ).otherwise(F.lit(0)).cast("long")
        sig = sig + bit
    return votes.select("id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 2,
    max_bucket_size: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by simhash: band the signature into 4 equal bands
    (16 bits each for xxhash64's 64-bit fingerprint, 15 each for the
    portable md5 60-bit one), ``bucket_pairs`` per band (one signature
    pass, star+chain-capped hot buckets), verify with bit_count(xor).

    Recall guarantee: the pigeonhole argument (any pair within hamming
    distance d agrees exactly on some band) holds only for d < 4 bands,
    i.e. ``max_hamming <= 3`` — AND only for pairs emitted exactly, i.e.
    buckets within ``max_bucket_size``. With ``max_hamming > 3`` or capped
    hot buckets the operator is a high-recall approximation (the usual
    trade at corpus scale), not exhaustive.
    """
    if hash_fn not in SIMHASH_BITS:
        raise ValueError(
            f"hash_fn must be one of {sorted(SIMHASH_BITS)}, got {hash_fn!r}"
        )
    band_bits = SIMHASH_BITS[hash_fn] // 4
    band_mask = (1 << band_bits) - 1
    sig = simhash64(df, id_col, text_col, shingle_n, hash_fn)
    bands = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftrightunsigned("simhash", b * band_bits)
                    .bitwiseAND(F.lit(band_mask))
                    .alias("band_val"),
                )
                for b in range(4)
            ])
        ).alias("tb"),
    ).select(
        "id", "simhash",
        F.col("tb.band_id").alias("band_id"),
        F.col("tb.band_val").alias("band_val"),
    )
    cand = bucket_pairs(
        bands, ["band_id", "band_val"], ["simhash"], max_bucket_size
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(
            F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
        ).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs — the LSH verify stage.

    Broadcast-join the (small) pair list against docs twice, then pure array
    exprs: |A∩B| / |A∪B| over distinct shingle sets.
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), n)).alias("sh"),
    )
    out = (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        )
        .withColumn(
            "uni", F.size(F.array_union("sh_a", "sh_b")).cast("double")
        )
    )
    return out.select(
        "id_a",
        "id_b",
        F.when(F.col("uni") > 0, F.col("inter") / F.col("uni"))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def neardup_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """End-to-end fuzzy dedup: banded minhash-LSH candidate pairs →
    distributed connected components → keep ONE canonical document per
    near-dup cluster (the minimum id, the deterministic representative)
    plus every unpaired document. This is the full Lee-et-al/CCNet
    near-dup REMOVAL story as one operator — what `dedup_job` chains by
    hand — and the survivor set is what a training pipeline actually
    feeds downstream.

    Scale: pairs are linear in corpus size (star-capped hot buckets, one
    signature pass — see ``bucket_pairs``), components converge in
    O(log diameter) pointer-jump rounds with checkpointed lineage, and
    the final step is one anti-join keyed by the LOSER set (cluster
    members minus reps — tiny next to the corpus at real dup rates).
    With ``hash_fn='md5'`` the whole pipeline is engine-portable and the
    survivor set is value-checkable in SQL.

    Returns the FULL surviving rows (the downstream-feedable corpus)
    through ``graph.dedup_keep_representatives``: connected components,
    then an anti-join of the non-representatives. ``dedup_job`` does not
    call it: it inlines those two steps, because it writes the components
    to ``clusters/`` and derives its survivors from that write.
    """
    from .graph import dedup_keep_representatives

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n,
        max_bucket_size, hash_fn,
    )
    return dedup_keep_representatives(df, pairs, id_col)


def write_band_index(bands: DataFrame, path: str) -> DataFrame:
    """Write ``banded_signatures`` rows to ``path`` (partitioned by
    ``band_id``) and return them read back with their schema (no
    schema-inference job). Later snapshots run ``neardup_incremental_pairs``
    against the index without recomputing the base corpus — the signature
    pass is the expensive leg (shingle explode + 64 mins over every
    document), and at 10^12 docs recomputing it per recrawl would dwarf the
    delta; the caller that wrote the index reads its own pairs from it too."""
    bands.write.mode("overwrite").partitionBy("band_id").parquet(path)
    return bands.sparkSession.read.schema(bands.schema).parquet(path)


def neardup_incremental_pairs(
    base_bands: DataFrame, incr_bands: DataFrame, max_bucket_size: int = 32
) -> DataFrame:
    """Near-dup candidate pairs for a NEW snapshot against an indexed
    base corpus — every pair with at least one increment member: within
    the increment (via ``bucket_pairs``) plus increment x base (via a
    keyed equi-join on (band_id, band_hash) against the stored band
    index). Both sides are ``banded_signatures`` rows: the increment's,
    computed by the caller, and the base corpus's MATERIALIZED bands
    (``write_band_index``), so no base signature is recomputed.

    Hot-bucket discipline, same rationale as ``bucket_pairs``: a band
    bucket larger than ``max_bucket_size`` on either side is truncated
    to its ``max_bucket_size`` minimum ids for the cross join (boilerplate
    template clusters would otherwise emit |incr ∩ bucket| x |base ∩
    bucket| rows); near-identical members are still represented and the
    downstream exact verify (``ngram_jaccard_pairs``) decides truth.
    With the cap lifted the emitted set is EXACTLY "all banded pairs
    touching the increment", which is what the oracle checks.

    Pairs emit ordered (id_a < id_b), distinct; a document present in
    both sides (recapture of the same id) never pairs with itself.
    """
    self_pairs = bucket_pairs(
        incr_bands, ["band_id", "band_hash"], [], max_bucket_size
    ).select("id_a", "id_b")

    def _capped(bands_df):
        w = Window.partitionBy("band_id", "band_hash").orderBy(F.col("id").asc())
        return (
            bands_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )

    # only base buckets the INCREMENT touches can produce pairs — the
    # semi-join restricts the base side BEFORE its cap window, so the
    # window sorts ~|increment's buckets| rows, not the whole 10^12-doc
    # index (which would defeat the point of materializing it); on a
    # band_id-partitioned index the join also prunes partitions
    touched = incr_bands.select("band_id", "band_hash").distinct()
    base_touched = base_bands.join(
        touched, ["band_id", "band_hash"], "left_semi"
    )
    cross = (
        _capped(incr_bands)
        .withColumnRenamed("id", "iid")
        .join(
            _capped(base_touched).withColumnRenamed("id", "bid"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("iid") != F.col("bid"))
        .select(
            F.least("iid", "bid").alias("id_a"),
            F.greatest("iid", "bid").alias("id_b"),
        )
    )
    return self_pairs.unionByName(cross).distinct()


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mod: int = 64,
    max_words: int = 128,
    salt: str = "cdc",
) -> DataFrame:
    """Content-defined chunking dedup: split each document into chunks at
    content-determined word boundaries, then report chunks shared across
    documents — (chunk_md5, n_docs, n_occ, n_words) for every chunk seen
    in >= 2 distinct documents.

    Why content-defined (the rsync/LBFS/borg trick): a fixed-width
    chunker misaligns after one inserted word, so a shared passage
    shifted by a sentence produces zero equal chunks; boundaries chosen
    by a hash of the *content* (here: after any word w with
    ``md5_long(salt:w) % mod == 0``) re-synchronize immediately, so
    shared passages dedup regardless of position. Expected chunk length
    is ``mod`` words; ``max_words`` force-splits pathological runs with
    no boundary word (rank arithmetic, still deterministic).

    Everything is window arithmetic over the posexploded words — chunk id
    = running count of boundary flags BEFORE this word, sub id = rank
    within chunk div max_words — so the oracle twin replays it as plain
    SQL windows; no state, no UDF.

    Scale: one explode + two windows partitioned by doc (narrow after the
    explode's repartition by doc) + one groupBy on the chunk hash. The
    chunk table (hash, doc, offsets) is the persistent index; incremental
    crawls append and re-aggregate only new hashes (same move as
    ``write_band_index``)."""
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ", -1)).alias("pos", "w"),
    ).withColumn(
        "flag",
        (
            md5_long(F.concat_ws(":", F.lit(salt), F.col("w"))) % mod == 0
        ).cast("int"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = w.withColumn(
        "chunk_id", F.coalesce(F.sum("flag").over(win), F.lit(0))
    )
    rk = Window.partitionBy("doc_id", "chunk_id").orderBy("pos")
    chunked = chunked.withColumn(
        "sub_id",
        F.floor((F.row_number().over(rk) - 1) / F.lit(max_words)).cast(
            "int"
        ),
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_id", "sub_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("pw")
        )
        .select(
            "doc_id",
            F.md5(
                F.array_join(
                    F.transform("pw", lambda s: s["w"]), " "
                )
            ).alias("chunk_md5"),
            F.size("pw").alias("n_words"),
        )
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.max("n_words").alias("n_words"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def fuzzy_pairs_edit(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "id",
    max_dist: int = 2,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Edit-distance near-duplicate pairs within caller-supplied blocks:
    (id_a, id_b, dist) with ``dist = levenshtein ≤ max_dist``.

    The record-linkage workhorse for SHORT strings — titles, product
    names, URLs, author fields — where token-set similarity (jaccard/
    minhash) is too coarse: 'iPhone 15 Pro' vs 'iPhone 15 Pr' is one
    edit but only ~0.5 trigram-jaccard. Candidate generation is the
    caller's blocking key (host, length band, sort-key prefix, an LSH
    band from ``banded_signatures`` — anything cheap and high-recall);
    this operator contributes the bounded pair emission and the exact
    verify, same division of labor as the minhash family.

    Scale shape: reuses ``bucket_pairs`` (one signature pass, hot
    blocks emit star+chain ≤2k rows, never C(k,2)), then a zero-cost
    length prefilter — ``|len(a)−len(b)| ≤ max_dist`` is a necessary
    condition for edit distance ≤ max_dist — before the O(len·max_dist)
    banded Levenshtein, which the JVM evaluates with the threshold
    short-circuit (``levenshtein(a, b, t)`` returns −1 past t without
    filling the full matrix). Everything is whole-stage codegen; no
    Python.
    """
    banded = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.col(text_col).cast("string").alias("t"),
    )
    pairs = bucket_pairs(
        banded, list(block_cols), payload_cols=["t"],
        max_bucket_size=max_bucket_size,
    )
    a, b = F.col("t_a"), F.col("t_b")
    dist = F.levenshtein(a, b, max_dist)
    return (
        pairs.filter(
            F.abs(F.length(a) - F.length(b)) <= max_dist
        )
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_df: int = 64,
    min_containment_milli: int = 800,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: document pairs where one side's
    shingle set is (mostly) CONTAINED in the other's — the quote page,
    the mirror-with-extra-chrome, the article republished inside a
    roundup. Jaccard misses these by construction (a 10× larger
    wrapper caps jaccard at ~0.1 however perfect the containment), so
    the near-dup family needs this second axis.

    Returns (id_a, id_b, n_shared, n_a, n_b, cont_a_milli,
    cont_b_milli) for pairs whose GREATER containment crosses the
    threshold; ``cont_x_milli = (1000·n_shared) div n_x`` — exact
    bigint floor, engine-portable.

    Scale shape: distinct word n-gram shingles explode once; shingles
    with corpus df > ``max_df`` are dropped from BOTH numerator and
    denominator (boilerplate n-grams would otherwise make every
    footer-sharing pair 'contained' AND blow up the join — the cap
    bounds per-shingle pair fan-out at C(max_df, 2), keeping the
    candidate join linear in corpus size; the recall trade is
    documented, not hidden: containment within dropped-boilerplate
    space is invisible). The pair aggregate and both size joins key on
    ids.

    Two corpus-scale frames (the shingle df table and the kept-shingle
    relation) are persisted so the plan's three consumers share one
    materialization. The returned plan reads them, so this operator
    cannot release them: they stay in the session's cache (LRU-evicted)
    until the session ends or someone clears it."""
    if n < 1 or max_df < 2:
        raise ValueError("need n >= 1 and max_df >= 2")
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(shingles(F.col(text_col).cast("string"), n))
        ).alias("kg"),
    )
    from pyspark import StorageLevel

    # the shingle explode and its df aggregate feed THREE consumers
    # (sizes, the pair join's two sides) — persist once so the explode
    # runs once
    dfreq = sh.groupBy("kg").agg(F.count("*").alias("df")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    informative = dfreq.filter(F.col("df") <= max_df).select("kg")
    kept = sh.join(informative, "kg", "left_semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = kept.groupBy("id").agg(F.count("*").alias("n_sh"))
    # only shingles shared by >= 2 docs can produce a pair
    shared = kept.join(
        dfreq.filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("kg"),
        "kg",
        "left_semi",
    )
    a = shared.alias("a")
    b = shared.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.kg") == F.col("b.kg"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        pairs.join(sizes.select(F.col("id").alias("id_a"),
                                F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b", "n_shared", "n_a", "n_b",
            F.expr("(1000 * n_shared) div n_a").alias("cont_a_milli"),
            F.expr("(1000 * n_shared) div n_b").alias("cont_b_milli"),
        )
    )
    return out.filter(
        F.greatest(F.col("cont_a_milli"), F.col("cont_b_milli"))
        >= int(min_containment_milli)
    )


def bag_dedup_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scrambled-duplicate groups: documents whose TOKEN MULTISETS are
    identical — the spun-content signature (spam mills permute
    sentences/words of a stolen article; exact-hash dedup misses every
    permutation, minhash mostly keeps them since shingles change). The
    group key is md5 over the SORTED token list (order-insensitive,
    multiplicity-preserving), case-folded so a re-cased copy still
    matches.

    Emits (bag_md5, n_docs, n_tokens, ids) for groups of ≥ 2 — an
    audit relation; compose with ``keep_best_representatives`` (pairs
    from consecutive ids) or anti-join directly for removal.

    One projection (split → sort → hash, all JVM array exprs) + one
    aggregate; ``ids`` is sorted for determinism and bounded by the
    group (a pathological million-copy template still aggregates —
    cap with a slice at the call site if ids lists must stay small)."""
    t = F.lower(F.col(text_col).cast("string"))
    toks = F.filter(
        F.split(F.coalesce(t, F.lit("")), r"\s+"), lambda w: w != ""
    )
    key = F.md5(F.array_join(F.array_sort(toks), " "))
    return (
        docs.select(
            F.col(id_col).alias("id"),
            key.alias("bag_md5"),
            F.size(toks).cast("long").alias("n_toks"),
        )
        .groupBy("bag_md5")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max("n_toks").alias("n_tokens"),
            F.array_sort(F.collect_list("id")).alias("ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )
