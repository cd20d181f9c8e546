"""ANALYZE-style table statistics: per-column row/null/ndv/min/max/size
in one pass — the stats table behind cost-based decisions (broadcast-vs-
shuffle thresholds, skew detection, partition sizing) and data-quality
monitoring of a 10^12-row crawl table.

Why exact (not approx_count_distinct): the numbers feed the oracle gate
and dashboards that diff snapshots — an approximate ndv that wobbles
between runs reads as a data change. Spark computes multiple exact
count(DISTINCT) in one aggregate via its Expand operator (input rows are
replicated once per distinct aggregate); that is a deliberate trade —
one pass over the table at #cols× expansion instead of #cols passes. For
quick interactive checks at full scale, run on a ``hash_sample`` of the
table instead (deterministic, so still diffable).

String min/max use binary (codepoint) ordering in both Spark and DuckDB's
default collation — the oracle twins rely on that; unbounded text columns
track min/max of the md5 digest instead (stable, collation-free, and what
a dedup investigation actually wants to range-scan by).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["collect_table_stats"]


def collect_table_stats(
    df: DataFrame,
    cols: list[str] | None = None,
    digest_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(col, n_rows, n_nulls, ndv, min_s, max_s, total_len) per column.

    ``digest_cols`` lists unbounded-text columns whose min/max should be
    taken over md5(value) rather than the value (see module docstring);
    ndv and total_len still describe the raw values. total_len is the
    exact sum of string lengths (characters) over non-null values — the
    sizing input for partition planning."""
    if cols is None:
        cols = list(df.columns)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        s = F.col(c).cast("string")
        keyed = F.md5(s) if c in digest_cols else s
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_ndv_{c}"),
            F.min(keyed).alias(f"_min_{c}"),
            F.max(keyed).alias(f"_max_{c}"),
            F.coalesce(F.sum(F.length(s)), F.lit(0)).alias(f"_len_{c}"),
        ]
    row = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("_n").alias("n_rows"),
                (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
                F.col(f"_ndv_{c}").alias("ndv"),
                F.col(f"_min_{c}").alias("min_s"),
                F.col(f"_max_{c}").alias("max_s"),
                F.col(f"_len_{c}").alias("total_len"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(per_col).alias("s")).select("s.*")


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of a key stream —
    the heavy-hitter primitive for streams too hot to groupBy exactly
    (per-host hit counts across a 10^12-page crawl: the sketch is
    depth×width counters regardless of key cardinality, mergeable across
    batches by summing cells). Returns (d, bucket, cnt).

    Hashing is the repo's portable primitive (``md5_long`` of
    'cms{d}|{key}', bucket = hash % width), so a DuckDB twin recomputes
    the IDENTICAL sketch — deterministic, partitioning-independent.
    Build cost: one explode (×depth) + one map-side-combinable groupBy;
    at scale the depth fan-out happens inside the shuffle write, and the
    finished sketch is broadcast-sized for estimate joins.

    STREAMING: pass a streaming DataFrame and this same function IS the
    cross-batch heavy-hitter operator — the sketch is a plain streaming
    aggregation (groupBy cells), so Structured Streaming's state store
    accumulates it across micro-batches with no custom state code
    (complete/update output; asserted batch≡streaming in
    tests/test_stats.py)."""
    from .dedup import md5_long

    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    rows = df.select(F.col(key_col).cast("string").alias("k"), d)
    return (
        rows.select(
            "d",
            (
                md5_long(
                    F.concat(
                        F.lit("cms"), F.col("d").cast("string"),
                        F.lit("|"), F.col("k"),
                    )
                )
                % width
            ).alias("bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate counts for candidate keys from a finished sketch:
    est(k) = min over rows d of the counter at bucket_d(k) — an upper
    bound on the true count (collisions only inflate), exact when no
    collision hits all depth rows. The sketch side is depth×width rows →
    broadcast; the candidate stream never shuffles. Returns (key, est)
    with est = 0 for keys the stream never touched (empty cells)."""
    from .dedup import md5_long

    probes = keys.select(
        F.col(key_col).cast("string").alias("key")
    ).distinct().select(
        "key",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).select(
        "key",
        "d",
        (
            md5_long(
                F.concat(
                    F.lit("cms"), F.col("d").cast("string"),
                    F.lit("|"), F.col("key"),
                )
            )
            % width
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def count_min_sketch_sql(
    keys_sql: str, depth: int = 4, width: int = 1024
) -> str:
    """DuckDB twin of ``count_min_sketch`` over a relation with a ``k``
    column (one row per occurrence)."""
    return (
        f"SELECT d, ('0x' || substr(md5('cms' || d::VARCHAR || '|' || k),"
        f" 1, 8))::BIGINT % {width} AS bucket,"
        " CAST(count(*) AS BIGINT) AS cnt"
        f" FROM ({keys_sql}), range({depth}) t(d)"
        " GROUP BY 1, 2"
    )


def count_min_estimate_sql(
    keys_sql: str,
    probe_sql: str | None = None,
    depth: int = 4,
    width: int = 1024,
) -> str:
    """DuckDB twin of sketch-build + estimate: probe keys default to the
    stream's own distinct keys."""
    probe = probe_sql or f"SELECT DISTINCT k FROM ({keys_sql})"
    return (
        "WITH sk AS ("
        + count_min_sketch_sql(keys_sql, depth, width)
        + f"), pr AS (SELECT k AS key, d,"
        f" ('0x' || substr(md5('cms' || d::VARCHAR || '|' || k), 1, 8))"
        f"::BIGINT % {width} AS bucket"
        f" FROM ({probe}), range({depth}) t(d)) "
        "SELECT pr.key, min(coalesce(sk.cnt, 0)) AS est FROM pr"
        " LEFT JOIN sk ON sk.d = pr.d AND sk.bucket = pr.bucket"
        " GROUP BY pr.key"
    )


def zipf_report(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """One-row corpus-health audit against Zipf's law — the classic
    sanity check that a web corpus is natural language and not template
    sludge (a healthy corpus shows log-log slope ≈ −1; boilerplate
    floods flatten the head, dedup failures steepen it). Returns
    (n_types, n_tokens, top1_word, top1_count, top100_coverage,
    zipf_slope, zipf_intercept_milli).

    Determinism contract: the least-squares fit over the top-``top_n``
    (rank, count) points runs on MILLI-QUANTIZED log10 values summed as
    exact bigints (order-free), so the slope/intercept are single
    IEEE divisions of exact integers — the DuckDB twin replays the
    report bit-for-bit. Rank ties break by word ASC (row_number over
    (count desc, word)).

    Shape: one token-explode groupBy (map-side combinable) → the word
    table; the fit consumes only ``top_n`` rows (a window over the
    count-sorted head; single-partition but vocabulary-bounded). The
    corpus is never collected."""
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("w")
    ).filter(F.col("w") != "")
    wc = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    ranked = wc.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("w"))),
    ).filter(F.col("rank") <= top_n)
    pts = ranked.select(
        "w", "c", "rank",
        F.round(F.log10(F.col("rank")) * 1000.0).cast("long").alias("x"),
        F.round(F.log10(F.col("c")) * 1000.0).cast("long").alias("y"),
    )
    totals = wc.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    fit = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max(
            F.when(F.col("rank") == 1, F.struct(F.col("c"), F.col("w")))
        ).alias("top1"),
        F.sum(F.when(F.col("rank") <= 100, F.col("c")).otherwise(0)).alias(
            "c100"
        ),
    )
    return totals.join(fit).select(
        "n_types",
        "n_tokens",
        F.col("top1.w").alias("top1_word"),
        F.col("top1.c").alias("top1_count"),
        (F.col("c100") / F.col("n_tokens")).alias("top100_coverage"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("zipf_slope"),
        F.round(
            (
                F.col("sy")
                - (
                    (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                )
                * F.col("sx")
            )
            / F.col("n")
        ).cast("long").alias("zipf_intercept_milli"),
    )


def zipf_report_sql(corpus: str = "documents", top_n: int = 1000) -> str:
    """DuckDB twin of ``zipf_report`` — identical quantization, rank
    tie-break and integer sums."""
    return (
        "WITH t AS (SELECT w FROM (SELECT"
        " unnest(string_split(lower(coalesce(text, '')), ' ')) AS w"
        f" FROM {corpus}) WHERE w <> ''), "
        "wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY w), "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,"
        " CAST(sum(c) AS BIGINT) AS n_tokens FROM wc), "
        "rk AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w)"
        f" AS rank FROM wc QUALIFY rank <= {top_n}), "
        "pts AS (SELECT w, c, rank,"
        " CAST(round(log10(rank) * 1000.0) AS BIGINT) AS x,"
        " CAST(round(log10(c) * 1000.0) AS BIGINT) AS y FROM rk), "
        "fit AS (SELECT CAST(count(*) AS BIGINT) AS n,"
        " sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,"
        " sum(x * x) AS sxx,"
        " max(CASE WHEN rank = 1 THEN w END) AS t1w,"
        " max(CASE WHEN rank = 1 THEN c END) AS t1c,"
        " sum(CASE WHEN rank <= 100 THEN c ELSE 0 END) AS c100 FROM pts) "
        "SELECT tot.n_types, tot.n_tokens, fit.t1w AS top1_word,"
        " CAST(fit.t1c AS BIGINT) AS top1_count,"
        " fit.c100 / CAST(tot.n_tokens AS DOUBLE) AS top100_coverage,"
        " (fit.n * fit.sxy - fit.sx * fit.sy) /"
        " CAST(fit.n * fit.sxx - fit.sx * fit.sx AS DOUBLE) AS zipf_slope,"
        " CAST(round((fit.sy - ((fit.n * fit.sxy - fit.sx * fit.sy) /"
        " CAST(fit.n * fit.sxx - fit.sx * fit.sx AS DOUBLE)) * fit.sx)"
        " / fit.n) AS BIGINT) AS zipf_intercept_milli"
        " FROM tot, fit"
    )


def _xlx(c):
    """x·ln(x) with the 0·ln(0)=0 convention — the Dunning G² atom.
    Operands are exact bigints entering one ``ln`` each, so the double
    tree replays bit-identically in DuckDB (same contract as BM25's
    idf)."""
    x = c.cast("double")
    return F.when(c > 0, x * F.log(x)).otherwise(F.lit(0.0))


def vocab_drift(
    old_docs: DataFrame,
    new_docs: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Corpus drift report between two crawl generations: the
    ``top_k`` terms whose frequency shifted most by Dunning's
    log-likelihood ratio (the G² test on the 2×2 table term/rest ×
    old/new — the standard "surprising change" statistic, robust where
    raw frequency deltas drown in corpus-size differences).

    Emits (term, n_old, n_new, llr_micro, direction) ranked by
    (llr_micro desc, term asc); ``direction`` is 'up' when the term is
    over-represented in the NEW corpus (exact bigint cross-multiply,
    no float compare), 'down' otherwise. ``llr_micro`` is the G²
    statistic micro-quantized from one shared double expression tree —
    xlx(k11)+xlx(k12)+xlx(k21)+xlx(k22)−xlx(r1)−xlx(r2)−xlx(c1)
    −xlx(c2)+xlx(N), each xlx one ln over an exact bigint.

    The drift monitor a recrawl pipeline runs per generation: template
    rollouts, spam bursts, seasonal vocabulary, encoding regressions
    all surface as top-LLR terms before any model sees the data.

    Scale shape: two token-count aggregates, one full-outer join on
    term, one codegen projection, TakeOrdered(top_k). Two scalar
    totals reach the driver."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")

    def counts(df, alias):
        return (
            df.select(
                F.explode(
                    F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
                ).alias("term")
            )
            .filter(F.col("term") != "")
            .groupBy("term")
            .agg(F.count("*").cast("long").alias(alias))
        )

    a = counts(old_docs, "n_old")
    b = counts(new_docs, "n_new")
    tot_a = a.agg(F.sum("n_old")).collect()[0][0] or 0
    tot_b = b.agg(F.sum("n_new")).collect()[0][0] or 0
    if tot_a == 0 or tot_b == 0:
        raise ValueError("both corpora need at least one token")
    j = a.join(b, "term", "full_outer").select(
        "term",
        F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    k11, k12 = F.col("n_old"), F.col("n_new")
    k21, k22 = F.lit(tot_a) - k11, F.lit(tot_b) - k12
    r1, r2 = k11 + k12, k21 + k22
    n = F.lit(int(tot_a + tot_b))
    g2 = 2.0 * (
        _xlx(k11) + _xlx(k12) + _xlx(k21) + _xlx(k22)
        - _xlx(r1) - _xlx(r2)
        - _xlx(F.lit(int(tot_a))) - _xlx(F.lit(int(tot_b)))
        + _xlx(n)
    )
    direction = F.when(
        k12 * F.lit(int(tot_a)) > k11 * F.lit(int(tot_b)), F.lit("up")
    ).otherwise(F.lit("down"))
    scored = j.select(
        "term",
        "n_old",
        "n_new",
        F.round(g2 * F.lit(1e6)).cast("long").alias("llr_micro"),
        direction.alias("direction"),
    )
    return scored.orderBy(
        F.desc("llr_micro"), F.col("term").asc()
    ).limit(int(top_k))


def cooccur_pmi(
    docs: DataFrame,
    probe: str,
    top_k: int = 20,
    min_pairs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level PMI co-occurrence for a probe term — the query-
    expansion / corpus-audit tool ("what does this corpus associate
    with X"): (term, n_pair, n_term, pmi_micro) for the ``top_k``
    terms by pointwise mutual information with ``probe``, ranked
    (pmi desc, term asc).

        pmi(t, w) = ln( n_tw · N / (n_t · n_w) )

    over BINARY per-document occurrence. ``min_pairs`` floors n_tw —
    raw PMI's rare-pair pathology (a hapax co-occurring once scores
    maximal) is cut before ranking, the standard fix. The probe itself
    is excluded. Micro-quantized from one double tree (exact bigint
    operands into one ln), engine-portable.

    Scale shape: one distinct (id, term) projection; probe-doc ids are
    a filter of it; co-occurrence counts = one id-keyed join of probe
    docs to their terms + one term aggregate; per-term dfs join in on
    the (small) co-occurring-term set. Two scalars (N, n_probe) reach
    the driver; TakeOrdered(top_k) ends it."""
    if not probe:
        raise ValueError("probe term must be non-empty")
    if top_k < 1 or min_pairs < 1:
        raise ValueError("need top_k >= 1 and min_pairs >= 1")
    occ = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    n_docs = docs.select(F.col(id_col)).distinct().count()
    probe_ids = occ.filter(F.col("w") == probe).select("id")
    n_probe = probe_ids.count()
    if n_probe == 0:
        raise ValueError(f"probe term {probe!r} occurs in no document")
    pair_counts = (
        occ.join(probe_ids, "id", "left_semi")
        .filter(F.col("w") != probe)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_pairs))
    )
    dfreq = occ.groupBy("w").agg(F.count("*").cast("long").alias("n_term"))
    scored = pair_counts.join(dfreq, "w").select(
        F.col("w").alias("term"),
        "n_pair",
        "n_term",
        F.round(
            F.log(
                (F.col("n_pair") * F.lit(int(n_docs))).cast("double")
                / (F.lit(int(n_probe)) * F.col("n_term")).cast("double")
            )
            * F.lit(1e6)
        )
        .cast("long")
        .alias("pmi_micro"),
    )
    return scored.orderBy(
        F.desc("pmi_micro"), F.col("term").asc()
    ).limit(int(top_k))


def release_manifest(
    docs: DataFrame,
    group_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus release manifest: one row per group (split, source,
    shard…) with (n_docs, n_tokens, n_chars, checksum_add) — the
    artifact a corpus release ships so a consumer can verify their
    copy without re-reading ours.

    ``checksum_add`` is an ORDER-INSENSITIVE additive content hash:
    Σ md5_long(id ‖ '\\x1f' ‖ text) as DECIMAL(38,0) — exact at any
    corpus size (no bigint overflow under ANSI mode, no float), equal
    across engines and partitionings, and any single changed/missing/
    extra document shifts it. An additive 32-bit-per-row hash is drift
    DETECTION, not cryptography — collisions are ~2⁻³², fine for
    manifest verification, documented as such.

    One map-side-combinable aggregate; nothing else."""
    from .dedup import md5_long

    payload = F.concat_ws(
        "\x1f", F.col(id_col).cast("string"),
        F.coalesce(F.col(text_col).cast("string"), F.lit("")),
    )
    toks = F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), " "),
            lambda w: w != "",
        )
    )
    return (
        docs.select(
            *[F.col(c) for c in group_cols],
            F.lit(1).alias("__d"),
            toks.cast("long").alias("__t"),
            F.length(F.coalesce(F.col(text_col).cast("string"), F.lit("")))
            .cast("long")
            .alias("__c"),
            md5_long(payload).cast("decimal(38,0)").alias("__h"),
        )
        .groupBy(*group_cols)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__t").cast("long").alias("n_tokens"),
            F.sum("__c").cast("long").alias("n_chars"),
            F.sum("__h").cast("decimal(38,0)").alias("checksum_add"),
        )
    )


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character-distribution quality signals: exact char
    count, distinct-char count, most-common-character fraction, and the
    Shannon entropy of the character unigram distribution — the classic
    gibberish / encoding-noise / key-mash detector at the character
    grain (natural prose sits near a language's entropy ceiling,
    base64/hex blobs above it, 'aaaa…' keyboard spam at 0; the filter
    Gopher-style pipelines apply beside the word-level repetition
    signals in functions/textstats.py).

    Emits (id_col, n_chars, n_distinct, top_char_frac_micro,
    entropy_micro). entropy (nats) = ln n − (Σ c·ln c)/n, computed as
    (xlx_micro(n) − Σ xlx_micro(c)) div n: every xlx atom is one ``ln``
    over an exact bigint and is micro-quantized BEFORE the per-doc sum,
    so the sum is exact bigint addition — partitioning- and
    engine-independent (the same contract as ``vocab_drift``'s G²
    ladder). top_char_frac_micro = (max c · 10^6) div n, exact. NULL /
    zero-length texts yield no row (drop-not-fake; the '' filter also
    aligns Spark's split('','')=[] with DuckDB's ['']). Splitting is
    per code point in both engines; the micro grain stays exact for
    docs under ~400 MB (n·ln n·10^6 < 2^53).

    Reference analog: the per-pixel probability histogram the seg head
    thresholds before mask refinement (reference basemodel.py forward)
    recast as a per-document character-distribution statistic.

    Scale shape: one explode (≈ corpus chars — the same fan-out every
    token op here pays), one map-side-combinable (id, ch) aggregate,
    then one id-keyed aggregate bounded by alphabet size per doc. No
    joins, nothing on the driver."""
    chars = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "")
        ).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("__id", "ch").agg(
        F.count("*").cast("long").alias("c")
    )
    per = counts.groupBy("__id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("__top"),
        F.sum(F.round(_xlx(F.col("c")) * F.lit(1e6)).cast("long"))
        .cast("long")
        .alias("__sxlx"),
    )
    staged = per.withColumn(
        "__xn", F.round(_xlx(F.col("n_chars")) * F.lit(1e6)).cast("long")
    )
    return staged.select(
        F.col("__id").alias(id_col),
        "n_chars",
        "n_distinct",
        F.expr("__top * 1000000 div n_chars").alias("top_char_frac_micro"),
        F.expr("(__xn - __sxlx) div n_chars").alias("entropy_micro"),
    )


def token_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document WORD-unigram entropy — ``char_entropy``'s companion
    at the vocabulary grain: keyword-stuffed / tag-farm / template spam
    repeats a tiny vocabulary, so its token entropy collapses even when
    the character distribution looks like normal prose. Low
    top_token_frac + high entropy is healthy text; the inverse is the
    spam corner pipelines cut.

    Emits (id_col, n_tokens, n_distinct, top_token_frac_micro,
    entropy_micro) under the identical exact-micro xlx ladder as
    ``char_entropy`` (see that docstring for the determinism contract);
    tokens are the same whitespace-split, ''-filtered grain every token
    op here uses, so all-whitespace / empty / NULL texts yield no row.

    Scale shape: one explode (≈ corpus tokens), one map-side-combinable
    (id, token) aggregate, one id-keyed aggregate bounded by per-doc
    vocabulary. No joins, nothing on the driver."""
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("__id", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    per = counts.groupBy("__id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("__top"),
        F.sum(F.round(_xlx(F.col("c")) * F.lit(1e6)).cast("long"))
        .cast("long")
        .alias("__sxlx"),
    )
    staged = per.withColumn(
        "__xn", F.round(_xlx(F.col("n_tokens")) * F.lit(1e6)).cast("long")
    )
    return staged.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "n_distinct",
        F.expr("__top * 1000000 div n_tokens").alias(
            "top_token_frac_micro"
        ),
        F.expr("(__xn - __sxlx) div n_tokens").alias("entropy_micro"),
    )
