"""N-gram language-model quality scoring — the CCNet-shape perplexity
filter: train a bigram LM on a reference corpus in Spark, score every
document by mean log-probability, and bucket the corpus into
head/middle/tail quality tiers (Wenzek et al. 2020 use a KenLM 5-gram;
the mechanics here are the same with a stupid-backoff bigram model, the
standard web-scale shortcut — Brants et al. 2007).

Model = two DataFrames (unigram and bigram counts), i.e. data, not driver
state: at 100 TB the model trains on a reference sample but can still
hold millions of n-grams, so scoring JOINS the corpus against it
(bigram-keyed shuffle joins with map-side combine; broadcast only if the
caller prunes the model small). Nothing ever collects to the driver.

Determinism contract (same discipline as quality_train): counts are exact
bigints; per-token probability is ONE division; its log10 is immediately
quantized to integer MILLI-log-probs, so the per-document sum is an exact
bigint and the final score is a single IEEE division — the whole
train+score pipeline replays bit-identically in the SQL oracle (a
cross-engine last-ulp log10 difference flips a rounding only on a
measure-zero boundary).

Stupid backoff: p(w | prev) = c(prev, w) / c(prev) when the bigram was
seen, else ALPHA * c(w) / N, else ALPHA / N for out-of-vocabulary words
(no discounting — "stupid" scores are not normalized probabilities, which
is fine for ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ALPHA = 0.4


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, w) non-empty whitespace tokens in document order."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
            ).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )


def train_bigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Reference corpus → (unigrams(w, c), bigrams(prev, w, c2)). Two
    groupBy exchanges with map-side partial aggregation; save both as
    parquet to reuse a trained model across runs."""
    toks = _tokens(df, id_col, text_col)
    uni = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    from pyspark.sql import Window

    wnd = Window.partitionBy("id").orderBy("pos")
    big = (
        toks.withColumn("prev", F.lag("w").over(wnd))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    return uni, big


def lm_score(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = ALPHA,
) -> DataFrame:
    """(id, n_tokens, sum_milli_lp, score): score = mean per-token
    milli-quantized log10 probability / 1000 (≈ negative perplexity
    exponent; higher is more reference-like). The first token scores by
    unigram probability; wordless documents are absent (no tokens to
    score — same contract as quality_logit). The per-token backoff
    ladder lives in ``lm_token_mlp`` — one definition shared with the
    span localizer, so the two can never drift."""
    return (
        lm_token_mlp(docs, unigrams, bigrams, id_col, text_col, alpha)
        .select("id", "mlp")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("mlp").alias("sum_milli_lp"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "sum_milli_lp",
            (F.col("sum_milli_lp") / (F.col("n_tokens") * F.lit(1000.0))).alias(
                "score"
            ),
        )
    )


def ccnet_tiers(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    head_frac: float = 1.0 / 3.0,
    tail_frac: float = 1.0 / 3.0,
) -> DataFrame:
    """CCNet tier EXTRACTION proper (Wenzek et al. 2020 §4.3): per-
    language head/middle/tail tiers derived from the LM-score QUANTILES
    of the corpus itself — unlike fixed score thresholds, the
    cut points adapt per language, which is the whole point (a 'good'
    perplexity in zh is a different number than in en).

    Mechanics: score every document (``lm_score`` — bit-exact milli-
    quantized pipeline), then one window per language ordered by score
    DESC with the id as tiebreak (rank ties impossible → percent_rank is
    deterministic and engine-portable): pr < head_frac → head,
    pr < 1-tail_frac → middle, else tail. percent_rank = (rank-1)/(n-1)
    is ONE IEEE division of two exact ints, so the tier label replays
    bit-identically in DuckDB. Wordless documents are absent (unscorable
    — same contract as lm_score).

    One exchange for the per-language window (lang cardinality is tiny
    but doc counts are huge — the window only sorts within a language;
    at 10^12 docs swap in approx percentile cut points per language and
    a broadcast join if a full per-language sort is too hot).

    Emits (id, lang, n_tokens, score, pr, tier).
    """
    scored = lm_score(docs, unigrams, bigrams, id_col, text_col)
    with_lang = scored.join(docs.select(id_col, lang_col), id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("score"), F.col(id_col).asc()
    )
    pr = F.percent_rank().over(w)
    tier = (
        F.when(pr < F.lit(head_frac), F.lit("head"))
        .when(pr < F.lit(1.0 - tail_frac), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return with_lang.select(
        id_col,
        lang_col,
        "n_tokens",
        "score",
        pr.alias("pr"),
        tier.alias("tier"),
    )


def lm_score_sql(
    corpus: str = "documents",
    reference: str = "documents",
    id_col: str = "doc_id",
    alpha: float = ALPHA,
) -> str:
    """Oracle twin: the identical train+score pipeline in DuckDB SQL over
    ``reference`` (training corpus) and ``corpus`` (scored corpus)."""
    return (
        "WITH rt AS (SELECT t.w FROM ("
        f"SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w"
        f" FROM {reference}) t WHERE t.w <> ''), "
        "uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rt GROUP BY w), "
        "nt AS (SELECT sum(c) AS n FROM uni), "
        "rp AS (SELECT "
        f" {id_col} AS id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w"
        f" FROM (SELECT {id_col},"
        f" string_split(coalesce(text, ''), ' ') AS ws FROM {reference})), "
        "rp2 AS (SELECT id, pos, w FROM rp WHERE w <> ''), "
        "big AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS c2 FROM ("
        " SELECT lag(w) OVER (PARTITION BY id ORDER BY pos) AS prev, w"
        " FROM rp2) WHERE prev IS NOT NULL GROUP BY prev, w), "
        "cp AS (SELECT "
        f" {id_col} AS id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w"
        f" FROM (SELECT {id_col},"
        f" string_split(coalesce(text, ''), ' ') AS ws FROM {corpus})), "
        "cp2 AS (SELECT id, pos, w,"
        " lag(w) OVER (PARTITION BY id ORDER BY pos) AS prev"
        " FROM (SELECT * FROM cp WHERE w <> '')), "
        "scored AS (SELECT cp2.id,"
        " CAST(round(log10(CASE"
        "  WHEN cp2.prev IS NOT NULL AND b.c2 IS NOT NULL"
        "   THEN b.c2 / CAST(up.c AS DOUBLE)"
        "  WHEN cp2.prev IS NULL AND uw.c IS NOT NULL"
        "   THEN uw.c / CAST((SELECT n FROM nt) AS DOUBLE)"
        f"  WHEN uw.c IS NOT NULL THEN {alpha} * uw.c /"
        "   CAST((SELECT n FROM nt) AS DOUBLE)"
        f"  ELSE {alpha} / CAST((SELECT n FROM nt) AS DOUBLE) END"
        " ) * 1000.0) AS BIGINT) AS mlp"
        " FROM cp2"
        " LEFT JOIN uni uw ON uw.w = cp2.w"
        " LEFT JOIN uni up ON up.w = cp2.prev"
        " LEFT JOIN big b ON b.prev = cp2.prev AND b.w = cp2.w) "
        "SELECT id AS "
        f"{id_col}, CAST(count(*) AS BIGINT) AS n_tokens,"
        " sum(mlp) AS sum_milli_lp,"
        " sum(mlp) / (count(*) * 1000.0) AS score"
        " FROM scored GROUP BY id"
    )


def train_trigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Reference corpus → (unigrams(w, c), bigrams(prev, w, c2),
    trigrams(prev2, prev, w, c3)) — the one-order-up extension of
    ``train_bigram_lm`` (Brants et al. 2007 run stupid backoff at 5-gram;
    the recursion is identical at every order, so trigram is the honest
    small-scale demonstration). Three groupBy exchanges, all with
    map-side partial aggregation; persist all three as parquet to reuse
    the model across runs."""
    toks = _tokens(df, id_col, text_col)
    uni = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    wnd = Window.partitionBy("id").orderBy("pos")
    ctx = toks.withColumn("prev", F.lag("w", 1).over(wnd)).withColumn(
        "prev2", F.lag("w", 2).over(wnd)
    )
    big = (
        ctx.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    tri = (
        ctx.filter(F.col("prev2").isNotNull())
        .groupBy("prev2", "prev", "w")
        .agg(F.count("*").cast("long").alias("c3"))
    )
    return uni, big, tri


def lm_score_trigram(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    trigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = ALPHA,
) -> DataFrame:
    """Trigram stupid-backoff scoring, same output contract as
    ``lm_score`` (id, n_tokens, sum_milli_lp, score). Backoff ladder per
    token with a full two-word context:

      c3(prev2,prev,w)/c2(prev2,prev)            trigram seen
      alpha * c2(prev,w)/c(prev)                 else bigram seen
      alpha^2 * c(w)/N                           else word seen
      alpha^2 / N                                else (OOV)

    Tokens at position 0/1 have a shorter context and enter the ladder
    one rung down without penalty (the penalty applies only when FALLING
    BACK from a context that existed — same documented choice as the
    bigram scorer's first token). The context-pair count joins the SAME
    bigram relation twice (once as (prev,w) count, once as (prev2,prev)
    context mass); everything stays keyed shuffle joins — nothing
    collects, the model is data. Milli-quantized log10 keeps the
    per-document sum an exact bigint so the DuckDB twin
    (``lm_score_trigram_sql``) replays bit-identically."""
    n_total = unigrams.agg(F.sum("c").alias("n")).collect()[0].n
    if not n_total:
        raise ValueError("empty language model (no unigram mass)")
    toks = _tokens(docs, id_col, text_col)
    wnd = Window.partitionBy("id").orderBy("pos")
    ctx = toks.withColumn("prev", F.lag("w", 1).over(wnd)).withColumn(
        "prev2", F.lag("w", 2).over(wnd)
    )
    j = (
        ctx.join(unigrams.withColumnRenamed("c", "cw"), "w", "left")
        .join(
            unigrams.select(
                F.col("w").alias("prev"), F.col("c").alias("cprev")
            ),
            "prev",
            "left",
        )
        .join(bigrams, ["prev", "w"], "left")
        .join(
            bigrams.select(
                F.col("prev").alias("prev2"),
                F.col("w").alias("prev"),
                F.col("c2").alias("cctx"),
            ),
            ["prev2", "prev"],
            "left",
        )
        .join(trigrams, ["prev2", "prev", "w"], "left")
    )
    a = F.lit(alpha)
    n = F.lit(float(n_total))
    p = (
        F.when(
            F.col("prev2").isNotNull() & F.col("c3").isNotNull(),
            F.col("c3") / F.col("cctx"),
        )
        .when(
            F.col("prev").isNotNull() & F.col("c2").isNotNull(),
            # full-context fallback pays alpha; a position-1 token (no
            # prev2) enters here without one — mirror branch order in SQL
            F.when(F.col("prev2").isNotNull(), a).otherwise(F.lit(1.0))
            * F.col("c2")
            / F.col("cprev"),
        )
        .when(
            F.col("cw").isNotNull(),
            # penalty = alpha per rung actually fallen: a token with a
            # full two-word context fell twice (a^2), a position-1 token
            # started at the bigram rung and fell once (a), a position-0
            # token starts here (1)
            F.when(F.col("prev2").isNotNull(), a * a)
            .when(F.col("prev").isNotNull(), a)
            .otherwise(F.lit(1.0))
            * F.col("cw")
            / n,
        )
        .otherwise(
            # OOV: one more alpha below the unigram rung
            F.when(F.col("prev2").isNotNull(), a * a * a)
            .when(F.col("prev").isNotNull(), a * a)
            .otherwise(a)
            / n
        )
    )
    milli = F.round(F.log10(p) * 1000.0).cast("long")
    return (
        j.select("id", milli.alias("mlp"))
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("mlp").alias("sum_milli_lp"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "sum_milli_lp",
            (F.col("sum_milli_lp") / (F.col("n_tokens") * F.lit(1000.0))).alias(
                "score"
            ),
        )
    )


def lm_score_trigram_sql(
    corpus: str = "documents",
    reference: str = "documents",
    id_col: str = "doc_id",
    alpha: float = ALPHA,
) -> str:
    """Oracle twin of ``train_trigram_lm`` + ``lm_score_trigram`` as one
    DuckDB query (train on ``reference``, score ``corpus``)."""
    a = repr(alpha)
    return (
        "WITH rp AS (SELECT "
        f" {id_col} AS id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w"
        f" FROM (SELECT {id_col},"
        f" string_split(coalesce(text, ''), ' ') AS ws FROM {reference})), "
        "rp2 AS (SELECT id, pos, w FROM rp WHERE w <> ''), "
        "uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rp2"
        " GROUP BY w), "
        "nt AS (SELECT sum(c) AS n FROM uni), "
        "rc AS (SELECT id, pos, w,"
        " lag(w, 1) OVER (PARTITION BY id ORDER BY pos) AS prev,"
        " lag(w, 2) OVER (PARTITION BY id ORDER BY pos) AS prev2"
        " FROM rp2), "
        "big AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS c2 FROM rc"
        " WHERE prev IS NOT NULL GROUP BY prev, w), "
        "tri AS (SELECT prev2, prev, w, CAST(count(*) AS BIGINT) AS c3"
        " FROM rc WHERE prev2 IS NOT NULL GROUP BY prev2, prev, w), "
        "cp AS (SELECT "
        f" {id_col} AS id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w"
        f" FROM (SELECT {id_col},"
        f" string_split(coalesce(text, ''), ' ') AS ws FROM {corpus})), "
        "cc AS (SELECT id, pos, w,"
        " lag(w, 1) OVER (PARTITION BY id ORDER BY pos) AS prev,"
        " lag(w, 2) OVER (PARTITION BY id ORDER BY pos) AS prev2"
        " FROM (SELECT * FROM cp WHERE w <> '')), "
        "scored AS (SELECT cc.id,"
        " CAST(round(log10(CASE"
        "  WHEN cc.prev2 IS NOT NULL AND t.c3 IS NOT NULL"
        "   THEN t.c3 / CAST(bx.c2 AS DOUBLE)"
        "  WHEN cc.prev IS NOT NULL AND b.c2 IS NOT NULL"
        f"   THEN (CASE WHEN cc.prev2 IS NOT NULL THEN {a} ELSE 1.0 END)"
        "    * b.c2 / CAST(up.c AS DOUBLE)"
        "  WHEN uw.c IS NOT NULL"
        f"   THEN (CASE WHEN cc.prev2 IS NOT NULL THEN {a} * {a}"
        f"    WHEN cc.prev IS NOT NULL THEN {a}"
        "    ELSE 1.0 END) * uw.c / CAST((SELECT n FROM nt) AS DOUBLE)"
        f"  ELSE (CASE WHEN cc.prev2 IS NOT NULL THEN {a} * {a} * {a}"
        f"   WHEN cc.prev IS NOT NULL THEN {a} * {a}"
        f"   ELSE {a} END) / CAST((SELECT n FROM nt) AS DOUBLE) END"
        " ) * 1000.0) AS BIGINT) AS mlp"
        " FROM cc"
        " LEFT JOIN uni uw ON uw.w = cc.w"
        " LEFT JOIN uni up ON up.w = cc.prev"
        " LEFT JOIN big b ON b.prev = cc.prev AND b.w = cc.w"
        " LEFT JOIN big bx ON bx.prev = cc.prev2 AND bx.w = cc.prev"
        " LEFT JOIN tri t ON t.prev2 = cc.prev2 AND t.prev = cc.prev"
        "  AND t.w = cc.w) "
        "SELECT id AS "
        f"{id_col}, CAST(count(*) AS BIGINT) AS n_tokens,"
        " sum(mlp) AS sum_milli_lp,"
        " sum(mlp) / (count(*) * 1000.0) AS score"
        " FROM scored GROUP BY id"
    )


def lm_token_mlp(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = ALPHA,
) -> DataFrame:
    """(id, pos, w, mlp): the per-token milli-quantized log10
    probability stream behind ``lm_score`` — exposed so span-level
    consumers (``lm_outlier_spans``) and the document aggregate share
    one definition. Same backoff ladder and exactness contract."""
    n_total = unigrams.agg(F.sum("c").alias("n")).collect()[0].n
    if not n_total:
        raise ValueError("empty language model (no unigram mass)")
    # (prev, w) pairs derived ARRAY-SIDE at tokenization: the previous
    # non-empty token is just the preceding element of the filtered token
    # array, so the lag(w) window — a full exchange + sort of the token
    # stream by doc — is unnecessary. The filtered array materializes in
    # its OWN projection first (Catalyst does not CSE lambda trees:
    # referencing the array expression inside the shift lambda would
    # re-evaluate the whole tokenization per element, measured 5x
    # slower); with it bound, F.get is O(1) and the pair stream is
    # exchange-free. Measured 7.1 s -> 4.6 s on the 320k-doc curate
    # corpus, token-for-token identical scores.
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    ta = F.filter(
        F.transform(words, lambda w, i: F.struct(i.alias("pos"), w.alias("w"))),
        lambda x: x["w"] != "",
    )
    base = docs.select(F.col(id_col).alias("id"), ta.alias("__ta"))
    tac = F.col("__ta")
    pairs_arr = F.transform(
        tac,
        lambda x, j: F.struct(
            x["pos"].alias("pos"),
            x["w"].alias("w"),
            F.when(j > 0, F.get(tac, j - 1)["w"]).alias("prev"),
        ),
    )
    pairs = base.select("id", F.explode(pairs_arr).alias("__t")).select(
        "id",
        F.col("__t.pos").alias("pos"),
        F.col("__t.w").alias("w"),
        F.col("__t.prev").alias("prev"),
    )
    j = (
        pairs.join(unigrams.withColumnRenamed("c", "cw"), "w", "left")
        .join(
            unigrams.select(
                F.col("w").alias("prev"), F.col("c").alias("cprev")
            ),
            "prev",
            "left",
        )
        .join(bigrams, ["prev", "w"], "left")
    )
    p = (
        F.when(
            F.col("prev").isNotNull() & F.col("c2").isNotNull(),
            F.col("c2") / F.col("cprev"),
        )
        .when(
            F.col("prev").isNull() & F.col("cw").isNotNull(),
            F.col("cw") / F.lit(float(n_total)),
        )
        .when(
            F.col("cw").isNotNull(),
            F.lit(alpha) * F.col("cw") / F.lit(float(n_total)),
        )
        .otherwise(F.lit(alpha) / F.lit(float(n_total)))
    )
    return j.select(
        "id", "pos", "w",
        F.round(F.log10(p) * 1000.0).cast("long").alias("mlp"),
    )


def lm_outlier_spans(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    min_mean_milli: int = -3500,
    alpha: float = ALPHA,
) -> DataFrame:
    """Quality LOCALIZATION, not just scoring: flag the token runs where
    the LM probability collapses (lorem-ipsum blocks, base64 blobs, SEO
    keyword sludge inside otherwise-fluent pages) so the caller can cut
    spans instead of dropping whole documents. A token is flagged when
    the trailing ``window``-token mean milli-log-prob falls below
    ``min_mean_milli``; maximal runs of flagged tokens coalesce into
    spans → (id, start_pos, end_pos, n_tokens, min_mlp).

    Exactness: the rolling decision compares ``sum(mlp) <
    min_mean_milli * count`` — bigint arithmetic only, no float mean, so
    the DuckDB twin (``lm_outlier_spans_sql``) replays spans exactly.
    One window pass + one islands groupBy over the token stream; the
    model joins are the audited lm_score shape."""
    mlp = lm_token_mlp(docs, unigrams, bigrams, id_col, text_col, alpha)
    wnd = Window.partitionBy("id").orderBy("pos")
    roll = Window.partitionBy("id").orderBy("pos").rowsBetween(
        -(window - 1), 0
    )
    t = (
        mlp.withColumn("rn", F.row_number().over(wnd))
        .withColumn("wsum", F.sum("mlp").over(roll))
        .withColumn("wcnt", F.count("*").over(roll))
        .withColumn(
            "flag",
            F.col("wsum") < F.lit(int(min_mean_milli)) * F.col("wcnt"),
        )
    )
    flagged = t.filter(F.col("flag")).withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(Window.partitionBy("id").orderBy("rn")),
    )
    return (
        flagged.groupBy("id", "grp")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.max("pos").cast("long").alias("end_pos"),
            F.count("*").cast("long").alias("n_tokens"),
            F.min("mlp").alias("min_mlp"),
        )
        .select(
            F.col("id").alias(id_col),
            "start_pos", "end_pos", "n_tokens", "min_mlp",
        )
    )


def lm_outlier_spans_sql(
    corpus: str = "documents",
    reference: str = "documents",
    id_col: str = "doc_id",
    window: int = 5,
    min_mean_milli: int = -3500,
    alpha: float = ALPHA,
) -> str:
    """Oracle twin: the lm_score_sql training/backoff chain rebuilt at
    TOKEN grain (pos kept), then trailing-window bigint sums, the
    integer flag comparison, and islands via the row_number diff."""
    w = window
    return (
        "WITH rt AS (SELECT t.w FROM ("
        f"SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w"
        f" FROM {reference}) t WHERE t.w <> ''), "
        "uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rt"
        " GROUP BY w), "
        "nt AS (SELECT sum(c) AS n FROM uni), "
        "rp AS (SELECT "
        f" {id_col} AS id, generate_subscripts(ws, 1) AS pos, unnest(ws)"
        f" AS w FROM (SELECT {id_col},"
        f" string_split(coalesce(text, ''), ' ') AS ws FROM {reference})), "
        "rp2 AS (SELECT id, pos, w FROM rp WHERE w <> ''), "
        "big AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS c2 FROM ("
        " SELECT lag(w) OVER (PARTITION BY id ORDER BY pos) AS prev, w"
        " FROM rp2) WHERE prev IS NOT NULL GROUP BY prev, w), "
        "cp AS (SELECT "
        f" {id_col} AS id, generate_subscripts(ws, 1) - 1 AS pos,"
        f" unnest(ws) AS w FROM (SELECT {id_col},"
        f" string_split(coalesce(text, ''), ' ') AS ws FROM {corpus})), "
        "cp2 AS (SELECT id, pos, w,"
        " lag(w) OVER (PARTITION BY id ORDER BY pos) AS prev"
        " FROM (SELECT * FROM cp WHERE w <> '')), "
        "tok AS (SELECT cp2.id, cp2.pos,"
        " CAST(round(log10(CASE"
        "  WHEN cp2.prev IS NOT NULL AND b.c2 IS NOT NULL"
        "   THEN b.c2 / CAST(up.c AS DOUBLE)"
        "  WHEN cp2.prev IS NULL AND uw.c IS NOT NULL"
        "   THEN uw.c / CAST((SELECT n FROM nt) AS DOUBLE)"
        f"  WHEN uw.c IS NOT NULL THEN {alpha} * uw.c /"
        "   CAST((SELECT n FROM nt) AS DOUBLE)"
        f"  ELSE {alpha} / CAST((SELECT n FROM nt) AS DOUBLE) END"
        " ) * 1000.0) AS BIGINT) AS mlp"
        " FROM cp2"
        " LEFT JOIN uni uw ON uw.w = cp2.w"
        " LEFT JOIN uni up ON up.w = cp2.prev"
        " LEFT JOIN big b ON b.prev = cp2.prev AND b.w = cp2.w), "
        "roll AS (SELECT id, pos, mlp,"
        " row_number() OVER (PARTITION BY id ORDER BY pos) AS rn,"
        " sum(mlp) OVER (PARTITION BY id ORDER BY pos"
        f" ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wsum,"
        " count(*) OVER (PARTITION BY id ORDER BY pos"
        f" ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wcnt"
        " FROM tok), "
        "fl AS (SELECT *, rn - row_number() OVER"
        " (PARTITION BY id ORDER BY rn) AS grp FROM roll"
        f" WHERE wsum < {min_mean_milli} * wcnt) "
        f"SELECT id AS {id_col}, CAST(min(pos) AS BIGINT) AS start_pos,"
        " CAST(max(pos) AS BIGINT) AS end_pos,"
        " CAST(count(*) AS BIGINT) AS n_tokens, min(mlp) AS min_mlp"
        " FROM fl GROUP BY id, grp"
    )


def cut_token_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply ``lm_outlier_spans`` verdicts: remove the flagged token
    ranges from each document and reassemble the survivors in order →
    (id, text, n_tokens_in, n_tokens_cut). The whitespace-token analog
    of curation.cut_spans' char-offset surgery (use that one when byte
    offsets must be preserved; this one is the fast path for
    whitespace-tokenized corpora — inter-token whitespace normalizes to
    one space).

    Shape: token explode → range join against the doc's own spans
    (span counts per doc are tiny, and the join key is the doc id, so
    the fan-out is |tokens| × |spans-of-that-doc| — bounded, colocated)
    → ordered reassembly groupBy. Docs with no spans pass through
    unchanged (modulo whitespace normalization); docs absent from
    ``spans`` are never touched by the join's filter."""
    toks = _tokens(docs, id_col, text_col)
    sp = spans.select(
        F.col(id_col).alias("id"),
        F.col("start_pos").alias("s"),
        F.col("end_pos").alias("e"),
    )
    marked = (
        toks.join(sp, "id", "left")
        .withColumn(
            "cut",
            F.col("s").isNotNull()
            & F.col("pos").between(F.col("s"), F.col("e")),
        )
        .groupBy("id", "pos", "w")
        .agg(F.max("cut").alias("cut"))
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens_in"),
            F.count(F.when(F.col("cut"), 1)).cast("long").alias(
                "n_tokens_cut"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("cut"),
                                F.struct(F.col("pos"), F.col("w")),
                            )
                        )
                    ),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("text"),
        )
        .select(
            F.col("id").alias(id_col), "text",
            "n_tokens_in", "n_tokens_cut",
        )
    )
