"""BM25 relevance scoring over the corpus — the retrieval-side op a
training-data pipeline runs for targeted corpus search (pulling documents
matching a probe query, auditing contamination hits, building eval
retrieval sets). Okapi BM25 with the Lucene idf form:

    score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    idf(t) = ln((N − df + 0.5) / (df + 0.5) + 1)

Determinism contract (house pattern): tf, df, dl, N are exact bigints;
``avgdl`` enters as the exact ratio of two bigints evaluated inside the
expression (total_tokens / n_docs, one IEEE division); each per-term
score is quantized to integer MICRO units immediately, so the per-doc sum
is exact and the oracle replays the identical float expression tree
bit-for-bit (a last-ulp ``ln`` divergence flips a rounding only on a
measure-zero boundary).

Scale shape: one token explode filtered TO THE QUERY TERMS at the scan
(the filter prunes the explode output to |q| terms per doc before any
exchange), document frequencies for |q| terms broadcast, one groupBy(doc)
with map-side partials. Only two scalars (corpus size, token total) reach
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def bm25_score(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, dl, n_hit_terms, score): BM25 of each document against the
    bag of ``query_terms`` (documents matching no term are absent —
    same contract as the other scorers). ``dl`` is the whitespace token
    count used for length normalization."""
    return _bm25_micro(docs, query_terms, id_col, text_col, k1, b).select(
        F.col("id").alias(id_col),
        "dl",
        "n_hit_terms",
        (F.col("bag_micro") / F.lit(1e6)).alias("score"),
    )


def _bm25_micro(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, dl, n_hit_terms, bag_micro): the bag-BM25 micro-int sum before
    the final division — shared by ``bm25_score`` (divides straight away)
    and ``bm25_phrase`` (adds phrase/proximity micro components first so
    the whole score stays one exact bigint + a single division)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("w"),
    ).filter(F.col("w") != "")
    dl = toks.groupBy("id").agg(F.count("*").cast("long").alias("dl"))
    totals = dl.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs, tot_tokens = int(totals.n or 0), int(totals.tot or 0)
    if n_docs == 0:
        raise ValueError("no documents with at least one token")
    qt = toks.filter(F.col("w").isin(list(terms)))
    tf = qt.groupBy("id", "w").agg(F.count("*").cast("long").alias("tf"))
    return _bm25_micro_from(tf, dl, n_docs, tot_tokens, k1, b)


def _bm25_micro_from(
    tf: DataFrame,
    dl: DataFrame,
    n_docs: int,
    tot_tokens: int,
    k1: float,
    b: float,
) -> DataFrame:
    """The shared scoring tail from precomputed relations — ``tf`` rows
    (id, w, tf) already filtered to the query terms, ``dl`` rows (id, dl)
    over the WHOLE corpus. Both the direct path (``_bm25_micro``) and the
    index path (``bm25_from_index``) end here, so their float expression
    trees are identical by construction."""
    dfreq = tf.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    avgdl = F.lit(float(tot_tokens)) / F.lit(float(n_docs))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl
    )
    term_micro = F.round(
        idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom * F.lit(1e6)
    ).cast("long")
    return (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "id")
        .select("id", "dl", term_micro.alias("m"))
        .groupBy("id", "dl")
        .agg(
            F.count("*").cast("long").alias("n_hit_terms"),
            F.sum("m").alias("bag_micro"),
        )
    )


def bm25_sql(
    query_terms: tuple[str, ...],
    source: str = "documents",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Oracle twin: identical expression tree in DuckDB SQL."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (
        "WITH toks AS (SELECT id, w FROM (SELECT "
        f"{id_col} AS id, unnest(string_split(coalesce(text, ''), ' '))"
        f" AS w FROM {source}) WHERE w <> ''), "
        "dl AS (SELECT id, CAST(count(*) AS BIGINT) AS dl FROM toks"
        " GROUP BY id), "
        "tot AS (SELECT count(*) AS n, sum(dl) AS tot FROM dl), "
        f"tf AS (SELECT id, w, CAST(count(*) AS BIGINT) AS tf FROM toks"
        f" WHERE w IN ({in_list}) GROUP BY id, w), "
        "dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf"
        " GROUP BY w), "
        "scored AS (SELECT tf.id, dl.dl, CAST(round("
        " ln((CAST((SELECT n FROM tot) AS DOUBLE) - df + 0.5)"
        " / (df + 0.5) + 1.0)"
        f" * (tf * {k1 + 1.0}) / (tf + {k1} * (1.0 - {b} + {b} * dl /"
        " (CAST((SELECT tot FROM tot) AS DOUBLE) /"
        " CAST((SELECT n FROM tot) AS DOUBLE))))"
        " * 1000000.0) AS BIGINT) AS m"
        " FROM tf JOIN dfreq USING (w) JOIN dl ON dl.id = tf.id) "
        f"SELECT id AS {id_col}, dl, CAST(count(*) AS BIGINT)"
        " AS n_hit_terms, sum(m) / 1000000.0 AS score"
        " FROM scored GROUP BY id, dl"
    )


def bm25_phrase(
    docs: DataFrame,
    phrase: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    phrase_weight: float = 1.0,
    prox_weight: float = 0.5,
) -> DataFrame:
    """Positional BM25: the bag score plus PHRASE and PROXIMITY signals —
    the ranking shape a corpus-audit user reaches for after bag-of-words
    (find the documents that contain the query *as a phrase*, rank looser
    co-occurrences below them by how close the terms sit).

    (id, dl, n_hit_terms, n_phrase, score) where

    * ``n_phrase`` = exact ordered-adjacent occurrences of ``phrase``
      (every term at consecutive token positions, duplicates allowed);
    * score = bag_bm25 + phrase_weight · n_phrase +
      prox_weight · Σ_pairs 1/min_gap, one addend per ADJACENT phrase
      pair (t_j, t_{j+1}), where min_gap is the smallest positive token
      distance from a t_j occurrence to a LATER t_{j+1} occurrence
      (adjacent = gap 1 = full credit; a pair never co-occurring in order
      contributes 0).

    Determinism contract (house pattern): every component quantizes to
    integer MICRO units — the bag sum from ``bm25_score``'s term tree,
    the phrase bonus as n_phrase · round(1e6·w), each pair's boost as
    round(1e6·w / gap) — so the total is one exact bigint and a single
    IEEE division, replayed bit-for-bit by ``bm25_phrase_sql``.

    Scale shape: positions come from ONE posexplode filtered to the
    phrase's terms at the scan (|phrase| postings per doc survive, not
    dl); phrase occurrences are a keyed groupBy on (doc, pos − j) —
    an anchor completes when all |phrase| roles appear — and each pair's
    min gap is one per-doc window over the pair's own postings (positions
    ascend, so "latest preceding t_j" is a running MAX — no IGNORE NULLS
    dialect dependence). No window over full documents, no self-join of
    position lists."""
    terms = list(phrase)
    if len(terms) < 2:
        raise ValueError("phrase needs at least 2 terms")
    if any(not t for t in terms):
        raise ValueError("phrase terms must be non-empty")
    n_terms = len(terms)
    uniq = sorted(set(terms))

    bag = _bm25_micro(docs, tuple(terms), id_col, text_col, k1, b)

    # positional postings: token index in the raw split (1-based, empties
    # keep their slot so positions match the oracle's list indexes)
    post = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("pos0", "w"),
    ).select(
        "id", (F.col("pos0") + 1).alias("pos"), "w"
    ).filter(F.col("w").isin(uniq))
    return _bm25_phrase_from(
        post, bag, terms, id_col, phrase_weight, prox_weight
    )


def _bm25_phrase_from(
    post: DataFrame,
    bag: DataFrame,
    terms: list,
    id_col: str,
    phrase_weight: float,
    prox_weight: float,
) -> DataFrame:
    """The positional scoring tail from a postings relation ``post``
    (id, pos, w — 1-based raw-split positions, already filtered to the
    phrase's terms) and the bag-micro frame. Shared by the direct path
    and the positional-index path, so the two cannot drift."""
    n_terms = len(terms)

    # exact phrase occurrences: a posting of terms[j] at pos votes for
    # anchor pos-j with role j; an anchor with all roles is a phrase hit
    roles = F.filter(
        F.array(*[
            F.when(F.col("w") == t, F.lit(j)) for j, t in enumerate(terms)
        ]),
        lambda x: x.isNotNull(),
    )
    anch = post.select("id", "pos", F.explode(roles).alias("j")).select(
        "id", (F.col("pos") - F.col("j")).alias("anchor"), "j"
    )
    nphr = (
        anch.groupBy("id", "anchor")
        .agg(F.count_distinct("j").alias("nj"))
        .filter(F.col("nj") == n_terms)
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_phrase"))
    )

    # per adjacent pair: min ordered gap via a running max of the left
    # term's positions (frame excludes the current row so a repeated-term
    # pair measures the distance between consecutive occurrences)
    wnd = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pair_mins = []
    for jp in range(n_terms - 1):
        a, t_b = terms[jp], terms[jp + 1]
        stream = post.filter(F.col("w").isin([a, t_b]))
        prev_a = F.max(
            F.when(F.col("w") == a, F.col("pos"))
        ).over(wnd)
        pair_mins.append(
            stream.withColumn("prev_a", prev_a)
            .filter((F.col("w") == t_b) & F.col("prev_a").isNotNull())
            .groupBy("id")
            .agg(F.min(F.col("pos") - F.col("prev_a")).alias("gap"))
            .select(
                "id",
                F.round(F.lit(1e6 * prox_weight) / F.col("gap"))
                .cast("long")
                .alias("pm"),
            )
        )
    prox = pair_mins[0]
    for p in pair_mins[1:]:
        prox = prox.unionByName(p)
    prox = prox.groupBy("id").agg(F.sum("pm").alias("prox_micro"))

    phrase_micro = int(round(1e6 * phrase_weight))
    total_micro = (
        F.col("bag_micro")
        + F.coalesce(F.col("n_phrase"), F.lit(0)) * F.lit(phrase_micro)
        + F.coalesce(F.col("prox_micro"), F.lit(0))
    )
    return (
        bag.join(nphr, "id", "left")
        .join(prox, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "dl",
            "n_hit_terms",
            F.coalesce(F.col("n_phrase"), F.lit(0))
            .cast("long")
            .alias("n_phrase"),
            (total_micro / F.lit(1e6)).alias("score"),
        )
    )


def bm25_phrase_sql(
    phrase: tuple[str, ...],
    source: str = "documents",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    phrase_weight: float = 1.0,
    prox_weight: float = 0.5,
) -> str:
    """Oracle twin of ``bm25_phrase``: positions recomputed from the raw
    token list, identical micro quantization and expression tree."""
    terms = list(phrase)
    n_terms = len(terms)
    uniq = sorted(set(terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in uniq)
    phrase_micro = int(round(1e6 * phrase_weight))
    role_rows = ", ".join(
        f"({j}, '" + t.replace("'", "''") + "')" for j, t in enumerate(terms)
    )
    pair_ctes = []
    for jp in range(n_terms - 1):
        a = terms[jp].replace("'", "''")
        t_b = terms[jp + 1].replace("'", "''")
        pair_ctes.append(
            f"g{jp} AS (SELECT id, CAST(round({1e6 * prox_weight!r}"
            " / gap) AS BIGINT) AS pm FROM (SELECT id,"
            " min(pos - prev_a) AS gap FROM ("
            f"SELECT id, pos, w, max(CASE WHEN w = '{a}' THEN pos END)"
            " OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND 1 PRECEDING) AS prev_a"
            f" FROM post WHERE w IN ('{a}', '{t_b}'))"
            f" WHERE w = '{t_b}' AND prev_a IS NOT NULL GROUP BY id))"
        )
    union = " UNION ALL ".join(f"SELECT * FROM g{jp}" for jp in range(n_terms - 1))
    bag_terms = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(terms))
    )
    return (
        "WITH toks AS (SELECT id, w FROM (SELECT "
        f"{id_col} AS id, unnest(string_split(coalesce(text, ''), ' '))"
        f" AS w FROM {source}) WHERE w <> ''), "
        "dl AS (SELECT id, CAST(count(*) AS BIGINT) AS dl FROM toks"
        " GROUP BY id), "
        "tot AS (SELECT count(*) AS n, sum(dl) AS tot FROM dl), "
        f"tf AS (SELECT id, w, CAST(count(*) AS BIGINT) AS tf FROM toks"
        f" WHERE w IN ({bag_terms}) GROUP BY id, w), "
        "dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf"
        " GROUP BY w), "
        "scored AS (SELECT tf.id, dl.dl, CAST(round("
        " ln((CAST((SELECT n FROM tot) AS DOUBLE) - df + 0.5)"
        " / (df + 0.5) + 1.0)"
        f" * (tf * {k1 + 1.0}) / (tf + {k1} * (1.0 - {b} + {b} * dl /"
        " (CAST((SELECT tot FROM tot) AS DOUBLE) /"
        " CAST((SELECT n FROM tot) AS DOUBLE))))"
        " * 1000000.0) AS BIGINT) AS m"
        " FROM tf JOIN dfreq USING (w) JOIN dl ON dl.id = tf.id), "
        "bag AS (SELECT id, dl, CAST(count(*) AS BIGINT) AS n_hit_terms,"
        " sum(m) AS bag_micro FROM scored GROUP BY id, dl), "
        "post AS (SELECT id, i AS pos, list_extract(ts, i) AS w FROM"
        f" (SELECT {id_col} AS id,"
        f" string_split(coalesce(text, ''), ' ') AS ts FROM {source}),"
        " unnest(generate_series(1, len(ts))) AS u(i)"
        f" WHERE list_extract(ts, i) IN ({in_list})), "
        "anch AS (SELECT id, pos - j AS anchor, j FROM post"
        f" JOIN (VALUES {role_rows}) AS m(j, t) ON post.w = m.t), "
        "nphr AS (SELECT id, CAST(count(*) AS BIGINT) AS n_phrase FROM"
        " (SELECT id, anchor FROM anch GROUP BY id, anchor"
        f" HAVING count(DISTINCT j) = {n_terms}) GROUP BY id), "
        + ", ".join(pair_ctes) + ", "
        f"prox AS (SELECT id, sum(pm) AS prox_micro FROM ({union})"
        " GROUP BY id) "
        f"SELECT bag.id AS {id_col}, dl, n_hit_terms,"
        " COALESCE(n_phrase, 0) AS n_phrase,"
        f" (bag_micro + COALESCE(n_phrase, 0) * {phrase_micro}"
        " + COALESCE(prox_micro, 0)) / 1000000.0 AS score"
        " FROM bag LEFT JOIN nphr ON bag.id = nphr.id"
        " LEFT JOIN prox ON bag.id = prox.id"
    )


def _token_stream(
    docs: DataFrame, id_col: str, text_col: str, with_pos: bool = False
) -> DataFrame:
    """ONE definition of the index token space, shared by both index
    builders — a tokenization change lands in both or neither. Raw
    whitespace split, empties dropped AFTER position assignment (so
    with_pos=True keeps the same 1-based raw-split position space
    ``bm25_phrase`` scores in)."""
    split = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    if with_pos:
        toks = docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(split).alias("pos0", "w"),
        ).select("id", (F.col("pos0") + 1).alias("pos"), "w")
    else:
        toks = docs.select(
            F.col(id_col).alias("id"), F.explode(split).alias("w")
        )
    return toks.filter(F.col("w") != "")


def _doc_lengths(toks: DataFrame) -> DataFrame:
    return toks.groupBy("id").agg(F.count("*").cast("long").alias("dl"))


def build_inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(postings, lengths): the two relations a materialized text index
    consists of — postings (w, id, tf) for EVERY term, lengths (id, dl)
    for every tokenful document. Built once, queried many times: the
    index-build pays the corpus explode ONCE, after which every query
    touches |q| terms' postings instead of re-scanning 100 TB of text
    (the Lucene segment model, relationally)."""
    toks = _token_stream(docs, id_col, text_col)
    postings = toks.groupBy("w", "id").agg(
        F.count("*").cast("long").alias("tf")
    )
    return postings, _doc_lengths(toks)


def bm25_from_index(
    postings: DataFrame,
    lengths: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over a prebuilt index — same output (and bit-identical scores,
    via the shared ``_bm25_micro_from`` tail) as ``bm25_score`` run
    directly on the corpus, but the corpus text is never touched: tf rows
    come from the postings relation filtered to the query terms, document
    stats from the lengths relation. Two scalars reach the driver."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    totals = lengths.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs, tot_tokens = int(totals.n or 0), int(totals.tot or 0)
    if n_docs == 0:
        raise ValueError("empty index")
    tf = postings.filter(F.col("w").isin(list(terms)))
    return _bm25_micro_from(tf, lengths, n_docs, tot_tokens, k1, b).select(
        F.col("id").alias(id_col),
        "dl",
        "n_hit_terms",
        (F.col("bag_micro") / F.lit(1e6)).alias("score"),
    )


def write_inverted_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = 64,
) -> int:
    """Materialize the index: postings laid out hash-partitioned by term
    (``term_bucket=NN`` directories, Hive-style) so a query's read prunes
    to |q| buckets of the term space instead of scanning every posting;
    lengths beside them; a one-row meta relation records the bucket count
    (the reader must probe with the SAME bucketing). Returns the number of
    postings, observed during their write."""
    spark = docs.sparkSession
    postings, lengths = build_inverted_index(docs, id_col, text_col)
    n_postings = Observation()
    postings.withColumn(
        "term_bucket", F.pmod(F.xxhash64("w"), F.lit(n_term_buckets))
    ).observe(n_postings, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(f"{path}/postings")
    lengths.write.mode("overwrite").parquet(f"{path}/lengths")
    spark.createDataFrame(
        [(int(n_term_buckets),)], "n_term_buckets int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return n_postings.get["rows"]


def bm25_from_index_path(
    spark,
    path: str,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Query a materialized index: compute the query terms' buckets (a
    |q|-row driver job — xxhash64 is JVM-side), read ONLY those
    ``term_bucket=`` partitions (PartitionFilters prune the rest), then
    score through the shared tail. The corpus itself is never read."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    nb = int(
        spark.read.parquet(f"{path}/meta").collect()[0]["n_term_buckets"]
    )
    buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame([(t,) for t in terms], "w string")
            .select(F.pmod(F.xxhash64("w"), F.lit(nb)).alias("b"))
            .collect()
        }
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("w").isin(terms))
        .select("w", "id", "tf")
    )
    lengths = spark.read.parquet(f"{path}/lengths")
    return bm25_from_index(postings, lengths, tuple(terms), id_col, k1, b)


def build_positional_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(postings, lengths) with POSITIONS: postings rows are
    (w, id, tf, positions) where ``positions`` is the sorted 1-based
    raw-split token indexes (empties keep their slot — the same position
    space ``bm25_phrase`` uses, so phrase/proximity scoring from the
    index is bit-identical to the direct path). Costs one posexplode at
    build time; phrase queries then touch |q| terms' postings instead of
    re-exploding the corpus. A positional index strictly subsumes the
    plain one: project positions away and it answers bag queries too."""
    toks = _token_stream(docs, id_col, text_col, with_pos=True)
    postings = toks.groupBy("w", "id").agg(
        F.count("*").cast("long").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )
    return postings, _doc_lengths(toks)


def bm25_phrase_from_index(
    postings: DataFrame,
    lengths: DataFrame,
    phrase: tuple[str, ...],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    phrase_weight: float = 1.0,
    prox_weight: float = 0.5,
) -> DataFrame:
    """Positional BM25 over a prebuilt positional index — same output
    (bit-identical, via the shared ``_bm25_micro_from`` +
    ``_bm25_phrase_from`` tails) as ``bm25_phrase`` run on the corpus,
    with the corpus text never touched."""
    terms = list(phrase)
    if len(terms) < 2:
        raise ValueError("phrase needs at least 2 terms")
    if any(not t for t in terms):
        raise ValueError("phrase terms must be non-empty")
    uniq = sorted(set(terms))
    totals = lengths.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs, tot_tokens = int(totals.n or 0), int(totals.tot or 0)
    if n_docs == 0:
        raise ValueError("empty index")
    hit = postings.filter(F.col("w").isin(uniq))
    bag = _bm25_micro_from(
        hit.select("w", "id", "tf"), lengths, n_docs, tot_tokens, k1, b
    )
    post = hit.select(
        "id", F.explode("positions").alias("pos"), "w"
    )
    return _bm25_phrase_from(
        post, bag, terms, id_col, phrase_weight, prox_weight
    )


def topk_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_len: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF keywords: (id, term, tf, df,
    score_micro, rank) — the corpus-audit summary of what each page is
    ABOUT, built from the same token space as the BM25 index
    (``_token_stream``) and the same Lucene idf micro-quantization as
    ``bm25_score``, so rankings agree with retrieval.

    ``score_micro`` = tf · round(1e6 · ln((n−df+0.5)/(df+0.5)+1)) — an
    exact bigint once the idf micro is fixed, so ordering (score desc,
    term asc) is deterministic across engines; ties resolve
    lexicographically. Terms shorter than ``min_len`` chars are
    dropped (single-char noise); stopwords need no list — idf sinks
    them.

    Scale: one (id, term) aggregate, a broadcast df join, one window
    on id. The only driver scalar is the corpus doc count."""
    toks = _token_stream(docs, id_col, text_col).filter(
        F.length("w") >= min_len
    )
    tf = toks.groupBy("id", "w").agg(F.count("*").cast("long").alias("tf"))
    n_docs = toks.select("id").distinct().count()
    if n_docs == 0:
        raise ValueError("no documents with at least one token")
    dfreq = tf.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    idf_micro = F.round(
        F.lit(1e6)
        * F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
    ).cast("long")
    scored = (
        tf.join(F.broadcast(dfreq.select("w", "df", idf_micro.alias("im"))), "w")
        .select(
            "id", "w", "tf", "df",
            (F.col("tf") * F.col("im")).alias("score_micro"),
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("id").orderBy(
            F.col("score_micro").desc(), F.col("w")
        )
    )
    return (
        scored.withColumn("rank", rk)
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("w").alias("term"),
            "tf", "df", "score_micro", "rank",
        )
    )


# ---- postings compression: Lucene-style blocked delta + LEB128 varint ----
#
# The index-SIZE lever at 100 TB: raw (w, id, tf) parquet postings carry
# two 8-byte ints per posting; delta-encoding sorted doc ids within
# fixed-size blocks and LEB128-packing (7 data bits per byte, msb =
# continuation) brings dense terms to ~1-2 bytes per posting. Blocks —
# not whole-term streams — keep the unit bounded: a stopword's postings
# list at 10^9 docs must never become one multi-GB row (the same star-cap
# discipline as the LSH buckets), and block-level first_id enables skip
# reads without decoding.

_VARINT_MAX_BYTES = 10  # 63 significant bits / 7 per byte


def _varint(v: int) -> bytes:
    """LEB128: little-endian 7-bit groups, high bit = more."""
    if v < 0:
        raise ValueError(f"varint needs v >= 0, got {v}")
    out = bytearray()
    while True:
        b7 = v & 0x7F
        v >>= 7
        if v:
            out.append(b7 | 0x80)
        else:
            out.append(b7)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """(value, next_pos); raises on truncation or overlong runs —
    a corrupt index block is an ERROR, not crawl garbage to drop."""
    v = 0
    shift = 0
    for i in range(_VARINT_MAX_BYTES):
        if pos >= len(buf):
            raise ValueError("truncated varint")
        byte = buf[pos]
        pos += 1
        v |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return v, pos
        shift += 7
    raise ValueError("overlong varint")


def compress_postings(
    postings: DataFrame, block: int = 128
) -> DataFrame:
    """(w, id, tf) postings → blocked compressed form: one row per
    (term, block of ≤``block`` postings) with columns (w, block_idx,
    n_postings, first_id, bytes_len, blob). Within a block the byte
    stream is ``varint(gap_k) · varint(tf_k)`` per posting in doc-id
    order, where gap_0 = 0 (the block's absolute start lives in the
    ``first_id`` column — that is what makes blocks independently
    skippable) and gap_k = id_k − id_{k−1}. Doc ids must be ≥ 0 and
    unique per term (``build_inverted_index`` guarantees both); the
    kernel raises on violations rather than emit an undecodable block.

    ``bytes_len`` is emitted beside the blob because it is the
    oracle-checkable face: an SQL engine cannot build the bytes but CAN
    predict their exact length from the same gap arithmetic and the
    LEB128 length ladder (1 byte per started 7-bit group) — so a wrong
    delta, a wrong block split, or a wrong varint width shifts a number
    the gate catches; the byte-for-byte content is covered by the
    ``decompress_postings`` roundtrip tests.

    Scale shape: one keyed window (rn → block_idx) + one groupBy on
    (w, block_idx) — both hash the term, so they share one exchange;
    the Arrow kernel sees ≤``block`` postings per row. No driver state.
    """
    if block < 1:
        raise ValueError(f"block must be >= 1, got {block}")
    import pandas as pd

    rn = F.row_number().over(Window.partitionBy("w").orderBy("id"))
    p = postings.withColumn(
        "block_idx", ((rn - 1) / block).cast("int")
    )
    grouped = p.groupBy("w", "block_idx").agg(
        F.sort_array(F.collect_list(F.struct("id", "tf"))).alias("pl")
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for w, bi, pl in zip(pdf["w"], pdf["block_idx"], pdf["pl"]):
                buf = bytearray()
                prev = None
                for e in pl:
                    i, t = int(e["id"]), int(e["tf"])
                    if i < 0:
                        raise ValueError(f"negative doc id {i}")
                    gap = 0 if prev is None else i - prev
                    if prev is not None and gap <= 0:
                        raise ValueError(f"duplicate/unsorted id {i}")
                    buf += _varint(gap)
                    buf += _varint(t)
                    prev = i
                rows.append(
                    (w, int(bi), len(pl), int(pl[0]["id"]), len(buf),
                     bytes(buf))
                )
            yield pd.DataFrame(
                rows,
                columns=["w", "block_idx", "n_postings", "first_id",
                         "bytes_len", "blob"],
            )

    return grouped.mapInPandas(
        kernel,
        "w string, block_idx int, n_postings long, first_id long,"
        " bytes_len long, blob binary",
    )


def decompress_postings(blocks: DataFrame) -> DataFrame:
    """Inverse of ``compress_postings``: blocked blobs → (w, id, tf)
    rows. A block whose stream length disagrees with ``n_postings``
    raises (corrupt index ≠ tolerant crawl input). One-to-many Arrow
    map, zero shuffles."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = []
            for w, n, first, blob in zip(
                pdf["w"], pdf["n_postings"], pdf["first_id"], pdf["blob"]
            ):
                buf = bytes(blob)
                pos = 0
                prev = int(first)
                for k in range(int(n)):
                    gap, pos = _read_varint(buf, pos)
                    tf, pos = _read_varint(buf, pos)
                    if k == 0:
                        if gap != 0:
                            raise ValueError("block must start at gap 0")
                    else:
                        prev += gap
                    rows.append((w, prev, tf))
                if pos != len(buf):
                    raise ValueError("trailing bytes in block")
            yield pd.DataFrame(rows, columns=["w", "id", "tf"])

    return blocks.select(
        "w", "n_postings", "first_id", "blob"
    ).mapInPandas(kernel, "w string, id long, tf long")


def postings_blocks_sql(
    block: int = 128, source: str = "documents", id_col: str = "doc_id"
) -> str:
    """Oracle twin of ``compress_postings`` over ``build_inverted_index``
    tokens: DuckDB rebuilds tf, the block split, the gaps, and sums the
    LEB128 length ladder — exact integers throughout."""
    def vlen(col: str) -> str:
        cases = " ".join(
            f"WHEN {col} < {1 << (7 * k)} THEN {k}" for k in range(1, 10)
        )
        return f"CASE {cases} ELSE 10 END"

    return (
        "WITH toks AS (SELECT id, w FROM (SELECT "
        f"{id_col} AS id, unnest(string_split(coalesce(text, ''), ' '))"
        f" AS w FROM {source}) WHERE w <> ''), "
        "tf AS (SELECT w, id, CAST(count(*) AS BIGINT) AS tf FROM toks"
        " GROUP BY w, id), "
        "p AS (SELECT w, id, tf,"
        " row_number() OVER (PARTITION BY w ORDER BY id) AS rn,"
        " lag(id) OVER (PARTITION BY w ORDER BY id) AS prev FROM tf), "
        f"b AS (SELECT w, CAST((rn - 1) // {block} AS INTEGER)"
        " AS block_idx, id, tf,"
        f" CASE WHEN (rn - 1) % {block} = 0 THEN 0"
        " ELSE id - prev END AS gap FROM p) "
        "SELECT w, block_idx, CAST(count(*) AS BIGINT) AS n_postings,"
        " CAST(min(id) AS BIGINT) AS first_id,"
        f" CAST(sum(({vlen('gap')}) + ({vlen('tf')})) AS BIGINT)"
        " AS bytes_len"
        " FROM b GROUP BY w, block_idx"
    )


def bm25_from_compressed(
    blocks: DataFrame,
    lengths: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 served straight off the COMPRESSED index: filter the blocked
    blobs to the |q| query terms (a term-column filter the scan pushes
    down — only the hit terms' blocks are ever decoded), LEB128-decode
    just those, and score through the shared ``bm25_from_index`` tail —
    so scores are bit-identical to both the raw-postings path and the
    direct corpus path, and the compression layer provably costs zero
    correctness. This is the read path that makes ``compress_postings``
    an index format rather than a storage trick: at 100 TB the query
    touches |q| terms × their blocks, never the corpus.

    Scale: the filter prunes BEFORE the Arrow decode stage; decode
    fan-out is ≤block postings per row; the scoring tail's only driver
    traffic is the same two scalars as ``bm25_from_index``."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    hit = blocks.filter(F.col("w").isin(list(terms)))
    return bm25_from_index(
        decompress_postings(hit), lengths, tuple(terms), id_col, k1, b
    )


def build_anchor_index(
    docs: DataFrame,
    links: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    href_col: str = "href",
    anchor_col: str = "anchor",
    anchor_weight: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Anchor-expanded inverted index: (postings, lengths) where each
    document's virtual text is its own tokens PLUS the tokens of every
    anchor pointing at it, the anchor tokens counted ``anchor_weight``
    times (BM25F-lite with an integer field weight — exact, no float
    field algebra).

    Anchor text is the web's oldest relevance signal: the words OTHER
    pages use to link to a document often describe it better than the
    document itself (navigational queries, acronyms, renamed products).
    Feeding the expanded index to ``bm25_from_index`` gives anchor-
    aware ranking with zero changes to the scoring tail.

    Discipline: anchors whose ``href`` is not a corpus document id are
    DROPPED (left-semi join against the corpus ids) — an index row for
    a page we never crawled would be fabrication; resolve redirects /
    canonicalize urls upstream so hrefs meet ids in one key space.

    Scale shape: the anchor side is link-count-sized (explode of short
    anchor strings), the semi join and the (w, id) aggregate hash on
    keys that grow with the corpus — no broadcast of corpus-sized
    relations, no skew beyond genuinely popular targets (which is real
    signal, and bounded per (w, id) by the aggregate)."""
    if anchor_weight < 1:
        raise ValueError("anchor_weight must be >= 1")
    doc_toks = _token_stream(docs, id_col, text_col).select(
        "id", "w", F.lit(1).cast("long").alias("c")
    )
    ids = docs.select(F.col(id_col).alias("id"))
    a_toks = (
        links.select(
            F.col(href_col).alias("id"),
            F.explode(
                F.split(F.coalesce(F.col(anchor_col), F.lit("")), " ")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .join(ids, "id", "left_semi")
        .select("id", "w", F.lit(int(anchor_weight)).cast("long").alias("c"))
    )
    unioned = doc_toks.unionByName(a_toks)
    postings = unioned.groupBy("w", "id").agg(F.sum("c").alias("tf"))
    lengths = unioned.groupBy("id").agg(F.sum("c").alias("dl"))
    return postings, lengths


def snippet_window(
    postings: DataFrame,
    query_terms: tuple[str, ...],
    window: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-biased snippet selection from the POSITIONAL index: for
    each document hitting ≥1 query term, the best fixed-width token
    window — (id, start_pos, end_pos, n_terms, n_hits) — where best
    means most DISTINCT query terms covered, then most total hits,
    then smallest start (every tie broken, fully deterministic). The
    serving layer slices tokens [start_pos, end_pos] out of the stored
    text to render the result-page snippet; the corpus itself is never
    re-scanned (the whole point of the positional index).

    Candidate starts are hit positions only — any window containing k
    hits can be left-shifted until its first hit is at the start
    without losing hits, so restricting anchors to hits loses nothing.

    Scale shape: hit postings explode to (id, w, pos) rows — |q| terms
    only, NOT the corpus token stream; the anchor×hit self-join is
    keyed on id (one co-partitioned exchange) and is O(h²) per doc in
    the number of query-term hits h, which is small for real queries —
    a query containing a stopword makes h large, so cap positions
    upstream (slice the postings row) before pathological queries, the
    same discipline as the phrase scorer."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    uniq = sorted(set(query_terms))
    hit = postings.filter(F.col("w").isin(uniq)).select(
        "id", "w", F.explode("positions").alias("pos")
    )
    anchors = hit.select(F.col("id").alias("aid"), F.col("pos").alias("apos"))
    j = anchors.join(
        hit,
        (F.col("aid") == F.col("id"))
        & (F.col("pos") >= F.col("apos"))
        & (F.col("pos") < F.col("apos") + F.lit(int(window))),
    )
    grp = j.groupBy("aid", "apos").agg(
        F.countDistinct("w").cast("long").alias("n_terms"),
        F.count("*").cast("long").alias("n_hits"),
    )
    w_best = Window.partitionBy("aid").orderBy(
        F.desc("n_terms"), F.desc("n_hits"), F.col("apos").asc()
    )
    return (
        grp.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            F.col("aid").alias(id_col),
            F.col("apos").alias("start_pos"),
            (F.col("apos") + F.lit(int(window) - 1)).alias("end_pos"),
            "n_terms",
            "n_hits",
        )
    )


def diversify_topk(
    scored: DataFrame,
    k: int,
    per_group: int = 2,
    id_col: str = "doc_id",
    group_col: str = "host",
    score_col: str = "score",
) -> DataFrame:
    """Result diversification: global top-``k`` with at most
    ``per_group`` results per group (host, domain, source) — the
    standard SERP rule preventing one template-heavy site from
    monopolizing a results page, and equally the corpus-sampling rule
    preventing one host from monopolizing an inspection sample.

    Two-stage, both bounded: (1) a per-group window keeps each group's
    ``per_group`` best (score desc, id asc — fully tie-broken), which
    shrinks the relation to ≤ per_group·|groups| rows; (2)
    ``orderBy(...).limit(k)`` over the survivors — physically a
    TakeOrderedAndProject (per-partition top-k heaps merged once), NOT
    a global sort and NOT a single-partition window; the final rank is
    then a window over the k surviving rows only, trivially bounded.

    Emits (id, group, score, rank) with rank 1..k dense over the final
    ordering."""
    if k < 1 or per_group < 1:
        raise ValueError("need k >= 1 and per_group >= 1")
    survivors = (
        scored.select(
            F.col(id_col).alias("id"),
            F.col(group_col).alias("grp"),
            F.col(score_col).alias("s"),
        )
        .withColumn(
            "gr",
            F.row_number().over(
                Window.partitionBy("grp").orderBy(
                    F.desc("s"), F.col("id").asc()
                )
            ),
        )
        .filter(F.col("gr") <= int(per_group))
    )
    top = survivors.orderBy(F.desc("s"), F.col("id").asc()).limit(int(k))
    w_k = Window.orderBy(F.desc("s"), F.col("id").asc())  # over k rows
    return top.withColumn("rank", F.row_number().over(w_k)).select(
        F.col("id").alias(id_col),
        F.col("grp").alias(group_col),
        F.col("s").alias(score_col),
        "rank",
    )


def merge_postings_delta(
    blocks: DataFrame,
    new_postings: DataFrame,
    block: int = 128,
) -> DataFrame:
    """Incremental index maintenance: merge a NEW crawl generation's
    postings (w, id, tf) into an existing compressed block index
    without touching the blocks that cannot change — the Lucene
    segment-append recast relationally.

    Contract: new doc ids are strictly greater than every indexed id
    of the same term (monotone crawl append — assign generation ids
    upstream; ``neardup_incremental_pairs`` follows the same snapshot
    discipline). A violating id RAISES in the kernel: an index is
    internal state, so corruption is a bug to surface, not crawl
    garbage to skip. The result is BYTE-IDENTICAL to
    ``compress_postings`` over the unioned postings:

    * terms with no new postings: every block passes through untouched
      (never decoded, never shuffled beyond the pass-through filter);
    * affected terms: only the LAST block is decoded — blocks before
      it hold exactly ``block`` postings whose ranks cannot shift under
      append, and each block's gaps are self-contained (gap_0 is 0
      against the stored absolute ``first_id``) — merged with the new
      list and re-encoded from ``last_idx`` onward.

    Scale shape: the delta side aggregates once per affected term; the
    tail join moves ONE block row per affected term; untouched blocks
    stream through a filter. Work is O(delta + affected-term tails),
    independent of total index size — the property that makes daily
    recrawl index updates affordable at 10^12 docs."""
    if block < 1:
        raise ValueError(f"block must be >= 1, got {block}")
    import pandas as pd

    out_schema = (
        "w string, block_idx int, n_postings long, first_id long,"
        " bytes_len long, blob binary"
    )
    affected = new_postings.select("w").distinct()
    last = (
        blocks.join(affected, "w", "left_semi")
        .groupBy("w")
        .agg(F.max("block_idx").alias("last_idx"))
    )
    untouched = (
        blocks.join(last, "w", "left")
        .filter(
            F.col("last_idx").isNull()
            | (F.col("block_idx") < F.col("last_idx"))
        )
        .select(
            "w", "block_idx", "n_postings", "first_id", "bytes_len", "blob"
        )
    )
    tail = blocks.join(last, "w").filter(
        F.col("block_idx") == F.col("last_idx")
    ).select(
        "w",
        F.col("blob").alias("tail_blob"),
        F.col("first_id").alias("tail_first"),
        "last_idx",
    )
    newlist = new_postings.groupBy("w").agg(
        F.sort_array(F.collect_list(F.struct("id", "tf"))).alias("nl")
    )
    merged_in = newlist.join(tail, "w", "left")

    blk = int(block)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for w, nl, tb, tfid, li in zip(
                pdf["w"], pdf["nl"], pdf["tail_blob"], pdf["tail_first"],
                pdf["last_idx"],
            ):
                pl = []
                if tb is not None:
                    # gap_0 is stored as 0; the absolute start is the
                    # block's first_id column — reconstruct against it
                    buf, pos, prev = bytes(tb), 0, int(tfid)
                    first = True
                    while pos < len(buf):
                        gap, pos = _read_varint(buf, pos)
                        tfv, pos = _read_varint(buf, pos)
                        if first and gap != 0:
                            raise ValueError(
                                f"corrupt tail block for '{w}':"
                                f" gap_0={gap}"
                            )
                        cur = prev if first else prev + gap
                        pl.append((cur, tfv))
                        prev = cur
                        first = False
                start_idx = 0 if tb is None else int(li)
                new_pairs = [(int(e["id"]), int(e["tf"])) for e in nl]
                if pl and new_pairs and new_pairs[0][0] <= pl[-1][0]:
                    raise ValueError(
                        f"monotone-append violated for '{w}':"
                        f" new id {new_pairs[0][0]} <= indexed"
                        f" {pl[-1][0]}"
                    )
                merged = pl + new_pairs
                for j in range(0, len(merged), blk):
                    chunk = merged[j : j + blk]
                    buf2 = bytearray()
                    prev2 = None
                    for i, t in chunk:
                        gap = 0 if prev2 is None else i - prev2
                        if prev2 is not None and gap <= 0:
                            raise ValueError(f"non-monotone id {i} in '{w}'")
                        buf2 += _varint(gap)
                        buf2 += _varint(t)
                        prev2 = i
                    rows.append(
                        (w, start_idx + j // blk, len(chunk), chunk[0][0],
                         len(buf2), bytes(buf2))
                    )
            yield pd.DataFrame(
                rows,
                columns=["w", "block_idx", "n_postings", "first_id",
                         "bytes_len", "blob"],
            )

    merged_blocks = merged_in.mapInPandas(kernel, out_schema)
    return untouched.unionByName(merged_blocks)


def recency_blend(
    scored: DataFrame,
    ts_col: str = "warc_ts",
    ref_date: str = "2026-01-01",
    halflife_days: int = 30,
    base_micro: int = 1_000_000,
    score_col: str = "score_micro",
) -> DataFrame:
    """Freshness-blended ranking: append ``blended_micro = score_micro
    + (base_micro >> (age_days div halflife_days))`` — an exact
    integer half-life decay (each elapsed half-life HALVES the bonus
    via one bigint shift, no float ``pow`` anywhere), the news-search
    blend where yesterday's adequate match outranks 2019's perfect
    one only while the relevance gap is smaller than the freshness
    bonus.

    ``age_days`` = whole days from the row's ``ts_col`` to
    ``ref_date`` (pass the query date explicitly — determinism
    discipline forbids now()); negative ages (future timestamps —
    clock-skewed servers are routine in crawls) clamp to 0, shifts
    past 62 to 0 bonus. One codegen projection, zero shuffles."""
    if halflife_days < 1 or base_micro < 0:
        raise ValueError("need halflife_days >= 1 and base_micro >= 0")
    shift_sql = (
        f"int(greatest(datediff(date'{ref_date}',"
        f" cast({ts_col} as date)), 0) div {int(halflife_days)})"
    )
    # shiftright wraps its count mod 64 (Java >>), so an un-guarded
    # 64-half-life-old doc would get the FULL bonus back — clamp first.
    # NULL/unparseable timestamps earn NO bonus (greatest(NULL, 0)
    # skips nulls and would otherwise hand corrupt rows the FULL
    # freshness boost): no evidence of freshness = no bonus.
    bonus = F.when(
        F.col(ts_col).cast("date").isNotNull()
        & (F.expr(shift_sql) <= 62),
        F.expr(f"shiftright({int(base_micro)}L, {shift_sql})"),
    ).otherwise(F.lit(0).cast("long"))
    return scored.withColumn(
        "blended_micro", (F.col(score_col) + bonus).cast("long")
    )
