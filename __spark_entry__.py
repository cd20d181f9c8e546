"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship extraction on sf0.001.
``queries()`` exposes each implemented operator from SURVEY.md §2 as a
callable (spark, sf_dir) -> DataFrame; ``oracle_sql()`` carries the
equivalent DuckDB SQL. Keys without oracle SQL (approximate / hash-seeded
operators: minhash LSH, simhash, SRP-bucketed ANN) get the driver's
rows-only check and are instead verified in tests/ against planted ground
truth.

Float determinism policy: oracle-checked queries avoid variable-order float
reductions — sums go through decimal(18,2) and back to double; ratios are
single IEEE divisions of exact ints; ANN outputs ranks (ints), not cosines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from comic_text_detector_spark.fixtures import wrap_html_expr
from comic_text_detector_spark.functions import textstats as TS
from comic_text_detector_spark.operators import joins as J
from comic_text_detector_spark.operators import windows as W
from comic_text_detector_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
)
from comic_text_detector_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from comic_text_detector_spark.plans.extract import (
    extract_fused,
    kept_nodes,
    nodes_table,
)

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _wrapped_docs(spark: SparkSession, sf_dir: str, two_p: bool = False) -> DataFrame:
    # documents.parquet is ONE small file → one scan partition, which
    # serialized the downstream html-wrap + Arrow extract kernel (the
    # whole cost of the extract/pipeline queries) onto a single core.
    # Spread the narrow (doc_id, text) rows BEFORE the wrap so the
    # exchange moves plain text once and every core runs the kernel.
    return (
        _t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("doc_id").cast("string").alias("url"),
            wrap_html_expr(F.col("text"), two_paragraphs=two_p).alias("html"),
        )
    )


def _dec_sum(col, alias):
    """Order-independent float aggregation: decimal-exact sum cast to double."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: boilerplate-strip main-content extraction, byte-identical
    round trip over the sf0.001 documents table."""
    return extract_fused(_wrapped_docs(spark, SF_DEFAULT), num_partitions=8)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_extract_roundtrip(spark, sf_dir):
    out = extract_fused(_wrapped_docs(spark, sf_dir))
    return out.select(F.col("url").cast("bigint").alias("doc_id"), "text")


def _q_extract_roundtrip_2p(spark, sf_dir):
    out = extract_fused(_wrapped_docs(spark, sf_dir, two_p=True))
    return out.select(F.col("url").cast("bigint").alias("doc_id"), "text")


def _q_nodes_content_chars(spark, sf_dir):
    kept = kept_nodes(nodes_table(_wrapped_docs(spark, sf_dir)))
    return kept.groupBy(F.col("url").cast("bigint").alias("doc_id")).agg(
        F.sum(F.length("text")).alias("content_chars")
    )


def _q_asof_latest_event(spark, sf_dir):
    # max_by over a (ts, event_id) struct == the old row_number()=1 window
    # ordered ts DESC, event_id DESC: struct ordering compares ts first
    # (nulls smallest, matching DESC NULLS LAST) then event_id. The
    # aggregate does partial (map-side) reduction and needs no sort, where
    # the window paid two sorts around its exchange.
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", F.struct("ts", "event_id")).alias("event_id")
    )


def _q_w3_sessionize_events(spark, sf_dir):
    # ts is TIMESTAMP_NTZ in the parquet; epoch micros of the naive value
    # (DuckDB epoch_us semantics) == unix_micros of the value read as UTC.
    #
    # n_sessions == 1 + (number of gaps > 30 min between consecutive
    # events in (ts_us, event_id) order). The old lag-window + running-sum
    # + max formulation paid a full per-user sort exchange; this computes
    # the same count with ONE map-side-combined collect_list + array_sort
    # + fold (the span-dedup island-assembly shape). array_sort on the
    # (ts_us, event_id) struct is exactly the window's ordering, and the
    # null-gap case folds to +0 just as the old when().otherwise(0) did —
    # results verified identical at sf0.1 and a 10x probe. Per-user
    # arrays are bounded by events-per-user (~100 at bench scales); for
    # an unbounded-user stream keep the window form.
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "named_struct('ts_us', unix_micros(cast(ts as timestamp)),"
        " 'event_id', event_id) as e",
    )
    return ev.groupBy("user_id").agg(
        F.expr(
            "cast(aggregate("
            " array_sort(collect_list(e)),"
            " named_struct('prev', cast(null as bigint),"
            "              'n', cast(0 as bigint)),"
            " (acc, x) -> named_struct("
            "   'prev', x.ts_us,"
            "   'n', acc.n + IF(acc.prev IS NOT NULL"
            "                   AND x.ts_us - acc.prev > 1800000000, 1, 0)),"
            " acc -> acc.n + 1) as bigint) as n_sessions"
        )
    )


def _q_w4_topk_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return W.topk_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    ).select("o_custkey", "o_orderkey", F.col("rn").cast("int").alias("rn"))


def _q_a14_second_largest_order(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return W.nth_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        2,
    ).select("o_custkey", "o_orderkey")


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            _dec_sum("l_discount", "sum_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q_a3_histogram_price(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / F.lit(1000.0))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(F.count("*").alias("cnt"))
    )


def _q_j5_revenue_by_segment(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            _dec_sum("o_totalprice", "revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def _intervals(spark, sf_dir, etype: str, length: float, idn: str):
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == etype)
    return ev.select(
        "user_id",
        F.col("event_id").alias(idn),
        F.col("value").alias(f"{idn}_start"),
        (F.col("value") + length).alias(f"{idn}_end"),
    )


def _q_j1_overlap_argmax(spark, sf_dir):
    lines = _intervals(spark, sf_dir, "click", 5.0, "line_id")
    blocks = _intervals(spark, sf_dir, "view", 20.0, "block_id")
    out = J.overlap_argmax_join(
        lines,
        blocks,
        "user_id",
        "line_id",
        "block_id",
        "line_id_start",
        "line_id_end",
        "block_id_start",
        "block_id_end",
        score_thresh=0.4,
    )
    return out.select("user_id", "line_id", "assigned_block", "assigned_score")


def _q_j3_recover_uncovered(spark, sf_dir):
    comps = _intervals(spark, sf_dir, "error", 10.0, "comp_id")
    blocks = _intervals(spark, sf_dir, "purchase", 15.0, "block_id")
    out = J.recover_uncovered(
        comps,
        blocks,
        "user_id",
        "comp_id",
        "comp_id_start",
        "comp_id_end",
        "block_id_start",
        "block_id_end",
        max_coverage=0.5,
    )
    return out.select("user_id", "comp_id", "max_coverage")


def _q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select(
        "content_hash", "representative", "dup_count"
    )


def _q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "source",
        F.array_distinct(shingles(F.col("text"), 3)).alias("sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.source") == F.col("b.source")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("jaccard"),
        )
    )
    return pairs.filter(F.col("jaccard") >= 0.05)


def _q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TS.lang_id(F.col("text")).alias("lang_pred"))


def _q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.n_words(F.col("text")).cast("bigint").alias("n_words"),
        TS.quality_score(F.col("text")).alias("quality"),
    )


def _q_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        TS.token_count_regex(F.col("text")).alias("n_regex_tokens"),
    )


def _q_fingerprint_kgram(spark, sf_dir):
    from comic_text_detector_spark.functions.textstats import kgram_fingerprints

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return kgram_fingerprints(docs, "doc_id", "text", k=8)


def _q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    # embeddings.parquet is one small file → ONE scan partition, so the
    # |corpus| x |queries| scoring leg (the whole cost of this query) ran
    # single-threaded. Spread the corpus side first — the exchange moves
    # only the corpus rows themselves (KBs), the broadcast query side is
    # untouched, and scoring parallelizes across every core (measured
    # 0.80 s → 0.35 s noop at sf0.1 / local[32]).
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    out = cosine_topk(corpus, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id"
    )


# --- geometry / spans / refinement / sinks / grouping sets ---


def _boxes(spark, sf_dir):
    """Deterministic boxes derived from orders (ints → exact doubles)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_custkey") % 20).alias("page_id"),
        (F.col("o_orderkey") % 97).cast("double").alias("x1"),
        (F.col("o_custkey") % 89).cast("double").alias("y1"),
        ((F.col("o_orderkey") % 97) + 1 + F.col("o_orderkey") % 53)
        .cast("double")
        .alias("x2"),
        ((F.col("o_custkey") % 89) + 1 + F.col("o_custkey") % 41)
        .cast("double")
        .alias("y2"),
    )


def _q_f_geometry_boxes(spark, sf_dir):
    from comic_text_detector_spark.functions.geometry import iou, union_area, xyxy2yolo

    b = _boxes(spark, sf_dir)
    qx1, qy1, qx2, qy2 = (F.lit(20.0), F.lit(20.0), F.lit(60.0), F.lit(60.0))
    yolo = xyxy2yolo(
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"), F.lit(128.0), F.lit(128.0)
    )
    return b.select(
        "o_orderkey",
        union_area(
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"), qx1, qy1, qx2, qy2
        ).alias("ua"),
        iou(
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"), qx1, qy1, qx2, qy2
        ).alias("iou"),
        yolo[0].alias("ycx"),
        yolo[3].alias("yh"),
    )


def _q_f13_f14_min_rect_aspect(spark, sf_dir):
    """F13+F14: rotate each box by a per-row angle, then min_rect
    (de-rotate → axis-aligned bbox) must recover the ORIGINAL box exactly
    (trig round trip, checked to 4dp), and the midpoint-norm aspect ratio
    equals height/width. Oracle is pure integer arithmetic — no trig."""
    from comic_text_detector_spark.functions.geometry import (
        aspect_ratio,
        min_rect,
        rotate_polygon,
    )

    b = _boxes(spark, sf_dir)
    cx = (F.col("x1") + F.col("x2")) / 2
    cy = (F.col("y1") + F.col("y2")) / 2
    angle = F.radians((F.col("o_orderkey") % 60).cast("double") - 30.0)
    pts = F.array(
        F.array(F.col("x1"), F.col("y1")),
        F.array(F.col("x2"), F.col("y1")),
        F.array(F.col("x2"), F.col("y2")),
        F.array(F.col("x1"), F.col("y2")),
    )
    rect = min_rect(rotate_polygon(pts, cx, cy, angle), cx, cy, angle, rotate_back=False)
    # aspect over the 4dp-rounded (exact-integer) corners: the midpoint
    # norms then reduce to exact h and w, so the single IEEE division
    # matches DuckDB bit-for-bit — rounding a trig-perturbed ratio at a
    # representable boundary (e.g. 1/32) would not.
    rounded = F.transform(
        rect, lambda p: F.array(F.round(p[0], 4), F.round(p[1], 4))
    )
    return b.select(
        "o_orderkey",
        F.round(rect[0][0], 4).alias("rx1"),
        F.round(rect[0][1], 4).alias("ry1"),
        F.round(rect[2][0], 4).alias("rx2"),
        F.round(rect[2][1], 4).alias("ry2"),
        aspect_ratio(rounded).alias("aspect"),
    )


def _q_f18_shrink_unclip(spark, sf_dir):
    """F18 interval shrink/unclip (DBNet offset-distance analog)."""
    from comic_text_detector_spark.functions.geometry import shrink_span, unclip_span

    b = _boxes(spark, sf_dir)
    ss, se = shrink_span(F.col("x1"), F.col("x2"), 0.4)
    us, ue = unclip_span(F.col("x1"), F.col("x2"), 1.5)
    return b.select(
        "o_orderkey",
        F.round(ss, 6).alias("ss"),
        F.round(se, 6).alias("se"),
        F.round(us, 6).alias("us"),
        F.round(ue, 6).alias("ue"),
    )


def _q_f16_stroke_width(spark, sf_dir):
    """F16 stroke-width-from-variance recast: population std of event
    values per user from exact decimal sums (order-independent)."""
    from comic_text_detector_spark.functions.textstats import stroke_width_proxy

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    return stroke_width_proxy(ev, "user_id", "value")


def _q_f17_expand_eng(spark, sf_dir):
    """F17 eng-block expansion: grow each span by max(fontsize*0.1, 2),
    clipped to the page."""
    from comic_text_detector_spark.functions.geometry import expand_eng_span

    b = _boxes(spark, sf_dir).withColumn(
        "font_size", (10.0 + (F.col("o_orderkey") % 7)).cast("double")
    )
    s, e = expand_eng_span(
        F.col("x1"), F.col("x2"), F.col("font_size"), F.lit(128.0)
    )
    return b.select("o_orderkey", s.alias("es"), e.alias("ee"))


def _q_pii_scrub(spark, sf_dir):
    """Training-data hygiene: seed each document with a deterministic email
    + phone, scrub both, count both — the oracle replays the seeding and
    the (RE2 ∩ Java) regexes in DuckDB."""
    from comic_text_detector_spark.functions.textstats import pii_counts, pii_scrub

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    ne, np_ = pii_counts(F.col("t"))
    return seeded.select(
        "doc_id",
        pii_scrub(F.col("t")).alias("scrubbed"),
        ne.alias("n_emails"),
        np_.alias("n_phones"),
    )


def _q_rep_top_bigram(spark, sf_dir):
    """Gopher-style repetition signal: most frequent word 2-gram per doc."""
    from comic_text_detector_spark.functions.textstats import top_bigram_fraction

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return top_bigram_fraction(d, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "top_gram", "top_count", "top_fraction"
    )


def _q_repetition_signals(spark, sf_dir):
    """The full Gopher repetition battery (Rae et al. 2021 §A1.1): per-doc
    char fraction covered by the top word n-gram (n=2..4) and by ANY
    duplicated n-gram with overlap counted once (n=5..10)."""
    from comic_text_detector_spark.functions.textstats import repetition_signals

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(d, "doc_id", "text")


_DSIR_TGT = "doc_id % 7 = 0"  # deterministic stand-in "high-quality target"


def _q_tokenize_ids(spark, sf_dir):
    """BPE token-id emission: docs → boundary-chain BPE tokens → dense
    lexicographic vocab ids via a one-row broadcast map (no corpus
    shuffle). ids compared as csv so the gate stays array-convention-free."""
    from comic_text_detector_spark.operators.tokenize import tokenize_ids

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tokenize_ids(docs).select(
        "doc_id", "n_tokens", F.array_join("ids", ",").alias("ids_csv")
    )


def _q_pack_token_ids(spark, sf_dir):
    """Fixed-length training sequences: tokenize → split-long greedy pack
    (budget 96) → per-pack id assembly + padding. Every row's ids has
    exactly budget entries; token conservation is invariant-tested."""
    from comic_text_detector_spark.operators.tokenize import pack_token_ids

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_token_ids(docs, budget=96, n_buckets=8).select(
        F.col("bucket").cast("int").alias("bucket"),
        "pack_id",
        "n_docs",
        "n_tokens",
        F.array_join("ids", ",").alias("ids_csv"),
    )


def _tokenize_ids_oracle() -> str:
    from comic_text_detector_spark.operators.tokenize import tokenize_ids_sql

    return tokenize_ids_sql()


def _pack_token_ids_oracle() -> str:
    from comic_text_detector_spark.operators.tokenize import (
        pack_token_ids_sql,
    )

    return pack_token_ids_sql(budget=96, n_buckets=8)


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    target-vs-raw log-likelihood ratio per document, micro-int exact."""
    from comic_text_detector_spark.operators.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dsir_weights(docs, docs.filter(_DSIR_TGT))


def _q_dsir_select(spark, sf_dir):
    """DSIR Gumbel-top-k sampling (seed=7, k=100): the paper's sampling
    mode with an md5-portable seeded Gumbel key."""
    from comic_text_detector_spark.operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dsir_select(docs, docs.filter(_DSIR_TGT), k=100, seed=7)


def _q_dedup_exact_survivors(spark, sf_dir):
    """Survivors API for exact dedup: duplicate the corpus under shifted
    ids, keep the min-id row per distinct text — output is exactly the
    original rows."""
    from comic_text_detector_spark.operators.dedup import exact_dedup_survivors

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    u = d.unionByName(
        d.select((F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text")
    )
    return exact_dedup_survivors(u, "text", "doc_id").select("doc_id", "text")


def _q_w1_reading_order(spark, sf_dir):
    from comic_text_detector_spark.functions.textstats import reading_order_weight

    b = _boxes(spark, sf_dir).withColumn(
        "weight",
        reading_order_weight(
            F.col("x1"), F.col("y1"), F.lit(128.0), F.lit(128.0)
        ),
    )
    w = Window.partitionBy("page_id").orderBy(
        F.col("weight").asc(), F.col("o_orderkey").asc()
    )
    return b.select(
        "page_id",
        "o_orderkey",
        F.row_number().over(w).cast("int").alias("ro_rank"),
    )


def _q_x1_coalesce_spans(spark, sf_dir):
    from comic_text_detector_spark.operators.spans import coalesce_spans

    iv = _intervals(spark, sf_dir, "click", 5.0, "line_id").select(
        "user_id",
        F.col("line_id_start").alias("char_start"),
        F.col("line_id_end").alias("char_end"),
    )
    return coalesce_spans(iv, ["user_id"])


def _q_x2_interval_xor(spark, sf_dir):
    from comic_text_detector_spark.operators.spans import interval_xor_len

    a = _intervals(spark, sf_dir, "click", 5.0, "i").select(
        "user_id", F.col("i_start").alias("char_start"), F.col("i_end").alias("char_end")
    )
    b = _intervals(spark, sf_dir, "view", 20.0, "i").select(
        "user_id", F.col("i_start").alias("char_start"), F.col("i_end").alias("char_end")
    )
    return interval_xor_len(a, b, ["user_id"])


def _q_a6_min_xor_candidate(spark, sf_dir):
    from comic_text_detector_spark.operators.spans import min_xor_candidate

    cands = _intervals(spark, sf_dir, "click", 5.0, "i").select(
        "user_id",
        (F.col("i") % 3).cast("int").alias("candidate_id"),
        F.col("i_start").alias("char_start"),
        F.col("i_end").alias("char_end"),
    )
    target = _intervals(spark, sf_dir, "view", 20.0, "i").select(
        "user_id", F.col("i_start").alias("char_start"), F.col("i_end").alias("char_end")
    )
    return min_xor_candidate(cands, target, ["user_id"])


def _q_u4_refine_hysteresis(spark, sf_dir):
    from comic_text_detector_spark.operators.refine import refine_blocks_hysteresis

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nodes = ev.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("node_id"),
        (F.col("value") / 500.0).alias("score"),
    )
    blocks = ev.select("user_id").distinct().select(
        "user_id",
        F.lit(0).alias("block_id"),
        F.lit(3).alias("node_start"),
        F.lit(12).alias("node_end"),
    )
    out = refine_blocks_hysteresis(nodes, blocks, group_col="user_id")
    return out.select(
        "user_id",
        "block_id",
        F.col("node_start").cast("int").alias("node_start"),
        F.col("node_end").cast("int").alias("node_end"),
    )


def _q_j4_merge_spans_gap(spark, sf_dir):
    from comic_text_detector_spark.operators.merge import merge_spans_by_gap

    iv = _intervals(spark, sf_dir, "error", 10.0, "i").select(
        "user_id", F.col("i_start").alias("char_start"), F.col("i_end").alias("char_end")
    )
    return merge_spans_by_gap(iv, "user_id", gap_expr=F.lit(50.0))


def _q_s4_yolo_labels(spark, sf_dir):
    from comic_text_detector_spark.sources.sinks import yolo_label_lines

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        yolo_label_lines(
            (F.col("o_orderkey") % 3).cast("int"),
            (F.col("o_orderkey") % 64) / 64.0,
            (F.col("o_custkey") % 64) / 64.0,
            (1 + F.col("o_orderkey") % 32) / 64.0,
            (1 + F.col("o_custkey") % 32) / 64.0,
        ).alias("label"),
    )


def _q_s5_line_poly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    x1 = F.col("o_orderkey") % 97
    y1 = F.col("o_custkey") % 89
    x2 = x1 + 10
    y2 = y1 + 5
    flat = F.array(x1, y1, x2, y1, x2, y2, x1, y2)
    return o.select(
        "o_orderkey",
        F.array_join(
            F.transform(flat, lambda v: v.cast("int").cast("string")), " "
        ).alias("poly"),
    )


def _q_grouping_sets_report(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT event_type, user_id % 10 AS ubucket, count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sumv
        FROM events_v
        GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
        """
    )


def _q_multimodal_meta(spark, sf_dir):
    from comic_text_detector_spark.multimodal.binary_ops import sniff_mime

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    return docs.select(
        "doc_id",
        F.length("media").cast("bigint").alias("n_bytes"),
        F.sha2("media", 256).alias("sha256"),
        sniff_mime(F.col("media")).alias("sniffed_mime"),
    )


def _q_multimodal_decode(spark, sf_dir):
    """Real image metadata decode over real synthesized bytes: each doc_id
    deterministically becomes a valid PNG / JPEG / GIF (dimensions derived
    from doc_id), decode_image_meta parses the actual headers, and the
    oracle predicts the metadata from the same arithmetic — a golden round
    trip through genuine image bytes (multimodal/binary_ops.py)."""
    import pandas as pd

    from comic_text_detector_spark.multimodal.binary_ops import (
        decode_image_meta,
        synthesize_gif,
        synthesize_jpeg,
        synthesize_png,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            media = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 1 + i % 64, 1 + i % 48
                k = i % 3
                media.append(
                    synthesize_png(w, h) if k == 0
                    else synthesize_jpeg(w, h) if k == 1
                    else synthesize_gif(w, h)
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "media": media}
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return decode_image_meta(m).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "mime", "width", "height", "channels", "ok",
    )


def _q_multimodal_letterbox(spark, sf_dir):
    """F5/F6 made real: each doc_id becomes a genuine PNG (dims from
    doc_id), the kernel DECODES THE ACTUAL PIXELS, letterboxes to 64x64
    (nearest-neighbor + gray pad, reference utils/imgproc_utils.py:15-43),
    and re-encodes. The oracle predicts the output geometry from the same
    integer contract (scaled short side = floor(short*64/long + 0.5)) —
    so a pixel-path bug that warps geometry fails the gate."""
    import pandas as pd

    from comic_text_detector_spark.multimodal.binary_ops import synthesize_png
    from comic_text_detector_spark.multimodal.pixels import letterbox_images

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [str(i) for i in ids],
                    "media": [
                        synthesize_png(1 + i % 64, 1 + i % 48) for i in ids
                    ],
                }
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return letterbox_images(m, size=64).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "in_w", "in_h", "out_w", "out_h", "pad_left", "pad_top",
    )


def _synth_wav_bytes(i: int) -> bytes:
    """Deterministic golden WAV for doc_id ``i`` — three format variants
    (16-bit mono w/ varying rate, 16-bit stereo, 8-bit mono) whose samples
    are closed-form modular arithmetic, so the oracle recomputes every
    feature without parsing a byte."""
    from comic_text_detector_spark.multimodal.wav import synthesize_wav

    n = 120 + i % 101
    k = i % 3
    c0 = [((i * 31 + 7 * t * t) % 2001) - 1000 for t in range(n)]
    if k == 0:
        return synthesize_wav([c0], 8000 + (i % 5) * 1000, 16)
    if k == 1:
        c1 = [((i * 17 + 13 * t) % 2001) - 1000 for t in range(n)]
        return synthesize_wav([c0, c1], 16000, 16)
    return synthesize_wav(
        [[((i + 5 * t) % 256) - 128 for t in range(n)]], 11025, 8
    )


def _wav_media_df(spark, sf_dir):
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [str(i) for i in ids],
                    "media": [_synth_wav_bytes(i) for i in ids],
                }
            )

    return docs.mapInPandas(synth, "media_id string, media binary")


def _q_audio_features(spark, sf_dir):
    """Audio made real: each doc_id becomes a genuine RIFF PCM WAV
    (mono/stereo, 8/16-bit, samples from closed-form arithmetic), the
    kernel parses the ACTUAL bytes back (multimodal/wav.py), and the
    oracle predicts every feature — duration, peak, exact energy,
    floor-milli RMS, zero crossings — from the same formulas. A byte-level
    parser bug (chunk walk, sample width, channel de-interleave) fails the
    value hash."""
    from comic_text_detector_spark.multimodal.wav import decode_audio_features

    return decode_audio_features(_wav_media_df(spark, sf_dir)).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "sample_rate", "channels", "bits", "n_frames", "duration_ms",
        "peak", "sum_sq", "rms_milli", "zero_crossings", "ok",
    )


def _q_audio_frame_energy(spark, sf_dir):
    """Windowed channel-0 energy over real decoded WAV samples (64-sample
    frames, exact bigint energy) — the one-to-many audio UDTF shape, same
    contract as video frame sampling."""
    from comic_text_detector_spark.multimodal.wav import wav_frame_energy

    return wav_frame_energy(_wav_media_df(spark, sf_dir), frame_len=64).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "frame_idx", "n", "energy",
    )


def _q_charset_decode(spark, sf_dir):
    """Charset sniff + decode over REAL synthesized bytes
    (functions/charset.py): BOM'd utf-8, BOM'd utf-16-le, declared
    windows-1252 with curly quotes, and undeclared high-byte text that
    fails utf-8 validation into the cp1252 fallback — the oracle
    predicts (charset, text) per doc including the non-ASCII chars."""
    import pandas as pd

    from comic_text_detector_spark.functions.charset import decode_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(x) for x in pdf["doc_id"]]
            media = []
            for i in ids:
                k = i % 4
                if k == 0:
                    media.append(b"\xef\xbb\xbf" + f"txt{i} caf\xe9".encode())
                elif k == 1:
                    media.append(b"\xff\xfe" + f"u16 {i}".encode("utf-16-le"))
                elif k == 2:
                    media.append(
                        b'<meta charset="windows-1252">'
                        + b"\x93" + f"q{i}".encode("ascii") + b"\x94"
                    )
                else:
                    media.append(f"plain {i} ".encode("ascii") + b"\xe9")
            yield pd.DataFrame(
                {"media_id": [str(i) for i in ids], "media": media}
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return decode_pages(m).select(
        F.col("media_id").cast("bigint").alias("doc_id"), "charset", "text"
    )


def _q_snapshot_diff(spark, sf_dir):
    """Recrawl snapshot diff (operators/curation.py::snapshot_diff):
    added/removed/changed/unchanged per url via an md5-keyed full-outer
    join — the audit a recrawl pipeline runs before deciding what to
    reprocess."""
    from comic_text_detector_spark.operators.curation import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return snapshot_diff(old, new, "doc_id", "text")


def _q_normalize_text(spark, sf_dir):
    """Unicode canonicalization (functions/textstats.py::normalize_text):
    accented/digraph text synthesized from doc_id, normalized by Python
    unicodedata on the Spark side and by nfc_normalize/strip_accents/
    lower in DuckDB — two INDEPENDENT Unicode implementations must
    produce identical bytes."""
    from comic_text_detector_spark.functions.textstats import normalize_text

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Éc"), F.col("doc_id").cast("string"),
            F.lit("ole ÑAÏVE ü"), (F.col("doc_id") % 7).cast("string"),
            F.lit(" ÅNGSTRÖM çĆevapčići Ωμέγα Straße"),
        ).alias("text"),
    )
    return normalize_text(docs)


def _q_gopher_quality(spark, sf_dir):
    """Gopher-style heuristic quality battery (operators/curation.py::
    gopher_quality): word/line stats, duplicate-line fractions,
    bullet/ellipsis/symbol ratios, stopword presence — one codegen'd
    Project, every count exact, every fraction one IEEE division, replayed
    verbatim by the DuckDB list-function oracle."""
    from comic_text_detector_spark.operators.curation import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


def _q_temperature_sample(spark, sf_dir):
    """α-temperature mixture rebalancing (operators/curation.py::
    temperature_sample): rarest language keeps all docs, common ones
    downsample at sqrt(n_min/n_l) — exact counts, one correctly-rounded
    sqrt, md5-portable keep decision, so DuckDB selects the same rows."""
    from comic_text_detector_spark.operators.curation import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return temperature_sample(docs, by="lang", alpha=0.5).select(
        "doc_id", "lang", "rate"
    )


def _q_bloom_new_urls(spark, sf_dir):
    """Incremental-crawl dedup via a relational Bloom prefilter
    (operators/bloom.py::bloom_new_keys): which of the increment's keys
    has the base corpus never seen. The bloom (salted md5_long probes,
    bit_or word aggregate, k broadcast-join lookups) is performance-only —
    the output is the EXACT set difference, so the oracle is a plain
    anti-join; a false-negative bug in the bit arithmetic would drop keys
    and fail the row count."""
    from comic_text_detector_spark.operators.bloom import bloom_new_keys

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 < 4).select(
        F.concat(F.lit("k"), (F.col("doc_id") % 400).cast("string")).alias("url")
    )
    incr = docs.select(
        F.concat(F.lit("k"), (F.col("doc_id") % 600).cast("string")).alias("url")
    )
    return bloom_new_keys(base, incr, "url")


def _q_chunk_docs(spark, sf_dir):
    """Sliding-window training chunking (operators/packing.py::
    chunk_sliding): 32-token windows, stride 24 — closed-form window
    count, one Project + one sequence-explode, zero shuffle."""
    from comic_text_detector_spark.operators.packing import chunk_sliding

    return chunk_sliding(_t(spark, sf_dir, "documents"), chunk=32, stride=24)


def _q_multimodal_letterbox_jpeg(spark, sf_dir):
    """F5/F6 over the dominant crawl format: each doc_id becomes a REAL
    baseline JPEG (SOF0 sequential Huffman, synthesized and decoded by the
    from-scratch codec in multimodal/jpeg.py — no codec library), the
    kernel decodes the actual entropy-coded pixels, letterboxes to 64x64,
    and re-encodes. Even doc_ids are baseline (SOF0) files, odd ones are
    PROGRESSIVE (SOF2) — so the gate exercises the full G.2 multi-scan
    decode path too. Same integer geometry oracle as the PNG variant, so
    a JPEG pixel-path bug that warps geometry fails the gate. Dims are
    kept small (<=16x12) so per-row Huffman decodes stay cheap."""
    import pandas as pd

    import numpy as np

    from comic_text_detector_spark.multimodal.jpeg import (
        encode_jpeg_progressive,
        synthesize_jpeg_real,
    )
    from comic_text_detector_spark.multimodal.pixels import letterbox_images

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            media = []
            for i in ids:
                w, h = 1 + i % 16, 1 + i % 12
                if i % 2:  # odd rows: PROGRESSIVE (SOF2) files
                    arr = np.tile(
                        np.array([200, 80, 30], np.uint8)[None, None],
                        (h, w, 1),
                    )
                    media.append(encode_jpeg_progressive(arr, 90))
                else:  # even rows: baseline (SOF0)
                    media.append(synthesize_jpeg_real(w, h))
            yield pd.DataFrame(
                {"media_id": [str(i) for i in ids], "media": media}
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return letterbox_images(m, size=64).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "in_w", "in_h", "out_w", "out_h", "pad_left", "pad_top",
    )


def _q_multimodal_letterbox_gif(spark, sf_dir):
    """F5/F6 over the third crawl format: each doc_id becomes a REAL
    GIF89a (LZW-coded by the from-scratch codec in multimodal/gif.py),
    the kernel LZW-decodes the actual pixels, letterboxes to 64x64, and
    re-encodes. Same integer geometry oracle as the PNG/JPEG variants."""
    import pandas as pd

    from comic_text_detector_spark.multimodal.gif import synthesize_gif_real
    from comic_text_detector_spark.multimodal.pixels import letterbox_images

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [str(i) for i in ids],
                    "media": [
                        synthesize_gif_real(1 + i % 16, 1 + i % 12)
                        for i in ids
                    ],
                }
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return letterbox_images(m, size=64).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "in_w", "in_h", "out_w", "out_h", "pad_left", "pad_top",
    )


def _q_multimodal_gif_frames(spark, sf_dir):
    """GIF ANIMATION compositing through real bytes: each doc_id becomes a
    multi-frame GIF89a (full-screen base frame + 1x1 partial-update frames
    with disposal 'leave'), decode_gif_frames composites every frame onto
    the logical screen, and gif_frame_stats reports the frame count plus
    the final screen's integer pixel sum. The oracle predicts that sum
    arithmetically — base color everywhere except the n-1 overwritten
    pixels — so a compositing bug (wrong rect, wrong disposal, dropped
    frame) changes last_sum and fails the gate (multimodal/gif.py)."""
    import numpy as np
    import pandas as pd

    from comic_text_detector_spark.multimodal.gif import (
        encode_gif_animation,
        gif_frame_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            media = []
            for i in ids:
                w, h = 4 + i % 13, 3 + i % 11
                n = 1 + i % 4
                c0 = (i % 256, (i * 3) % 256, (i * 7) % 256)
                frames = [{
                    "arr": np.tile(
                        np.array(c0, np.uint8)[None, None], (h, w, 1)
                    ),
                    "disposal": 1,
                }]
                for k in range(1, n):
                    ck = ((i + k) % 256, (i * 5 + k) % 256,
                          (i * 11 + 3 * k) % 256)
                    frames.append({
                        "arr": np.array(ck, np.uint8)[None, None, :],
                        "left": k - 1, "top": 0, "disposal": 1,
                    })
                media.append(encode_gif_animation(frames, screen=(w, h)))
            yield pd.DataFrame(
                {"media_id": [str(i) for i in ids], "media": media}
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return gif_frame_stats(m).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "n_frames", "width", "height", "last_sum",
    )


def _q_extract_blocks(spark, sf_dir):
    """End-to-end block surface: extraction → exploded spans → per-block
    text slice + language tag (the TextBlock record analog, F22/W1/W2).
    With the oracle wrap every doc yields exactly one block whose text is
    the original document text."""
    out = extract_fused(_wrapped_docs(spark, sf_dir, two_p=True))
    ex = out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "text",
        F.explode("spans").alias("s"),
    )
    block_text = F.substring(
        F.col("text"), F.col("s.char_start") + 1, F.col("s.char_end") - F.col("s.char_start")
    )
    return ex.select(
        "doc_id",
        F.col("s.block_id").alias("block_id"),
        block_text.alias("block_text"),
        TS.lang_id(block_text).alias("block_lang"),
    )


def _q_pipeline_e2e(spark, sf_dir):
    """The full training-data pipeline in one plan: wrap → extract (byte-
    identical) → quality/language/token stats → exact-dedup accounting.
    Because extraction is a byte-identical roundtrip, the oracle computes the
    same stats directly over documents.text."""
    out = extract_fused(_wrapped_docs(spark, sf_dir, two_p=True))
    enriched = out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "text",
        TS.lang_id(F.col("text")).alias("lang_pred"),
        TS.quality_score(F.col("text")).alias("quality"),
        TS.token_count_ws(F.col("text")).alias("n_tokens"),
        F.md5(F.col("text")).alias("content_hash"),
    )
    kept = enriched.filter(
        (F.col("quality") > 0.2) & (F.col("n_tokens") >= 10)
    )
    return kept.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("content_hash").alias("n_distinct"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def _q_w2_order_by_distance(spark, sf_dir):
    """W2 within-block line ordering by distance-to-origin (reference
    sort_lines, utils/textblock.py:100-105)."""
    ev = _t(spark, sf_dir, "events")
    dist = F.sqrt(
        F.col("value") * F.col("value")
        + (F.col("event_id") % 50) * (F.col("event_id") % 50)
    )
    w = Window.partitionBy("user_id").orderBy(dist.asc(), F.col("event_id").asc())
    return ev.select(
        "user_id", "event_id", F.row_number().over(w).cast("int").alias("line_rank")
    )


def _q_w1_reading_order_rtl(spark, sf_dir):
    """W1 with the right-to-left flip (ja-majority pages, reference
    utils/textblock.py:283-291)."""
    from comic_text_detector_spark.functions.textstats import reading_order_weight

    b = _boxes(spark, sf_dir).withColumn(
        "weight",
        reading_order_weight(
            F.col("x1"), F.col("y1"), F.lit(128.0), F.lit(128.0), right_to_left=True
        ),
    )
    w = Window.partitionBy("page_id").orderBy(
        F.col("weight").asc(), F.col("o_orderkey").asc()
    )
    return b.select(
        "page_id", "o_orderkey", F.row_number().over(w).cast("int").alias("ro_rank")
    )


def _q_f22_json_roundtrip(spark, sf_dir):
    """F22 serialization surface: struct → to_json → from_json → fields
    (reference TextBlock.to_dict / TextBlock(**d), textblock.py:158-160)."""
    o = _t(spark, sf_dir, "orders")
    blk = F.struct(
        (F.col("o_orderkey") % 100).cast("int").alias("block_id"),
        F.col("o_orderpriority").alias("language"),
        (F.col("o_totalprice") > 100000).alias("vertical"),
    )
    js = F.to_json(blk)
    back = F.from_json(
        js, "block_id int, language string, vertical boolean"
    )
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("language_in"),
        back["block_id"].alias("block_id"),
        back["language"].alias("language_out"),
        back["vertical"].alias("vertical"),
    )


def _q_x_set_ops(spark, sf_dir):
    """Native set operators (X-group as SQL set algebra): (user, day) cells
    with clicks AND views but NO errors."""
    ev = _t(spark, sf_dir, "events")
    u = lambda t: (  # noqa: E731
        ev.filter(F.col("event_type") == t).select(
            "user_id", F.to_date("ts").alias("day")
        )
    )
    both = u("click").intersect(u("view"))
    return both.exceptAll(u("error").distinct()).distinct()


def _q_a_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event_type (median + p90)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.count("*").alias("n"),
    )


def _q_cc_clusters(spark, sf_dir):
    """Distributed connected components over a deterministic event graph —
    the near-dup clustering step; oracle = DuckDB recursive CTE."""
    from comic_text_detector_spark.operators.graph import connected_components

    ev = _t(spark, sf_dir, "events")
    pairs = (
        ev.select(
            (F.col("event_id") % 200).alias("id_a"),
            ((F.col("event_id") * 7 + 3) % 200).alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return connected_components(pairs)


def _q_j_semi_anti(spark, sf_dir):
    """Existence joins: per nation, customers WITH orders (left_semi) and
    WITHOUT (left_anti) — the J7 existence-join pattern made explicit."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    with_o = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without_o = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        with_o.groupBy("c_nationkey").agg(F.count("*").alias("n_with"))
        .join(
            without_o.groupBy("c_nationkey").agg(F.count("*").alias("n_without")),
            "c_nationkey",
            "full",
        )
        .select(
            "c_nationkey",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
    )


def _q_w_range_rolling(spark, sf_dir):
    """RANGE-frame window: per user, count+sum of events in the trailing
    hour (event-time range frame, not row frame)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_trailing_hour"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("sum_trailing_hour"),
    )


def _q_quality_filters(spark, sf_dir):
    """CCNet/RefinedWeb-style rule filters as pure column predicates:
    per-doc booleans + the keep decision."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    alpha_chars = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    digit_chars = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    total = F.length(F.col("text"))
    too_short = n_words < 20
    low_alpha = (alpha_chars.cast("double") / total) < 0.6
    high_digit = (digit_chars.cast("double") / total) > 0.2
    max_word = F.array_max(F.transform(words, lambda w: F.length(w)))
    long_word = max_word > 30
    return docs.select(
        "doc_id",
        too_short.alias("too_short"),
        low_alpha.alias("low_alpha"),
        high_digit.alias("high_digit"),
        long_word.alias("long_word"),
        (~too_short & ~low_alpha & ~high_digit & ~long_word).alias("keep"),
    )


def _q_vocab_stats(spark, sf_dir):
    """Corpus token statistics: distinct vocabulary + token totals per lang
    (explode → agg; the pattern that builds tokenizer vocabularies at scale)."""
    docs = _t(spark, sf_dir, "documents")
    ex = docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
    return ex.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("w").alias("vocab"),
        F.min("w").alias("first_word"),
        F.max(F.length("w")).alias("max_word_len"),
    )


def _q_u2_density_spans(spark, sf_dir):
    """U2 SegDetectorRepresenter recast: density stream → binarize (P5,
    thresh 0.3) → island grouping → spans with per-span score (A1 gate)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nodes = ev.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("node_id"),
        (F.col("value") / 500.0).alias("score"),
    )
    kept = nodes.filter(F.col("score") > 0.3)
    w2 = Window.partitionBy("user_id").orderBy("node_id")
    gap = F.col("node_id") - F.lag("node_id").over(w2)
    sess = kept.withColumn(
        "flg", F.when(gap > 2, 1).otherwise(0)
    ).withColumn(
        "span_id",
        F.sum("flg").over(w2.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return sess.groupBy("user_id", "span_id").agg(
        F.min("node_id").alias("node_start"),
        F.max("node_id").alias("node_end"),
        F.count("*").alias("n_nodes"),
        (
            F.sum(F.col("score").cast("decimal(18,6)")).cast("double") / F.count("*")
        ).alias("avg_score"),
    )


def _q_asof_join_events(spark, sf_dir):
    """Each click joined to the latest at-or-before view per user."""
    from comic_text_detector_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("value").alias("cv")
    )
    # tie-break duplicate (user, value) pairs deterministically: a sub-cent
    # offset keeps the as-of order total without touching real ordering
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        (F.col("value") + F.col("event_id") / 1e12).alias("vv"),
    )
    out = asof_join(clicks, views, "user_id", "cv", "vv", ["view_id"])
    return out.select("user_id", "click_id", "right_view_id")


def _q_tpch_q3(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
    )
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        _dec_sum("l_extendedprice", "revenue"), F.count("*").alias("n_items")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("l_orderkey", "o_orderdate", "revenue", "n_items",
                F.col("rk").cast("int").alias("rk"))
    )


def _q_tpch_q5ish(spark, sf_dir):
    """Multi-join through the dimension chain (join-reorder exercise):
    lineitem⋈orders⋈customer⋈nation⋈region, revenue per nation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("r_name", "n_name").agg(
        _dec_sum("l_extendedprice", "revenue"), F.count("*").alias("n_items")
    )


def _q_approx_distinct_urls(spark, sf_dir):
    """Dedup accounting: approx vs exact distinct (approx is rows-only
    checked — HLL sketches differ across engines by design)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.approx_count_distinct("text").alias("approx_distinct"),
        F.count_distinct("text").alias("exact_distinct"),
    )


def _q_a2_masked_mean(spark, sf_dir):
    """A2 conditional (masked) mean: avg restricted to a predicate."""
    ev = _t(spark, sf_dir, "events")
    cnt = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    s = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.col("value").cast("decimal(18,2)"),
        )
    ).cast("double")
    return ev.groupBy("user_id").agg(
        (s / F.nullif(cnt, F.lit(0))).alias("masked_mean"),
        cnt.cast("bigint").alias("n_masked"),
    )


def _q_a7_orientation(spark, sf_dir):
    """A7 vector-sum orientation: vertical iff sum|dy| > 2 * sum|dx|."""
    ev = _t(spark, sf_dir, "events")
    sdx = F.sum(F.abs(F.col("value").cast("decimal(18,2)")))
    sdy = F.sum(F.abs((F.col("event_id") % 7).cast("decimal(18,2)")))
    return ev.groupBy("user_id").agg(
        (sdy > sdx * 2).alias("vertical"),
        sdx.cast("double").alias("sum_dx"),
    )


def _q_f11_hex2rgb(spark, sf_dir):
    from comic_text_detector_spark.functions.geometry import hex2rgb

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        hex2rgb((F.col("o_orderkey") * 2654435761 % 16777216)).alias("rgb"),
    )


def _q_f15_alignment(spark, sf_dir):
    from comic_text_detector_spark.functions.textstats import infer_alignment

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("value").alias("left_x"),
        (F.col("value") + (F.col("event_id") % 5).cast("double")).alias("center_x"),
    )
    return infer_alignment(ev, "user_id", "left_x", "center_x")


def _q_s11_parse_ann(spark, sf_dir):
    from comic_text_detector_spark.sources.readers import parse_ann_line

    o = _t(spark, sf_dir, "orders")
    x1 = F.col("o_orderkey") % 97
    y1 = F.col("o_custkey") % 89
    line = F.concat_ws(
        " ",
        x1, y1, x1 + 10, y1, x1 + 10, y1 + 5, x1, y1 + 5,
    )
    return o.select(
        "o_orderkey", parse_ann_line(line, F.lit(128.0), F.lit(128.0)).alias("pts")
    )


def _q_j6_eval_prf(spark, sf_dir):
    """J6/A11 evaluator over planted spans: predictions = golden shifted for
    half the users (IoU ~0.82 → still matched) and dropped for id%7==0."""
    from comic_text_detector_spark.plans.eval import evaluate_extraction

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    golden = ev.select(
        F.col("user_id").cast("string").alias("url"),
        F.col("value").cast("int").alias("char_start"),
        (F.col("value").cast("int") + 100).alias("char_end"),
    )
    predicted = ev.filter(F.col("event_id") % 7 != 0).select(
        F.col("user_id").cast("string").alias("url"),
        (F.col("value").cast("int") + F.when(F.col("event_id") % 2 == 0, 10).otherwise(0)).alias("char_start"),
        (F.col("value").cast("int") + 100 + F.when(F.col("event_id") % 2 == 0, 10).otherwise(0)).alias("char_end"),
    )
    return evaluate_extraction(golden, predicted)


# --- rows-only checked (approximate / engine-hash-seeded) ---


def _q_a4_topk_separated(spark, sf_dir):
    from comic_text_detector_spark.operators.topk_apart import topk_separated

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.floor(F.col("value") / 10).cast("double").alias("bucket")
    )
    return topk_separated(ev, "user_id", "bucket", k=3, min_gap=3.0)


def _q_j2_nms_spans(spark, sf_dir):
    from comic_text_detector_spark.operators.nms import nms_spans

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("span_id"),
        F.col("value").cast("int").alias("char_start"),
        (F.col("value") + 30).cast("int").alias("char_end"),
        ((F.col("event_id") % 100) / 100.0 + 0.001).alias("conf"),
        F.lit(0).alias("cls"),
    )
    return nms_spans(iv, group_col="user_id", conf_thres=0.4)


def _q_j4_merge_blocks(spark, sf_dir):
    from comic_text_detector_spark.operators.merge import merge_blocks

    ev = _t(spark, sf_dir, "events")
    blocks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("block_id"),
        (10.0 + (F.col("event_id") % 4)).alias("font_size"),
        F.lit(1.0).alias("vec_x"),
        F.lit(0.0).alias("vec_y"),
        F.col("value").alias("cx"),
        F.lit(0.0).alias("cy"),
    )
    return merge_blocks(blocks, group_col="user_id").select(
        "user_id", "block_id", "merged_id"
    )


def _q_minhash_lsh_pairs(spark, sf_dir):
    # single-file inputs arrive as one partition; spread BEFORE the explode
    # so the hash+partial-agg stage parallelizes
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16)


def _q_simhash_pairs(spark, sf_dir):
    from comic_text_detector_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return simhash_pairs(docs, "doc_id", "text", max_hamming=6)


def _q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return simhash64(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


def _q_minhash_lsh_pairs_md5(spark, sf_dir):
    """The SAME banded-LSH pipeline as minhash_lsh_pairs, in portable-hash
    mode (md5 base + band hashes) with the bucket cap lifted, so the emitted
    candidate-pair set is value-checked against an independent DuckDB
    computation of the full shingle→64-minhash→band→bucket-join pipeline —
    the oracle the xxhash64 fast path structurally cannot have."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        max_bucket_size=1 << 20,  # exact all-pairs semantics for the oracle
        hash_fn="md5",
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


def _q_neardup_survivors(spark, sf_dir):
    """END-TO-END fuzzy dedup (operators/dedup.py::neardup_survivors):
    minhash-LSH pairs → connected components → one canonical doc per
    cluster + all unpaired docs. Runs in portable-md5 mode with the
    bucket cap lifted so the ENTIRE composition — shingles, 64 minhashes,
    banding, bucket join, transitive clustering, survivor anti-join — is
    replayed by one DuckDB query (the minhash oracle nested inside a
    recursive-CC CTE)."""
    from comic_text_detector_spark.operators.dedup import neardup_survivors

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return neardup_survivors(
        docs, "doc_id", "text",
        max_bucket_size=1 << 20, hash_fn="md5",
    ).select("doc_id")


def _q_neardup_incremental(spark, sf_dir):
    """Incremental near-dup candidates (operators/dedup.py::
    neardup_incremental_pairs): the snapshot slice (doc_id % 4 == 0)
    finds its near-dups against the indexed base slice WITHOUT
    recomputing base signatures — base bands come from
    ``banded_signatures`` as a stored index would supply them. With the
    cap lifted the emitted set is exactly every banded pair touching the
    snapshot, which the oracle computes from the full-corpus pipeline
    plus the membership restriction."""
    from comic_text_detector_spark.operators.dedup import (
        banded_signatures,
        neardup_incremental_pairs,
    )

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = docs.filter(F.col("doc_id") % 4 != 0)
    incr = docs.filter(F.col("doc_id") % 4 == 0)
    base_bands = banded_signatures(base, "doc_id", "text", hash_fn="md5")
    return neardup_incremental_pairs(
        base_bands, incr, "doc_id", "text",
        max_bucket_size=1 << 20, hash_fn="md5",
    )


def _q_simhash_md5(spark, sf_dir):
    """Portable 60-bit simhash fingerprints (md5 base hash) — bit-identical
    to the DuckDB oracle's sign-sum computation."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return simhash64(docs, "doc_id", "text", hash_fn="md5").withColumnRenamed(
        "id", "doc_id"
    )


def _q_simhash_pairs_md5(spark, sf_dir):
    from comic_text_detector_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return simhash_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=6,
        max_bucket_size=1 << 20,
        hash_fn="md5",
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


def _q_dedup_embedding_pairs(spark, sf_dir):
    from comic_text_detector_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4).select("id_a", "id_b")


def _q_dedup_embedding_pairs_md5(spark, sf_dir):
    """Portable-hash twin of dedup_embedding_pairs: md5-derived SRP plane
    coefficients and the bucket cap lifted, so the emitted (pair, cosine)
    set — including the full-precision cosine doubles — is value-checked
    against DuckDB recomputing all 64 plane dot products and the verify
    fold with the same sequential IEEE-double arithmetic."""
    from comic_text_detector_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.4, max_bucket_size=1 << 20, hash_fn="md5"
    ).withColumnsRenamed({"id_a": "vec_a", "id_b": "vec_b"})


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (coarse-quantizer inverted lists; rows-only — k-means float
    means are reduction-order dependent in the last bits, like every LSH
    family member; recall-vs-bruteforce covered in tests)."""
    from comic_text_detector_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5,
        n_centroids=8, nprobe=4, iters=3,
    )
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id"
    )


def _q_ann_lsh_topk(spark, sf_dir):
    # 4 planes x 16 tables: recall@5 ~0.93 vs brute force even on this
    # near-random corpus (mean top-5 cosine only ~0.33); more planes for
    # selectivity at real scale, more tables for recall
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, num_planes=4, num_tables=16
    )
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id"
    )


def _q_robots_filter(spark, sf_dir):
    """RFC 9309 robots filtering with the full §2.2.3 pattern grammar:
    synthesized urls over 5 hosts; the rules disallow all of w1, disallow
    w0's /p/1* EXCEPT the longer /p/12 allow, block w2 paths ENDING in 2
    (trailing-$ anchor) unless under the more-literal /p/1* allow, block
    any w3 path with a 3 after /p/ (mid-pattern *), and say nothing about
    w4 (default allowed). The oracle replays the SAME pattern→regex
    translation and literal-octet specificity max in DuckDB."""
    from comic_text_detector_spark.operators.curation import robots_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://w"),
            F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    rules = spark.createDataFrame(
        [
            ("w0.example.org", "/p/1", False),
            ("w0.example.org", "/p/12", True),
            ("w1.example.org", "/", False),
            ("w2.example.org", "/*2$", False),
            ("w2.example.org", "/p/1*", True),
            ("w3.example.org", "/p/*3", False),
        ],
        "host string, path_prefix string, allow boolean",
    )
    return robots_filter(urls, rules).select("doc_id", "url")


def _q_word_doc_freq(spark, sf_dir):
    """LM-free quality proxy: mean corpus document-frequency of each doc's
    distinct words. Bigint sums + ONE IEEE division → full-precision
    oracle comparison."""
    from comic_text_detector_spark.operators.curation import word_doc_freq_score

    return word_doc_freq_score(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _q_normalize_urls(spark, sf_dir):
    """Crawl URL canonicalization before dedup: synthesized urls cycle
    through the messy cases (leading/trailing tracking params, fragments,
    trailing slash, mixed-case scheme+host) and the full regexp chain is
    recomputed in DuckDB (same RE2-compatible patterns; \\1 vs $1 and the
    'g' flag are the only dialect differences)."""
    from comic_text_detector_spark.operators.curation import normalize_url

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tail = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=x&q="), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("?q="),
                F.col("doc_id").cast("string"),
                F.lit("&utm_campaign=yy&gclid=abc"),
            ),
        )
        .when(F.col("doc_id") % 4 == 2, F.lit("/#frag"))
        # mixed case + extended utm key charset: the (?i:...) strip must
        # catch 'UTM_Source_Platform' too (round-3 ADVICE fix)
        .otherwise(F.lit("?UTM_Source_Platform=z&q2=1"))
    )
    url = F.concat(
        F.lit("HTTPS://W"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
        F.lit(".Example.org/p/"),
        F.col("doc_id").cast("string"),
        tail,
    )
    return docs.select(
        "doc_id", url.alias("url"), normalize_url(url).alias("url_norm")
    )


def _q_line_freq_dedup(spark, sf_dir):
    """CCNet-style boilerplate line removal: a 'subscribe' line is injected
    into EVERY doc (df=500, dropped) next to the unique original text and a
    doc-specific line (df=1, kept); the reassembled text, line counts and
    order are value-checked against DuckDB recomputing the same document
    frequencies."""
    from comic_text_detector_spark.operators.curation import line_freq_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nsubscribe to our newsletter\ndoc-specific "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return line_freq_dedup(docs, "doc_id", "text", max_doc_freq=2)


def _q_host_stats(spark, sf_dir):
    """Host-level corpus stats — the Common-Crawl curation aggregation
    (docs per host, language mix, size) that drives host allow/deny lists.
    Urls are synthesized deterministically from doc_id (the documents table
    carries none); the Spark side extracts the host with the built-in
    parse_url, which the oracle cross-derives with a regexp — two
    independent derivations of the same host string. One groupBy exchange,
    map-side partial aggs; at 100 TB hosts are ~10^7 keys, trivially
    shuffled, with hot hosts absorbed by the partial aggregation."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://w"),
            F.pmod(F.col("doc_id"), F.lit(23)).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    return (
        docs.groupBy(F.parse_url(F.col("url"), F.lit("HOST")).alias("host"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("n_en"),
        )
    )


def _q_cap_per_host(spark, sf_dir):
    """Deterministic per-host document cap (operators/curation.py::
    cap_per_host): md5-ordered uniform draw of at most 10 docs per host
    over the synthesized 23-host url space — the anti-domination stage;
    the oracle replays the identical window."""
    from comic_text_detector_spark.operators.curation import cap_per_host

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://w"),
            F.pmod(F.col("doc_id"), F.lit(23)).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    return cap_per_host(docs, "url", cap=10).select(
        "doc_id", "host", "host_rank"
    )


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs (doc_id >= 20) sharing any
    word 5-gram with the 'benchmark' slice (doc_id < 20), with the count of
    distinct shared grams — the leak-triage pass before training."""
    from comic_text_detector_spark.operators.curation import contaminated_docs

    docs = _t(spark, sf_dir, "documents")
    return contaminated_docs(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        "doc_id",
        "text",
        n=5,
    ).withColumnRenamed("id", "doc_id")


def _q_hash_sample(spark, sf_dir):
    """Deterministic stratified downsampling by language (the corpus-
    rebalancing move): keep iff md5-uniform(doc_id) < rate[lang]; zh has no
    rate and is dropped entirely. Reproducible across runs/engines/
    partitionings, unlike rand()-based sampling."""
    from comic_text_detector_spark.operators.curation import hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_sample(
        docs,
        "doc_id",
        rates_by="lang",
        rates={"en": 0.5, "de": 0.3, "fr": 0.25, "es": 0.2},
        salt="mix",
    )


def _q_ann_ivf_topk_md5(spark, sf_dir):
    """Oracle-checkable IVF: the coarse quantizer is the fixed hash-derived
    one (hash_centroids) instead of k-means-trained — the standard
    offline-quantizer shape at scale — so centroid assignment, inverted-list
    probing, cosine re-rank and ranks are all recomputed in DuckDB. The
    k-means-trained variant (ann_ivf_topk) stays rows-only because float
    means are reduction-order dependent."""
    from comic_text_detector_spark.operators.similarity import (
        hash_centroids,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        nprobe=4,
        centroids=hash_centroids(16, 64),
    )
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "cos",
    )


def _q_ann_lsh_topk_md5(spark, sf_dir):
    """Portable-hash twin of ann_lsh_topk: md5-derived SRP planes, so every
    bucket, candidate set, full-precision cosine and final rank is
    value-checked against DuckDB recomputing the identical pipeline."""
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        num_planes=4,
        num_tables=16,
        hash_fn="md5",
    )
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "cos",
    )


# ~80-char verbatim "licence block" planted into every 7th document for the
# span-level substring-dedup gate query (no apostrophes: it is embedded in
# the SQL oracle as a literal).
_DUP_PASSAGE = (
    "All rights reserved worldwide. Redistribution of this exact notice "
    "requires written attribution."
)


def _q_substring_dup_spans(spark, sf_dir):
    """Span-level exact-substring dedup (Lee et al. 2022 shape): a fixed
    ~95-char licence passage is appended to every 7th document, and the
    operator must emit cut spans covering every maximal cross-document
    verbatim run ≥ 40 chars (the planted passage AND any naturally shared
    runs in the corpus text). The oracle replays the identical
    md5-12-gram → doc-frequency → islands pipeline in DuckDB."""
    from comic_text_detector_spark.operators.curation import (
        substring_dup_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + _DUP_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return substring_dup_spans(planted, k=12, min_len=40)


def _md5_jit(did, tag: str, m: int):
    """Shared md5-derived integer jitter (as double) for the synthesized-
    geometry oracle queries — ONE definition of the arithmetic
    (md5_long's docstring: any width/cast change must change every oracle
    in lockstep; three inline copies were a desync hazard, per review)."""
    from comic_text_detector_spark.operators.dedup import md5_long

    return (md5_long(F.concat(F.lit(tag + ":"), did)) % m).cast("double")


def _q_f19_f25_mini_box_warp(spark, sf_dir):
    """F19 corner ordering + F25 homography as one value-checked plan:
    four jittered corners of a convex quad (never degenerate by
    construction), fed in a doc_id-rotated SCRAMBLED order; order_mini_box
    recovers [tl,tr,br,bl] with the reference's exact comparisons, then
    quad_warp_coeffs/warp_point map two unit-square probes through the
    closed-form square→quad homography. Every value (corners, short side,
    warped points) is integer-seeded fixed-order IEEE arithmetic, so the
    DuckDB oracle matches bit-for-bit."""
    from comic_text_detector_spark.functions.geometry import (
        mini_box_short_side,
        order_mini_box,
        quad_warp_coeffs,
        warp_point,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")

    def jit(tag):
        return _md5_jit(did, tag, 20)

    arr = F.array(
        F.array(jit("qx0"), jit("qy0")),
        F.array(jit("qx1") + 50.0, jit("qy1")),
        F.array(jit("qx2") + 50.0, jit("qy2") + 40.0),
        F.array(jit("qx3"), jit("qy3") + 40.0),
    )
    r = F.pmod(F.col("doc_id"), F.lit(4)).cast("int")
    pts = F.concat(F.slice(arr, r + 1, 4 - r), F.slice(arr, F.lit(1), r))
    out = docs.select(
        "doc_id", order_mini_box(pts).alias("box")
    ).select(
        "doc_id",
        "box",
        mini_box_short_side(F.col("box")).alias("short_side"),
        quad_warp_coeffs(F.col("box")).alias("cf"),
    ).select(
        "doc_id",
        F.col("box")[0][0].alias("tl_x"),
        F.col("box")[0][1].alias("tl_y"),
        F.col("box")[1][0].alias("tr_x"),
        F.col("box")[1][1].alias("tr_y"),
        F.col("box")[2][0].alias("br_x"),
        F.col("box")[2][1].alias("br_y"),
        F.col("box")[3][0].alias("bl_x"),
        F.col("box")[3][1].alias("bl_y"),
        "short_side",
        warp_point(F.col("cf"), F.lit(0.5), F.lit(0.5)).alias("c"),
        warp_point(F.col("cf"), F.lit(0.25), F.lit(0.75)).alias("p"),
    )
    return out.select(
        "doc_id", "tl_x", "tl_y", "tr_x", "tr_y", "br_x", "br_y",
        "bl_x", "bl_y", "short_side",
        F.col("c")[0].alias("c_x"), F.col("c")[1].alias("c_y"),
        F.col("p")[0].alias("p_x"), F.col("p")[1].alias("p_y"),
    )


def _mini_box_warp_oracle() -> str:
    jits = {
        t: f"CAST(('0x'||substr(md5('{t}:'||doc_id::VARCHAR),1,8))::BIGINT"
        " % 20 AS DOUBLE)"
        for t in ("qx0", "qy0", "qx1", "qy1", "qx2", "qy2", "qx3", "qy3")
    }
    return (
        "WITH c AS (SELECT doc_id,"
        f" [{{'x': {jits['qx0']}, 'y': {jits['qy0']}}},"
        f"  {{'x': {jits['qx1']} + 50.0, 'y': {jits['qy1']}}},"
        f"  {{'x': {jits['qx2']} + 50.0, 'y': {jits['qy2']} + 40.0}},"
        f"  {{'x': {jits['qx3']}, 'y': {jits['qy3']} + 40.0}}] AS l,"
        " CAST(doc_id % 4 AS INT) AS r FROM documents), "
        "s AS (SELECT doc_id,"
        " list_concat(list_slice(l, r + 1, 4), list_slice(l, 1, r)) AS pts"
        " FROM c), "
        "e AS (SELECT doc_id, i, pts[i].x AS x, pts[i].y AS y"
        " FROM s, unnest(generate_series(1, 4)) AS u(i)), "
        "rk AS (SELECT doc_id, x, y,"
        " row_number() OVER (PARTITION BY doc_id ORDER BY x, i) AS rn"
        " FROM e), "
        "pv AS (SELECT doc_id,"
        " max(CASE WHEN rn = 1 THEN x END) AS p0x,"
        " max(CASE WHEN rn = 1 THEN y END) AS p0y,"
        " max(CASE WHEN rn = 2 THEN x END) AS p1x,"
        " max(CASE WHEN rn = 2 THEN y END) AS p1y,"
        " max(CASE WHEN rn = 3 THEN x END) AS p2x,"
        " max(CASE WHEN rn = 3 THEN y END) AS p2y,"
        " max(CASE WHEN rn = 4 THEN x END) AS p3x,"
        " max(CASE WHEN rn = 4 THEN y END) AS p3y"
        " FROM rk GROUP BY doc_id), "
        "bx AS (SELECT doc_id,"
        " CASE WHEN p1y > p0y THEN p0x ELSE p1x END AS tl_x,"
        " CASE WHEN p1y > p0y THEN p0y ELSE p1y END AS tl_y,"
        " CASE WHEN p3y > p2y THEN p2x ELSE p3x END AS tr_x,"
        " CASE WHEN p3y > p2y THEN p2y ELSE p3y END AS tr_y,"
        " CASE WHEN p3y > p2y THEN p3x ELSE p2x END AS br_x,"
        " CASE WHEN p3y > p2y THEN p3y ELSE p2y END AS br_y,"
        " CASE WHEN p1y > p0y THEN p1x ELSE p0x END AS bl_x,"
        " CASE WHEN p1y > p0y THEN p1y ELSE p0y END AS bl_y"
        " FROM pv), "
        "cf AS (SELECT *,"
        " (tr_x - br_x) AS dx1, (tr_y - br_y) AS dy1,"
        " (bl_x - br_x) AS dx2, (bl_y - br_y) AS dy2,"
        " (tl_x - tr_x + br_x - bl_x) AS dx3,"
        " (tl_y - tr_y + br_y - bl_y) AS dy3 FROM bx), "
        "gh AS (SELECT *,"
        " (dx3 * dy2 - dy3 * dx2) / (dx1 * dy2 - dy1 * dx2) AS g,"
        " (dx1 * dy3 - dy1 * dx3) / (dx1 * dy2 - dy1 * dx2) AS h"
        " FROM cf), "
        "co AS (SELECT *,"
        " tr_x - tl_x + g * tr_x AS a, bl_x - tl_x + h * bl_x AS b,"
        " tl_x AS cc,"
        " tr_y - tl_y + g * tr_y AS d, bl_y - tl_y + h * bl_y AS e,"
        " tl_y AS f FROM gh) "
        "SELECT doc_id, tl_x, tl_y, tr_x, tr_y, br_x, br_y, bl_x, bl_y,"
        " least(sqrt((tr_x - tl_x) * (tr_x - tl_x)"
        " + (tr_y - tl_y) * (tr_y - tl_y)),"
        " sqrt((br_x - tr_x) * (br_x - tr_x)"
        " + (br_y - tr_y) * (br_y - tr_y))) AS short_side,"
        " (a * 0.5 + b * 0.5 + cc) / (g * 0.5 + h * 0.5 + 1.0) AS c_x,"
        " (d * 0.5 + e * 0.5 + f) / (g * 0.5 + h * 0.5 + 1.0) AS c_y,"
        " (a * 0.25 + b * 0.75 + cc) / (g * 0.25 + h * 0.75 + 1.0) AS p_x,"
        " (d * 0.25 + e * 0.75 + f) / (g * 0.25 + h * 0.75 + 1.0) AS p_y"
        " FROM co"
    )


def _q_rotated_iou_axis(spark, sf_dir):
    """Convex-polygon IoU kernel (Sutherland-Hodgman clip — the rotated-
    rect evaluator the interval model previously scoped out) value-checked
    on its axis-aligned restriction, where the closed-form interval IoU
    exists in SQL: integer corners make every intermediate exact, so the
    kernel's clip-then-shoelace and the oracle's overlap-product reach the
    SAME numerator/denominator and the single division matches bitwise.
    Rotation correctness is pinned by pytest (45° octagon closed form +
    rotation invariance)."""
    from comic_text_detector_spark.operators.polygons import polygon_iou_df

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")

    def j(tag, m):
        return _md5_jit(did, tag, m)

    ax1, ay1 = j("ax1", 30), j("ay1", 30)
    ax2, ay2 = ax1 + 5 + j("aw", 20), ay1 + 5 + j("ah", 20)
    bx1, by1 = j("bx1", 30), j("by1", 30)
    bx2, by2 = bx1 + 5 + j("bw", 20), by1 + 5 + j("bh", 20)

    def rect(x1, y1, x2, y2):
        return F.array(
            F.array(x1, y1), F.array(x2, y1),
            F.array(x2, y2), F.array(x1, y2),
        )

    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        rect(ax1, ay1, ax2, ay2).alias("poly_a"),
        rect(bx1, by1, bx2, by2).alias("poly_b"),
    )
    return polygon_iou_df(pairs).select(
        F.col("pair_id").alias("doc_id"), "iou"
    )


def _q_polygon_unclip_axis(spark, sf_dir):
    """True polygon unclip (edge-shift-and-reintersect offset, the F18
    pyclipper path the interval analog scoped out) value-checked on
    integer SQUARES: side s makes d = s²·1.5/(4s) = 0.375·s and every
    corner/area dyadic-exact, so the kernel's miter-intersection
    arithmetic and the oracle's closed-form shifted corners agree
    bit-for-bit. General convex shapes are pinned by pytest (pentagon
    round-trip, inradius refusal)."""
    from comic_text_detector_spark.operators.polygons import (
        offset_polygons_df,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")

    def j(tag, m):
        return _md5_jit(did, tag, m)

    x1, y1 = j("px1", 30), j("py1", 30)
    s = 4 + j("ps", 40)
    x2, y2 = x1 + s, y1 + s
    poly = F.array(
        F.array(x1, y1), F.array(x2, y1), F.array(x2, y2), F.array(x1, y2)
    )
    out = offset_polygons_df(
        docs.select("doc_id", poly.alias("poly")), ratio=1.5, mode="unclip"
    )
    p = F.col("poly_out")
    return out.select(
        "doc_id",
        "ok",
        "area_in",
        "area_out",
        p[0][0].alias("c0x"), p[0][1].alias("c0y"),
        p[1][0].alias("c1x"), p[1][1].alias("c1y"),
        p[2][0].alias("c2x"), p[2][1].alias("c2y"),
        p[3][0].alias("c3x"), p[3][1].alias("c3y"),
    )


def _q_f21_border_map(spark, sf_dir):
    """F21 border map (interval recast): per-position clipped distance
    ridge over jittered span endpoints, δ = L(1−r²)/2 band width — every
    value is one integer-distance division, replayed per position in
    DuckDB."""
    from comic_text_detector_spark.functions.losses import border_map_expr
    from comic_text_detector_spark.operators.dedup import md5_long

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    s = (3 + md5_long(F.concat(F.lit("bs:"), did)) % 8).cast("int")
    e = (s + 5 + md5_long(F.concat(F.lit("bl:"), did)) % 10).cast("int")
    bm = border_map_expr(s, e, F.lit(30))
    return docs.select(
        "doc_id", F.posexplode(bm).alias("pos0", "border")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "border"
    )


def _q_u7_dice_l1(spark, sf_dir):
    """U7 dice + masked-L1 losses as grouped aggregates over a dyadic
    synthetic (pred, gt, mask) table (p = k/16 keeps every sum exact in
    any order, so the single final divisions match DuckDB bitwise)."""
    from comic_text_detector_spark.functions.losses import (
        dice_loss,
        masked_l1_loss,
    )
    from comic_text_detector_spark.operators.dedup import md5_long

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("pos")
    )
    key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"),
        F.col("pos").cast("string"),
    )
    p = (md5_long(F.concat(F.lit("lp:"), key)) % 17).cast("double") / 16.0
    g = (md5_long(F.concat(F.lit("lg:"), key)) % 2).cast("double")
    m = F.when(
        md5_long(F.concat(F.lit("lm:"), key)) % 10 < 9, F.lit(1.0)
    ).otherwise(F.lit(0.0))
    rows = base.select(
        (F.col("doc_id") % 10).alias("grp"),
        p.alias("pred"),
        g.alias("gt"),
        m.alias("mask"),
    )
    return (
        dice_loss(rows, "grp")
        .join(masked_l1_loss(rows, "grp"), "grp")
        .select(
            F.col("grp").cast("bigint").alias("grp"),
            "dice_loss",
            "l1_loss",
        )
    )


def _f21_border_map_oracle() -> str:
    one_minus_r2 = repr(1.0 - 0.4 * 0.4)
    return (
        "WITH s AS (SELECT doc_id,"
        " 3 + ('0x'||substr(md5('bs:'||doc_id::VARCHAR),1,8))::BIGINT % 8"
        " AS st FROM documents), "
        "e AS (SELECT doc_id, st, st + 5 +"
        " ('0x'||substr(md5('bl:'||doc_id::VARCHAR),1,8))::BIGINT % 10"
        " AS en FROM s), "
        "d AS (SELECT doc_id, st, en,"
        f" CAST(en - st AS DOUBLE) * {one_minus_r2} / 2.0 AS delta"
        " FROM e) "
        "SELECT doc_id, CAST(i AS INT) AS pos,"
        " greatest(0.0, least(1.0, 1.0 -"
        " CAST(least(abs(i - st), abs(en - i)) AS DOUBLE) / delta))"
        " AS border"
        " FROM d, unnest(generate_series(1, 30)) AS u(i)"
    )


def _u7_dice_l1_oracle() -> str:
    h = (
        "('0x'||substr(md5('{t}:'||doc_id::VARCHAR||':'||i::VARCHAR),"
        "1,8))::BIGINT"
    )
    return (
        "WITH b AS (SELECT doc_id, i FROM documents,"
        " unnest(generate_series(1, 16)) AS u(i)), "
        "v AS (SELECT doc_id % 10 AS grp,"
        f" CAST({h.format(t='lp')} % 17 AS DOUBLE) / 16.0 AS p,"
        f" CAST({h.format(t='lg')} % 2 AS DOUBLE) AS g,"
        f" CASE WHEN {h.format(t='lm')} % 10 < 9 THEN 1.0 ELSE 0.0 END AS m"
        " FROM b), "
        "a AS (SELECT grp, sum(p * g * m) AS inter, sum(p * m) AS sp,"
        " sum(g * m) AS sg, sum(abs(p - g) * m) AS num, sum(m) AS den"
        " FROM v GROUP BY grp) "
        "SELECT grp, 1.0 - 2.0 * inter / (sp + sg + 1e-6) AS dice_loss,"
        " num / (den + 1e-6) AS l1_loss FROM a"
    )


def _q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing (pretraining batch assembly): whitespace
    token counts → md5-ordered shard-local first-fit fill at budget 120
    over 8 buckets. The oracle replays the IDENTICAL greedy recurrence
    with a recursive CTE per bucket (same md5 order key, same
    overflow-opens-next-pack rule), so pack ids and positions match
    exactly."""
    from comic_text_detector_spark.functions.textstats import (
        token_count_ws,
    )
    from comic_text_detector_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, budget=120, n_buckets=8).select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        "n_tokens",
        "pack_id",
        "pack_pos",
    )


def _pack_sequences_oracle() -> str:
    return (
        "WITH RECURSIVE "
        # coalesce keeps the twins aligned on null text: the kernel
        # clamps null→0, and a NULL tok would poison the walk's acc for
        # every later row in the bucket
        "s AS (SELECT doc_id,"
        " CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT)"
        " AS tok FROM documents), "
        "k AS (SELECT doc_id, tok,"
        " md5('pack:'||doc_id::VARCHAR) AS okey FROM s), "
        "b AS (SELECT doc_id, tok, okey,"
        " CAST(('0x'||substr(md5(okey),1,8))::BIGINT % 8 AS INT)"
        " AS bucket FROM k), "
        # MATERIALIZED: referenced from the recursive term every iteration
        "r AS MATERIALIZED (SELECT doc_id, tok, okey, bucket,"
        " row_number() OVER (PARTITION BY bucket ORDER BY okey, doc_id)"
        " AS rn FROM b), "
        "walk AS ("
        " SELECT bucket, rn, CAST(0 AS BIGINT) AS pack, tok AS acc"
        " FROM r WHERE rn = 1"
        " UNION ALL"
        " SELECT r.bucket, r.rn,"
        "  CASE WHEN w.acc + r.tok > 120 THEN w.pack + 1 ELSE w.pack END,"
        "  CASE WHEN w.acc + r.tok > 120 THEN r.tok ELSE w.acc + r.tok END"
        " FROM walk w JOIN r ON r.bucket = w.bucket AND r.rn = w.rn + 1) "
        "SELECT r.doc_id, r.bucket, r.tok AS n_tokens,"
        " w.pack AS pack_id,"
        " CAST(row_number() OVER (PARTITION BY r.bucket, w.pack"
        " ORDER BY r.rn) - 1 AS BIGINT) AS pack_pos"
        " FROM r JOIN walk w ON r.bucket = w.bucket AND r.rn = w.rn"
    )


def _linked_pages(spark, sf_dir):
    """Fixture: documents wrapped as pages with two planted <a href>
    elements each (hosts derived from doc_id) — built with pure exprs so
    the oracle constructs the identical html."""
    return _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<html><body><p>"),
            F.col("text"),
            F.lit('</p><a class="x" href="https://h'),
            ((F.col("doc_id") * 7 + 3) % 50).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
            F.lit('">anchor '),
            (F.col("doc_id") % 10).cast("string"),
            F.lit('</a><a href="https://h'),
            ((F.col("doc_id") * 13 + 1) % 50).cast("string"),
            F.lit('.example/q">read more</a></body></html>'),
        ).alias("html"),
    )


_LINKS_FIXTURE_SQL = (
    "SELECT 'https://h' || (doc_id % 50)::VARCHAR || '.example/d/' ||"
    " doc_id::VARCHAR AS url,"
    " '<html><body><p>' || text || '</p><a class=\"x\" href=\"https://h' ||"
    " ((doc_id * 7 + 3) % 50)::VARCHAR || '.example/p/' ||"
    " doc_id::VARCHAR || '\">anchor ' || (doc_id % 10)::VARCHAR ||"
    " '</a><a href=\"https://h' || ((doc_id * 13 + 1) % 50)::VARCHAR ||"
    " '.example/q\">read more</a></body></html>' AS html FROM documents"
)

_LINKS_SQL = (
    "SELECT t.url AS src_url, regexp_extract(t.tag, ' href=\"([^\">]*)\"', 1)"
    " AS href, regexp_extract(t.tag, '>([^<]*)</a>', 1) AS anchor,"
    " regexp_extract(regexp_extract(t.tag, ' href=\"([^\">]*)\"', 1),"
    " '^[a-zA-Z]+://([^/?#]+)', 1) AS dst_host FROM ("
    " SELECT url, unnest(regexp_extract_all(html,"
    " '<a ([^>]* )?href=\"[^\">]*\"[^>]*>[^<]*</a>', 0)) AS tag FROM ("
    + _LINKS_FIXTURE_SQL
    + ")) t"
)


def _q_extract_links(spark, sf_dir):
    """Hyperlink extraction as pure column exprs (functions/links.py):
    every planted <a href> element becomes a (src_url, href, anchor,
    dst_host) row; the oracle rebuilds the same pages and replays the
    same RE2∩Java regexes."""
    from comic_text_detector_spark.functions.links import extract_links

    return extract_links(_linked_pages(spark, sf_dir))


def _q_anchor_stats(spark, sf_dir):
    """Anchor-text aggregation per destination host: link counts, unique
    anchors, most-frequent anchor (deterministic tie break)."""
    from comic_text_detector_spark.functions.links import (
        anchor_stats,
        extract_links,
    )

    return anchor_stats(extract_links(_linked_pages(spark, sf_dir)))


def _q_link_pagerank(spark, sf_dir):
    """END-TO-END crawl-graph composition: extract real <a href> links
    from html → host-level edges → integer-deterministic PageRank. The
    oracle is the link-extraction SQL fed into the unrolled pagerank
    replay — the whole extraction→graph pipeline verified in one query."""
    from comic_text_detector_spark.functions.links import extract_links
    from comic_text_detector_spark.operators.graph import pagerank

    from comic_text_detector_spark.functions.links import link_host

    links = extract_links(_linked_pages(spark, sf_dir))
    edges = links.select(
        link_host(F.col("src_url")).alias("src"),
        F.col("dst_host").alias("dst"),
    )
    return pagerank(edges, n_iter=3).select(
        F.col("node").cast("string").alias("node"), "rank"
    )


def _link_pagerank_oracle() -> str:
    from comic_text_detector_spark.operators.graph import pagerank_sql

    edges = (
        "SELECT regexp_extract(src_url, '^[a-zA-Z]+://([^/?#]+)', 1)"
        " AS src, dst_host AS dst FROM (" + _LINKS_SQL + ")"
    )
    return pagerank_sql(edges, n_iter=3)


def _q_pagerank_hosts(spark, sf_dir):
    """Link-graph authority scoring (crawl harvest prioritization):
    integer-deterministic PageRank over a deterministic host graph derived
    from doc_ids — 3 unrolled iterations replayed bit-for-bit by the SQL
    oracle (operators/graph.py::pagerank/pagerank_sql; exact bigint rank
    units, floor-quantized contributions)."""
    from comic_text_detector_spark.operators.graph import pagerank

    edges = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 50).cast("string")
        ).alias("dst"),
    )
    return pagerank(edges, n_iter=3).select(
        F.col("node").cast("string").alias("node"), "rank"
    )


def _pagerank_oracle() -> str:
    from comic_text_detector_spark.operators.graph import pagerank_sql

    edges = (
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS src,"
        " 'h' || ((doc_id * 7 + 3) % 50)::VARCHAR AS dst FROM documents"
    )
    return pagerank_sql(edges, n_iter=3)


def _q_trustrank_hosts(spark, sf_dir):
    """TrustRank spam demotion (operators/graph.py::trustrank): teleport
    mass restricted to a trusted seed set (hosts h0..h4) so trust decays
    with link distance from the seeds; nodes unreachable from a seed stay
    at rank 0. Same bigint/floor-quantized determinism contract as
    pagerank — the oracle (trustrank_sql) replays the 3 iterations
    bit-for-bit over the identical doc_id-derived host graph."""
    from comic_text_detector_spark.operators.graph import trustrank

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 50).cast("string")
        ).alias("dst"),
    )
    seeds = docs.filter(F.col("doc_id") < 5).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "node"
        )
    )
    return trustrank(edges, seeds, n_iter=3).select(
        F.col("node").cast("string").alias("node"), "rank"
    )


def _trustrank_oracle() -> str:
    from comic_text_detector_spark.operators.graph import trustrank_sql

    edges = (
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS src,"
        " 'h' || ((doc_id * 7 + 3) % 50)::VARCHAR AS dst FROM documents"
    )
    seeds = (
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS node FROM documents"
        " WHERE doc_id < 5"
    )
    return trustrank_sql(edges, seeds, n_iter=3)


def _q_pagerank_incremental(spark, sf_dir):
    """RECRAWL-DELTA PageRank (operators/graph.py::pagerank_incremental):
    the previous crawl's 3-iteration ranks warm-start a 2-iteration
    restart over the merged graph — adds from a second host formula
    (introducing hosts g* that never existed before), removes killing
    every edge whose source doc_id is a multiple of 50. The oracle
    replays previous phase + delta merge + restart as one unrolled query,
    bit-for-bit. Nothing rescans the historical crawl — only the previous
    ranks table and the delta edges move."""
    from comic_text_detector_spark.operators.graph import (
        pagerank,
        pagerank_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    prev_e = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 50).cast("string")
        ).alias("dst"),
    )
    add_e = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("g"), ((F.col("doc_id") * 13 + 1) % 20).cast("string")
        ).alias("dst"),
    )
    rem_e = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 50).cast("string")
        ).alias("dst"),
    )
    prev_r = pagerank(prev_e, n_iter=3)
    return pagerank_incremental(
        prev_e, prev_r, add_e, rem_e, n_iter=2
    ).select(F.col("node").cast("string").alias("node"), "rank")


def _pagerank_incremental_oracle() -> str:
    from comic_text_detector_spark.operators.graph import (
        pagerank_incremental_sql,
    )

    prev = (
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS src,"
        " 'h' || ((doc_id * 7 + 3) % 50)::VARCHAR AS dst FROM documents"
    )
    add = (
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS src,"
        " 'g' || ((doc_id * 13 + 1) % 20)::VARCHAR AS dst FROM documents"
        " WHERE doc_id % 3 = 0"
    )
    rem = (
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS src,"
        " 'h' || ((doc_id * 7 + 3) % 50)::VARCHAR AS dst FROM documents"
        " WHERE doc_id % 50 = 0"
    )
    return pagerank_incremental_sql(prev, add, rem, prev_iters=3, n_iter=2)


def _q_parse_robots(spark, sf_dir):
    """robots.txt PARSING (the front half of the robots pipeline —
    operators/curation.py::parse_robots_rules feeds robots_filter): RFC
    9309 group semantics replayed relationally (lag + running-sum group
    ids, agents x rules join). Fixture robots files are built from
    doc_ids with multi-agent groups, comments, empty Disallow and
    ignorable directives."""
    from comic_text_detector_spark.operators.curation import (
        parse_robots_rules,
    )

    robots = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 30)
        .select(
            F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias(
                "host"
            ),
            F.concat(
                F.lit("# generated\nUser-agent: *\nDisallow: /private"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit("\nAllow: /private"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit("/ok\n\nUser-agent: bot"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit("\nUser-agent: Extra\nDisallow: /\nDisallow:\n"),
                F.lit("Crawl-delay: 5\n"),
            ).alias("robots_txt"),
        )
    )
    return parse_robots_rules(robots)


def _robots_extras_df(spark, sf_dir):
    """Fixture robots.txt per host exercising crawl-delay group scoping
    (a bogus delay closes the 'fast' UA run; 'slow' opens a fresh group),
    invalid-value drops, and file-global sitemap records."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias("host"),
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: "),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("\nDisallow: /x\n"),
                F.lit("User-agent: fast\nCrawl-delay: bogus\n"),
                F.lit("User-agent: slow\nCrawl-delay: 10\n"),
                F.lit("Sitemap: https://h"),
                F.col("doc_id").cast("string"),
                F.lit("/sm"),
                (F.col("doc_id") % 4).cast("string"),
                F.lit(".xml\nSitemap: https://h"),
                F.col("doc_id").cast("string"),
                F.lit("/sm0.xml\n"),
            ).alias("robots_txt"),
        )
    )


def _q_robots_crawl_delay(spark, sf_dir):
    """Group-scoped Crawl-delay from raw robots.txt bytes
    (operators/curation.py::robots_crawl_delay): decimal seconds → exact
    half-up milli; bogus values drop (so agent 'fast' gets NO delay
    row); the oracle predicts every row from the fixture arithmetic."""
    from comic_text_detector_spark.operators.curation import (
        robots_crawl_delay,
    )

    return robots_crawl_delay(_robots_extras_df(spark, sf_dir))


def _q_robots_sitemaps(spark, sf_dir):
    """File-global Sitemap records (operators/curation.py::
    robots_sitemaps), distinct per host — the two fixture lines collapse
    to one when doc_id % 4 == 0."""
    from comic_text_detector_spark.operators.curation import robots_sitemaps

    return robots_sitemaps(_robots_extras_df(spark, sf_dir))


def _sitemap_fixture_df(spark, sf_dir):
    """Synthetic sitemap XML per host: entries with lastmod, without,
    with surrounding whitespace + &amp; entities, a loc-less block (must
    drop), an invalid lastmod ('soon' → NULL date, raw string kept) +
    an invalid priority ('high' → NULL), a full changefreq/priority
    entry, and a sitemapindex entry (kind='sitemap')."""
    i = F.col("doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .filter(i < 40)
        .select(
            F.concat(F.lit("h"), i.cast("string")).alias("host"),
            F.concat(
                F.lit("<urlset>\n<url><loc>https://h"), i.cast("string"),
                F.lit("/p0</loc><lastmod>2024-0"),
                (1 + i % 9).cast("string"),
                F.lit("-15</lastmod><changefreq>DAILY</changefreq>"
                      "<priority>0."),
                (i % 10).cast("string"),
                F.lit("</priority></url>\n<url><loc>\n  https://h"),
                i.cast("string"),
                F.lit("/p1?a=1&amp;b="), (i % 5).cast("string"),
                F.lit(" </loc></url>\n<url><lastmod>2020-01-01</lastmod>"
                      "</url>\n<url><loc>https://h"),
                i.cast("string"),
                F.lit("/p2</loc><lastmod>soon</lastmod>"
                      "<priority>high</priority></url>\n</urlset>\n"
                      "<sitemapindex><sitemap><loc>https://h"),
                i.cast("string"),
                F.lit("/more"), (i % 3).cast("string"),
                F.lit(".xml</loc></sitemap></sitemapindex>"),
            ).alias("sitemap_xml"),
        )
    )


def _q_parse_sitemap(spark, sf_dir):
    """Sitemap XML parsing (operators/curation.py::parse_sitemap): pure
    regexp block extraction, page vs index kinds, entity decode,
    whitespace trim, invalid-lastmod → NULL date; oracle predicts every
    row from the fixture arithmetic."""
    from comic_text_detector_spark.operators.curation import parse_sitemap

    return parse_sitemap(_sitemap_fixture_df(spark, sf_dir))


def _q_refetch_candidates(spark, sf_dir):
    """Recrawl decision (operators/curation.py::refetch_candidates):
    sitemap-listed pages absent from the crawl state refetch as
    never_crawled; pages whose lastmod postdates our capture refetch as
    modified; unknown lastmod is NOT evidence of modification."""
    from comic_text_detector_spark.operators.curation import (
        parse_sitemap,
        refetch_candidates,
    )

    rows = parse_sitemap(_sitemap_fixture_df(spark, sf_dir))
    i = F.col("doc_id")
    crawled = (
        _t(spark, sf_dir, "documents")
        .filter((i < 40) & (i % 2 == 0))
        .select(
            F.concat(F.lit("https://h"), i.cast("string"), F.lit("/p0")).alias(
                "url"
            ),
            F.lit("2024-05-01 00:00:00").cast("timestamp").alias("warc_ts"),
        )
    )
    return refetch_candidates(rows, crawled)


def _feed_fixture_df(spark, sf_dir):
    """Synthetic RSS+Atom feed XML per host: a complete RSS item (entity
    in link, RFC 822 pubDate), a CDATA title without guid/date, a
    link-less item (must drop), a title-less item with junk pubDate, an
    Atom entry with rel=alternate href + ISO updated, a link-less entry
    (drop), and a data-href trap entry whose junk updated yields a NULL
    date."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return (
        _t(spark, sf_dir, "documents")
        .filter(i < 40)
        .select(
            F.concat(F.lit("h"), s(i)).alias("host"),
            F.concat(
                F.lit("<rss><channel><title>chan</title>\n<item><title>"
                      "Post "),
                s(i),
                F.lit("</title><link>https://h"), s(i),
                F.lit("/p0?a=1&amp;b="), s(i % 5),
                F.lit("</link><guid>g"), s(i),
                F.lit("</guid><pubDate>Mon, "), s(1 + i % 28),
                F.lit(" Apr 2024 10:00:00 GMT</pubDate></item>\n"
                      "<item><title><![CDATA[C"),
                s(i),
                F.lit("]]></title><link>  https://h"), s(i),
                F.lit("/p1 </link></item>\n<item><title>nolink"),
                s(i),
                F.lit("</title></item>\n<item><link>https://h"), s(i),
                F.lit("/p2</link><pubDate>whenever</pubDate></item>\n"
                      "</channel></rss>\n<feed><entry><title>A"),
                s(i),
                F.lit('</title><link rel="alternate" href="https://h'),
                s(i),
                F.lit('/e0"/><id>t:'), s(i),
                F.lit("</id><updated>2024-0"), s(1 + i % 9),
                F.lit("-0"), s(1 + i % 9),
                F.lit("T00:00:00Z</updated></entry>\n<entry><title>nl"
                      "</title><id>t:x</id></entry>\n<entry>"
                      '<link data-href="https://WRONG/" href="https://h'),
                s(i),
                F.lit('/e1"/><updated>junk</updated></entry></feed>'),
            ).alias("feed_xml"),
        )
    )


def _q_parse_feed(spark, sf_dir):
    """RSS 2.0 / Atom feed parsing (operators/curation.py::parse_feed):
    pure regexp block extraction for both formats in one pass — CDATA
    title strip, entity decode in links, space-anchored href attribute
    (the data-href trap row must yield the REAL href), RFC 822 month-name
    pubDate → date via an explicit CASE mapping, ISO updated → date,
    link-less entries dropped. The oracle predicts every row from the
    fixture arithmetic."""
    from comic_text_detector_spark.operators.curation import parse_feed

    return parse_feed(_feed_fixture_df(spark, sf_dir))


_PARSE_FEED_ORACLE = (
    "WITH d AS (SELECT doc_id AS i, 'h' || doc_id::VARCHAR AS host,"
    " (1 + doc_id % 28) AS dd, (1 + doc_id % 9) AS mm"
    " FROM documents WHERE doc_id < 40) "
    "SELECT host, 'rss' AS format, 'Post ' || i::VARCHAR AS title,"
    " 'https://h' || i::VARCHAR || '/p0?a=1&b=' || (i % 5)::VARCHAR"
    " AS link, 'g' || i::VARCHAR AS entry_id,"
    " 'Mon, ' || dd::VARCHAR || ' Apr 2024 10:00:00 GMT' AS published,"
    " make_date(2024, 4, dd) AS published_date FROM d "
    "UNION ALL SELECT host, 'rss', 'C' || i::VARCHAR,"
    " 'https://h' || i::VARCHAR || '/p1', NULL, NULL, NULL FROM d "
    "UNION ALL SELECT host, 'rss', NULL,"
    " 'https://h' || i::VARCHAR || '/p2', NULL, 'whenever', NULL FROM d "
    "UNION ALL SELECT host, 'atom', 'A' || i::VARCHAR,"
    " 'https://h' || i::VARCHAR || '/e0', 't:' || i::VARCHAR,"
    " '2024-0' || mm::VARCHAR || '-0' || mm::VARCHAR || 'T00:00:00Z',"
    " make_date(2024, mm, mm) FROM d "
    "UNION ALL SELECT host, 'atom', NULL,"
    " 'https://h' || i::VARCHAR || '/e1', NULL, 'junk', NULL FROM d"
)


def _q_unigram_tokenize(spark, sf_dir):
    """SentencePiece-style unigram-LM Viterbi tokenization (operators/
    tokenize.py::unigram_tokenize, Kudo 2018): min-cost segmentation of
    every word under a broadcast piece map, DP + backtrack running as
    aggregate-loop expressions inside ONE projection — zero corpus
    shuffles, zero Python. The oracle replays the DP as a recursive CTE
    with the identical longest-piece tie-break, bit-exact on tokens and
    exact bigint total cost."""
    from comic_text_detector_spark.operators.tokenize import (
        UNIGRAM_DEMO_PIECES,
        unigram_tokenize,
    )

    pieces = spark.createDataFrame(
        list(UNIGRAM_DEMO_PIECES), "piece string, milli_lp long"
    )
    return unigram_tokenize(_t(spark, sf_dir, "documents"), pieces)


def _q_wordpiece_tokenize(spark, sf_dir):
    """BERT-style WordPiece greedy longest-match tokenization
    (operators/tokenize.py::wordpiece_tokenize, Wu et al. 2016) of the
    REAL documents.text under a broadcast membership map — the third
    subword scheme beside the BPE chain and the unigram Viterbi, with
    the all-or-nothing [UNK] rule the demo vocab deliberately triggers
    (no '##y' continuation, so 'key'/'query' collapse to [UNK]). The
    oracle replays the greedy loop as a recursive CTE with the same
    descending longest-first scan."""
    from comic_text_detector_spark.operators.tokenize import (
        WORDPIECE_DEMO_VOCAB,
        wordpiece_tokenize,
    )

    vocab = spark.createDataFrame(
        [(p,) for p in WORDPIECE_DEMO_VOCAB], "piece string"
    )
    return wordpiece_tokenize(_t(spark, sf_dir, "documents"), vocab)


def _directives_fixture_df(spark, sf_dir):
    """Synthetic page-head HTML per url, i%5 variants: canonical in
    attribute order A with a noindex,nofollow meta; order B with
    noarchive in content-first order; no directives; canonical with an
    entity query + base href; and a 'nonoindexy' trap content that the
    token match must NOT flag."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    h = F.concat(F.lit("https://h"), s(i % 20))
    c = F.concat(h, F.lit("/c"), s(i % 7))
    html = (
        F.when(
            i % 5 == 0,
            F.concat(
                F.lit('<head><link rel="canonical" href="'), c,
                F.lit('"/><meta name="robots" content="noindex, nofollow"'
                      "/></head>"),
            ),
        )
        .when(
            i % 5 == 1,
            F.concat(
                F.lit('<link href="'), c,
                F.lit('" rel="canonical"/><meta content="noarchive"'
                      ' name="robots"/>'),
            ),
        )
        .when(i % 5 == 2, F.lit("<p>x</p>"))
        .when(
            i % 5 == 3,
            F.concat(
                F.lit('<link rel="canonical" href="'), c,
                F.lit('?a=1&amp;b=2"/><base href="'), h,
                F.lit('/base/"/>'),
            ),
        )
        .otherwise(F.lit('<meta name="robots" content="nonoindexy"/>'))
    )
    return _t(spark, sf_dir, "documents").select(
        F.concat(h, F.lit("/p"), s(i)).alias("url"), html.alias("html")
    )


def _q_page_directives(spark, sf_dir):
    """Canonical/meta-robots/base directive extraction (functions/
    links.py::page_directives): both attribute orders, entity decode,
    comma-token robots matching (the 'nonoindexy' trap must stay
    False). Oracle predicts every row from the fixture arithmetic."""
    from comic_text_detector_spark.functions.links import page_directives

    return page_directives(_directives_fixture_df(spark, sf_dir))


_PAGE_DIRECTIVES_ORACLE = (
    "SELECT 'https://h' || (doc_id % 20)::VARCHAR || '/p' ||"
    " doc_id::VARCHAR AS url,"
    " CASE WHEN doc_id % 5 IN (0, 1) THEN 'https://h' ||"
    "  (doc_id % 20)::VARCHAR || '/c' || (doc_id % 7)::VARCHAR"
    " WHEN doc_id % 5 = 3 THEN 'https://h' || (doc_id % 20)::VARCHAR ||"
    "  '/c' || (doc_id % 7)::VARCHAR || '?a=1&b=2' END AS canonical_url,"
    " CASE WHEN doc_id % 5 = 3 THEN 'https://h' ||"
    "  (doc_id % 20)::VARCHAR || '/base/' END AS base_href,"
    " CASE WHEN doc_id % 5 = 0 THEN 'noindex, nofollow'"
    " WHEN doc_id % 5 = 1 THEN 'noarchive'"
    " WHEN doc_id % 5 = 4 THEN 'nonoindexy' END AS robots_content,"
    " doc_id % 5 = 0 AS noindex, doc_id % 5 = 0 AS nofollow,"
    " doc_id % 5 = 1 AS noarchive"
    " FROM documents"
)


def _q_canonical_dedup(spark, sf_dir):
    """Canonicalization-based dedup (functions/links.py::
    canonical_dedup): pages declaring the same canonical target collapse
    to one group; the lexicographically-smallest url represents. The
    oracle rebuilds the (url, group) mapping from the fixture arithmetic
    and replays the min-per-group."""
    from comic_text_detector_spark.functions.links import (
        canonical_dedup,
        page_directives,
    )

    return canonical_dedup(
        page_directives(_directives_fixture_df(spark, sf_dir))
    )


_CANONICAL_DEDUP_ORACLE = (
    "WITH g AS (SELECT 'https://h' || (doc_id % 20)::VARCHAR || '/p' ||"
    " doc_id::VARCHAR AS url,"
    " CASE WHEN doc_id % 5 IN (0, 1) THEN 'https://h' ||"
    "  (doc_id % 20)::VARCHAR || '/c' || (doc_id % 7)::VARCHAR"
    " WHEN doc_id % 5 = 3 THEN 'https://h' || (doc_id % 20)::VARCHAR ||"
    "  '/c' || (doc_id % 7)::VARCHAR || '?a=1&b=2'"
    " ELSE 'https://h' || (doc_id % 20)::VARCHAR || '/p' ||"
    "  doc_id::VARCHAR END AS canonical_group FROM documents), "
    "r AS (SELECT canonical_group, min(url) AS rep FROM g"
    " GROUP BY canonical_group) "
    "SELECT g.url, g.canonical_group, g.url = r.rep AS is_representative"
    " FROM g JOIN r USING (canonical_group)"
)


def _q_percent_normalize(spark, sf_dir):
    """RFC 3986 percent-encoding normalization (operators/curation.py::
    percent_normalize): unreserved escapes decode, reserved escapes
    uppercase, malformed '%' stays byte-for-byte. The oracle replays
    the identical split/transform/rejoin in DuckDB (list slicing +
    chr)."""
    from comic_text_detector_spark.operators.curation import (
        percent_normalize,
    )

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (i % 9).cast("string"), F.lit("/p%4"),
            (1 + i % 9).cast("string"), F.lit("%2fq%3a%7E/"),
            i.cast("string"), F.lit("?x=%zz%"),
        ).alias("url"),
    )
    return docs.select(
        "doc_id", percent_normalize(F.col("url")).alias("norm_url")
    )


_PERCENT_NORMALIZE_ORACLE = (
    "WITH d AS (SELECT doc_id, 'https://h' || (doc_id % 9)::VARCHAR ||"
    " '/p%4' || (1 + doc_id % 9)::VARCHAR || '%2fq%3a%7E/' ||"
    " doc_id::VARCHAR || '?x=%zz%' AS url FROM documents), "
    "s AS (SELECT doc_id, string_split(url, '%') AS parts FROM d) "
    "SELECT doc_id, parts[1] || array_to_string("
    " [CASE WHEN regexp_matches(p, '^[0-9a-fA-F]{2}') THEN"
    "   CASE WHEN (('0x' || upper(p[1:2]))::INT BETWEEN 48 AND 57)"
    "     OR (('0x' || upper(p[1:2]))::INT BETWEEN 65 AND 90)"
    "     OR (('0x' || upper(p[1:2]))::INT BETWEEN 97 AND 122)"
    "     OR (('0x' || upper(p[1:2]))::INT IN (45, 46, 95, 126))"
    "   THEN chr(('0x' || upper(p[1:2]))::INT) || p[3:]"
    "   ELSE '%' || upper(p[1:2]) || p[3:] END"
    "  ELSE '%' || p END FOR p IN parts[2:]], '') AS norm_url FROM s"
)


def _q_sentence_dedup(spark, sf_dir):
    """Sentence-granular boilerplate removal (operators/curation.py::
    sentence_freq_dedup): the subscribe-prompt sentence shared by every
    doc and the s{i%3} tail shared by ~a third both exceed the doc-freq
    cap and drop; the per-doc unique fact survives. Oracle is the
    closed-form fixture arithmetic."""
    from comic_text_detector_spark.operators.curation import (
        sentence_freq_dedup,
    )

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Subscribe to H now. Unique fact "), i.cast("string"),
            F.lit(" is here. Another s"), (i % 3).cast("string"),
            F.lit(" tail."),
        ).alias("text"),
    )
    return sentence_freq_dedup(docs, max_doc_freq=2)


_SENTENCE_DEDUP_ORACLE = (
    "SELECT doc_id, 'Unique fact ' || doc_id::VARCHAR || ' is here.'"
    " AS text, CAST(3 AS BIGINT) AS n_sents_in,"
    " CAST(1 AS BIGINT) AS n_sents_kept FROM documents"
)


def _q_zipf_report(spark, sf_dir):
    """Zipf corpus-health audit (operators/stats.py::zipf_report): word
    ranks → milli-quantized log-log least squares summed as exact
    bigints, so slope/intercept replay bit-for-bit in DuckDB; top-1 and
    top-100 coverage ride the same pass."""
    from comic_text_detector_spark.operators.stats import zipf_report

    return zipf_report(_t(spark, sf_dir, "documents"))


def _q_split_sentences(spark, sf_dir):
    """Rule-based sentence segmentation (functions/textstats.py::
    split_sentences): terminator + space + UPPERCASE boundary, masked
    abbreviations, lowercase-follow stays joined. Fixture text is built
    from doc_id with a protected 'Mr.', a '?'-then-lowercase non-split,
    and a one-letter sentence; the oracle replays the identical
    replace/regex/split chain in DuckDB (\\1 backrefs + 'g' flag)."""
    from comic_text_detector_spark.functions.textstats import (
        split_sentences,
    )

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Mr. Smith saw h"), i.cast("string"),
            F.lit(". It was item "), (i % 7).cast("string"),
            F.lit(" of all! Did it scan? yes it did. A one. The end."),
        ).alias("text"),
    )
    return split_sentences(docs)


_SPLIT_SENTENCES_ORACLE = (
    "WITH d AS (SELECT doc_id, 'Mr. Smith saw h' || doc_id::VARCHAR ||"
    " '. It was item ' || (doc_id % 7)::VARCHAR ||"
    " ' of all! Did it scan? yes it did. A one. The end.' AS text"
    " FROM documents), "
    "m AS (SELECT doc_id, replace(replace(replace(coalesce(text, ''),"
    " 'Mr.', 'Mr' || chr(2)), 'Mrs.', 'Mrs' || chr(2)),"
    " 'Dr.', 'Dr' || chr(2)) AS t FROM d), "
    "b AS (SELECT doc_id, regexp_replace(t, '([.!?]) +([A-Z])',"
    " '\\1' || chr(1) || '\\2', 'g') AS t FROM m), "
    "s AS (SELECT doc_id, generate_subscripts(ss, 1) - 1 AS sent_idx,"
    " trim(replace(unnest(ss), chr(2), '.')) AS sentence FROM"
    " (SELECT doc_id, string_split(t, chr(1)) AS ss FROM b)) "
    "SELECT doc_id, CAST(sent_idx AS INT) AS sent_idx, sentence FROM s"
    " WHERE sentence <> ''"
)


def _q_bitext_pairs(spark, sf_dir):
    """ParaCrawl-style bitext candidate mining (operators/curation.py::
    bitext_url_pairs): urls differing only by a language path segment
    collide on the collapsed key; cross-language pairs emit with the
    comparable-length ratio. Keyless urls drop pre-shuffle, oversized
    groups drop by the star-cap rule. The oracle replays key collapse,
    cap and self-join in DuckDB."""
    from comic_text_detector_spark.operators.curation import (
        bitext_url_pairs,
    )

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"), (i % 10).cast("string"), F.lit("/"),
            F.col("lang"), F.lit("/p"), (i % 50).cast("string"),
        ).alias("url"),
        "lang",
        "text",
    )
    return bitext_url_pairs(docs, max_group=16)


_BITEXT_ORACLE = (
    "WITH d0 AS (SELECT 'https://h' || (doc_id % 10)::VARCHAR || '/' ||"
    " lang || '/p' || (doc_id % 50)::VARCHAR AS u, lang AS l,"
    " CAST(length(coalesce(text, '')) AS BIGINT) AS n FROM documents), "
    "d AS (SELECT regexp_replace(regexp_replace(u,"
    " '/(en|fr|de|es|zh|ja|pt|it|ru|ar|hi|ko|nl|pl|tr)/', '/_L_/', 'g'),"
    " '([?&]lang=)[a-zA-Z-]+', '\\1_L_', 'g') AS bitext_key, u, l, n"
    " FROM d0), "
    "d1 AS (SELECT * FROM d WHERE bitext_key <> u), "
    "ok AS (SELECT bitext_key FROM d1 GROUP BY bitext_key"
    " HAVING count(*) <= 16), "
    "d2 AS (SELECT d1.* FROM d1 JOIN ok USING (bitext_key)) "
    "SELECT a.bitext_key, a.u AS url_a, a.l AS lang_a, b.u AS url_b,"
    " b.l AS lang_b,"
    " least(a.n, b.n) / CAST(greatest(greatest(a.n, b.n), 1) AS DOUBLE)"
    " AS len_ratio"
    " FROM d2 a JOIN d2 b USING (bitext_key) WHERE a.l < b.l"
)


def _q_cdx_roundtrip(spark, sf_dir):
    """CDXJ index lines (sources/warc.py::cdx_lines/parse_cdx — the
    fourth Common Crawl format beside WARC/WET/WAT): emit
    '{surt} {ts14} {json}' per capture with byte-pinned JSON layout,
    then re-parse; the oracle rebuilds every parsed field from the
    fixture arithmetic, so emit AND parse verify in one query."""
    from comic_text_detector_spark.sources.warc import cdx_lines, parse_cdx

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://w"), (i % 5).cast("string"),
            F.lit(".example.org/p/"), i.cast("string"),
        ).alias("url"),
        F.make_timestamp(
            F.lit(2024), F.lit(1), (1 + i % 28).cast("int"),
            F.pmod(i, F.lit(24)).cast("int"),
            F.pmod(i, F.lit(60)).cast("int"), F.lit(0),
        ).alias("warc_ts"),
        F.col("text"),
    )
    return parse_cdx(cdx_lines(docs)).drop("ts")


_CDX_ORACLE = (
    "SELECT 'org,example,w' || (doc_id % 5)::VARCHAR || ')/p/' ||"
    " doc_id::VARCHAR AS surt,"
    " '202401' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') ||"
    " lpad((doc_id % 24)::VARCHAR, 2, '0') ||"
    " lpad((doc_id % 60)::VARCHAR, 2, '0') || '00' AS ts14,"
    " 'https://w' || (doc_id % 5)::VARCHAR || '.example.org/p/' ||"
    " doc_id::VARCHAR AS url,"
    " 'text/html' AS mime, CAST(200 AS INT) AS status,"
    " md5(coalesce(text, '')) AS digest,"
    " CAST(length(coalesce(text, '')) AS BIGINT) AS length"
    " FROM documents"
)


def _q_count_min_hosts(spark, sf_dir):
    """Count-Min heavy-hitter estimates (operators/stats.py::
    count_min_sketch/count_min_estimate): md5-portable bucket hashing →
    the DuckDB twin rebuilds the identical depth×width sketch and
    replays every min-over-rows estimate bit-for-bit (width 64 forces
    real collisions, so over-estimates are exercised, not dodged)."""
    from comic_text_detector_spark.operators.stats import (
        count_min_estimate,
        count_min_sketch,
    )

    stream = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 30).cast("string")).alias(
            "host"
        )
    )
    sk = count_min_sketch(stream, "host", depth=4, width=64)
    return count_min_estimate(sk, stream, "host", depth=4, width=64)


def _q_train_unigram(spark, sf_dir):
    """Hard-EM unigram-LM piece TRAINING (operators/tokenize.py::
    train_unigram_pieces): substring seed → 2 unrolled Viterbi-EM
    rounds (usage recount, single-char floor) → vocab prune →
    renormalize. Counts exact, probabilities milli-quantized; the
    DuckDB twin unrolls both EM rounds with their own recursive DP
    blocks, bit-for-bit."""
    from comic_text_detector_spark.operators.tokenize import (
        train_unigram_pieces,
    )

    return train_unigram_pieces(
        _t(spark, sf_dir, "documents"),
        max_piece_len=4,
        min_count=3,
        vocab_size=60,
        n_iter=2,
    )


def _q_blocklist_filter(spark, sf_dir):
    """UT1-style blocklist verdicts (operators/curation.py::
    blocklist_filter): domain-suffix explode join, exact-host join, and
    host-routed url-prefix join, priority host > domain > url_prefix
    with a deliberate overlap row (i%20==3 & i%7==1 matches both host
    and domain → host must win). Oracle predicts every verdict from the
    fixture arithmetic."""
    from comic_text_detector_spark.operators.curation import (
        blocklist_filter,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://s"), s(i % 7), F.lit(".site"), s(i % 20),
            F.lit(".com/p"), s(i % 10),
        ).alias("url"),
    )
    b = _t(spark, sf_dir, "documents").filter(i < 7)
    bl = (
        b.filter(i < 4).select(
            F.concat(F.lit("site"), s(i), F.lit(".com")).alias("pattern"),
            F.lit("domain").alias("kind"),
            F.concat(F.lit("dcat"), s(i)).alias("category"),
        )
        .unionByName(
            b.filter((i >= 4) & (i < 6)).select(
                F.concat(
                    F.lit("s1.site"), s(i - 1), F.lit(".com")
                ).alias("pattern"),
                F.lit("host").alias("kind"),
                F.concat(F.lit("hcat"), s(i - 1)).alias("category"),
            )
        )
        .unionByName(
            b.filter(i == 6).select(
                F.lit("https://s2.site5.com/p").alias("pattern"),
                F.lit("url_prefix").alias("kind"),
                F.lit("pre").alias("category"),
            )
        )
    )
    return blocklist_filter(docs, bl).select(
        "doc_id", "url", "block_category", "block_kind"
    )


_BLOCKLIST_ORACLE = (
    "SELECT doc_id, 'https://s' || (doc_id % 7)::VARCHAR || '.site' ||"
    " (doc_id % 20)::VARCHAR || '.com/p' || (doc_id % 10)::VARCHAR AS url,"
    " CASE WHEN doc_id % 7 = 1 AND doc_id % 20 IN (3, 4)"
    "  THEN 'hcat' || (doc_id % 20)::VARCHAR"
    " WHEN doc_id % 20 <= 3 THEN 'dcat' || (doc_id % 20)::VARCHAR"
    " WHEN doc_id % 7 = 2 AND doc_id % 20 = 5 THEN 'pre' END"
    " AS block_category,"
    " CASE WHEN doc_id % 7 = 1 AND doc_id % 20 IN (3, 4) THEN 'host'"
    " WHEN doc_id % 20 <= 3 THEN 'domain'"
    " WHEN doc_id % 7 = 2 AND doc_id % 20 = 5 THEN 'url_prefix' END"
    " AS block_kind"
    " FROM documents"
)


def _q_badword_score(spark, sf_dir):
    """Weighted bad-word density (operators/curation.py::badword_score):
    lowercase token explode joined to a broadcast (word, weight)
    lexicon; exact counts, one division. The oracle replays tokenization
    + join in DuckDB."""
    from comic_text_detector_spark.operators.curation import badword_score

    lex = spark.createDataFrame(
        [("slow", 3), ("hash", 1), ("big", 2)], "word string, weight long"
    )
    return badword_score(_t(spark, sf_dir, "documents"), lex)


_BADWORD_ORACLE = (
    "WITH t AS (SELECT doc_id AS id, w FROM (SELECT doc_id,"
    " unnest(string_split(lower(coalesce(text, '')), ' ')) AS w"
    " FROM documents) WHERE w <> ''), "
    "lex AS (SELECT * FROM (VALUES ('slow', 3), ('hash', 1), ('big', 2))"
    " AS v(w, weight)) "
    "SELECT t.id AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens,"
    " CAST(count(lex.weight) AS BIGINT) AS n_bad,"
    " CAST(coalesce(sum(lex.weight), 0) AS BIGINT) AS bad_weight,"
    " count(lex.weight) / CAST(count(*) AS DOUBLE) AS bad_frac"
    " FROM t LEFT JOIN lex ON lex.w = t.w GROUP BY t.id"
)


_PARSE_ROBOTS_ORACLE = (
    "WITH src AS (SELECT 'h' || doc_id::VARCHAR AS host,"
    " '# generated' || chr(10) || 'User-agent: *' || chr(10) ||"
    " 'Disallow: /private' || (doc_id % 5)::VARCHAR || chr(10) ||"
    " 'Allow: /private' || (doc_id % 5)::VARCHAR || '/ok' || chr(10) ||"
    " chr(10) || 'User-agent: bot' || (doc_id % 3)::VARCHAR || chr(10) ||"
    " 'User-agent: Extra' || chr(10) || 'Disallow: /' || chr(10) ||"
    " 'Disallow:' || chr(10) || 'Crawl-delay: 5' || chr(10) AS txt"
    " FROM documents WHERE doc_id < 30), "
    "lines AS (SELECT host, generate_subscripts(ls, 1) AS pos,"
    " trim(replace(regexp_replace(unnest(ls), '#.*$', ''),"
    " chr(13), '')) AS line FROM"
    " (SELECT host, string_split(coalesce(txt, ''), chr(10)) AS ls"
    " FROM src)), "
    "parsed AS (SELECT host, pos,"
    " lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) AS directive,"
    " trim(regexp_extract(line, '^[A-Za-z-]+\\s*:(.*)$', 1)) AS value"
    " FROM lines WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:',"
    " 1)) IN ('user-agent', 'allow', 'disallow')), "
    "g AS (SELECT *,"
    " CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS is_ua"
    " FROM parsed), "
    "g2 AS (SELECT *, CASE WHEN is_ua = 1 AND"
    " coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY pos), 0) = 0"
    " THEN 1 ELSE 0 END AS group_start FROM g), "
    "g3 AS (SELECT *, sum(group_start) OVER (PARTITION BY host"
    " ORDER BY pos ROWS UNBOUNDED PRECEDING) AS group_id FROM g2), "
    "agents AS (SELECT host, group_id, lower(value) AS agent FROM g3"
    " WHERE is_ua = 1), "
    "rules AS (SELECT host, group_id, value AS path_prefix,"
    " directive = 'allow' AS allow FROM g3"
    " WHERE is_ua = 0 AND value <> '') "
    "SELECT a.host, a.agent, r.path_prefix, r.allow"
    " FROM agents a JOIN rules r USING (host, group_id)"
)


def _q_schedule_frontier(spark, sf_dir):
    """Politeness-aware frontier scheduling: md5 host-affine worker
    assignment + deterministic per-host fetch slots spaced by the
    politeness delay (operators/curation.py::schedule_frontier)."""
    from comic_text_detector_spark.operators.curation import (
        schedule_frontier,
    )

    urls = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return schedule_frontier(urls, n_workers=8, per_host_delay_ms=1500)


_FRONTIER_ORACLE = (
    "WITH u AS (SELECT 'https://h' || (doc_id % 40)::VARCHAR ||"
    " '.example/p/' || doc_id::VARCHAR AS url FROM documents), "
    "k AS (SELECT url,"
    " regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1) AS host,"
    " md5('frontier:' || url) AS okey FROM u WHERE"
    " coalesce(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1), '')"
    " <> ''), "
    "s AS (SELECT url, host,"
    " CAST(('0x'||substr(md5(host),1,8))::BIGINT % 8 AS INT) AS worker,"
    " CAST(row_number() OVER (PARTITION BY host ORDER BY okey, url) - 1"
    " AS BIGINT) AS slot FROM k) "
    "SELECT url, host, worker, slot, slot * 1500 AS fetch_at_ms FROM s"
)


_BM25_TERMS = ("the", "data", "of", "and", "with")


def _q_bm25(spark, sf_dir):
    """Okapi BM25 corpus search (operators/retrieval.py): per-term
    micro-quantized scores, exact bigint sums, broadcast document
    frequencies — the oracle replays the identical float expression
    tree."""
    from comic_text_detector_spark.operators.retrieval import bm25_score

    return bm25_score(_t(spark, sf_dir, "documents"), _BM25_TERMS)


def _q_bm25_phrase_index(spark, sf_dir):
    """Positional BM25 over a PREBUILT positional index — the index path
    shares both scoring tails with the direct bm25_phrase, so the SAME
    positional DuckDB oracle must match bit-for-bit."""
    from comic_text_detector_spark.operators.retrieval import (
        bm25_phrase_from_index,
        build_positional_index,
    )

    postings, lengths = build_positional_index(
        _t(spark, sf_dir, "documents")
    )
    return bm25_phrase_from_index(postings, lengths, _BM25_PHRASE)


def _q_bm25_index(spark, sf_dir):
    """BM25 over a PREBUILT inverted index (operators/retrieval.py::
    build_inverted_index + bm25_from_index): postings and lengths
    relations replace the corpus scan; scores are bit-identical to the
    direct path by construction (shared scoring tail), so the SAME
    DuckDB oracle as bm25_docs must match."""
    from comic_text_detector_spark.operators.retrieval import (
        bm25_from_index,
        build_inverted_index,
    )

    postings, lengths = build_inverted_index(_t(spark, sf_dir, "documents"))
    return bm25_from_index(postings, lengths, _BM25_TERMS)


# a word pair that genuinely occurs ADJACENT in some synthetic docs and
# scattered in many others — so n_phrase, proximity, and the bag leg all
# take non-trivial values across the corpus
_BM25_PHRASE = ("table", "hash")


def _q_bm25_phrase(spark, sf_dir):
    """Positional BM25 — phrase + proximity scoring
    (operators/retrieval.py::bm25_phrase): exact ordered-adjacent phrase
    counts via the (doc, pos−j) anchor groupBy, per-pair min ordered gap
    via a running-max window, every component micro-quantized; the oracle
    recomputes the positions from the raw token list and replays the
    identical expression tree."""
    from comic_text_detector_spark.operators.retrieval import bm25_phrase

    return bm25_phrase(_t(spark, sf_dir, "documents"), _BM25_PHRASE)


def _q_lm_score(spark, sf_dir):
    """CCNet-shape LM quality scoring: a stupid-backoff bigram LM trained
    in-Spark on the documents corpus, every document scored by mean
    milli-quantized log10 probability (operators/lm.py — counts exact,
    one division + one quantized log per token, so the whole train+score
    pipeline replays bit-identically in DuckDB)."""
    from comic_text_detector_spark.operators.lm import (
        lm_score,
        train_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    uni, big = train_bigram_lm(docs)
    return lm_score(docs, uni, big)


def _q_lm_score_trigram(spark, sf_dir):
    """Trigram stupid-backoff LM scoring (operators/lm.py::
    train_trigram_lm/lm_score_trigram) — the one-order-up extension of
    lm_score_docs with exact per-rung alpha penalties (tri→big→uni→OOV);
    the context-pair mass reuses the bigram relation. Counts exact,
    milli-quantized logs: the DuckDB twin replays train+score
    bit-identically."""
    from comic_text_detector_spark.operators.lm import (
        lm_score_trigram,
        train_trigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    uni, big, tri = train_trigram_lm(docs)
    return lm_score_trigram(docs, uni, big, tri)


def _q_lm_outlier_spans(spark, sf_dir):
    """LM quality LOCALIZATION (operators/lm.py::lm_outlier_spans): a
    run of five OOV tokens appended to every fluent doc collapses the
    trailing-window mean below the floor once the window is OOV-
    dominated — the flagged run coalesces into one span per doc. The
    rolling decision is pure bigint comparison, so the DuckDB twin
    replays every span boundary exactly."""
    from comic_text_detector_spark.operators.lm import (
        lm_outlier_spans,
        train_bigram_lm,
    )

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    uni, big = train_bigram_lm(docs)
    s = lambda c: c.cast("string")  # noqa: E731
    mod = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" qza"), s(i), F.lit(" qzb"), s(i),
            F.lit(" qzc"), s(i), F.lit(" qzd"), s(i), F.lit(" qze"), s(i),
        ).alias("text"),
    )
    return lm_outlier_spans(mod, uni, big, window=5, min_mean_milli=-3500)


def _lm_outlier_spans_oracle() -> str:
    from comic_text_detector_spark.operators.lm import lm_outlier_spans_sql

    corpus = (
        "(SELECT doc_id, text || ' qza' || doc_id::VARCHAR ||"
        " ' qzb' || doc_id::VARCHAR || ' qzc' || doc_id::VARCHAR ||"
        " ' qzd' || doc_id::VARCHAR || ' qze' || doc_id::VARCHAR"
        " AS text FROM documents) mc"
    )
    return lm_outlier_spans_sql(
        corpus=corpus, reference="documents", window=5, min_mean_milli=-3500
    )


def _q_cut_lm_outliers(spark, sf_dir):
    """The localize→cut loop closed (operators/lm.py::lm_outlier_spans
    → cut_token_spans): the OOV-dominated flagged runs are removed and
    the survivors reassemble in order. The oracle chains the span
    oracle as a CTE with the token-surgery replay."""
    from comic_text_detector_spark.operators.lm import (
        cut_token_spans,
        lm_outlier_spans,
        train_bigram_lm,
    )

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    uni, big = train_bigram_lm(docs)
    s = lambda c: c.cast("string")  # noqa: E731
    mod = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" qza"), s(i), F.lit(" qzb"), s(i),
            F.lit(" qzc"), s(i), F.lit(" qzd"), s(i), F.lit(" qze"), s(i),
        ).alias("text"),
    )
    spans = lm_outlier_spans(mod, uni, big, window=5, min_mean_milli=-3500)
    return cut_token_spans(mod, spans)


def _cut_lm_outliers_oracle() -> str:
    sp = _lm_outlier_spans_oracle()
    corpus = (
        "(SELECT doc_id, text || ' qza' || doc_id::VARCHAR ||"
        " ' qzb' || doc_id::VARCHAR || ' qzc' || doc_id::VARCHAR ||"
        " ' qzd' || doc_id::VARCHAR || ' qze' || doc_id::VARCHAR"
        " AS text FROM documents) mc2"
    )
    return (
        f"WITH sp AS ({sp}), "
        "tk AS (SELECT id, pos, w FROM (SELECT doc_id AS id,"
        " generate_subscripts(ws, 1) - 1 AS pos, unnest(ws) AS w"
        f" FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ')"
        f" AS ws FROM {corpus})) WHERE w <> ''), "
        "mk AS (SELECT t.id, t.pos, t.w,"
        " max(CASE WHEN s.doc_id IS NOT NULL AND t.pos BETWEEN"
        " s.start_pos AND s.end_pos THEN 1 ELSE 0 END) AS cut"
        " FROM tk t LEFT JOIN sp s ON s.doc_id = t.id"
        " GROUP BY t.id, t.pos, t.w) "
        "SELECT id AS doc_id,"
        " coalesce(string_agg(w, ' ' ORDER BY pos)"
        " FILTER (WHERE cut = 0), '') AS text,"
        " CAST(count(*) AS BIGINT) AS n_tokens_in,"
        " CAST(count(*) FILTER (WHERE cut = 1) AS BIGINT) AS n_tokens_cut"
        " FROM mk GROUP BY id"
    )


def _q_ccnet_tiers(spark, sf_dir):
    """CCNet tier extraction proper (operators/lm.py::ccnet_tiers,
    Wenzek et al. 2020 §4.3): per-language head/middle/tail tiers cut at
    the corpus's own LM-score quantiles via percent_rank, not at fixed
    score thresholds. percent_rank is one IEEE
    division of exact ints over a tie-free ordering, so tier labels
    replay bit-identically in DuckDB."""
    from comic_text_detector_spark.operators.lm import (
        ccnet_tiers,
        train_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    uni, big = train_bigram_lm(docs)
    return ccnet_tiers(docs, uni, big)


def _q_u8_label_maps(spark, sf_dir):
    """U8 completeness: REAL 2-D rasterized DBNet-style label maps
    (shrink map / shrink mask / border support — reference
    utils/db_utils.py:527-701) built by operators/labelmaps.py on pixel
    grids, summarized as integer counts. The oracle reproduces the counts
    in closed form for the axis-aligned fixtures (shrink offset d =
    A(1-r²)/P with identical float op order, lattice counts via
    ceil/floor) — the same axis-aligned-restriction strategy as
    polygon_unclip_axis. doc_id % 9 == 0 rows have min side 3 < 4 and
    exercise the ignore branch (mask zeroed over the original polygon)."""
    from comic_text_detector_spark.operators.labelmaps import label_maps_df

    g = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (2 + F.col("doc_id") % 5).cast("double").alias("x1"),
        (2 + F.col("doc_id") % 3).cast("double").alias("y1"),
        (4 + F.col("doc_id") % 13).cast("double").alias("dx"),
        (3 + F.col("doc_id") % 9).cast("double").alias("dy"),
    )
    rects = g.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit(32).alias("w"),
        F.lit(24).alias("h"),
        F.array(
            F.array(
                F.array("x1", "y1"),
                F.array(F.col("x1") + F.col("dx"), F.col("y1")),
                F.array(F.col("x1") + F.col("dx"), F.col("y1") + F.col("dy")),
                F.array("x1", F.col("y1") + F.col("dy")),
            )
        ).alias("polys"),
    )
    return label_maps_df(rects).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "n_shrink", "n_masked_off", "n_border_support",
    )


def _u8_label_maps_oracle() -> str:
    return (
        "WITH g AS (SELECT doc_id,"
        " CAST(2 + doc_id % 5 AS DOUBLE) AS x1,"
        " CAST(2 + doc_id % 3 AS DOUBLE) AS y1,"
        " CAST(4 + doc_id % 13 AS DOUBLE) AS dx,"
        " CAST(3 + doc_id % 9 AS DOUBLE) AS dy FROM documents), "
        "c AS (SELECT doc_id, x1, y1, x1 + dx AS x2, y1 + dy AS y2,"
        " dx * dy AS a, 2 * (dx + dy) AS l, least(dx, dy) AS mside,"
        " dx, dy FROM g), "
        "dc AS (SELECT *, a * (1 - 0.4 * 0.4) / l AS d FROM c) "
        "SELECT doc_id,"
        " CAST(CASE WHEN mside < 4 THEN 0 ELSE"
        "  greatest(0, floor(x2 - d) - ceil(x1 + d) + 1) *"
        "  greatest(0, floor(y2 - d) - ceil(y1 + d) + 1) END AS BIGINT)"
        " AS n_shrink,"
        " CAST(CASE WHEN mside < 4 THEN (dx + 1) * (dy + 1) ELSE 0 END"
        " AS BIGINT) AS n_masked_off,"
        " CAST(CASE WHEN mside < 4 THEN 0 ELSE"
        "  (least(31, floor(x2 + d)) - greatest(0, ceil(x1 - d)) + 1) *"
        "  (least(23, floor(y2 + d)) - greatest(0, ceil(y1 - d)) + 1) END"
        " AS BIGINT) AS n_border_support"
        " FROM dc"
    )


def _q_train_quality_logit(spark, sf_dir):
    """IN-SPARK TRAINING of the hashed-BoW quality classifier (logistic
    regression as column-expr gradient aggregations; integer-deterministic
    loop — see operators/quality_train.py). The oracle replays the ENTIRE
    3-iteration fit as unrolled CTEs: feature hash, exact bigint logits,
    milli-quantized sigmoid, integer floor updates. Labels here are a
    deterministic parity split (the gate checks the ARITHMETIC; the
    planted-separability pytest checks the learning)."""
    from comic_text_detector_spark.operators.quality_train import (
        train_quality_logit,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        "text",
        (F.col("doc_id") % 2).alias("label"),
    )
    w = train_quality_logit(
        docs, id_col="id", label_col="label", n_buckets=4096, n_iter=3
    )
    rows = sorted(w.items())
    if not rows:  # degenerate-but-legal: perfectly balanced gradients
        return spark.createDataFrame([], "b long, mw long")
    return spark.createDataFrame(rows, "b long, mw long")


def _train_quality_oracle() -> str:
    from comic_text_detector_spark.operators.quality_train import (
        train_quality_logit_sql,
    )

    inner = train_quality_logit_sql(4096, 3)
    assert inner.startswith("WITH ")
    return (
        "WITH labeled AS (SELECT doc_id AS id, text,"
        " CAST(doc_id % 2 AS BIGINT) AS y FROM documents), "
        + inner[len("WITH "):]
    )


def _q_train_quality_logit_topk(spark, sf_dir):
    """BOUNDED-COLLECT trainer variant: 2^20 hash buckets with
    max_updates_per_iter=8 — each iteration updates only the 8 largest-
    |gradient| buckets (deterministic order, distributed orderBy+limit),
    so the driver collect stays ≤8 rows no matter the hash dim (a cap
    that genuinely BINDS at this corpus' vocabulary, cutting most of the
    occupied buckets each round). The
    oracle replays the same top-k cut with untouched weights carried
    forward by an anti-join (operators/quality_train.py)."""
    from comic_text_detector_spark.operators.quality_train import (
        train_quality_logit,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        "text",
        (F.col("doc_id") % 2).alias("label"),
    )
    w = train_quality_logit(
        docs, id_col="id", label_col="label",
        n_buckets=1 << 20, n_iter=3, max_updates_per_iter=8,
    )
    rows = sorted(w.items())
    if not rows:
        return spark.createDataFrame([], "b long, mw long")
    return spark.createDataFrame(rows, "b long, mw long")


def _train_quality_topk_oracle() -> str:
    from comic_text_detector_spark.operators.quality_train import (
        train_quality_logit_sql,
    )

    inner = train_quality_logit_sql(1 << 20, 3, max_updates=8)
    assert inner.startswith("WITH ")
    return (
        "WITH labeled AS (SELECT doc_id AS id, text,"
        " CAST(doc_id % 2 AS BIGINT) AS y FROM documents), "
        + inner[len("WITH "):]
    )


def _q_pack_sequences_split(spark, sf_dir):
    """Packing with long-document splitting (what pretraining pipelines do
    instead of giving over-budget docs a lonely pack): docs over the
    budget are pre-split into budget-size parts packed as atomic units in
    (order-key, id, part) order. Budget 80 so a healthy share of sf docs
    actually split. Oracle replays the identical parts explode + greedy
    recurrence."""
    from comic_text_detector_spark.functions.textstats import (
        token_count_ws,
    )
    from comic_text_detector_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(
        docs, budget=80, n_buckets=8, split_long=True
    ).select(
        "doc_id",
        "part",
        F.col("bucket").cast("int").alias("bucket"),
        "n_tokens",
        "pack_id",
        "pack_pos",
    )


def _pack_sequences_split_oracle() -> str:
    return (
        "WITH RECURSIVE "
        "s AS (SELECT doc_id,"
        " CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT)"
        " AS tok FROM documents), "
        # over-budget docs explode into ceil(tok/80) parts of <=80 tokens
        "p AS (SELECT doc_id, unnest(generate_series(0,"
        " CAST(CASE WHEN tok > 80 THEN ceil(tok / 80.0) ELSE 1 END"
        " AS BIGINT) - 1)) AS part, tok FROM s), "
        "q AS (SELECT doc_id, part,"
        " CASE WHEN tok > 80 THEN least(80, greatest(tok - part * 80, 0))"
        " ELSE tok END AS tok FROM p), "
        "k AS (SELECT doc_id, part, tok,"
        " md5('pack:'||doc_id::VARCHAR) AS okey FROM q), "
        "b AS (SELECT doc_id, part, tok, okey,"
        " CAST(('0x'||substr(md5(okey),1,8))::BIGINT % 8 AS INT)"
        " AS bucket FROM k), "
        "r AS MATERIALIZED (SELECT doc_id, part, tok, okey, bucket,"
        " row_number() OVER (PARTITION BY bucket"
        " ORDER BY okey, doc_id, part) AS rn FROM b), "
        "walk AS ("
        " SELECT bucket, rn, CAST(0 AS BIGINT) AS pack, tok AS acc"
        " FROM r WHERE rn = 1"
        " UNION ALL"
        " SELECT r.bucket, r.rn,"
        "  CASE WHEN w.acc + r.tok > 80 THEN w.pack + 1 ELSE w.pack END,"
        "  CASE WHEN w.acc + r.tok > 80 THEN r.tok ELSE w.acc + r.tok END"
        " FROM walk w JOIN r ON r.bucket = w.bucket AND r.rn = w.rn + 1) "
        "SELECT r.doc_id, r.part, r.bucket, r.tok AS n_tokens,"
        " w.pack AS pack_id,"
        " CAST(row_number() OVER (PARTITION BY r.bucket, w.pack"
        " ORDER BY r.rn) - 1 AS BIGINT) AS pack_pos"
        " FROM r JOIN walk w ON r.bucket = w.bucket AND r.rn = w.rn"
    )


def _rotated_iou_axis_oracle() -> str:
    jits = {
        t: f"CAST(('0x'||substr(md5('{t}:'||doc_id::VARCHAR),1,8))::BIGINT"
        f" % {m} AS DOUBLE)"
        for t, m in (
            ("ax1", 30), ("ay1", 30), ("aw", 20), ("ah", 20),
            ("bx1", 30), ("by1", 30), ("bw", 20), ("bh", 20),
        )
    }
    return (
        "WITH r AS (SELECT doc_id,"
        f" {jits['ax1']} AS ax1, {jits['ay1']} AS ay1,"
        f" {jits['ax1']} + 5 + {jits['aw']} AS ax2,"
        f" {jits['ay1']} + 5 + {jits['ah']} AS ay2,"
        f" {jits['bx1']} AS bx1, {jits['by1']} AS by1,"
        f" {jits['bx1']} + 5 + {jits['bw']} AS bx2,"
        f" {jits['by1']} + 5 + {jits['bh']} AS by2 FROM documents), "
        "o AS (SELECT doc_id,"
        " greatest(0, least(ax2, bx2) - greatest(ax1, bx1)) *"
        " greatest(0, least(ay2, by2) - greatest(ay1, by1)) AS inter,"
        " (ax2 - ax1) * (ay2 - ay1) + (bx2 - bx1) * (by2 - by1) AS areas"
        " FROM r) "
        "SELECT doc_id, inter / (areas - inter) AS iou FROM o"
    )


def _polygon_unclip_axis_oracle() -> str:
    jits = {
        t: f"CAST(('0x'||substr(md5('{t}:'||doc_id::VARCHAR),1,8))::BIGINT"
        f" % {m} AS DOUBLE)"
        for t, m in (("px1", 30), ("py1", 30), ("ps", 40))
    }
    return (
        "WITH r AS (SELECT doc_id,"
        f" {jits['px1']} AS x1, {jits['py1']} AS y1,"
        f" 4 + {jits['ps']} AS s FROM documents), "
        "d AS (SELECT doc_id, x1, y1, x1 + s AS x2, y1 + s AS y2,"
        " (s * s * 1.5) / (s + s + s + s) AS dd FROM r) "
        "SELECT doc_id, TRUE AS ok,"
        " (x2 - x1) * (y2 - y1) AS area_in,"
        " (x2 + dd - (x1 - dd)) * (y2 + dd - (y1 - dd)) AS area_out,"
        " x1 - dd AS c0x, y1 - dd AS c0y,"
        " x2 + dd AS c1x, y1 - dd AS c1y,"
        " x2 + dd AS c2x, y2 + dd AS c2y,"
        " x1 - dd AS c3x, y2 + dd AS c3y"
        " FROM d"
    )


# Shared CTE prefix for the substring-dedup oracles: planted passage →
# 12-gram md5 fingerprints → cross-doc frequency → islands → spans.
_SUBSTR_SPANS_CTES = (
    "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN"
    " text || ' {passage}' ELSE text END AS text"
    " FROM documents), "
    "pos AS (SELECT doc_id, unnest(generate_series(1,"
    " length(text) - 11)) AS p, text FROM d WHERE"
    " length(text) >= 12), "
    "g AS (SELECT doc_id, p, md5(substr(text, p, 12)) AS h"
    " FROM pos), "
    "freq AS (SELECT h FROM g GROUP BY h"
    " HAVING count(DISTINCT doc_id) >= 2), "
    "sh AS (SELECT doc_id, p FROM g JOIN freq USING (h)), "
    "runs AS (SELECT doc_id, p, CASE WHEN p - lag(p) OVER"
    " (PARTITION BY doc_id ORDER BY p) <= 12 THEN 0 ELSE 1 END"
    " AS brk FROM sh), "
    "rid AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id"
    " ORDER BY p) AS run_id FROM runs), "
    "spans AS (SELECT doc_id, CAST(min(p) AS BIGINT) AS start_pos,"
    " CAST(max(p) + 11 AS BIGINT) AS end_pos,"
    " CAST(count(*) AS BIGINT) AS n_grams"
    " FROM rid GROUP BY doc_id, run_id)"
)


def _q_substring_dup_cut(spark, sf_dir):
    """Find-then-CUT: the planted-passage corpus runs through
    substring_dup_spans and cut_spans deletes the flagged ranges — the
    full Lee et al. 2022 recipe end to end. The oracle recomputes the
    spans AND re-stitches the kept characters per doc."""
    from comic_text_detector_spark.operators.curation import (
        cut_spans,
        substring_dup_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + _DUP_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sp = substring_dup_spans(planted, k=12, min_len=40)
    return cut_spans(planted, sp)


def _q_token_counts_v2(spark, sf_dir):
    """Greedy longest-match vocab tokenizer (BPE-style accounting) over the
    embedded deterministic mini-vocab. The oracle replays the greedy scan
    relationally: per-position jump table (max matching vocab length) +
    recursive walk from position 1; tokens = positions visited."""
    from comic_text_detector_spark.functions.textstats import (
        token_count_vocab,
    )

    return token_count_vocab(_t(spark, sf_dir, "documents"))


def _q_train_bpe_merges(spark, sf_dir):
    """DISTRIBUTED BPE TOKENIZER TRAINING: learn the merges table itself
    from the corpus (each round: adjacent-pair counts via one explode +
    groupBy, global argmax with deterministic tie break, ONE literal
    replace rewrites the whole corpus). Runs the BATCHED trainer
    (batch_window=4 — several provably-non-interacting merges learned per
    corpus pass) while the oracle replays the SEQUENTIAL algorithm as 4
    unrolled CTE quartets — so the gate itself proves the batched path
    learns the identical table
    (functions/textstats.py::train_bpe_merges/train_bpe_sql)."""
    from comic_text_detector_spark.functions.textstats import (
        train_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    m = train_bpe_merges(docs, n_merges=4, batch_window=4)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(m)],
        "rank int, a string, b string, c long",
    ).select(F.col("rank").cast("bigint").alias("rank"), "a", "b", "c")


def _q_train_bpe_words(spark, sf_dir):
    """DICTIONARY-MODE BPE training (the Sennrich / production shape —
    functions/textstats.py::train_bpe_merges_words): one corpus pass to
    the (word, freq) dictionary, then every merge round runs over the
    tiny distinct-word table with frequency-weighted pair counts. Runs
    batched (batch_window=4); the oracle replays the sequential
    dictionary rounds unrolled — batching equivalence and the weighted
    counts both value-verified."""
    from comic_text_detector_spark.functions.textstats import (
        train_bpe_merges_words,
    )

    docs = _t(spark, sf_dir, "documents")
    m = train_bpe_merges_words(docs, n_merges=4, batch_window=4)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(m)],
        "rank int, a string, b string, c long",
    ).select(F.col("rank").cast("bigint").alias("rank"), "a", "b", "c")


def _q_token_counts_v3(spark, sf_dir):
    """TRUE pair-merge BPE token count (the real LLM-budget accounting;
    upgrade over the greedy vocab scan): boundary-encode + one literal
    replace per merge, pure column exprs end to end — the oracle replays
    the IDENTICAL string algebra (functions/textstats.py::token_count_bpe,
    bpe_chain_sql; merges in valid training order so sequential replay ==
    priority-loop BPE, property-tested)."""
    from comic_text_detector_spark.functions.textstats import token_count_bpe

    return token_count_bpe(_t(spark, sf_dir, "documents"))


def _token_bpe_oracle() -> str:
    from comic_text_detector_spark.functions.textstats import (
        BPE_SEP,
        bpe_chain_sql,
    )

    chain = bpe_chain_sql("coalesce(text, '')")
    return (
        f"WITH t AS (SELECT doc_id, {chain} AS s FROM documents) "
        "SELECT doc_id, CAST((length(s) - length(replace(s, "
        f"'{BPE_SEP}', ''))) // 2 - 1 AS BIGINT) AS n_tokens_bpe FROM t"
    )


def _token_vocab_oracle() -> str:
    from comic_text_detector_spark.functions.textstats import TOKENIZER_VOCAB

    vals = ", ".join(
        "('" + v.replace("'", "''") + "')" for v in TOKENIZER_VOCAB
    )
    return (
        "WITH RECURSIVE "
        f"vocab(tok) AS (VALUES {vals}), "
        "d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents), "
        "pos AS (SELECT doc_id, unnest(generate_series(1, length(text)))"
        " AS p, text FROM d WHERE length(text) >= 1), "
        "m AS (SELECT pos.doc_id, pos.p,"
        " coalesce(max(length(v.tok)), 1) AS mlen"
        " FROM pos LEFT JOIN vocab v"
        " ON substr(pos.text, pos.p, length(v.tok)) = v.tok"
        " GROUP BY pos.doc_id, pos.p), "
        # MATERIALIZED: the recursive walk below re-evaluates plain CTEs
        # once PER ITERATION (~max-tokens times) — the substr join must
        # compute exactly once
        "jumps AS MATERIALIZED (SELECT doc_id, p, p + mlen AS nxt FROM m), "
        "walk AS (SELECT doc_id, 1 AS p FROM d WHERE length(text) >= 1"
        " UNION ALL SELECT j.doc_id, j.nxt FROM walk w JOIN jumps j"
        " ON w.doc_id = j.doc_id AND w.p = j.p) "
        # the walk's final row lands one past the end of the text: tokens
        # consumed = rows - 1; zero-length docs emit 0 via the union
        "SELECT doc_id, CAST(count(*) - 1 AS BIGINT) AS n_tokens_vocab"
        " FROM walk GROUP BY doc_id "
        "UNION ALL SELECT doc_id, CAST(0 AS BIGINT) AS n_tokens_vocab"
        " FROM d WHERE length(text) = 0"
    )


# Multilingual gate fixtures (lowercase, apostrophe-free so they embed in
# SQL literals verbatim) — one hit-rich sentence per non-English profile.
_ES_SENT = (
    "la casa del gobierno es una de las que el pueblo ha construido en la"
    " ciudad"
)
_DE_SENT = (
    "die geschichte der deutschen sprache und der kultur ist ein teil des"
    " lebens"
)
_FR_SENT = (
    "le gouvernement de la france est une partie de la culture et les"
    " personnes qui ont"
)


def _q_lang_id_v2(spark, sf_dir):
    """Char-trigram profile language ID (Cavnar-Trenkle shape) with a
    confidence column: every 5th doc keeps its English-ish corpus text and
    the rest cycle planted Spanish/German/French sentences plus a short
    ambiguous 'ok' doc (strict-argmax → 'unknown'). The oracle recomputes
    trigram hits against the same embedded profiles."""
    from comic_text_detector_spark.functions.textstats import lang_id_ngram

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    t = (
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 1,
               F.concat(F.lit(_ES_SENT + " "), did))
        .when(F.pmod(F.col("doc_id"), F.lit(5)) == 2,
              F.concat(F.lit(_DE_SENT + " "), did))
        .when(F.pmod(F.col("doc_id"), F.lit(5)) == 3,
              F.concat(F.lit(_FR_SENT + " "), did))
        .when(F.pmod(F.col("doc_id"), F.lit(5)) == 4, F.lit("ok"))
        .otherwise(F.col("text"))
    )
    return lang_id_ngram(docs.select("doc_id", t.alias("text")))


def _lang_ngram_oracle() -> str:
    from comic_text_detector_spark.functions.textstats import LANG_PROFILES

    langs = list(LANG_PROFILES)
    lists = {
        lang: "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in prof)
        + "]"
        for lang, prof in LANG_PROFILES.items()
    }
    hit_cols = ", ".join(
        f"len(list_filter(g, x -> list_contains({lists[lang]}, x)))"
        f" AS h_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    nbest = " + ".join(
        f"CASE WHEN h_{lang} = best THEN 1 ELSE 0 END" for lang in langs
    )
    pick = (
        "CASE "
        + " ".join(f"WHEN h_{lang} = best THEN '{lang}'" for lang in langs)
        + " END"
    )
    return (
        "WITH d AS (SELECT doc_id, CASE doc_id % 5"
        f" WHEN 1 THEN '{_ES_SENT} ' || doc_id::VARCHAR"
        f" WHEN 2 THEN '{_DE_SENT} ' || doc_id::VARCHAR"
        f" WHEN 3 THEN '{_FR_SENT} ' || doc_id::VARCHAR"
        " WHEN 4 THEN 'ok' ELSE text END AS text FROM documents), "
        "g0 AS (SELECT doc_id, CASE WHEN length(text) >= 3 THEN"
        " list_transform(generate_series(1, length(lower(text)) - 2),"
        " i -> substr(lower(text), i, 3)) ELSE [] END AS g FROM d), "
        f"h AS (SELECT doc_id, len(g) AS n_grams, {hit_cols} FROM g0), "
        f"b AS (SELECT *, {best} AS best FROM h), "
        f"n AS (SELECT *, {nbest} AS n_at_best FROM b) "
        "SELECT doc_id,"
        f" CASE WHEN best > 0 AND n_at_best = 1 THEN {pick}"
        " ELSE 'unknown' END AS lang_ngram,"
        " CASE WHEN best > 0 AND n_at_best = 1 THEN"
        " CAST(best AS DOUBLE) / n_grams ELSE 0.0 END AS confidence"
        " FROM n"
    )


def _q_quality_logit(spark, sf_dir):
    """Hashing-trick linear quality scorer with the deterministic
    md5-derived weight vector: the oracle recomputes bucket ids, integer
    milliweights and the exact bigint sum in DuckDB, matching the final
    logit bit-for-bit (one IEEE division at the end)."""
    from comic_text_detector_spark.operators.curation import quality_logit

    return quality_logit(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _q_hits_hosts(spark, sf_dir):
    """Integer-deterministic HITS hubs/authorities over the deterministic
    host graph — the seed-curation complement to pagerank_hosts, every
    half-step's floor-normalization replayed by the unrolled oracle
    (operators/graph.py::hits_scores/hits_sql)."""
    from comic_text_detector_spark.operators.graph import hits_scores

    edges = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 50).cast("string")
        ).alias("dst"),
    )
    return hits_scores(edges, n_iter=2)


def _hits_oracle() -> str:
    from comic_text_detector_spark.operators.graph import hits_sql

    return hits_sql(
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS src,"
        " 'h' || ((doc_id * 7 + 3) % 50)::VARCHAR AS dst FROM documents",
        n_iter=2,
    )


def _q_surt_keys(spark, sf_dir):
    """SURT canonical crawl-index keys (Wayback/Common Crawl ordering):
    normalize → lowercase → strip scheme/www/default-port → reversed
    comma-joined host labels. Sorting a 10^12-row index by this key makes
    every registered domain + its subdomains one contiguous range
    (operators/curation.py::surt_key)."""
    from comic_text_detector_spark.operators.curation import surt_key

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("HTTPS://")
        ),
        F.lit("W"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
        F.lit(".Example.org"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(
            F.lit("")
        ),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=x&q="), F.col("doc_id").cast("string")),
        )
        .when(F.col("doc_id") % 4 == 2, F.lit("#frag"))
        .otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id", url.alias("url"), surt_key(url).alias("surt")
    )


_SURT_ORACLE = (
    "WITH d AS (SELECT doc_id,"
    " CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'HTTPS://' END"
    " || 'W' || (doc_id % 5)::VARCHAR || '.Example.org' ||"
    " CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||"
    " '/p/' || doc_id::VARCHAR ||"
    " CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&q=' || doc_id::VARCHAR"
    "  WHEN doc_id % 4 = 2 THEN '#frag' ELSE '' END AS url FROM documents), "
    "n1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u"
    " FROM d), "
    "parts AS (SELECT doc_id, url,"
    " lower(regexp_extract(u, '^([a-zA-Z]+://[^/?]*)', 1)) AS sh,"
    " regexp_extract(regexp_replace(u, '^[a-zA-Z]+://[^/?]*', ''),"
    "  '^([^?]*)', 1) AS p,"
    " regexp_extract(regexp_replace(u, '^[a-zA-Z]+://[^/?]*', ''),"
    "  '\\?(.*)$', 1) AS q FROM n1), "
    "norm AS (SELECT doc_id, url,"
    " sh, regexp_replace(p, '/$', '') AS p,"
    " regexp_replace(regexp_replace('&' || q,"
    "  '&(?i:utm_[a-z0-9_]+|gclid|fbclid)=[^&]*', '', 'g'), '^&', '') AS q"
    " FROM parts), "
    "nu AS (SELECT doc_id, url, lower(sh || p ||"
    " CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS u FROM norm), "
    "pp AS (SELECT doc_id, url,"
    " regexp_extract(u, '^[a-z]+://([^/?]*)', 1) AS hp,"
    " regexp_replace(u, '^[a-z]+://[^/?]*', '') AS rest FROM nu), "
    "hh AS (SELECT doc_id, url,"
    " regexp_extract(hp, ':(\\d+)$', 1) AS port,"
    " regexp_replace(regexp_replace(hp, ':\\d+$', ''),"
    " '^www\\.', '') AS host, rest FROM pp) "
    "SELECT doc_id, url,"
    " array_to_string(list_reverse(string_split(host, '.')), ',')"
    " || CASE WHEN port IN ('', '80', '443') THEN ''"
    " ELSE ':' || port END"
    " || ')' || rest AS surt FROM hh"
)


def _q_warc_revisit(spark, sf_dir):
    """WARC/1.1 revisit-record classification: earliest capture per
    payload digest is the response, later identical captures become
    revisit records with refers-to url/ts — write-time dedup of a crawl
    archive (sources/warc.py::classify_revisits)."""
    from comic_text_detector_spark.sources.warc import classify_revisits

    pages = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"),
            F.pmod(F.col("doc_id"), F.lit(23)).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.lit(1700000000) + F.col("doc_id")).alias("warc_ts"),
        F.when(F.col("doc_id") % 31 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 7 == 0, F.lit("SHARED BODY"))
        .otherwise(F.col("text"))
        .alias("html"),
    )
    return classify_revisits(pages)


_WARC_REVISIT_ORACLE = (
    "WITH d AS (SELECT 'https://h' || (doc_id % 23)::VARCHAR"
    " || '.example.org/p/' || doc_id::VARCHAR AS url,"
    " 1700000000 + doc_id AS ts,"
    " CASE WHEN doc_id % 31 = 0 THEN NULL"
    "  WHEN doc_id % 7 = 0 THEN 'SHARED BODY' ELSE text END AS payload"
    " FROM documents), "
    "dd AS (SELECT url, ts, md5(payload) AS digest FROM d), "
    "c AS (SELECT url, ts, digest,"
    " row_number() OVER (PARTITION BY digest ORDER BY ts, url) AS rn,"
    " first_value(url) OVER (PARTITION BY digest ORDER BY ts, url) AS fu,"
    " first_value(ts) OVER (PARTITION BY digest ORDER BY ts, url) AS ft"
    " FROM dd WHERE digest IS NOT NULL) "
    "SELECT url, ts, digest,"
    " CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS record_type,"
    " CASE WHEN rn > 1 THEN fu END AS refers_to_url,"
    " CASE WHEN rn > 1 THEN ft END AS refers_to_ts FROM c"
    " UNION ALL SELECT url, ts, NULL, 'response', NULL, NULL"
    " FROM dd WHERE digest IS NULL"
)


def _q_table_stats(spark, sf_dir):
    """ANALYZE-style exact per-column stats over documents (rows, nulls,
    exact ndv, binary-collation min/max — md5-digest min/max for the
    unbounded text column — and total char length): the stats table
    behind broadcast/skew/partition-sizing decisions
    (operators/stats.py::collect_table_stats)."""
    from comic_text_detector_spark.operators.stats import (
        collect_table_stats,
    )

    return collect_table_stats(
        _t(spark, sf_dir, "documents"),
        cols=["doc_id", "text", "lang", "source", "n_chars"],
        digest_cols=("text",),
    )


def _table_stats_oracle() -> str:
    parts = []
    for c, keyed in [
        ("doc_id", "doc_id::VARCHAR"),
        ("text", "md5(text)"),
        ("lang", "lang"),
        ("source", "source"),
        ("n_chars", "n_chars::VARCHAR"),
    ]:
        parts.append(
            f"SELECT '{c}' AS col, count(*) AS n_rows,"
            f" count(*) - count({c}) AS n_nulls,"
            f" count(DISTINCT {c}) AS ndv,"
            f" min({keyed}) AS min_s, max({keyed}) AS max_s,"
            f" CAST(coalesce(sum(length({c}::VARCHAR)), 0) AS BIGINT)"
            " AS total_len FROM documents"
        )
    return " UNION ALL ".join(parts)


def _q_crawl_depth_hosts(spark, sf_dir):
    """Depth-budgeted crawl labeling: min-hop BFS from a seed host set
    over the deterministic host graph (same graph as pagerank_hosts) —
    frontier-only expansion with localCheckpoint per level
    (operators/graph.py::bfs_depth)."""
    from comic_text_detector_spark.operators.graph import bfs_depth

    edges = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 50).cast("string")
        ).alias("dst"),
    )
    seeds = spark.createDataFrame(
        [("h0",), ("h7",), ("h23",)], "node: string"
    )
    return bfs_depth(edges, seeds, max_depth=6)


def _crawl_depth_oracle() -> str:
    from comic_text_detector_spark.operators.graph import bfs_depth_sql

    return bfs_depth_sql(
        "SELECT 'h' || (doc_id % 50)::VARCHAR AS src,"
        " 'h' || ((doc_id * 7 + 3) % 50)::VARCHAR AS dst FROM documents",
        "SELECT * FROM (VALUES ('h0'),('h7'),('h23')) t(node)",
        max_depth=6,
    )


# --- integer-deterministic clustering / PQ ANN / layout / CDC ---


def _q_kmeans_assign(spark, sf_dir):
    """Trained k-means whose MODEL is oracle-exact: centi-quantized vectors
    make every Lloyd update order-independent integer arithmetic, so the
    DuckDB twin retrains the identical centroids and replays the final
    assignment (operators/clustering.py)."""
    from comic_text_detector_spark.operators.clustering import kmeans_assign

    return kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def _planted_embeddings(spark, sf_dir):
    """Embeddings plus planted duplicates for the semdedup gate: exact
    copies of every vec_id % 50 == 0 (id + 100000) and first-element
    +0.5 perturbed copies of every vec_id % 50 == 10 (id + 200000) —
    near-dups the operator must drop. All elements cast to double so
    the planted arithmetic is the same exact IEEE ops in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return (
        emb.select("vec_id", as_double.alias("embedding"))
        .unionByName(
            emb.filter(F.col("vec_id") % 50 == 0).select(
                (F.col("vec_id") + 100000).alias("vec_id"),
                as_double.alias("embedding"),
            )
        )
        .unionByName(
            emb.filter(F.col("vec_id") % 50 == 10).select(
                (F.col("vec_id") + 200000).alias("vec_id"),
                F.concat(
                    F.array(
                        F.element_at("embedding", 1).cast("double")
                        + F.lit(0.5)
                    ),
                    F.transform(
                        F.slice("embedding", 2, 63),
                        lambda x: x.cast("double"),
                    ),
                ).alias("embedding"),
            )
        )
    )


_SEMDEDUP_SRC = (
    "SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
    " AS v FROM embeddings"
    " UNION ALL SELECT vec_id+100000,"
    " list_transform(embedding, x -> CAST(x AS DOUBLE))"
    " FROM embeddings WHERE vec_id % 50 = 0"
    " UNION ALL SELECT vec_id+200000,"
    " list_prepend(CAST(embedding[1] AS DOUBLE)+0.5,"
    " list_transform(embedding[2:], x -> CAST(x AS DOUBLE)))"
    " FROM embeddings WHERE vec_id % 50 = 10"
)


def _q_semdedup(spark, sf_dir):
    """SemDeDup survivors over embeddings with planted exact + near
    duplicates; the sqrt-free cosine threshold (dot^2 vs tau^2*|a|^2*|b|^2
    on exact ints) makes the whole cluster-then-prune pipeline
    value-checkable (operators/clustering.py::semdedup)."""
    from comic_text_detector_spark.operators.clustering import semdedup

    return semdedup(
        _planted_embeddings(spark, sf_dir), k=8, iters=2, tau=0.8
    )


def _q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): in-job trained
    centi-int codebooks (8 subspaces x 8 centroids), m-byte codes,
    asymmetric-distance top-5 by exact integer table lookups — training,
    encoding and scoring all replayed by the DuckDB twin
    (operators/clustering.py::ann_pq_topk)."""
    from comic_text_detector_spark.operators.clustering import ann_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_ann_int8_topk(spark, sf_dir):
    """Int8 scalar-quantized ANN with exact centi re-scoring
    (operators/clustering.py::ann_int8_topk): max-abs int8 codes over
    the centi lattice score the candidate cut, the exact integer dot
    re-ranks — both stages value-gated because every number is either
    an exact bigint or a single correctly-rounded double floor."""
    from comic_text_detector_spark.operators.clustering import ann_int8_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_int8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_ann_ivf_trained(spark, sf_dir):
    """IVF ANN whose TRAINED coarse quantizer passes the value gate — the
    centi-int k-means closes exactly the gap that keeps the float-mean
    ann_ivf_topk rows-only (operators/clustering.py::ivf_topk_int)."""
    from comic_text_detector_spark.operators.clustering import ivf_topk_int

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_int(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition (FAISS IVFADC shape, no residual encoding):
    trained coarse routing over trained PQ codes, scored by integer table
    lookups — the 100 TB ANN endgame, fully oracle-replayed
    (operators/clustering.py::ann_ivfpq_topk)."""
    from comic_text_detector_spark.operators.clustering import ann_ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivfpq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_zorder_curve(spark, sf_dir):
    """Morton (Z-order) interleave of two bucketed keys — the multi-column
    scan-pruning layout key (range-partition a table on it and per-file
    min/max stats tighten on both keys); pure shift/mask sums,
    bit-identical in any engine (operators/layout.py)."""
    from comic_text_detector_spark.operators.dedup import md5_long
    from comic_text_detector_spark.operators.layout import zorder_key

    d = _t(spark, sf_dir, "documents")
    xk = md5_long(
        F.concat_ws(":", F.lit("zx"), F.col("doc_id").cast("string"))
    ) % 65536
    yk = F.pmod(F.col("n_chars"), F.lit(65536))
    return d.select("doc_id", xk.alias("xk"), yk.alias("yk")).select(
        "doc_id",
        "xk",
        "yk",
        zorder_key(F.col("xk"), F.col("yk")).alias("zval"),
    )


def _q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (rsync/LBFS boundaries on word
    hashes): the planted licence passage must surface as cross-document
    shared chunks wherever it lands in a document — fixed-width chunkers
    can't do that (operators/dedup.py::cdc_chunks)."""
    from comic_text_detector_spark.operators.dedup import cdc_chunks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + _DUP_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return cdc_chunks(planted, mod=16, max_words=64)


def _page_meta_fixture_df(spark, sf_dir):
    """Synthetic page-head HTML per url, i%4 variants: full OG block in
    key-first attribute order (with an entity in the description); a
    content-first block with twitter card, og:type and published_time;
    no metadata at all; title + og:description only."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    html = (
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit("<title>T"), s(i),
                F.lit('</title><meta property="og:title" content="OT '),
                s(i),
                F.lit('"/><meta property="og:image" content="https://img/h'),
                s(i % 9),
                F.lit('.jpg"/><meta name="description" content="D &amp; '),
                s(i % 7), F.lit('"/>'),
            ),
        )
        .when(
            i % 4 == 1,
            F.concat(
                F.lit('<meta content="OC '), s(i),
                F.lit('" property="og:title"/><meta content="summary"'
                      ' name="twitter:card"/><meta property="og:type"'
                      ' content="article"/><meta'
                      ' property="article:published_time" content="2024-0'),
                s(1 + i % 9), F.lit('-01T00:00:00Z"/>'),
            ),
        )
        .when(i % 4 == 2, F.lit("<p>x</p>"))
        .otherwise(
            F.concat(
                F.lit("<title>A &amp; B"), s(i % 5),
                F.lit('</title><meta property="og:description" content="od '),
                s(i % 7), F.lit('"/>'),
            )
        )
    )
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://m"), s(i % 20), F.lit("/p"), s(i)).alias(
            "url"
        ),
        html.alias("html"),
    )


def _q_page_meta(spark, sf_dir):
    """Open Graph / page-head metadata extraction (functions/links.py::
    page_meta): title, description, og:*, twitter:card, published_time;
    both attribute orders, entity decode, NULL-when-absent. Oracle
    predicts every field from the fixture arithmetic."""
    from comic_text_detector_spark.functions.links import page_meta

    return page_meta(_page_meta_fixture_df(spark, sf_dir))


_PAGE_META_ORACLE = (
    "SELECT 'https://m' || (doc_id % 20)::VARCHAR || '/p' ||"
    " doc_id::VARCHAR AS url,"
    " CASE WHEN doc_id % 4 = 0 THEN 'T' || doc_id::VARCHAR"
    " WHEN doc_id % 4 = 3 THEN 'A & B' || (doc_id % 5)::VARCHAR END"
    " AS title,"
    " CASE WHEN doc_id % 4 = 0 THEN 'D & ' || (doc_id % 7)::VARCHAR END"
    " AS description,"
    " CASE WHEN doc_id % 4 = 0 THEN 'OT ' || doc_id::VARCHAR"
    " WHEN doc_id % 4 = 1 THEN 'OC ' || doc_id::VARCHAR END AS og_title,"
    " CASE WHEN doc_id % 4 = 3 THEN 'od ' || (doc_id % 7)::VARCHAR END"
    " AS og_description,"
    " CASE WHEN doc_id % 4 = 0 THEN 'https://img/h' ||"
    "  (doc_id % 9)::VARCHAR || '.jpg' END AS og_image,"
    " CASE WHEN doc_id % 4 = 1 THEN 'article' END AS og_type,"
    " CASE WHEN doc_id % 4 = 1 THEN 'summary' END AS twitter_card,"
    " CASE WHEN doc_id % 4 = 1 THEN '2024-0' ||"
    "  (1 + doc_id % 9)::VARCHAR || '-01T00:00:00Z' END AS published_time"
    " FROM documents"
)


def _tables_fixture_df(spark, sf_dir):
    """Synthetic page HTML per url, i%3 variants: one 3-row table
    (header row, a markup-wrapped cell, an empty cell, an entity);
    two tables (one-cell table then header + trailing-empty-cell
    table); no table at all."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    html = (
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit('<p>pre</p><table class="t"><tr><th>K</th><th>V'),
                s(i % 5),
                F.lit("</th></tr><tr><td>a"), s(i % 5),
                F.lit("</td><td><b>"), s(i % 7),
                F.lit("</b></td></tr><tr><td></td><td>x &amp; "),
                s(i % 3), F.lit("</td></tr></table><p>post</p>"),
            ),
        )
        .when(
            i % 3 == 1,
            F.concat(
                F.lit("<table><tr><td>only"), s(i % 4),
                F.lit("</td></tr></table><span>mid</span>"
                      "<table><tr><th>h</th></tr><tr><td>z"),
                s(i % 2), F.lit("</td><td></td></tr></table>"),
            ),
        )
        .otherwise(F.lit("<p>none</p>"))
    )
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://t"), s(i % 20), F.lit("/p"), s(i)).alias(
            "url"
        ),
        html.alias("html"),
    )


def _q_extract_tables(spark, sf_dir):
    """HTML table extraction to relational rows (functions/tables.py::
    extract_tables): per-table/per-row ordinals, header detection,
    tag-strip + entity decode in cells, empty cells preserved. Oracle
    rebuilds the exact row set from the fixture arithmetic."""
    from comic_text_detector_spark.functions.tables import extract_tables

    return extract_tables(_tables_fixture_df(spark, sf_dir))


_EXTRACT_TABLES_ORACLE = (
    "WITH u AS (SELECT doc_id AS i, 'https://t' ||"
    " (doc_id % 20)::VARCHAR || '/p' || doc_id::VARCHAR AS url"
    " FROM documents) "
    "SELECT url, 0 AS table_idx, 0 AS row_idx, true AS is_header,"
    " 2 AS n_cells, ['K', 'V' || (i % 5)::VARCHAR] AS cells"
    " FROM u WHERE i % 3 = 0 "
    "UNION ALL SELECT url, 0, 1, false, 2,"
    " ['a' || (i % 5)::VARCHAR, (i % 7)::VARCHAR]"
    " FROM u WHERE i % 3 = 0 "
    "UNION ALL SELECT url, 0, 2, false, 2,"
    " ['', 'x & ' || (i % 3)::VARCHAR] FROM u WHERE i % 3 = 0 "
    "UNION ALL SELECT url, 0, 0, false, 1, ['only' || (i % 4)::VARCHAR]"
    " FROM u WHERE i % 3 = 1 "
    "UNION ALL SELECT url, 1, 0, true, 1, ['h'] FROM u WHERE i % 3 = 1 "
    "UNION ALL SELECT url, 1, 1, false, 2, ['z' || (i % 2)::VARCHAR, '']"
    " FROM u WHERE i % 3 = 1"
)


def _q_http_response_meta(spark, sf_dir):
    """HTTP response-envelope parsing (functions/http.py::
    http_response_meta): OK html with charset + declared length, a
    301 with Location, a 200 PDF (no charset), a truncated envelope
    (headers never terminated → NULL body), and a non-envelope
    payload (all fields NULL). Oracle predicts each field per arm."""
    from comic_text_detector_spark.functions.http import (
        http_response_meta,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    payload = (
        F.when(
            i % 5 == 0,
            F.concat(
                F.lit("HTTP/1.1 200 OK\r\nServer: x\r\nContent-Type:"
                      " text/html; charset=UTF-8\r\nETag: \"v"),
                s(i % 4),
                F.lit("\"\r\nLast-Modified: Mon, 0"), s(1 + i % 9),
                F.lit(" Jan 2024 00:00:00 GMT\r\nContent-Length: "),
                s(10 + i % 90),
                F.lit("\r\n\r\n<p>b"), s(i), F.lit("</p>"),
            ),
        )
        .when(
            i % 5 == 1,
            F.concat(
                F.lit("HTTP/1.0 301 Moved Permanently\r\nLocation:"
                      " https://r"),
                s(i % 9), F.lit("/\r\n\r\n"),
            ),
        )
        .when(
            i % 5 == 2,
            F.lit("HTTP/1.1 200 OK\r\nContent-Type: application/pdf"
                  "\r\n\r\n%PDF-1.4"),
        )
        .when(
            i % 5 == 3,
            F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html"),
        )
        .otherwise(F.concat(F.lit("<html>raw"), s(i), F.lit("</html>")))
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://w"), s(i % 20), F.lit("/p"), s(i)).alias(
            "url"
        ),
        payload.alias("payload"),
    )
    return http_response_meta(docs)


_HTTP_META_ORACLE = (
    "SELECT 'https://w' || (doc_id % 20)::VARCHAR || '/p' ||"
    " doc_id::VARCHAR AS url,"
    " CASE WHEN doc_id % 5 IN (0, 2, 3) THEN 200"
    " WHEN doc_id % 5 = 1 THEN 301 END::INT AS status,"
    " CASE WHEN doc_id % 5 IN (0, 3) THEN 'text/html'"
    " WHEN doc_id % 5 = 2 THEN 'application/pdf' END AS content_type,"
    " CASE WHEN doc_id % 5 = 0 THEN 'utf-8' END AS charset,"
    " CASE WHEN doc_id % 5 = 0 THEN 10 + doc_id % 90 END::BIGINT"
    " AS content_length,"
    " CASE WHEN doc_id % 5 = 1 THEN 'https://r' ||"
    "  (doc_id % 9)::VARCHAR || '/' END AS location,"
    " CASE WHEN doc_id % 5 = 0 THEN '\"v' || (doc_id % 4)::VARCHAR"
    "  || '\"' END AS etag,"
    " CASE WHEN doc_id % 5 = 0 THEN 'Mon, 0' || (1 + doc_id % 9)::VARCHAR"
    "  || ' Jan 2024 00:00:00 GMT' END AS last_modified,"
    " CASE WHEN doc_id % 5 = 0 THEN '<p>b' || doc_id::VARCHAR || '</p>'"
    " WHEN doc_id % 5 = 1 THEN ''"
    " WHEN doc_id % 5 = 2 THEN '%PDF-1.4' END AS body"
    " FROM documents"
)


def _q_resolve_redirects(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.py::
    resolve_redirects): each doc plants a 4-url fetch group — a
    3-hop 301/302/307 chain into a 200 terminal, or a 2-cycle +
    broken-relative-Location + plain-404 group. Oracle states the
    closed-form chain outcome per (arm, position), including the
    hop-capped cycle and the root-relative Location resolution."""
    from comic_text_detector_spark.operators.redirects import (
        resolve_redirects,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    host = F.concat(F.lit("https://d"), s(i))
    nul = F.lit(None).cast("string")

    def fr(j, st, loc):
        return F.struct(
            F.concat(host, F.lit(f"/p{j}")).alias("url"),
            F.lit(st).alias("status"),
            (F.lit(loc) if loc is not None else nul).alias("location"),
        )

    chain = F.array(
        fr(0, 301, "/p1"), fr(1, 302, "/p2"),
        fr(2, 307, "/p3"), fr(3, 200, None),
    )
    cyc = F.array(
        fr(0, 301, "/p1"), fr(1, 302, "/p0"),
        fr(2, 301, "rel.html"), fr(3, 404, None),
    )
    fetches = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.when(i % 3 != 2, chain).otherwise(cyc)).alias("f"))
        .select("f.url", "f.status", "f.location")
    )
    return resolve_redirects(fetches, max_hops=4)


_RESOLVE_REDIRECTS_ORACLE = (
    "WITH d AS (SELECT doc_id AS i, 'https://d' || doc_id::VARCHAR AS h,"
    " doc_id % 3 <> 2 AS chain FROM documents),"
    " j AS (SELECT i, h, chain, u.j FROM d,"
    " (SELECT unnest([0,1,2,3]) AS j) u) "
    "SELECT h || '/p' || j::VARCHAR AS url,"
    " CASE WHEN chain AND j < 3 THEN h || '/p3'"
    "  WHEN chain THEN h || '/p3'"
    "  WHEN j = 0 THEN h || '/p0' WHEN j = 1 THEN h || '/p1'"
    "  WHEN j = 2 THEN h || '/p2' ELSE h || '/p3' END AS final_url,"
    " CASE WHEN chain THEN 3 - j"
    "  WHEN j IN (0, 1) THEN 4 ELSE 0 END AS n_hops,"
    " CASE WHEN chain THEN 200"
    "  WHEN j = 0 THEN 301 WHEN j = 1 THEN 302"
    "  WHEN j = 2 THEN 301 ELSE 404 END AS terminal_status,"
    " CASE WHEN chain THEN true"
    "  WHEN j = 3 THEN true ELSE false END AS resolved"
    " FROM j"
)


import zlib as _zlib  # noqa: E402

_GZ_BODY = b"gzip payload ok"
_gz_co = _zlib.compressobj(9, _zlib.DEFLATED, _zlib.MAX_WBITS | 16)
_GZ_HEX = (_gz_co.compress(_GZ_BODY) + _gz_co.flush()).hex()
del _gz_co


def _q_decode_bodies(spark, sf_dir):
    """HTTP body transfer/content decoding (functions/http.py::
    decode_bodies): identity pass-through, chunked-framing removal,
    gzip inflation of a shared precomputed literal, a corrupt-gzip
    refusal (NULL), and a NULL body. Oracle states the decoded text
    per arm — the gzip arm's expected output is the plaintext the
    embedded literal was compressed from."""
    from comic_text_detector_spark.functions.http import decode_bodies

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    tok = F.concat(F.lit("w"), s(i % 10), F.lit("xy"))  # 4 bytes exactly
    body_s = (
        F.when(i % 5 == 0, F.concat(F.lit("<p>x"), s(i), F.lit("</p>")))
        .when(i % 5 == 1, F.concat(F.lit("4\r\n"), tok, F.lit("\r\n0\r\n\r\n")))
        .when(i % 5 == 3, F.concat(F.lit("nope"), s(i)))
    )
    body = F.when(i % 5 == 2, F.unhex(F.lit(_GZ_HEX))).otherwise(
        F.encode(body_s, "UTF-8")
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        body.alias("body"),
        F.when(i % 5 == 1, F.lit("chunked")).alias("transfer_encoding"),
        F.when(i % 5 == 2, F.lit("gzip"))
        .when(i % 5 == 3, F.lit("gzip"))
        .alias("content_encoding"),
    )
    return decode_bodies(docs).select(
        "doc_id", F.col("decoded_body").cast("string").alias("decoded")
    )


_DECODE_BODIES_ORACLE = (
    "SELECT doc_id, CASE doc_id % 5"
    " WHEN 0 THEN '<p>x' || doc_id::VARCHAR || '</p>'"
    " WHEN 1 THEN 'w' || (doc_id % 10)::VARCHAR || 'xy'"
    " WHEN 2 THEN 'gzip payload ok' END AS decoded"
    " FROM documents"
)


def _q_bloom_frontier(spark, sf_dir):
    """Deterministic Bloom-filter frontier dedup (operators/bloom.py):
    build the filter from even-doc urls, probe EVERY url. Evens must
    answer true (no false negatives); odds answer the exact md5-salted
    bit arithmetic — the oracle replays the WHOLE filter (build +
    probe), so even false positives must match bit-for-bit."""
    from comic_text_detector_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
    )

    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://w"), (i % 50).cast("string"), F.lit("/p"),
        i.cast("string"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url")
    )
    seen = docs.filter(i % 2 == 0).select("url")
    bloom = bloom_build(seen, m_bits=1 << 16, k=3)
    return bloom_contains(
        docs.select("url"), bloom, m_bits=1 << 16, k=3
    )


_BLOOM_FRONTIER_ORACLE = (
    "WITH u AS (SELECT doc_id, 'https://w' || (doc_id % 50)::VARCHAR"
    " || '/p' || doc_id::VARCHAR AS url FROM documents),"
    " j AS (SELECT unnest([0, 1, 2]) AS j),"
    " pos AS (SELECT ('0x' || substr(md5(j.j::VARCHAR || ':' || u.url),"
    "  1, 15))::BIGINT % 65536 AS idx FROM u, j WHERE u.doc_id % 2 = 0),"
    " words AS (SELECT idx // 63 AS word,"
    "  bit_or((1::BIGINT << (idx % 63)::INT)) AS bits"
    "  FROM pos GROUP BY 1),"
    " ppos AS (SELECT u.url, ('0x' || substr(md5(j.j::VARCHAR || ':'"
    "  || u.url), 1, 15))::BIGINT % 65536 AS idx FROM u, j) "
    "SELECT p.url, bool_and(w.bits IS NOT NULL AND"
    " (w.bits & (1::BIGINT << (p.idx % 63)::INT)) ="
    " (1::BIGINT << (p.idx % 63)::INT)) AS maybe_present"
    " FROM ppos p LEFT JOIN words w ON p.idx // 63 = w.word"
    " GROUP BY p.url"
)


def _q_recrawl_schedule(spark, sf_dir):
    """Recrawl scheduling (operators/recrawl.py::recrawl_schedule):
    each doc plants a capture history — 1..5 captures, per-doc
    interval 2000..6900 s, digest changing every 1..3 captures — and
    the oracle replays the lag window, the integer rate estimates, and
    the clamped next-fetch policy (min clamp engages for the hottest
    arms, the policy division for the rest, the default for
    singletons)."""
    from comic_text_detector_spark.operators.recrawl import (
        recrawl_schedule,
    )

    i = F.col("doc_id")
    n = F.when(i % 5 == 0, F.lit(1)).otherwise(2 + i % 4)
    dt = 2000 + (i % 50) * 100
    step = 1 + i % 3
    caps = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("https://r"), i.cast("string")).alias("url"),
            dt.alias("dt"),
            step.alias("step"),
            (1_700_000_000 + (i % 1000) * 7).alias("t0"),
            F.explode(F.sequence(F.lit(0), n - 1)).alias("j"),
        )
        .select(
            "url",
            (F.col("t0") + F.col("j") * F.col("dt")).alias("ts"),
            F.concat(
                F.lit("g"),
                ((F.col("j") - F.col("j") % F.col("step")) / F.col("step"))
                .cast("long")
                .cast("string"),
            ).alias("digest"),
        )
    )
    return recrawl_schedule(caps)


_RECRAWL_ORACLE = (
    "WITH d AS (SELECT doc_id AS i,"
    " CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 + doc_id % 4 END AS n,"
    " 2000 + (doc_id % 50) * 100 AS dt, 1 + doc_id % 3 AS step,"
    " 1700000000 + (doc_id % 1000) * 7 AS t0 FROM documents),"
    " caps AS (SELECT 'https://r' || i::VARCHAR AS url, t0, dt, step,"
    "  unnest(generate_series(0, n - 1)) AS j FROM d),"
    " c2 AS (SELECT url, t0 + j * dt AS ts,"
    "  'g' || (j // step)::VARCHAR AS digest FROM caps),"
    " m AS (SELECT url, ts,"
    "  CASE WHEN lag(digest) OVER w IS NULL THEN 0"
    "   WHEN lag(digest) OVER w <> digest THEN 1 ELSE 0 END AS chg"
    "  FROM c2 WINDOW w AS (PARTITION BY url ORDER BY ts, digest)),"
    " a AS (SELECT url, count(*) AS nc, sum(chg) AS ch, min(ts) AS f,"
    "  max(ts) AS l FROM m GROUP BY url) "
    "SELECT url, nc AS n_captures, ch::BIGINT AS n_changes,"
    " CASE WHEN nc >= 2 THEN (l - f) // (nc - 1) END AS avg_interval_s,"
    " CASE WHEN nc >= 2 THEN (ch * 1000) // (nc - 1) END"
    " AS change_ratio_milli,"
    " l + (CASE WHEN nc >= 2 THEN greatest(3600, least(2592000,"
    "  (((l - f) // (nc - 1)) * 2000) //"
    "  (1000 + ((ch * 1000) // (nc - 1)) * 2)))"
    "  ELSE 604800 END) AS next_fetch_ts"
    " FROM a"
)


def _q_image_dhash(spark, sf_dir):
    """Perceptual dHash (multimodal/imagehash.py) through REAL decoded
    pixels: each doc becomes an 18x16 stripe PNG whose 9 column values
    are modular arithmetic in doc_id (stripe 8 repeats stripe 7, so
    row bit 7 is 0 and the 8-row hash is rowbyte · 0x0101…01 without
    signed overflow); every 7th doc is a 4x4 PNG the kernel must
    REFUSE (below the 9x8 lattice → NULL). The oracle predicts the
    64-bit hash closed-form from the gradient signs."""
    import numpy as np
    import pandas as pd

    from comic_text_detector_spark.multimodal.imagehash import dhash_images
    from comic_text_detector_spark.multimodal.pixels import encode_png

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            media = []
            for i in ids:
                if i % 7 == 6:
                    media.append(encode_png(np.zeros((4, 4, 3), np.uint8)))
                    continue
                arr = np.zeros((16, 18, 3), dtype=np.uint8)
                for x in range(9):
                    arr[:, 2 * x : 2 * x + 2, :] = (
                        i * 7 + min(x, 7) * 13
                    ) % 256
                media.append(encode_png(arr))
            yield pd.DataFrame(
                {"media_id": [str(i) for i in ids], "media": media}
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return dhash_images(m).select(
        F.col("media_id").cast("bigint").alias("doc_id"), "dhash"
    )


_IMAGE_DHASH_ORACLE = (
    # row byte: bit x set iff stripe x+1 > stripe x, i.e. no mod-256
    # wrap when adding 13: ((i*7 + 13x) % 256) < 243; bit 7 always 0.
    "WITH d AS (SELECT doc_id AS i FROM documents),"
    " b AS (SELECT i, CAST(sum(CASE WHEN ((i * 7 + 13 * x.x) % 256) < 243"
    "  THEN 1 << x.x ELSE 0 END) AS BIGINT) AS rowbyte"
    "  FROM d, (SELECT unnest(generate_series(0, 6)) AS x) x"
    "  WHERE i % 7 <> 6 GROUP BY i) "
    "SELECT i AS doc_id, rowbyte * 72340172838076673 AS dhash FROM b"
    " UNION ALL SELECT i, NULL FROM d WHERE i % 7 = 6"
)


def _q_image_neardup(spark, sf_dir):
    """Banded-Hamming image near-dup (multimodal/imagehash.py::
    hamming_pairs): odd docs carry their even predecessor's hash with
    ONE bit flipped — every (2k, 2k+1) pair must surface at dist 1;
    incidental 16-bit band collisions between unrelated hashes are
    emitted by both engines and killed by the same dist ≤ 6 verify.
    The oracle replays banding, candidate join, and bit_count."""
    from comic_text_detector_spark.multimodal.imagehash import hamming_pairs
    from comic_text_detector_spark.operators.dedup import md5_long

    i = F.col("doc_id")
    base = md5_long(
        F.concat(F.lit("ih:"), (i - i % 2).cast("string")), 15
    )
    flip = F.pow(F.lit(2.0), (i % 13).cast("double")).cast("long")
    h = F.when(i % 2 == 0, base).otherwise(base.bitwiseXOR(flip))
    hashed = _t(spark, sf_dir, "documents").select(
        i.alias("media_id"), h.alias("dhash")
    )
    return hamming_pairs(hashed, max_dist=6)


_IMAGE_NEARDUP_ORACLE = (
    "WITH h AS (SELECT doc_id AS id,"
    " CASE WHEN doc_id % 2 = 0 THEN"
    "  ('0x' || substr(md5('ih:' || doc_id::VARCHAR), 1, 15))::BIGINT"
    " ELSE xor(('0x' || substr(md5('ih:' || (doc_id - 1)::VARCHAR),"
    "  1, 15))::BIGINT, (1::BIGINT << (doc_id % 13)::INT)) END AS hv"
    " FROM documents),"
    " k AS (SELECT id, hv, j.j,"
    "  (hv >> (16 * j.j)::INT) & 65535 AS key"
    "  FROM h, (SELECT unnest([0, 1, 2, 3]) AS j) j),"
    " c AS (SELECT DISTINCT a.id AS ia, b.id AS ib, a.hv AS ha,"
    "  b.hv AS hb FROM k a JOIN k b ON a.j = b.j AND a.key = b.key"
    "  AND a.id < b.id) "
    "SELECT ia AS media_id_a, ib AS media_id_b,"
    " bit_count(xor(ha, hb)) AS dist FROM c"
    " WHERE bit_count(xor(ha, hb)) <= 6"
)


def _q_detect_traps(spark, sf_dir):
    """Crawl-trap detection (operators/traps.py::detect_traps): five
    session-id hosts minting a distinct query per doc on one path,
    three calendar hosts repeating a path segment 3x, and twelve
    healthy hosts. The oracle rebuilds the shape columns per arm and
    replays both aggregation levels and the threshold flags."""
    from comic_text_detector_spark.operators.traps import detect_traps

    i = F.col("doc_id")
    g = i % 20
    s = lambda c: c.cast("string")  # noqa: E731
    url = (
        F.when(
            g < 5,
            F.concat(F.lit("https://h"), s(g), F.lit(".ex/shop?sid="), s(i)),
        )
        .when(
            g < 8,
            F.concat(
                F.lit("https://h"), s(g), F.lit(".ex/cal/"), s(i % 4),
                F.lit("/cal/"), s(i % 4), F.lit("/cal"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://h"), s(g), F.lit(".ex/p"), s(i % 6),
                F.when(i % 3 == 0, F.lit("?x=1")).otherwise(F.lit("")),
            )
        )
    )
    docs = _t(spark, sf_dir, "documents").select(url.alias("url"))
    return detect_traps(docs, query_variant_threshold=10)


_DETECT_TRAPS_ORACLE = (
    "WITH u AS (SELECT doc_id AS i, doc_id % 20 AS g FROM documents),"
    " shaped AS (SELECT 'h' || g::VARCHAR || '.ex' AS host,"
    "  CASE WHEN g < 5 THEN '/shop'"
    "   WHEN g < 8 THEN '/cal/' || (i % 4)::VARCHAR || '/cal/'"
    "    || (i % 4)::VARCHAR || '/cal'"
    "   ELSE '/p' || (i % 6)::VARCHAR END AS path,"
    "  CASE WHEN g < 5 THEN 'sid=' || i::VARCHAR"
    "   WHEN g >= 8 AND i % 3 = 0 THEN 'x=1' END AS query,"
    "  CASE WHEN g < 5 THEN 1 WHEN g < 8 THEN 5 ELSE 1 END AS depth,"
    "  CASE WHEN g < 8 AND g >= 5 THEN 3 ELSE 1 END AS rep FROM u),"
    " pp AS (SELECT host, path, count(*) AS n,"
    "  count(DISTINCT query) AS qv, max(depth) AS d, max(rep) AS r"
    "  FROM shaped GROUP BY 1, 2) "
    "SELECT host, sum(n) AS n_urls, count(*) AS n_paths,"
    " max(qv) AS max_query_variants, max(d) AS max_depth,"
    " max(r) AS max_seg_repeat, max(qv) >= 10 AS query_trap,"
    " max(r) >= 3 AS repeat_trap, max(d) >= 12 AS depth_trap"
    " FROM pp GROUP BY host"
)


def _q_soft404(spark, sf_dir):
    """Soft-404 detection (functions/http.py::soft404_signals): title
    alone flags, body-phrase + tiny flags, body phrase alone (an
    article ABOUT 404s) does not, a real 404 status never flags, and
    NULL title/text contribute only the tininess signal. Oracle
    predicts every signal and the weighted score per arm."""
    from comic_text_detector_spark.functions.http import soft404_signals

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    pad = F.repeat(F.lit("word "), 200)
    m = i % 6
    status = F.when(m == 3, F.lit(404)).otherwise(F.lit(200))
    title = (
        F.when(m == 0, F.lit("404 Page Not Found"))
        .when(m == 1, F.lit("Oops"))
        .when(m == 2, F.concat(F.lit("Blog "), s(i)))
        .when(m == 3, F.lit("Page not found"))
        .when(m == 4, F.concat(F.lit("Hello "), s(i)))
    )
    text = (
        F.when(m == 0, pad)
        .when(m == 1, F.lit("Sorry, page not found."))
        .when(m == 2, F.concat(F.lit("the page not found error "), pad))
        .when(m == 3, F.lit("gone"))
        .when(m == 4, pad)
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), s(i)).alias("url"),
        status.alias("status"),
        title.alias("title"),
        text.alias("text"),
    )
    return soft404_signals(docs)


_SOFT404_ORACLE = (
    "SELECT 'u' || doc_id::VARCHAR AS url,"
    " doc_id % 6 IN (0, 3) AS title_nf,"
    " doc_id % 6 IN (1, 2) AS body_nf,"
    " doc_id % 6 IN (1, 3, 5) AS tiny,"
    " CASE doc_id % 6 WHEN 0 THEN 600 WHEN 1 THEN 500 WHEN 2 THEN 400"
    "  WHEN 3 THEN 700 WHEN 4 THEN 0 ELSE 100 END AS soft404_score,"
    " doc_id % 6 IN (0, 1) AS is_soft404"
    " FROM documents"
)


def _q_extract_hreflang(spark, sf_dir):
    """hreflang alternate extraction (functions/links.py::
    extract_hreflang): two valid tags per doc (one each attribute
    order, one needing lowercase + entity decode), a tag without href
    (dropped), and a stylesheet link (never matched)."""
    from comic_text_detector_spark.functions.links import extract_hreflang

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    html = F.concat(
        F.lit('<head><link rel="alternate" hreflang="en" href="https://e'),
        s(i), F.lit('/en"/><link href="https://e'), s(i),
        F.lit('/de?a=1&amp;b='), s(i % 9),
        F.lit('" hreflang="DE-de"><link rel="alternate" hreflang="fr">'
              '<link rel="stylesheet" href="/s.css"></head>'),
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("p"), s(i)).alias("url"), html.alias("html")
    )
    return extract_hreflang(docs)


_HREFLANG_ORACLE = (
    "SELECT 'p' || doc_id::VARCHAR AS url, 'en' AS hreflang,"
    " 'https://e' || doc_id::VARCHAR || '/en' AS href FROM documents"
    " UNION ALL SELECT 'p' || doc_id::VARCHAR, 'de-de',"
    " 'https://e' || doc_id::VARCHAR || '/de?a=1&b='"
    " || (doc_id % 9)::VARCHAR FROM documents"
)


def _q_doc_keywords(spark, sf_dir):
    """Per-doc TF-IDF keywords (operators/retrieval.py::topk_keywords)
    over the REAL documents.text column — whitespace token space shared
    with the BM25 index, Lucene idf micro-quantized, rank ties broken
    lexicographically. The oracle replays tokenization, df, the idf
    micro, and the window."""
    from comic_text_detector_spark.operators.retrieval import topk_keywords

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return topk_keywords(docs, k=3, min_len=3)


_DOC_KEYWORDS_ORACLE = (
    "WITH toks AS (SELECT doc_id AS id, t.w FROM documents,"
    " unnest(string_split(coalesce(text, ''), ' ')) AS t(w)"
    " WHERE t.w <> '' AND length(t.w) >= 3),"
    " tf AS (SELECT id, w, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),"
    " nn AS (SELECT count(DISTINCT id) AS n FROM toks),"
    " dfq AS (SELECT w, count(*)::BIGINT AS df,"
    "  CAST(round(1000000 * ln(((SELECT n FROM nn) - count(*) + 0.5)"
    "   / (count(*) + 0.5) + 1.0)) AS BIGINT) AS im"
    "  FROM tf GROUP BY w),"
    " sc AS (SELECT tf.id, tf.w, tf.tf, dfq.df,"
    "  tf.tf * dfq.im AS score_micro FROM tf JOIN dfq ON tf.w = dfq.w),"
    " r AS (SELECT *, row_number() OVER (PARTITION BY id"
    "  ORDER BY score_micro DESC, w) AS rank FROM sc) "
    "SELECT id AS doc_id, w AS term, tf, df, score_micro,"
    " rank::INT AS rank FROM r WHERE rank <= 3"
)


def _q_readability(spark, sf_dir):
    """Integer Flesch readability (functions/textstats.py::
    readability_scores) over the REAL documents.text column; the
    oracle replays the sentence split, vowel-run syllables with the
    vowel-less-word floor, and the floor-division score formulas."""
    from comic_text_detector_spark.functions.textstats import (
        readability_scores,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return readability_scores(docs)


_READABILITY_ORACLE = (
    "WITH b AS (SELECT doc_id, coalesce(text, '') AS t,"
    " lower(coalesce(text, '')) AS lo FROM documents),"
    " c AS (SELECT doc_id,"
    "  len(list_filter(regexp_split_to_array(t, '[.!?]+'),"
    "   s -> trim(s) <> ''))::BIGINT AS ns,"
    "  len(list_filter(regexp_split_to_array(lo, '\\s+'),"
    "   w -> w <> ''))::BIGINT AS nw,"
    "  (len(regexp_extract_all(lo, '[aeiouy]+'))"
    "   + len(list_filter(regexp_split_to_array(lo, '\\s+'),"
    "     w -> w <> '' AND NOT regexp_matches(w, '[aeiouy]'))))::BIGINT"
    "   AS sy FROM b) "
    "SELECT doc_id, ns AS n_sentences, nw AS n_words, sy AS n_syllables,"
    " CASE WHEN ns > 0 AND nw > 0 THEN 206835 - (1015 * nw) // ns"
    "  - (84600 * sy) // nw END AS flesch_milli,"
    " CASE WHEN ns > 0 AND nw > 0 THEN (390 * nw) // ns"
    "  + (11800 * sy) // nw - 15590 END AS fk_grade_milli"
    " FROM c"
)


def _q_extract_headings(spark, sf_dir):
    """Heading outline (functions/tables.py::extract_headings): an h1
    with an entity, an h2 with inner markup + padding whitespace, an
    empty h(1+i%3) that must survive as '', and a no-heading arm
    yielding no rows. Oracle predicts ordinal, level, and cleaned
    text per arm."""
    from comic_text_detector_spark.functions.tables import extract_headings

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    html = F.when(
        i % 4 == 3,
        F.concat(F.lit("<p>plain"), s(i), F.lit("</p>")),
    ).otherwise(
        F.concat(
            F.lit("<html><h1>T&amp;"), s(i),
            F.lit("</h1><p>x</p><h2> S <em>"), s(i % 5),
            F.lit("</em> </h2><h"), s(1 + i % 3),
            F.lit("></h"), s(1 + i % 3),
            F.lit("><p>tail</p></html>"),
        )
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), s(i)).alias("url"), html.alias("html")
    )
    return extract_headings(docs)


_EXTRACT_HEADINGS_ORACLE = (
    "WITH d AS (SELECT doc_id AS i FROM documents WHERE doc_id % 4 <> 3) "
    "SELECT 'd' || i::VARCHAR AS url, 0 AS heading_idx, 1 AS level,"
    " 'T&' || i::VARCHAR AS text FROM d"
    " UNION ALL SELECT 'd' || i::VARCHAR, 1, 2,"
    " 'S ' || (i % 5)::VARCHAR FROM d"
    " UNION ALL SELECT 'd' || i::VARCHAR, 2, (1 + i % 3)::INT, '' FROM d"
)


def _q_section_chunks(spark, sf_dir):
    """Section-grain chunking (functions/tables.py::section_chunks):
    preamble text, an entity-decoded h1 section with multi-tag body,
    an attributed h2 section, and a never-closed h3 that must drop;
    every 4th doc has a markup-only preamble that must emit no row."""
    from comic_text_detector_spark.functions.tables import section_chunks

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    pre = F.when(i % 4 == 0, F.lit("<html><br/>")).otherwise(
        F.concat(F.lit("<html><p>intro "), s(i), F.lit("</p>"))
    )
    html = F.concat(
        pre,
        F.lit("<h1>T&amp;"), s(i), F.lit("</h1><p>body"), s(i % 7),
        F.lit("</p><div>more</div><h2 class=x>Sub"), s(i % 5),
        F.lit("</h2>tail text<h3>broken</html>"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), s(i)).alias("url"), html.alias("html")
    )
    return section_chunks(docs)


_SECTION_CHUNKS_ORACLE = (
    "WITH d AS (SELECT doc_id AS i FROM documents) "
    "SELECT 'd' || i::VARCHAR AS url, 0 AS section_idx,"
    " NULL::INT AS level, NULL::VARCHAR AS heading,"
    " 'intro ' || i::VARCHAR AS body FROM d WHERE i % 4 <> 0"
    " UNION ALL SELECT 'd' || i::VARCHAR, 1, 1, 'T&' || i::VARCHAR,"
    " 'body' || (i % 7)::VARCHAR || ' more' FROM d"
    " UNION ALL SELECT 'd' || i::VARCHAR, 2, 2,"
    " 'Sub' || (i % 5)::VARCHAR, 'tail text' FROM d"
)


def _q_extract_jsonld(spark, sf_dir):
    """JSON-LD structured-data extraction (functions/jsonld.py::
    extract_jsonld): ordinal skip past a non-LD script, object- and
    bare-string author forms, malformed-JSON block kept with
    valid=false and NULL fields, top-level fields only. Oracle
    predicts every row from the fixture arithmetic."""
    from comic_text_detector_spark.functions.jsonld import extract_jsonld

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    html = (
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit('<script>var x=1;</script>'
                      '<script type="application/ld+json">'
                      '{"@type":"Article","headline":"H'),
                s(i),
                F.lit('","author":{"name":"A'), s(i % 7),
                F.lit('"},"datePublished":"2024-03-0'), s(1 + i % 9),
                F.lit('","description":"d'), s(i % 5),
                F.lit('"}</script>'),
            ),
        )
        .when(
            i % 4 == 1,
            F.concat(
                F.lit('<script type="application/ld+json" id="a">'
                      '{"@type":"Product","name":"P'),
                s(i % 5),
                F.lit('","author":"B'), s(i % 3), F.lit('"}</script>'),
            ),
        )
        .when(
            i % 4 == 2,
            F.lit('<script type="application/ld+json">{oops</script>'),
        )
        .otherwise(F.lit("<p>none</p>"))
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://j"), s(i % 20), F.lit("/p"), s(i)).alias(
            "url"
        ),
        html.alias("html"),
    )
    return extract_jsonld(docs)


_EXTRACT_JSONLD_ORACLE = (
    "WITH u AS (SELECT doc_id AS i, 'https://j' ||"
    " (doc_id % 20)::VARCHAR || '/p' || doc_id::VARCHAR AS url"
    " FROM documents) "
    "SELECT url, 1 AS block_idx, true AS valid, 'Article' AS ld_type,"
    " NULL::VARCHAR AS name, 'H' || i::VARCHAR AS headline,"
    " 'A' || (i % 7)::VARCHAR AS author_name,"
    " '2024-03-0' || (1 + i % 9)::VARCHAR AS date_published,"
    " 'd' || (i % 5)::VARCHAR AS description FROM u WHERE i % 4 = 0 "
    "UNION ALL SELECT url, 0, true, 'Product',"
    " 'P' || (i % 5)::VARCHAR, NULL, 'B' || (i % 3)::VARCHAR, NULL, NULL"
    " FROM u WHERE i % 4 = 1 "
    "UNION ALL SELECT url, 0, false, NULL, NULL, NULL, NULL, NULL, NULL"
    " FROM u WHERE i % 4 = 2"
)


def _q_fix_mojibake(spark, sf_dir):
    """cp1252-mojibake repair (functions/charset.py::fix_mojibake):
    single-pass repairs ('cafÃ©' → 'café', including a cp1252-hole
    byte inside a curly quote), a double-encoded fixpoint
    ('ÃƒÂ©' → 'é'), and the two must-not-touch arms (plain ASCII,
    genuine accented text). Oracle states the expected repaired
    literal per fixture arm."""
    from comic_text_detector_spark.functions.charset import fix_mojibake

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = (
        F.when(i % 5 == 0, F.concat(F.lit("cafÃ© nÂ°"), s(i)))
        .when(i % 5 == 1, F.concat(F.lit("â€œqâ€ "), s(i)))
        .when(i % 5 == 2, F.concat(F.lit("plain "), s(i)))
        .when(i % 5 == 3, F.concat(F.lit("naïve café "), s(i)))
        .otherwise(F.concat(F.lit("ÃƒÂ© "), s(i)))
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", text.alias("text")
    )
    return fix_mojibake(docs)


_FIX_MOJIBAKE_ORACLE = (
    "SELECT doc_id, CASE doc_id % 5"
    " WHEN 0 THEN 'café n°' || doc_id::VARCHAR"
    " WHEN 1 THEN '“q” ' || doc_id::VARCHAR"
    " WHEN 2 THEN 'plain ' || doc_id::VARCHAR"
    " WHEN 3 THEN 'naïve café ' || doc_id::VARCHAR"
    " ELSE 'é ' || doc_id::VARCHAR END AS text,"
    " doc_id % 5 IN (0, 1, 4) AS was_mojibake FROM documents"
)


def _c4_page_lines(prefix: str = "") -> tuple[str, str]:
    """(spark_unused, duckdb_sql) builder is inlined in both sides below;
    kept as a docstring anchor for the shared page recipe: L1 kept
    sentence from the real text, L2 short line (dropped), L3 javascript
    line (dropped), L4 policy phrase (dropped), L5 three extra sentences
    (skipped when doc_id%5==0 → too_few_sentences), L6 lorem when
    doc_id%7==0, L7 brace when doc_id%11==0."""
    raise NotImplementedError("documentation anchor only")


def _q_c4_filter(spark, sf_dir):
    """C4 cleaning battery (operators/curation.py::c4_line_filter; rules
    from Raffel et al. 2020 §2.2) over deterministic multi-line pages
    built from the REAL documents table so every line and page rule
    fires at sf0.01: terminal-punctuation keep, short-line drop,
    javascript/policy-phrase drops, lorem-ipsum / brace / sentence-count
    page drops. The oracle replays the page synthesis AND the filter."""
    from comic_text_detector_spark.operators.curation import c4_line_filter

    d = F.col("doc_id")
    base = F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40)
    page = F.concat_ws(
        "\n",
        F.concat(base, F.lit(" end.")),
        F.lit("short line"),
        F.concat(F.lit("Enable javascript to view page "),
                 d.cast("string"), F.lit(".")),
        F.lit("This site uses cookies for analytics."),
        F.when(
            d % 5 != 0,
            F.lit("Sentence two is fine! Sentence three is fine?"
                  " Sentence four is fine."),
        ),
        F.when(d % 7 == 0, F.lit("Lorem ipsum dolor sit amet."))
        .otherwise(F.lit("Normal closing sentence here.")),
        F.when(d % 11 == 0, F.lit("code { x } sample.")),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", page.alias("text")
    )
    return c4_line_filter(docs)


def _c4_filter_oracle() -> str:
    from comic_text_detector_spark.operators.curation import (
        c4_line_filter_sql,
    )

    page = (
        "SELECT doc_id, concat_ws(chr(10),"
        " substr(coalesce(text, ''), 1, 40) || ' end.',"
        " 'short line',"
        " 'Enable javascript to view page ' || doc_id::VARCHAR || '.',"
        " 'This site uses cookies for analytics.',"
        " CASE WHEN doc_id % 5 <> 0 THEN"
        "  'Sentence two is fine! Sentence three is fine?"
        " Sentence four is fine.' END,"
        " CASE WHEN doc_id % 7 = 0 THEN 'Lorem ipsum dolor sit amet.'"
        "  ELSE 'Normal closing sentence here.' END,"
        " CASE WHEN doc_id % 11 = 0 THEN 'code { x } sample.' END"
        ") AS text FROM documents"
    )
    twin = c4_line_filter_sql(table="page")
    return twin.replace("WITH ", f"WITH page AS ({page}), ", 1)


_SCRIPT_VARIANTS: tuple[str, ...] = (
    "",  # slot 0 uses the real (latin) text
    "Привет мир как дела сегодня",
    "γειά σου κόσμε σήμερα",
    "مرحبا بالعالم اليوم",
    "你好世界 こんにちは",  # kana 5 > han 4 → kana dominates
    "안녕하세요 세계",
    "123 !!! %%% 456",  # no scripted letter → 'none'
)


def _q_script_profile(spark, sf_dir):
    """Unicode script detection (functions/textstats.py::script_profile)
    over doc_id%7 multilingual variants planted on the REAL documents
    table — Cyrillic/Greek/Arabic/Han+Kana/Hangul pages plus the
    letterless 'none' arm; slot 0 keeps the real Latin text. The oracle
    replays the nine block strips and the priority-ordered argmax."""
    from comic_text_detector_spark.functions.textstats import script_profile

    d = F.col("doc_id")
    text = F.coalesce(F.col("text"), F.lit(""))
    for i, s in enumerate(_SCRIPT_VARIANTS):
        if i == 0:
            continue
        text = F.when(d % 7 == i, F.lit(s)).otherwise(text)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", text.alias("text")
    )
    return script_profile(docs)


def _script_profile_oracle() -> str:
    from comic_text_detector_spark.functions.textstats import (
        script_profile_sql,
    )

    arms = " ".join(
        f"WHEN doc_id % 7 = {i} THEN '{s}'"
        for i, s in enumerate(_SCRIPT_VARIANTS)
        if i > 0
    )
    page = (
        f"SELECT doc_id, CASE {arms} ELSE coalesce(text, '') END AS text"
        " FROM documents"
    )
    twin = script_profile_sql(table="page")
    return twin.replace("WITH ", f"WITH page AS ({page}), ", 1)


def _q_train_topic_softmax(spark, sf_dir):
    """IN-SPARK multiclass softmax TRAINING of the hashed-BoW topic
    router (operators/topic.py::train_topic_softmax — the K-way sibling
    of the binary quality trainer, same integer-GD contract with the
    class-ordered list softmax). Labels are the deterministic doc_id%3
    split with a class keyword appended so the fit has signal; the
    oracle replays the whole 2-iteration fit as unrolled CTE quartets."""
    from comic_text_detector_spark.operators.topic import (
        train_topic_softmax,
    )

    kw = F.element_at(
        F.array(F.lit("alpha"), F.lit("beta"), F.lit("gamma")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.concat_ws(" ", F.col("text"), kw, kw).alias("text"),
        (F.col("doc_id") % 3).alias("label"),
    )
    w = train_topic_softmax(
        docs, n_classes=3, id_col="id", n_buckets=1024, n_iter=2
    )
    rows = sorted((c, b, mw) for (c, b), mw in w.items())
    if not rows:
        return spark.createDataFrame([], "c int, b long, mw long")
    return spark.createDataFrame(rows, "c int, b long, mw long")


def _train_topic_oracle() -> str:
    from comic_text_detector_spark.operators.topic import (
        train_topic_softmax_sql,
    )

    inner = train_topic_softmax_sql(n_classes=3, n_buckets=1024, n_iter=2)
    assert inner.startswith("WITH ")
    return (
        "WITH labeled AS (SELECT doc_id AS id,"
        " concat_ws(' ', text, kw, kw) AS text, y FROM ("
        "SELECT doc_id, text, doc_id % 3 AS y,"
        " (['alpha', 'beta', 'gamma'])[(doc_id % 3) + 1] AS kw"
        " FROM documents)), "
        + inner[len("WITH "):]
    )


_TOPIC_DEMO_WORDS: dict[str, tuple[int, int]] = {
    # word -> (class, milliweight): a hand-built router over corpus vocab
    "table": (0, 900), "scan": (0, 700), "row": (0, 500),
    "window": (1, 900), "stream": (1, 700), "batch": (1, 500),
    "customer": (2, 900), "order": (2, 700), "query": (2, 500),
}


def _topic_demo_weights(n_buckets: int = 1 << 12):
    import hashlib

    out = {}
    for wrd, (c, mw) in _TOPIC_DEMO_WORDS.items():
        b = int(hashlib.md5(wrd.encode()).hexdigest()[:8], 16) % n_buckets
        out[(c, b)] = out.get((c, b), 0) + mw
    return out


def _q_topic_classify(spark, sf_dir):
    """K-way topic routing under a FIXED literal model
    (operators/topic.py::topic_scores): exact bigint logits per class
    from the broadcast (c, b, mw) table, argmax with smallest-class
    tie-break, all-zero docs routed to class 0 — one broadcast join +
    one aggregate + one argmax over the REAL documents."""
    from comic_text_detector_spark.operators.topic import topic_scores

    return topic_scores(
        _t(spark, sf_dir, "documents"), _topic_demo_weights(), n_classes=3
    )


def _q_train_order_shards(spark, sf_dir):
    """Deterministic global training-order shuffle + hash-range sharding
    (operators/curation.py::train_order_shards) over the REAL documents
    ids — the epoch-reproducible permutation a pretraining loader reads;
    the oracle replays sort key, shard bucket and per-shard position."""
    from comic_text_detector_spark.operators.curation import (
        train_order_shards,
    )

    return train_order_shards(_t(spark, sf_dir, "documents"))


def _q_video_frame_sample(spark, sf_dir):
    """The VIDEO leg of §2.8 through real container bytes, gate-checked:
    each doc_id becomes a genuine Y4M stream (mono, 1 + doc_id%7 frames,
    frame k's luma the constant (k*7+31)&255 — multimodal/pixels.py::
    synthesize_y4m), y4m_frame_stats demuxes it and keeps every 2nd
    frame, and the oracle predicts each sampled frame's integer luma sum
    arithmetically — so a demux stride bug, a wrong-cadence sample, or a
    dropped frame changes a value DuckDB recomputes from the fixture
    arithmetic (same discipline as multimodal_gif_frames)."""
    import pandas as pd

    from comic_text_detector_spark.multimodal.pixels import (
        synthesize_y4m,
        y4m_frame_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [str(i) for i in ids],
                    "media": [
                        synthesize_y4m(4 + i % 13, 3 + i % 11, 1 + i % 7)
                        for i in ids
                    ],
                }
            )

    m = docs.mapInPandas(synth, "media_id string, media binary")
    return y4m_frame_stats(m, every_n=2).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "frame_idx", "width", "height", "luma_sum",
    )


def _q_split_by_host(spark, sf_dir):
    """Leakage-safe train/val/test assignment (operators/curation.py::
    split_by_host): urls synthesized over 97 hosts with every 29th doc a
    RELATIVE url (the hostless NULL-split path), exact-binary split
    weights 0.75/0.125/0.125 so the cumulative bounds are bit-identical
    literals in both engines, and the md5-portable host hash replayed
    verbatim by DuckDB — same row-for-row split on any engine."""
    from comic_text_detector_spark.operators.curation import split_by_host

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.when(
        F.col("doc_id") % 29 == 0,
        F.concat(F.lit("/p/"), F.col("doc_id").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("https://w"),
            F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        )
    )
    d = docs.select("doc_id", url.alias("url"))
    return split_by_host(
        d, [("train", 0.75), ("val", 0.125), ("test", 0.125)]
    )


def _q_mixture_allocate(spark, sf_dir):
    """Training-mixture planning (operators/curation.py::
    mixture_allocate): apportion a 100_003-char budget across the REAL
    documents languages by largest-remainder — integer end to end, with
    a deliberately-missing group ('xx') exercising the available=0 /
    full-shortfall path and the odd budget forcing remainder bonuses.
    DuckDB replays quota/floor/remainder-rank arithmetic bit-for-bit."""
    from comic_text_detector_spark.operators.curation import (
        mixture_allocate,
    )

    return mixture_allocate(
        _t(spark, sf_dir, "documents"),
        {"en": 500_000, "de": 150_000, "es": 150_000, "fr": 100_000,
         "zh": 50_000, "xx": 50_000},
        budget=100_003,
        by="lang",
        size_col="n_chars",
    )


def _q_align_bitext(spark, sf_dir):
    """Bitext sentence alignment (operators/curation.py::
    align_bitext_sentences) over arithmetic sentence fixtures: doc d's
    'a' side has 2+d%4 sentences of length 1+(d+3k)%9, its 'b' side
    2+(d+1)%4 of length 1+(2d+5k)%9 — unequal counts and totals, so the
    proportional-anchor scaling is really exercised — and DuckDB
    replays prefix sums, the exact-integer interval test, and the
    milli-ratio from the same generate_series arithmetic."""
    from comic_text_detector_spark.operators.curation import (
        align_bitext_sentences,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def sents(n_expr, len_fn):
        return F.transform(
            F.sequence(F.lit(0), n_expr - 1),
            lambda k: F.repeat(F.lit("a"), len_fn(k).cast("int")),
        )

    d = docs.select(
        did.cast("string").alias("bitext_key"),
        sents(
            F.lit(2) + F.pmod(did, F.lit(4)),
            lambda k: F.lit(1) + F.pmod(did + 3 * k, F.lit(9)),
        ).alias("sents_a"),
        sents(
            F.lit(2) + F.pmod(did + 1, F.lit(4)),
            lambda k: F.lit(1) + F.pmod(2 * did + 5 * k, F.lit(9)),
        ).alias("sents_b"),
    )
    return align_bitext_sentences(d)


def _q_host_quality_shrunk(spark, sf_dir):
    """Empirical-Bayes per-host quality (operators/curation.py::
    host_quality_shrunk): hosts synthesized over doc_id%23, score =
    n_chars, prior strength 20 pseudo-docs — the integer milli-quantized
    shrinkage replayed bit-for-bit by DuckDB."""
    from comic_text_detector_spark.operators.curation import (
        host_quality_shrunk,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("w"), F.pmod(F.col("doc_id"), F.lit(23)).cast("string")
        ).alias("host"),
        F.col("n_chars").alias("score"),
    )
    return host_quality_shrunk(docs, prior_strength=20)


def _q_postings_compress(spark, sf_dir):
    """Blocked delta+LEB128 postings compression (operators/retrieval.py::
    compress_postings) over the REAL documents token space: the index is
    built by build_inverted_index, packed in blocks of 4 (small enough
    that real terms split across blocks), and the gate checks (w, block,
    n_postings, first_id, bytes_len) where bytes_len is the EXACT LEB128
    length ladder DuckDB re-sums from the same gap arithmetic — the
    byte-for-byte content is covered by the decompress roundtrip tests."""
    from comic_text_detector_spark.operators.retrieval import (
        build_inverted_index,
        compress_postings,
    )

    postings, _ = build_inverted_index(_t(spark, sf_dir, "documents"))
    return compress_postings(postings, block=4).select(
        "w", "block_idx", "n_postings", "first_id", "bytes_len"
    )


def _q_bm25_compressed(spark, sf_dir):
    """BM25 served off the COMPRESSED blocked index (operators/
    retrieval.py::compress_postings → bm25_from_compressed): the query
    terms' blocks are filtered pre-decode, LEB128-decoded, and scored
    through the shared tail — bit-identical to bm25_docs/bm25_index by
    construction, so the SAME DuckDB oracle must match; a single wrong
    gap or tf anywhere in the codec shifts a score and fails the gate."""
    from comic_text_detector_spark.operators.retrieval import (
        bm25_from_compressed,
        build_inverted_index,
        compress_postings,
    )

    postings, lengths = build_inverted_index(_t(spark, sf_dir, "documents"))
    return bm25_from_compressed(
        compress_postings(postings, block=8), lengths, _BM25_TERMS
    )


def _md_fixture(spark, sf_dir):
    """Deterministic per-doc markdown: a python fence, a lang-less
    fence, headings (incl. a fence-interior decoy, a 7-# non-heading
    and a bare ##), inline link + image, a fence-interior link decoy,
    and — every 3rd doc — an UNTERMINATED trailing fence that must
    emit no code row."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    md = F.concat(
        F.lit("# H"), s(i % 3),
        F.lit("\npara *one* with [l"), s(i % 5),
        F.lit("](/p"), s(i % 7),
        F.lit(") and ![im](i.png) `x`\n```python\ncode"), s(i % 7),
        F.lit("\n```\n## Sub ##\n####### no\n##\n```\nplain"), s(i % 5),
        F.lit("```\n[no href] tail"),
        F.when(i % 3 == 0, F.lit("\n```rust\nopen")).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), s(i)).alias("url"), md.alias("md")
    )


def _q_markdown_fences(spark, sf_dir):
    """Fenced code extraction (functions/markdown.py::
    extract_code_fences): info-string lang, verbatim code, and the
    unterminated-trailing-fence refusal arm."""
    from comic_text_detector_spark.functions.markdown import (
        extract_code_fences,
    )

    return extract_code_fences(_md_fixture(spark, sf_dir))


_MARKDOWN_FENCES_ORACLE = (
    "WITH d AS (SELECT doc_id AS i FROM documents) "
    "SELECT 'd' || i::VARCHAR AS url, 0 AS fence_idx,"
    " 'python' AS lang, 'code' || (i % 7)::VARCHAR || chr(10) AS code"
    " FROM d UNION ALL "
    "SELECT 'd' || i::VARCHAR, 1, '',"
    " 'plain' || (i % 5)::VARCHAR FROM d"
)


def _q_markdown_outline(spark, sf_dir):
    """ATX outline (functions/markdown.py::markdown_outline): fence
    interiors can't fabricate headings, 7+ runs are not headings, a
    bare ## is a real empty heading, closing runs are stripped."""
    from comic_text_detector_spark.functions.markdown import (
        markdown_outline,
    )

    return markdown_outline(_md_fixture(spark, sf_dir))


# line_idx = chunk_pos*100000 + line_pos within the prose chunk:
# '# H..' is chunk 0 line 0; '## Sub ##'/'##' live in chunk 2
# (after the python fence) at line positions 1 and 3.
_MARKDOWN_OUTLINE_ORACLE = (
    "WITH d AS (SELECT doc_id AS i FROM documents) "
    "SELECT 'd' || i::VARCHAR AS url, 0 AS line_idx, 1 AS level,"
    " 'H' || (i % 3)::VARCHAR AS text FROM d UNION ALL "
    "SELECT 'd' || i::VARCHAR, 200001, 2, 'Sub' FROM d UNION ALL "
    "SELECT 'd' || i::VARCHAR, 200003, 2, '' FROM d"
)


def _q_markdown_links(spark, sf_dir):
    """Inline links/images (functions/markdown.py::markdown_links):
    ordinal, is_image split, fence-interior decoys stripped, bare
    [no href] emits nothing."""
    from comic_text_detector_spark.functions.markdown import (
        markdown_links,
    )

    return markdown_links(_md_fixture(spark, sf_dir))


_MARKDOWN_LINKS_ORACLE = (
    "WITH d AS (SELECT doc_id AS i FROM documents) "
    "SELECT 'd' || i::VARCHAR AS url, 0 AS link_idx, FALSE AS is_image,"
    " 'l' || (i % 5)::VARCHAR AS text,"
    " '/p' || (i % 7)::VARCHAR AS href FROM d UNION ALL "
    "SELECT 'd' || i::VARCHAR, 1, TRUE, 'im', 'i.png' FROM d"
)


def _q_markdown_text(spark, sf_dir):
    """Plain-text projection (functions/markdown.py::
    markdown_to_text): fences removed (incl. the unterminated arm),
    links/images to their text/alt, ATX + emphasis markers stripped,
    whitespace collapsed — the closed form is predictable per doc."""
    from comic_text_detector_spark.functions.markdown import (
        markdown_to_text,
    )

    return markdown_to_text(_md_fixture(spark, sf_dir))


_MARKDOWN_TEXT_ORACLE = (
    "WITH d AS (SELECT doc_id AS i FROM documents) "
    "SELECT 'd' || i::VARCHAR AS url,"
    " 'H' || (i % 3)::VARCHAR || ' para one with l' || (i % 5)::VARCHAR"
    " || ' and im x Sub ####### no [no href] tail' AS text FROM d"
)


def _q_code_lang(spark, sf_dir):
    """Heuristic code-language routing (functions/markdown.py::
    code_lang_guess): five snippet arms (python/js/c/sql/none) keyed
    by doc_id, marker counts exact."""
    from comic_text_detector_spark.functions.markdown import (
        code_lang_guess,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    arm = i % 5
    code = (
        F.when(arm == 0, F.concat(
            F.lit("import os\ndef f(self):\n    return self.x"), s(i % 3)))
        .when(arm == 1, F.concat(
            F.lit("const a"), s(i % 3), F.lit(" = 1;\nconsole.log(a)")))
        .when(arm == 2, F.concat(
            F.lit('#include <x.h>\nint main(){printf("%d", '), s(i % 3),
            F.lit(");}")))
        .when(arm == 3, F.concat(
            F.lit("SELECT a"), s(i % 3), F.lit(" FROM t WHERE b = 1")))
        .otherwise(F.concat(F.lit("plain words "), s(i % 3), F.lit(" here")))
    )
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("id"), code.alias("code")
    )
    return code_lang_guess(docs).select("id", "lang_guess", "lang_hits")


_CODE_LANG_ORACLE = (
    "SELECT doc_id AS id,"
    " CASE doc_id % 5 WHEN 0 THEN 'python' WHEN 1 THEN 'javascript'"
    " WHEN 2 THEN 'c' WHEN 3 THEN 'sql' ELSE '' END AS lang_guess,"
    " CASE doc_id % 5 WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 2"
    " WHEN 3 THEN 1 ELSE 0 END AS lang_hits FROM documents"
)


def _q_token_prf(spark, sf_dir):
    """Token-multiset extraction eval (plans/eval.py::token_prf): four
    arms — perfect, partial-with-wrong-token, empty prediction (honest
    zeros), and a repeated-token multiset arm; metrics as exact
    micro-quantized bigints."""
    from comic_text_detector_spark.plans.eval import token_prf

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    gold_t = F.concat(F.lit("a"), s(i % 3), F.lit(" b c c"))
    arm = i % 4
    pred_t = (
        F.when(arm == 0, gold_t)
        .when(arm == 1, F.concat(F.lit("a"), s(i % 3), F.lit(" b x")))
        .when(arm == 2, F.lit(""))
        .otherwise(F.lit("c c c"))
    )
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("d"), s(i)).alias("url")
    gold = docs.select(url, gold_t.alias("text"))
    pred = docs.select(url, pred_t.alias("text"))
    return token_prf(gold, pred)


_TOKEN_PRF_ORACLE = (
    "WITH d AS (SELECT doc_id AS i, doc_id % 4 AS arm FROM documents) "
    "SELECT 'd' || i::VARCHAR AS url,"
    " CASE arm WHEN 0 THEN 4 WHEN 1 THEN 2 WHEN 2 THEN 0 ELSE 2 END"
    "  AS inter_n, 4 AS gold_n,"
    " CASE arm WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 2 THEN 0 ELSE 3 END"
    "  AS pred_n,"
    " CASE arm WHEN 0 THEN 1000000 WHEN 2 THEN 0 ELSE 666666 END"
    "  AS p_micro,"
    " CASE arm WHEN 0 THEN 1000000 WHEN 2 THEN 0 ELSE 500000 END"
    "  AS r_micro,"
    " CASE arm WHEN 0 THEN 1000000 WHEN 2 THEN 0 ELSE 571428 END"
    "  AS f1_micro FROM d"
)


def _q_fuzzy_title_pairs(spark, sf_dir):
    """Blocked edit-distance near-dup (operators/dedup.py::
    fuzzy_pairs_edit): 4-member blocks with a substitution arm, a
    deletion arm and a far arm; the DuckDB oracle replays blocking,
    the length prefilter AND levenshtein itself."""
    from comic_text_detector_spark.operators.dedup import fuzzy_pairs_edit

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    g = F.expr("doc_id div 4")
    arm = i % 4
    mid = s(g % 9)
    t = (
        F.when(arm == 0, F.concat(F.lit("title "), mid, F.lit(" alpha beta")))
        .when(arm == 1, F.concat(F.lit("title "), mid, F.lit(" alphq beta")))
        .when(arm == 2, F.concat(F.lit("title "), mid, F.lit(" alph beta")))
        .otherwise(F.concat(F.lit("completely different entry "), s(i)))
    )
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("id"), g.alias("blk"), t.alias("t")
    )
    return fuzzy_pairs_edit(docs, ["blk"], text_col="t", id_col="id",
                            max_dist=2)


_FUZZY_TITLE_PAIRS_ORACLE = (
    "WITH d AS (SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS arm"
    " FROM documents), "
    "s AS (SELECT id, g, CASE arm"
    " WHEN 0 THEN 'title ' || (g % 9)::VARCHAR || ' alpha beta'"
    " WHEN 1 THEN 'title ' || (g % 9)::VARCHAR || ' alphq beta'"
    " WHEN 2 THEN 'title ' || (g % 9)::VARCHAR || ' alph beta'"
    " ELSE 'completely different entry ' || id::VARCHAR END AS t FROM d) "
    "SELECT a.id AS id_a, b.id AS id_b,"
    " levenshtein(a.t, b.t)::INT AS dist"
    " FROM s a JOIN s b ON a.g = b.g AND a.id < b.id"
    " WHERE abs(length(a.t) - length(b.t)) <= 2"
    " AND levenshtein(a.t, b.t) <= 2"
)


def _q_score_shards(spark, sf_dir):
    """Exact score-grain ntile without a corpus sort (operators/
    curation.py::score_shards): histogram + distinct-score window +
    exact bigint floor shard assignment, replayed in DuckDB."""
    from comic_text_detector_spark.operators.curation import score_shards

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("id"), ((i * 7) % 13).alias("q")
    )
    return score_shards(docs, "q", 4)


_SCORE_SHARDS_ORACLE = (
    "WITH d AS (SELECT doc_id AS id, (doc_id * 7) % 13 AS q"
    " FROM documents), "
    "h AS (SELECT q, count(*) AS n FROM d GROUP BY q), "
    "c AS (SELECT q, sum(n) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED"
    " PRECEDING AND CURRENT ROW) - n AS cum, sum(n) OVER () AS tot"
    " FROM h), "
    "m AS (SELECT q, CAST((cum * 4) // tot AS INT) AS shard FROM c) "
    "SELECT d.id, d.q, m.shard FROM d JOIN m USING (q)"
)


def _q_bm25_anchors(spark, sf_dir):
    """Anchor-expanded BM25 (operators/retrieval.py::
    build_anchor_index → bm25_from_index): every doc's decade-head
    page accumulates weighted anchor tokens; dangling hrefs (every 5th
    link, pointing outside the corpus) are dropped, never indexed."""
    from comic_text_detector_spark.operators.retrieval import (
        bm25_from_index,
        build_anchor_index,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = (
        F.when(i % 3 == 0, F.lit("alpha beta"))
        .when(i % 3 == 1, F.lit("beta gamma gamma"))
        .otherwise(F.lit("delta"))
    )
    base = _t(spark, sf_dir, "documents")
    docs = base.select(F.concat(F.lit("u"), s(i)).alias("doc_id"),
                       text.alias("text"))
    links = base.select(
        F.concat(F.lit("u"), s(i)).alias("src"),
        F.when(i % 5 == 0, F.lit("x999999"))
        .otherwise(F.concat(F.lit("u"), s(i - i % 10)))
        .alias("href"),
        F.when(i % 2 == 0, F.lit("alpha hub"))
        .otherwise(F.lit("gamma"))
        .alias("anchor"),
    )
    postings, lengths = build_anchor_index(
        docs, links, anchor_weight=2
    )
    return bm25_from_index(postings, lengths, ("alpha", "gamma"))


_BM25_ANCHORS_ORACLE = (
    "WITH docs AS (SELECT 'u' || doc_id::VARCHAR AS id,"
    " CASE doc_id % 3 WHEN 0 THEN 'alpha beta'"
    " WHEN 1 THEN 'beta gamma gamma' ELSE 'delta' END AS text"
    " FROM documents), "
    "links AS (SELECT CASE WHEN doc_id % 5 = 0 THEN 'x999999'"
    " ELSE 'u' || (doc_id - doc_id % 10)::VARCHAR END AS href,"
    " CASE doc_id % 2 WHEN 0 THEN 'alpha hub' ELSE 'gamma' END AS anchor"
    " FROM documents), "
    "toks AS ("
    " SELECT id, w, CAST(1 AS BIGINT) AS c FROM"
    "  (SELECT id, unnest(string_split(text, ' ')) AS w FROM docs)"
    "  WHERE w <> ''"
    " UNION ALL"
    " SELECT href AS id, w, CAST(2 AS BIGINT) AS c FROM"
    "  (SELECT href, unnest(string_split(anchor, ' ')) AS w FROM links"
    "   WHERE href IN (SELECT id FROM docs))"
    "  WHERE w <> ''), "
    "dl AS (SELECT id, sum(c) AS dl FROM toks GROUP BY id), "
    "tot AS (SELECT count(*) AS n, sum(dl) AS tot FROM dl), "
    "tf AS (SELECT id, w, sum(c) AS tf FROM toks"
    " WHERE w IN ('alpha', 'gamma') GROUP BY id, w), "
    "dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf"
    " GROUP BY w), "
    "scored AS (SELECT tf.id, dl.dl, CAST(round("
    " ln((CAST((SELECT n FROM tot) AS DOUBLE) - df + 0.5)"
    " / (df + 0.5) + 1.0)"
    " * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /"
    " (CAST((SELECT tot FROM tot) AS DOUBLE) /"
    " CAST((SELECT n FROM tot) AS DOUBLE))))"
    " * 1000000.0) AS BIGINT) AS m"
    " FROM tf JOIN dfreq USING (w) JOIN dl ON dl.id = tf.id) "
    "SELECT id AS doc_id, dl, CAST(count(*) AS BIGINT) AS n_hit_terms,"
    " sum(m) / 1000000.0 AS score FROM scored GROUP BY id, dl"
)


_LPA_EDGES_SQL = (
    "SELECT 'n' || (doc_id // 6)::VARCHAR || '_' ||"
    " (doc_id % 6)::VARCHAR AS src,"
    " 'n' || (doc_id // 6)::VARCHAR || '_' ||"
    " (CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 0"
    " WHEN 3 THEN 4 WHEN 4 THEN 5"
    " ELSE (CASE WHEN (doc_id // 6) % 5 = 0 THEN 5 ELSE 3 END)"
    " END)::VARCHAR AS dst FROM documents"
)


def _q_lpa_communities(spark, sf_dir):
    """Deterministic synchronous label propagation (operators/
    graph.py::label_propagation): per 6-doc group two planted
    triangles (0-1-2 and 3-4-5); every 5th group replaces its (5,3)
    edge with a SELF-LOOP so the self-loop-drop + self-vote arms fire.
    The DuckDB twin (lpa_sql) replays all 3 unrolled rounds."""
    from comic_text_detector_spark.operators.graph import label_propagation

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    g = F.expr("doc_id div 6")
    m = i % 6
    node = lambda mm: F.concat(F.lit("n"), s(g), F.lit("_"), s(mm))  # noqa: E731
    dst_m = (
        F.when(m == 0, F.lit(1))
        .when(m == 1, F.lit(2))
        .when(m == 2, F.lit(0))
        .when(m == 3, F.lit(4))
        .when(m == 4, F.lit(5))
        .otherwise(F.when(g % 5 == 0, F.lit(5)).otherwise(F.lit(3)))
    )
    edges = _t(spark, sf_dir, "documents").select(
        node(m).alias("src"), node(dst_m).alias("dst")
    )
    return label_propagation(edges, n_iter=3)


def _q_snippet_window(spark, sf_dir):
    """Query-biased snippet selection off the positional index
    (operators/retrieval.py::snippet_window): three arms — tied
    2-term windows resolved to the smallest start, an all-terms
    window, and a no-hit doc that must be absent."""
    from comic_text_detector_spark.operators.retrieval import (
        build_positional_index,
        snippet_window,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = (
        F.when(i % 3 == 0, F.lit("f f alpha f gamma f f alpha beta"))
        .when(i % 3 == 1, F.lit("f alpha beta gamma f f"))
        .otherwise(F.lit("f f f f"))
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), s(i)).alias("doc_id"), text.alias("text")
    )
    postings, _ = build_positional_index(docs)
    return snippet_window(postings, ("alpha", "beta", "gamma"), window=4)


_SNIPPET_WINDOW_ORACLE = (
    "WITH docs AS (SELECT 'd' || doc_id::VARCHAR AS id,"
    " CASE doc_id % 3 WHEN 0 THEN 'f f alpha f gamma f f alpha beta'"
    " WHEN 1 THEN 'f alpha beta gamma f f' ELSE 'f f f f' END AS text"
    " FROM documents), "
    "post AS (SELECT id, i AS pos, list_extract(ts, i) AS w FROM"
    " (SELECT id, string_split(text, ' ') AS ts FROM docs),"
    " unnest(generate_series(1, len(ts))) AS u(i)"
    " WHERE list_extract(ts, i) IN ('alpha', 'beta', 'gamma')), "
    "j AS (SELECT a.id, a.pos AS apos, b.w FROM post a JOIN post b"
    " ON b.id = a.id AND b.pos >= a.pos AND b.pos < a.pos + 4), "
    "g AS (SELECT id, apos, CAST(count(DISTINCT w) AS BIGINT) AS"
    " n_terms, CAST(count(*) AS BIGINT) AS n_hits FROM j"
    " GROUP BY id, apos), "
    "b AS (SELECT id, apos, n_terms, n_hits, row_number() OVER"
    " (PARTITION BY id ORDER BY n_terms DESC, n_hits DESC, apos ASC)"
    " AS rn FROM g) "
    "SELECT id AS doc_id, apos AS start_pos, apos + 3 AS end_pos,"
    " n_terms, n_hits FROM b WHERE rn = 1"
)


def _q_containment_pairs(spark, sf_dir):
    """Asymmetric containment near-dup (operators/dedup.py::
    containment_pairs): per 3-doc group an article (arm 0), a wrapper
    that embeds it verbatim (arm 1), and a disjoint doc (arm 2) —
    full A-in-B containment with low B-in-A, replayed end to end."""
    from comic_text_detector_spark.operators.dedup import containment_pairs

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    g = F.expr("doc_id div 3")
    wg = lambda w: F.concat(F.lit(w), s(g))  # noqa: E731
    base = F.concat_ws(
        " ", wg("a"), wg("b"), wg("c"), wg("d"), wg("e"), wg("f"),
        wg("g"), wg("h")
    )
    arm = i % 3
    text = (
        F.when(arm == 0, base)
        .when(arm == 1, F.concat_ws(" ", base, wg("i"), wg("j"), wg("k")))
        .otherwise(F.concat_ws(" ", wg("z1"), wg("z2"), wg("z3"),
                               wg("z4"), wg("z5"), wg("z6")))
    )
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"), text.alias("text")
    )
    return containment_pairs(docs, n=5, min_containment_milli=800)


_CONTAINMENT_ORACLE = (
    "WITH d AS (SELECT doc_id AS id, doc_id // 3 AS g, doc_id % 3 AS arm"
    " FROM documents), "
    "docs AS (SELECT id, CASE arm"
    " WHEN 0 THEN 'a'||g||' b'||g||' c'||g||' d'||g||' e'||g||' f'||g"
    "  ||' g'||g||' h'||g"
    " WHEN 1 THEN 'a'||g||' b'||g||' c'||g||' d'||g||' e'||g||' f'||g"
    "  ||' g'||g||' h'||g||' i'||g||' j'||g||' k'||g"
    " ELSE 'z1'||g||' z2'||g||' z3'||g||' z4'||g||' z5'||g||' z6'||g"
    " END AS text FROM d), "
    "w AS (SELECT id, string_split(text, ' ') AS ws FROM docs), "
    "sh AS (SELECT DISTINCT id, array_to_string(ws[i:i+4], ' ') AS kg"
    " FROM w, unnest(generate_series(1, len(ws) - 4)) AS u(i)), "
    "dfreq AS (SELECT kg, count(*) AS df FROM sh GROUP BY kg), "
    "kept AS (SELECT sh.id, sh.kg FROM sh JOIN dfreq USING (kg)"
    " WHERE df <= 64), "
    "sizes AS (SELECT id, count(*) AS n_sh FROM kept GROUP BY id), "
    "shared AS (SELECT kept.id, kept.kg FROM kept JOIN dfreq USING (kg)"
    " WHERE df >= 2 AND df <= 64), "
    "pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared"
    " FROM shared a JOIN shared b ON a.kg = b.kg AND a.id < b.id"
    " GROUP BY a.id, b.id), "
    "o AS (SELECT id_a, id_b, n_shared, sa.n_sh AS n_a, sb.n_sh AS n_b,"
    " (1000 * n_shared) // sa.n_sh AS cont_a_milli,"
    " (1000 * n_shared) // sb.n_sh AS cont_b_milli"
    " FROM pairs JOIN sizes sa ON sa.id = pairs.id_a"
    " JOIN sizes sb ON sb.id = pairs.id_b) "
    "SELECT * FROM o WHERE greatest(cont_a_milli, cont_b_milli) >= 800"
)


def _q_diversify_topk(spark, sf_dir):
    """Host-diversified top-k (operators/retrieval.py::
    diversify_topk): integer scores with planted cross-host ties,
    per-host cap 2, global k=10 — every tie broken by id so the
    result is exact."""
    from comic_text_detector_spark.operators.retrieval import diversify_topk

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    scored = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), s(i)).alias("doc_id"),
        F.concat(F.lit("h"), s(i % 7)).alias("host"),
        ((i * 13) % 101).cast("long").alias("score"),
    )
    return diversify_topk(scored, k=10, per_group=2)


_DIVERSIFY_ORACLE = (
    "WITH d AS (SELECT 'u' || doc_id::VARCHAR AS id,"
    " 'h' || (doc_id % 7)::VARCHAR AS grp,"
    " CAST((doc_id * 13) % 101 AS BIGINT) AS s FROM documents), "
    "g AS (SELECT id, grp, s, row_number() OVER (PARTITION BY grp"
    " ORDER BY s DESC, id ASC) AS gr FROM d), "
    "t AS (SELECT id, grp, s FROM g WHERE gr <= 2"
    " ORDER BY s DESC, id ASC LIMIT 10) "
    "SELECT id AS doc_id, grp AS host, s AS score, row_number() OVER"
    " (ORDER BY s DESC, id ASC) AS rank FROM t"
)


_MERGE_OLD_TEXT_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'alpha beta' WHEN 1 THEN 'beta gamma'"
    " ELSE 'alpha' END"
)
_MERGE_NEW_TEXT_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'alpha delta' WHEN 1 THEN 'delta'"
    " ELSE 'beta' END"
)


def _q_postings_merge(spark, sf_dir):
    """Incremental compressed-index merge (operators/retrieval.py::
    merge_postings_delta): old generation indexed and compressed, new
    generation (ids offset by 10^9 — monotone append) merged in; the
    oracle is compress_postings' OWN length ladder over the unioned
    corpus, so the merge must be byte-shape-identical to a full
    rebuild."""
    from comic_text_detector_spark.operators.retrieval import (
        build_inverted_index,
        compress_postings,
        merge_postings_delta,
    )

    i = F.col("doc_id")
    old_text = (
        F.when(i % 3 == 0, F.lit("alpha beta"))
        .when(i % 3 == 1, F.lit("beta gamma"))
        .otherwise(F.lit("alpha"))
    )
    new_text = (
        F.when(i % 3 == 0, F.lit("alpha delta"))
        .when(i % 3 == 1, F.lit("delta"))
        .otherwise(F.lit("beta"))
    )
    base = _t(spark, sf_dir, "documents")
    old = base.select(i.alias("doc_id"), old_text.alias("text"))
    new = base.select(
        (F.lit(1_000_000_000) + i).alias("doc_id"), new_text.alias("text")
    )
    blocks = compress_postings(build_inverted_index(old)[0], block=4)
    np_, _ = build_inverted_index(new)
    return merge_postings_delta(blocks, np_, block=4).select(
        "w", "block_idx", "n_postings", "first_id", "bytes_len"
    )


def _q_vocab_drift(spark, sf_dir):
    """Dunning-G² vocabulary drift between two synthesized crawl
    generations (operators/stats.py::vocab_drift): burst/decay/stable
    term arms, exact micro quantization of one shared double tree."""
    from comic_text_detector_spark.operators.stats import vocab_drift

    i = F.col("doc_id")
    old_text = (
        F.when(i % 4 == 0, F.lit("w0 w1"))
        .when(i % 4 == 1, F.lit("w1 w2"))
        .when(i % 4 == 2, F.lit("w2"))
        .otherwise(F.lit("w0"))
    )
    new_text = (
        F.when(i % 4 == 0, F.lit("w0 w3"))
        .when(i % 4 == 1, F.lit("w3 w3"))
        .when(i % 4 == 2, F.lit("w2"))
        .otherwise(F.lit("w1"))
    )
    base = _t(spark, sf_dir, "documents")
    return vocab_drift(
        base.select(old_text.alias("text")),
        base.select(new_text.alias("text")),
        top_k=10,
    )


def _xlx_sql(x):
    return (
        f"(CASE WHEN ({x}) > 0 THEN CAST(({x}) AS DOUBLE)"
        f" * ln(CAST(({x}) AS DOUBLE)) ELSE 0.0 END)"
    )


_VOCAB_DRIFT_ORACLE = (
    "WITH oldd AS (SELECT CASE doc_id % 4 WHEN 0 THEN 'w0 w1'"
    " WHEN 1 THEN 'w1 w2' WHEN 2 THEN 'w2' ELSE 'w0' END AS text"
    " FROM documents), "
    "newd AS (SELECT CASE doc_id % 4 WHEN 0 THEN 'w0 w3'"
    " WHEN 1 THEN 'w3 w3' WHEN 2 THEN 'w2' ELSE 'w1' END AS text"
    " FROM documents), "
    "ca AS (SELECT term, CAST(count(*) AS BIGINT) AS n_old FROM"
    " (SELECT unnest(string_split(text, ' ')) AS term FROM oldd)"
    " WHERE term <> '' GROUP BY term), "
    "cb AS (SELECT term, CAST(count(*) AS BIGINT) AS n_new FROM"
    " (SELECT unnest(string_split(text, ' ')) AS term FROM newd)"
    " WHERE term <> '' GROUP BY term), "
    "tot AS (SELECT (SELECT sum(n_old) FROM ca) AS na,"
    " (SELECT sum(n_new) FROM cb) AS nb), "
    "j AS (SELECT coalesce(ca.term, cb.term) AS term,"
    " coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new"
    " FROM ca FULL OUTER JOIN cb ON ca.term = cb.term) "
    "SELECT term, n_old, n_new, CAST(round(2.0 * ("
    + _xlx_sql("n_old") + " + " + _xlx_sql("n_new") + " + "
    + _xlx_sql("na - n_old") + " + " + _xlx_sql("nb - n_new") + " - "
    + _xlx_sql("n_old + n_new") + " - "
    + _xlx_sql("na + nb - n_old - n_new") + " - "
    + _xlx_sql("na") + " - " + _xlx_sql("nb") + " + "
    + _xlx_sql("na + nb")
    + ") * 1000000.0) AS BIGINT) AS llr_micro,"
    " CASE WHEN n_new * na > n_old * nb THEN 'up' ELSE 'down' END"
    " AS direction FROM j, tot"
    " ORDER BY llr_micro DESC, term ASC LIMIT 10"
)


def _q_char_entropy(spark, sf_dir):
    """Per-document character-distribution quality signals over the
    REAL documents table (operators/stats.py::char_entropy): exact char
    / distinct counts, top-char fraction, and Shannon entropy of the
    char unigram distribution via the micro-quantized xlx ladder — the
    gibberish / encoding-noise / key-mash detector."""
    from comic_text_detector_spark.operators.stats import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


_CHAR_ENTROPY_ORACLE = (
    "WITH chars AS (SELECT doc_id AS id,"
    " unnest(string_split(coalesce(text, ''), '')) AS ch"
    " FROM documents), "
    "cc AS (SELECT id, ch, CAST(count(*) AS BIGINT) AS c FROM chars"
    " WHERE ch <> '' GROUP BY id, ch), "
    "per AS (SELECT id, CAST(sum(c) AS BIGINT) AS n_chars,"
    " CAST(count(*) AS BIGINT) AS n_distinct,"
    " CAST(max(c) AS BIGINT) AS top,"
    " CAST(sum(CAST(round(" + _xlx_sql("c") + " * 1e6) AS BIGINT))"
    " AS BIGINT) AS sxlx"
    " FROM cc GROUP BY id) "
    "SELECT id AS doc_id, n_chars, n_distinct,"
    " top * 1000000 // n_chars AS top_char_frac_micro,"
    " (CAST(round(" + _xlx_sql("n_chars")
    + " * 1e6) AS BIGINT) - sxlx) // n_chars AS entropy_micro"
    " FROM per"
)


def _q_token_entropy(spark, sf_dir):
    """Per-document word-unigram entropy over the REAL documents table
    (operators/stats.py::token_entropy): the vocabulary-diversity spam
    signal beside char_entropy, same exact-micro xlx ladder."""
    from comic_text_detector_spark.operators.stats import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


_TOKEN_ENTROPY_ORACLE = (
    "WITH toks AS (SELECT doc_id AS id,"
    " unnest(string_split(coalesce(text, ''), ' ')) AS tok"
    " FROM documents), "
    "cc AS (SELECT id, tok, CAST(count(*) AS BIGINT) AS c FROM toks"
    " WHERE tok <> '' GROUP BY id, tok), "
    "per AS (SELECT id, CAST(sum(c) AS BIGINT) AS n_tokens,"
    " CAST(count(*) AS BIGINT) AS n_distinct,"
    " CAST(max(c) AS BIGINT) AS top,"
    " CAST(sum(CAST(round(" + _xlx_sql("c") + " * 1e6) AS BIGINT))"
    " AS BIGINT) AS sxlx"
    " FROM cc GROUP BY id) "
    "SELECT id AS doc_id, n_tokens, n_distinct,"
    " top * 1000000 // n_tokens AS top_token_frac_micro,"
    " (CAST(round(" + _xlx_sql("n_tokens")
    + " * 1e6) AS BIGINT) - sxlx) // n_tokens AS entropy_micro"
    " FROM per"
)


def _q_term_dict(spark, sf_dir):
    """Scalable dense-id dictionary (operators/layout.py::dense_ids)
    over index document frequencies: ids 0..|V|−1 by (df desc, term
    asc), assigned via range-sort + per-partition offsets — never a
    single-partition window."""
    from comic_text_detector_spark.operators.layout import dense_ids
    from comic_text_detector_spark.operators.retrieval import (
        build_inverted_index,
    )

    i = F.col("doc_id")
    text = (
        F.when(i % 4 == 0, F.lit("w0 w1"))
        .when(i % 4 == 1, F.lit("w1 w2"))
        .when(i % 4 == 2, F.lit("w2 w3"))
        .otherwise(F.lit("w3"))
    )
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"), text.alias("text")
    )
    postings, _ = build_inverted_index(docs)
    dfreq = postings.groupBy("w").agg(
        F.count("*").cast("long").alias("df")
    )
    return dense_ids(dfreq, [F.desc("df"), F.asc("w")])


_TERM_DICT_ORACLE = (
    "WITH docs AS (SELECT doc_id, CASE doc_id % 4 WHEN 0 THEN 'w0 w1'"
    " WHEN 1 THEN 'w1 w2' WHEN 2 THEN 'w2 w3' ELSE 'w3' END AS text"
    " FROM documents), "
    "toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w"
    " FROM docs), "
    "tf AS (SELECT w, id FROM toks GROUP BY w, id), "
    "dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf"
    " GROUP BY w) "
    "SELECT w, df, CAST(row_number() OVER (ORDER BY df DESC, w ASC) - 1"
    " AS BIGINT) AS dense_id FROM dfreq"
)


def _q_best_representatives(spark, sf_dir):
    """Quality-aware near-dup survivors (operators/graph.py::
    keep_best_representatives): 4-doc chain clusters, survivor =
    per-cluster max score with id tie-break — NOT the min id."""
    from comic_text_detector_spark.operators.graph import (
        keep_best_representatives,
    )

    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"), ((i * 17) % 31).cast("long").alias("q")
    )
    pairs = (
        _t(spark, sf_dir, "documents")
        .filter(i % 4 < 3)
        .select(i.alias("id_a"), (i + 1).alias("id_b"))
    )
    return keep_best_representatives(docs, pairs, "doc_id", "q")


_BEST_REPS_ORACLE = (
    "WITH d AS (SELECT doc_id AS id, doc_id // 4 AS g,"
    " CAST((doc_id * 17) % 31 AS BIGINT) AS q FROM documents), "
    "b AS (SELECT id, g, q, row_number() OVER (PARTITION BY g"
    " ORDER BY q DESC, id ASC) AS rn FROM d) "
    "SELECT id AS doc_id, q FROM b WHERE rn = 1"
)


def _q_host_boilerplate(spark, sf_dir):
    """Host-scoped boilerplate removal (operators/curation.py::
    host_boilerplate_dedup): a per-host NAV line (df/host ≫ cap,
    dropped), a unique body line (kept), and a cross-host PAIR line
    whose corpus df is 2 but per-host df is 1 — kept, the exact case
    the corpus-wide operator cannot express."""
    from comic_text_detector_spark.operators.curation import (
        host_boilerplate_dedup,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = F.concat(
        F.lit("NAV h"), s(i % 5),
        F.lit("\nbody "), s(i),
        F.lit("\nPAIR "), s(F.expr("doc_id div 2")),
    )
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"),
        F.concat(F.lit("h"), s(i % 5)).alias("host"),
        text.alias("text"),
    )
    return host_boilerplate_dedup(docs, max_doc_freq=2)


_HOST_BOILERPLATE_ORACLE = (
    "SELECT doc_id, 'h' || (doc_id % 5)::VARCHAR AS host,"
    " 'body ' || doc_id::VARCHAR || chr(10) || 'PAIR ' ||"
    " (doc_id // 2)::VARCHAR AS text,"
    " CAST(3 AS BIGINT) AS n_lines_in, CAST(2 AS BIGINT) AS"
    " n_lines_kept FROM documents"
)


def _q_cooccur_pmi(spark, sf_dir):
    """Document-level PMI co-occurrence for a probe term
    (operators/stats.py::cooccur_pmi): planted strong/weak/absent
    association arms, micro-exact ln quantization."""
    from comic_text_detector_spark.operators.stats import cooccur_pmi

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = (
        F.when(i % 4 == 0, F.concat(F.lit("probe buddy w"), s(i % 3)))
        .when(i % 4 == 1, F.concat(F.lit("probe w"), s(i % 3)))
        .when(i % 4 == 2, F.concat(F.lit("buddy w"), s(i % 3)))
        .otherwise(F.concat(F.lit("w"), s(i % 3), F.lit(" only")))
    )
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"), text.alias("text")
    )
    return cooccur_pmi(docs, "probe", top_k=10, min_pairs=2)


_COOCCUR_PMI_ORACLE = (
    "WITH docs AS (SELECT doc_id AS id, CASE doc_id % 4"
    " WHEN 0 THEN 'probe buddy w' || (doc_id % 3)::VARCHAR"
    " WHEN 1 THEN 'probe w' || (doc_id % 3)::VARCHAR"
    " WHEN 2 THEN 'buddy w' || (doc_id % 3)::VARCHAR"
    " ELSE 'w' || (doc_id % 3)::VARCHAR || ' only' END AS text"
    " FROM documents), "
    "occ AS (SELECT DISTINCT id, w FROM (SELECT id,"
    " unnest(string_split(text, ' ')) AS w FROM docs) WHERE w <> ''), "
    "n AS (SELECT count(DISTINCT id) AS nd FROM docs), "
    "p AS (SELECT id FROM occ WHERE w = 'probe'), "
    "np AS (SELECT count(*) AS c FROM p), "
    "pc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_pair FROM occ"
    " WHERE id IN (SELECT id FROM p) AND w <> 'probe' GROUP BY w"
    " HAVING count(*) >= 2), "
    "dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS n_term FROM occ"
    " GROUP BY w) "
    "SELECT w AS term, n_pair, n_term, CAST(round(ln("
    " CAST(n_pair * (SELECT nd FROM n) AS DOUBLE)"
    " / CAST((SELECT c FROM np) * n_term AS DOUBLE)) * 1000000.0)"
    " AS BIGINT) AS pmi_micro FROM pc JOIN dfq USING (w)"
    " ORDER BY pmi_micro DESC, term ASC LIMIT 10"
)


def _q_recency_blend(spark, sf_dir):
    """Integer half-life freshness blend (operators/retrieval.py::
    recency_blend): ages spanning 0..2999 days so both the shift decay
    and the >62-half-life wrap clamp fire; pure bigint shifts."""
    from comic_text_detector_spark.operators.retrieval import recency_blend

    i = F.col("doc_id")
    scored = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"),
        F.date_sub(
            F.lit("2026-01-01").cast("date"),
            ((i * 37) % 3000).cast("int"),
        )
        .cast("timestamp")
        .alias("warc_ts"),
        (((i * 11) % 997) * 1000).cast("long").alias("score_micro"),
    )
    return recency_blend(
        scored, ref_date="2026-01-01", halflife_days=30,
        base_micro=1_000_000,
    ).select("doc_id", "score_micro", "blended_micro")


_RECENCY_BLEND_ORACLE = (
    "SELECT doc_id,"
    " CAST(((doc_id * 11) % 997) * 1000 AS BIGINT) AS score_micro,"
    " CAST(((doc_id * 11) % 997) * 1000 + CASE WHEN"
    " ((doc_id * 37) % 3000) // 30 <= 62"
    " THEN 1000000 >> (((doc_id * 37) % 3000) // 30) ELSE 0 END"
    " AS BIGINT) AS blended_micro FROM documents"
)


def _q_release_manifest(spark, sf_dir):
    """Corpus release manifest (operators/stats.py::release_manifest)
    over the REAL documents table grouped by source: doc/token/char
    counts plus the order-insensitive additive md5 checksum."""
    from comic_text_detector_spark.operators.stats import release_manifest

    return release_manifest(
        _t(spark, sf_dir, "documents"), ["source"]
    )


_RELEASE_MANIFEST_ORACLE = (
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(sum(len(list_filter(string_split(coalesce(text, ''), ' '),"
    " w -> w <> ''))) AS BIGINT) AS n_tokens,"
    " CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars,"
    " sum(CAST(('0x' || substr(md5(doc_id::VARCHAR || chr(31) ||"
    " coalesce(text, '')), 1, 8))::BIGINT AS DECIMAL(38, 0)))"
    " AS checksum_add FROM documents GROUP BY source"
)


def _q_bag_dedup(spark, sf_dir):
    """Scrambled-duplicate groups (operators/dedup.py::
    bag_dedup_groups): per 3-doc group an original, a word
    permutation, and a case variant all share one bag; a
    multiplicity-changed arm stays out."""
    from comic_text_detector_spark.operators.dedup import bag_dedup_groups

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    g = F.expr("doc_id div 4")
    arm = i % 4
    text = (
        F.when(arm == 0, F.concat(F.lit("alpha beta gamma g"), s(g)))
        .when(arm == 1, F.concat(F.lit("g"), s(g), F.lit(" gamma beta alpha")))
        .when(arm == 2, F.concat(F.lit("Beta ALPHA gamma  g"), s(g)))
        .otherwise(F.concat(F.lit("alpha alpha beta gamma g"), s(g)))
    )
    docs = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"), text.alias("text")
    )
    return bag_dedup_groups(docs)


# arms 0/1/2 of each complete group share the sorted lowercased bag
# 'alpha beta g{g} gamma'; arm 3's double 'alpha' differs. Groups with
# fewer than 3 present members (the tail) shrink accordingly — the
# oracle rebuilds the bag generically instead of hard-coding 3.
_BAG_DEDUP_ORACLE = (
    "WITH d AS (SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS arm"
    " FROM documents), "
    "t AS (SELECT id, CASE arm"
    " WHEN 0 THEN 'alpha beta gamma g' || g::VARCHAR"
    " WHEN 1 THEN 'g' || g::VARCHAR || ' gamma beta alpha'"
    " WHEN 2 THEN 'Beta ALPHA gamma  g' || g::VARCHAR"
    " ELSE 'alpha alpha beta gamma g' || g::VARCHAR END AS text FROM d), "
    "k AS (SELECT id, md5(array_to_string(list_sort(list_filter("
    " regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')), ' '))"
    " AS bag_md5, CAST(len(list_filter(regexp_split_to_array("
    " lower(text), '\\s+'), w -> w <> '')) AS BIGINT) AS n_toks FROM t) "
    "SELECT bag_md5, CAST(count(*) AS BIGINT) AS n_docs,"
    " max(n_toks) AS n_tokens, list_sort(list(id)) AS ids FROM k"
    " GROUP BY bag_md5 HAVING count(*) >= 2"
)


def _q_stitch_pagination(spark, sf_dir):
    """Paginated-article stitching (operators/pagination.py::
    stitch_pagination): per 4-doc group a 3-page rel-next chain plus a
    solo page; the tail group may be partial — the oracle predicts the
    chain composition from member existence."""
    from comic_text_detector_spark.operators.pagination import (
        stitch_pagination,
    )

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    base = _t(spark, sf_dir, "documents")
    pages = base.select(
        F.concat(F.lit("p"), s(i)).alias("url"),
        F.concat(F.lit("t"), s(i)).alias("text"),
    )
    nexts = base.filter(i % 4 < 2).select(
        F.concat(F.lit("p"), s(i)).alias("url"),
        F.concat(F.lit("p"), s(i + 1)).alias("next_url"),
    )
    return stitch_pagination(pages, nexts)


_STITCH_PAGINATION_ORACLE = (
    "WITH d AS (SELECT doc_id AS i, doc_id // 4 AS g, doc_id % 4 AS arm"
    " FROM documents), "
    "grp AS (SELECT g, bool_or(arm = 1) AS has1, bool_or(arm = 2) AS"
    " has2 FROM d GROUP BY g) "
    "SELECT 'p' || (4 * g)::VARCHAR AS root_url,"
    " CAST(1 + CASE WHEN has1 THEN 1 ELSE 0 END"
    " + CASE WHEN has1 AND has2 THEN 1 ELSE 0 END AS BIGINT) AS"
    " n_pages, FALSE AS truncated,"
    " 't' || (4 * g)::VARCHAR"
    " || CASE WHEN has1 THEN chr(10) || 't' || (4 * g + 1)::VARCHAR"
    " ELSE '' END"
    " || CASE WHEN has1 AND has2 THEN chr(10) || 't' ||"
    " (4 * g + 2)::VARCHAR ELSE '' END AS text FROM grp"
)


def _q_pair_prf(spark, sf_dir):
    """Pair-set eval harness (plans/eval.py::pair_prf): found pairs on
    every 3rd doc (reversed orientation), truth on every 2nd — tp/fp/fn
    and micro metrics replayed exactly."""
    from comic_text_detector_spark.plans.eval import pair_prf

    i = F.col("doc_id")
    base = _t(spark, sf_dir, "documents")
    found = base.filter(i % 3 == 0).select(
        (i + 1).alias("id_a"), i.alias("id_b")  # reversed on purpose
    )
    truth = base.filter(i % 2 == 0).select(
        i.alias("id_a"), (i + 1).alias("id_b")
    )
    return pair_prf(found, truth)


_PAIR_PRF_ORACLE = (
    "WITH f AS (SELECT DISTINCT doc_id AS pa, doc_id + 1 AS pb"
    " FROM documents WHERE doc_id % 3 = 0), "
    "t AS (SELECT DISTINCT doc_id AS pa, doc_id + 1 AS pb"
    " FROM documents WHERE doc_id % 2 = 0), "
    "j AS (SELECT f.pa IS NOT NULL AS inf, t.pa IS NOT NULL AS int_"
    " FROM f FULL OUTER JOIN t ON f.pa = t.pa AND f.pb = t.pb), "
    "a AS (SELECT CAST(count(CASE WHEN inf AND int_ THEN 1 END)"
    " AS BIGINT) AS tp,"
    " CAST(count(CASE WHEN inf AND NOT int_ THEN 1 END) AS BIGINT)"
    " AS fp,"
    " CAST(count(CASE WHEN NOT inf AND int_ THEN 1 END) AS BIGINT)"
    " AS fn FROM j), "
    "b AS (SELECT tp, fp, fn,"
    " CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp)"
    " ELSE 0 END AS p_micro,"
    " CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn)"
    " ELSE 0 END AS r_micro FROM a) "
    "SELECT tp, fp, fn, CAST(p_micro AS BIGINT) AS p_micro,"
    " CAST(r_micro AS BIGINT) AS r_micro,"
    " CAST(CASE WHEN p_micro + r_micro > 0 THEN"
    " (2 * p_micro * r_micro) // (p_micro + r_micro) ELSE 0 END"
    " AS BIGINT) AS f1_micro FROM b"
)


def _q_registered_domains(spark, sf_dir):
    """eTLD+1 registered-domain extraction (functions/links.py::
    registered_domain): generic .com, two-level co.uk/com.au, IPv4
    pass-through, single-label pass-through arms."""
    from comic_text_detector_spark.functions.links import registered_domain

    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    g = F.expr("doc_id div 5")
    host = (
        F.when(i % 5 == 0, F.concat(F.lit("s"), s(i), F.lit(".ex"), s(g),
                                    F.lit(".com")))
        .when(i % 5 == 1, F.concat(F.lit("b"), s(i), F.lit(".sh"), s(g),
                                   F.lit(".co.uk")))
        .when(i % 5 == 2, F.concat(F.lit("10.0.0."), s(i % 250)))
        .when(i % 5 == 3, F.concat(F.lit("single"), s(i % 7)))
        .otherwise(F.concat(F.lit("w.ex"), s(g), F.lit(".com.au")))
    )
    return _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"),
        host.alias("host"),
        registered_domain(host).alias("rd"),
    )


_REGISTERED_DOMAINS_ORACLE = (
    "SELECT doc_id, CASE doc_id % 5"
    " WHEN 0 THEN 's' || doc_id::VARCHAR || '.ex' ||"
    " (doc_id // 5)::VARCHAR || '.com'"
    " WHEN 1 THEN 'b' || doc_id::VARCHAR || '.sh' ||"
    " (doc_id // 5)::VARCHAR || '.co.uk'"
    " WHEN 2 THEN '10.0.0.' || (doc_id % 250)::VARCHAR"
    " WHEN 3 THEN 'single' || (doc_id % 7)::VARCHAR"
    " ELSE 'w.ex' || (doc_id // 5)::VARCHAR || '.com.au' END AS host,"
    " CASE doc_id % 5"
    " WHEN 0 THEN 'ex' || (doc_id // 5)::VARCHAR || '.com'"
    " WHEN 1 THEN 'sh' || (doc_id // 5)::VARCHAR || '.co.uk'"
    " WHEN 2 THEN '10.0.0.' || (doc_id % 250)::VARCHAR"
    " WHEN 3 THEN 'single' || (doc_id % 7)::VARCHAR"
    " ELSE 'ex' || (doc_id // 5)::VARCHAR || '.com.au' END AS rd"
    " FROM documents"
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_roundtrip": _q_extract_roundtrip,
        "extract_roundtrip_2p": _q_extract_roundtrip_2p,
        "nodes_content_chars": _q_nodes_content_chars,
        "asof_latest_event": _q_asof_latest_event,
        "w3_sessionize_events": _q_w3_sessionize_events,
        "w4_topk_orders": _q_w4_topk_orders,
        "a14_second_largest_order": _q_a14_second_largest_order,
        "tpch_q1": _q_tpch_q1,
        "a3_histogram_price": _q_a3_histogram_price,
        "j5_revenue_by_segment": _q_j5_revenue_by_segment,
        "j1_overlap_argmax": _q_j1_overlap_argmax,
        "j3_recover_uncovered": _q_j3_recover_uncovered,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality_score,
        "token_counts": _q_token_counts,
        "fingerprint_kgram": _q_fingerprint_kgram,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "f_geometry_boxes": _q_f_geometry_boxes,
        "f13_f14_min_rect_aspect": _q_f13_f14_min_rect_aspect,
        "f18_shrink_unclip": _q_f18_shrink_unclip,
        "f16_stroke_width": _q_f16_stroke_width,
        "f17_expand_eng": _q_f17_expand_eng,
        "pii_scrub": _q_pii_scrub,
        "rep_top_bigram": _q_rep_top_bigram,
        "repetition_signals": _q_repetition_signals,
        "dsir_weights": _q_dsir_weights,
        "dsir_select": _q_dsir_select,
        "tokenize_ids": _q_tokenize_ids,
        "pack_token_ids": _q_pack_token_ids,
        "dedup_exact_survivors": _q_dedup_exact_survivors,
        "decontaminate": _q_decontaminate,
        "hash_sample": _q_hash_sample,
        "host_stats": _q_host_stats,
        "cap_per_host": _q_cap_per_host,
        "line_freq_dedup": _q_line_freq_dedup,
        "normalize_urls": _q_normalize_urls,
        "word_doc_freq": _q_word_doc_freq,
        "robots_filter": _q_robots_filter,
        "substring_dup_spans": _q_substring_dup_spans,
        "substring_dup_cut": _q_substring_dup_cut,
        "quality_logit": _q_quality_logit,
        "token_counts_v2": _q_token_counts_v2,
        "token_counts_v3": _q_token_counts_v3,
        "train_bpe_merges_docs": _q_train_bpe_merges,
        "train_bpe_words_docs": _q_train_bpe_words,
        "lang_id_v2": _q_lang_id_v2,
        "f19_f25_mini_box_warp": _q_f19_f25_mini_box_warp,
        "rotated_iou_axis": _q_rotated_iou_axis,
        "polygon_unclip_axis": _q_polygon_unclip_axis,
        "f21_border_map": _q_f21_border_map,
        "u7_dice_l1": _q_u7_dice_l1,
        "pack_sequences": _q_pack_sequences,
        "pack_sequences_split": _q_pack_sequences_split,
        "train_quality_logit": _q_train_quality_logit,
        "train_quality_logit_topk": _q_train_quality_logit_topk,
        "u8_label_maps": _q_u8_label_maps,
        "lm_score_docs": _q_lm_score,
        "lm_score_trigram_docs": _q_lm_score_trigram,
        "lm_outlier_spans": _q_lm_outlier_spans,
        "cut_lm_outliers": _q_cut_lm_outliers,
        "ccnet_tiers": _q_ccnet_tiers,
        "bm25_docs": _q_bm25,
        "bm25_phrase": _q_bm25_phrase,
        "bm25_index": _q_bm25_index,
        "bm25_phrase_index": _q_bm25_phrase_index,
        "schedule_frontier": _q_schedule_frontier,
        "parse_robots": _q_parse_robots,
        "robots_crawl_delay": _q_robots_crawl_delay,
        "robots_sitemaps": _q_robots_sitemaps,
        "parse_sitemap": _q_parse_sitemap,
        "parse_feed": _q_parse_feed,
        "blocklist_filter": _q_blocklist_filter,
        "badword_score": _q_badword_score,
        "unigram_tokenize_docs": _q_unigram_tokenize,
        "wordpiece_tokenize_docs": _q_wordpiece_tokenize,
        "train_unigram_pieces_docs": _q_train_unigram,
        "page_directives": _q_page_directives,
        "canonical_dedup": _q_canonical_dedup,
        "count_min_hosts": _q_count_min_hosts,
        "cdx_roundtrip": _q_cdx_roundtrip,
        "split_sentences": _q_split_sentences,
        "bitext_url_pairs": _q_bitext_pairs,
        "zipf_report": _q_zipf_report,
        "sentence_freq_dedup": _q_sentence_dedup,
        "percent_normalize": _q_percent_normalize,
        "refetch_candidates": _q_refetch_candidates,
        "pagerank_hosts": _q_pagerank_hosts,
        "trustrank_hosts": _q_trustrank_hosts,
        "pagerank_incremental": _q_pagerank_incremental,
        "extract_links": _q_extract_links,
        "anchor_stats_hosts": _q_anchor_stats,
        "link_pagerank": _q_link_pagerank,
        "w1_reading_order": _q_w1_reading_order,
        "x1_coalesce_spans": _q_x1_coalesce_spans,
        "x2_interval_xor": _q_x2_interval_xor,
        "a6_min_xor_candidate": _q_a6_min_xor_candidate,
        "u4_refine_hysteresis": _q_u4_refine_hysteresis,
        "j4_merge_spans_gap": _q_j4_merge_spans_gap,
        "s4_yolo_labels": _q_s4_yolo_labels,
        "s5_line_poly": _q_s5_line_poly,
        "grouping_sets_report": _q_grouping_sets_report,
        "multimodal_meta": _q_multimodal_meta,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_letterbox": _q_multimodal_letterbox,
        "multimodal_letterbox_jpeg": _q_multimodal_letterbox_jpeg,
        "multimodal_letterbox_gif": _q_multimodal_letterbox_gif,
        "multimodal_gif_frames": _q_multimodal_gif_frames,
        "audio_features": _q_audio_features,
        "audio_frame_energy": _q_audio_frame_energy,
        "gopher_quality": _q_gopher_quality,
        "charset_decode": _q_charset_decode,
        "normalize_text_docs": _q_normalize_text,
        "snapshot_diff": _q_snapshot_diff,
        "chunk_docs": _q_chunk_docs,
        "bloom_new_urls": _q_bloom_new_urls,
        "temperature_sample": _q_temperature_sample,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "minhash_lsh_pairs_md5": _q_minhash_lsh_pairs_md5,
        "neardup_survivors": _q_neardup_survivors,
        "neardup_incremental": _q_neardup_incremental,
        "simhash": _q_simhash,
        "simhash_md5": _q_simhash_md5,
        "simhash_pairs": _q_simhash_pairs,
        "simhash_pairs_md5": _q_simhash_pairs_md5,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_lsh_topk_md5": _q_ann_lsh_topk_md5,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_topk_md5": _q_ann_ivf_topk_md5,
        "kmeans_assign": _q_kmeans_assign,
        "semdedup": _q_semdedup,
        "ann_pq_topk": _q_ann_pq_topk,
        "ann_ivf_trained": _q_ann_ivf_trained,
        "ann_int8_topk": _q_ann_int8_topk,
        "ann_ivfpq_topk": _q_ann_ivfpq_topk,
        "crawl_depth_hosts": _q_crawl_depth_hosts,
        "surt_keys": _q_surt_keys,
        "hits_hosts": _q_hits_hosts,
        "warc_revisit": _q_warc_revisit,
        "table_stats_documents": _q_table_stats,
        "zorder_curve": _q_zorder_curve,
        "cdc_chunks": _q_cdc_chunks,
        "dedup_embedding_pairs": _q_dedup_embedding_pairs,
        "dedup_embedding_pairs_md5": _q_dedup_embedding_pairs_md5,
        "j2_nms_spans": _q_j2_nms_spans,
        "j4_merge_blocks": _q_j4_merge_blocks,
        "extract_blocks": _q_extract_blocks,
        "pipeline_e2e": _q_pipeline_e2e,
        "u2_density_spans": _q_u2_density_spans,
        "quality_filters": _q_quality_filters,
        "vocab_stats": _q_vocab_stats,
        "j_semi_anti": _q_j_semi_anti,
        "w_range_rolling": _q_w_range_rolling,
        "w2_order_by_distance": _q_w2_order_by_distance,
        "cc_clusters": _q_cc_clusters,
        "x_set_ops": _q_x_set_ops,
        "a_percentiles": _q_a_percentiles,
        "w1_reading_order_rtl": _q_w1_reading_order_rtl,
        "f22_json_roundtrip": _q_f22_json_roundtrip,
        "asof_join_events": _q_asof_join_events,
        "tpch_q3": _q_tpch_q3,
        "tpch_q5ish": _q_tpch_q5ish,
        "a2_masked_mean": _q_a2_masked_mean,
        "a7_orientation": _q_a7_orientation,
        "f11_hex2rgb": _q_f11_hex2rgb,
        "f15_alignment": _q_f15_alignment,
        "s11_parse_ann": _q_s11_parse_ann,
        "j6_eval_prf": _q_j6_eval_prf,
        "approx_distinct_urls": _q_approx_distinct_urls,
        "a4_topk_separated": _q_a4_topk_separated,
        "page_meta": _q_page_meta,
        "extract_tables": _q_extract_tables,
        "fix_mojibake": _q_fix_mojibake,
        "extract_jsonld": _q_extract_jsonld,
        "http_response_meta": _q_http_response_meta,
        "resolve_redirects_chains": _q_resolve_redirects,
        "decode_bodies_docs": _q_decode_bodies,
        "bloom_frontier": _q_bloom_frontier,
        "recrawl_schedule": _q_recrawl_schedule,
        "image_dhash": _q_image_dhash,
        "image_neardup_pairs": _q_image_neardup,
        "detect_traps": _q_detect_traps,
        "soft404_signals": _q_soft404,
        "extract_hreflang": _q_extract_hreflang,
        "doc_keywords": _q_doc_keywords,
        "readability_docs": _q_readability,
        "extract_headings": _q_extract_headings,
        "registered_domains": _q_registered_domains,
        "pair_prf_eval": _q_pair_prf,
        "stitch_pagination": _q_stitch_pagination,
        "bag_dedup_groups": _q_bag_dedup,
        "release_manifest": _q_release_manifest,
        "recency_blend": _q_recency_blend,
        "cooccur_pmi": _q_cooccur_pmi,
        "host_boilerplate": _q_host_boilerplate,
        "best_representatives": _q_best_representatives,
        "term_dict": _q_term_dict,
        "vocab_drift": _q_vocab_drift,
        "char_entropy_docs": _q_char_entropy,
        "token_entropy_docs": _q_token_entropy,
        "postings_merge": _q_postings_merge,
        "diversify_topk": _q_diversify_topk,
        "containment_pairs": _q_containment_pairs,
        "snippet_window": _q_snippet_window,
        "lpa_communities": _q_lpa_communities,
        "bm25_anchors": _q_bm25_anchors,
        "score_shards": _q_score_shards,
        "token_prf_eval": _q_token_prf,
        "fuzzy_title_pairs": _q_fuzzy_title_pairs,
        "markdown_fences": _q_markdown_fences,
        "markdown_outline": _q_markdown_outline,
        "markdown_links": _q_markdown_links,
        "markdown_text": _q_markdown_text,
        "code_lang": _q_code_lang,
        "section_chunks": _q_section_chunks,
        "c4_filter_docs": _q_c4_filter,
        "script_profile_docs": _q_script_profile,
        "train_order_shards": _q_train_order_shards,
        "train_topic_softmax": _q_train_topic_softmax,
        "topic_classify_docs": _q_topic_classify,
        "video_frame_sample": _q_video_frame_sample,
        "split_by_host": _q_split_by_host,
        "mixture_allocate": _q_mixture_allocate,
        "align_bitext": _q_align_bitext,
        "host_quality_shrunk": _q_host_quality_shrunk,
        "postings_compress": _q_postings_compress,
        "bm25_compressed": _q_bm25_compressed,
    }


def _minhash_md5_oracle(
    pair_where: str = "", alias_a: str = "doc_a", alias_b: str = "doc_b"
) -> str:
    """DuckDB re-computation of the ENTIRE portable-hash minhash-LSH
    pipeline: word 3-shingles → 31-bit md5-derived base hash → 64
    permutation mins → 16 band md5s → bucket self-join. Constants come from
    the same ``_mh_consts`` the Spark operator uses, so the two engines run
    literally the same arithmetic. ``pair_where`` appends an extra
    condition on the emitted pair (the incremental query restricts to
    pairs touching the snapshot side)."""
    from comic_text_detector_spark.operators.dedup import _MERSENNE, _mh_consts

    mins = []
    for i in range(64):
        a, b = _mh_consts(i)
        mins.append(f"min((h*{a} + {b}) % {_MERSENNE}) AS mh{i}")
    band_branches = []
    for b in range(16):
        cols = ", ".join(f"mh{b * 4 + j}::VARCHAR" for j in range(4))
        band_branches.append(
            f"SELECT doc_id, {b} AS band_id,"
            f" md5(concat_ws(',', {cols})) AS bh FROM sig"
        )
    return (
        "WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents), "
        "sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3 THEN "
        "list_transform(generate_series(1, len(w)-2),"
        " i -> array_to_string(list_slice(w, i, i+2),' ')) "
        "ELSE [] END)) AS s FROM w), "
        "h AS (SELECT doc_id,"
        " ('0x'||substr(md5(s),1,8))::BIGINT % 2147483648 AS h FROM sh), "
        f"sig AS (SELECT doc_id, {', '.join(mins)} FROM h GROUP BY doc_id), "
        "banded AS (" + " UNION ALL ".join(band_branches) + ") "
        f"SELECT DISTINCT a.doc_id AS {alias_a}, b.doc_id AS {alias_b} "
        "FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.bh = b.bh "
        "AND a.doc_id < b.doc_id" + pair_where
    )


def _simhash_md5_ctes() -> str:
    """Shared CTE chain computing the portable 60-bit simhash in DuckDB:
    word 2-shingles (NOT distinct — simhash weights repeats) → 60-bit
    md5-derived hash → per-bit sign-sum votes → packed BIGINT."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(60)
    )
    packed = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60)
    )
    return (
        "w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents), "
        "sh AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2 THEN "
        "list_transform(generate_series(1, len(w)-1),"
        " i -> array_to_string(list_slice(w, i, i+1),' ')) "
        "ELSE [] END) AS s FROM w), "
        "h AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT AS h FROM sh), "
        f"votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM votes)"
    )


def _emb_md5_oracle() -> str:
    """DuckDB re-computation of the md5-mode SRP near-dup pipeline: 8 tables
    x 8 planes of md5-derived coefficients, bucket self-join, exact cosine
    verify — every dot product a sequential IEEE-double fold (list_reduce
    with 0.0 prepended == Spark's aggregate with 0.0 init), so the cosine
    doubles compare bit-identically at full precision."""

    def dotp(t: int, p: int) -> str:
        pi = t * 8 + p + 1_000_000
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1,65),"
            f" i -> v[i]::DOUBLE * ((('0x'||substr(md5('{pi},'||(i-1)::VARCHAR)"
            ",1,8))::BIGINT % 2001 - 1000)/1000.0))), (x,y) -> x+y)"
        )

    buckets = []
    for t in range(8):
        terms = " + ".join(
            f"(CASE WHEN {dotp(t, p)} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(8)
        )
        buckets.append(f"({terms}) AS b{t}")
    branches = " UNION ALL ".join(
        f"SELECT id, {t} AS t, b{t} AS b FROM sig" for t in range(8)
    )

    def fold(prod: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1,65),"
            f" i -> {prod})), (x,y) -> x+y)"
        )

    dot_ab = fold("ea.v[i]::DOUBLE * eb.v[i]::DOUBLE")
    na = f"sqrt({fold('ea.v[i]::DOUBLE * ea.v[i]::DOUBLE')})"
    nb = f"sqrt({fold('eb.v[i]::DOUBLE * eb.v[i]::DOUBLE')})"
    return (
        "WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings), "
        f"sig AS (SELECT id, v, {', '.join(buckets)} FROM e), "
        f"banded AS ({branches}), "
        "cand AS (SELECT DISTINCT a.id AS vec_a, b.id AS vec_b "
        "FROM banded a JOIN banded b ON a.t = b.t AND a.b = b.b"
        " AND a.id < b.id) "
        f"SELECT vec_a, vec_b, {dot_ab}/({na}*{nb}) AS cos "
        "FROM cand JOIN e ea ON ea.id = vec_a JOIN e eb ON eb.id = vec_b "
        f"WHERE {dot_ab}/({na}*{nb}) >= 0.4"
    )


def _ann_lsh_md5_oracle() -> str:
    """DuckDB re-computation of the md5-mode bucketed ANN: 16 tables x 4
    planes (plane ids t*4+p, matching lsh_bucket_topk), bucket equi-join of
    the <10 query ids against the corpus, exact cosine re-rank with the
    deterministic (cos DESC, neighbor ASC) tie-break."""

    def dotp(t: int, p: int) -> str:
        pi = t * 4 + p
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1,65),"
            f" i -> v[i]::DOUBLE * ((('0x'||substr(md5('{pi},'||(i-1)::VARCHAR)"
            ",1,8))::BIGINT % 2001 - 1000)/1000.0))), (x,y) -> x+y)"
        )

    buckets = []
    for t in range(16):
        terms = " + ".join(
            f"(CASE WHEN {dotp(t, p)} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(4)
        )
        buckets.append(f"({terms}) AS b{t}")
    branches = " UNION ALL ".join(
        f"SELECT id, {t} AS t, b{t} AS b FROM sig" for t in range(16)
    )

    def fold(prod: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1,65),"
            f" i -> {prod})), (x,y) -> x+y)"
        )

    dot = fold("eq.v[i]::DOUBLE * ec.v[i]::DOUBLE")
    nq = f"sqrt({fold('eq.v[i]::DOUBLE * eq.v[i]::DOUBLE')})"
    nc = f"sqrt({fold('ec.v[i]::DOUBLE * ec.v[i]::DOUBLE')})"
    return (
        "WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings), "
        f"sig AS (SELECT id, v, {', '.join(buckets)} FROM e), "
        f"cx AS ({branches}), "
        "cand AS (SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id "
        "FROM cx c JOIN cx q ON c.t = q.t AND c.b = q.b"
        " AND q.id < 10 AND c.id != q.id), "
        f"scored AS (SELECT query_id, neighbor_id, {dot}/({nq}*{nc}) AS cos "
        "FROM cand JOIN e eq ON eq.id = query_id"
        " JOIN e ec ON ec.id = neighbor_id), "
        "r AS (SELECT query_id, neighbor_id, cos, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT)"
        " AS rank FROM scored) "
        "SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5"
    )


def _ann_ivf_md5_oracle() -> str:
    """DuckDB re-computation of the fixed-quantizer IVF: the 16x64 centroid
    doubles are embedded as literals (computed by the SAME hash_centroids
    the Spark query uses, so both engines see identical doubles), corpus
    rows are assigned by lexicographic (dist, idx) argmin, queries probe
    their 4 nearest lists, candidates get the exact cosine top-5."""
    from comic_text_detector_spark.operators.similarity import hash_centroids

    cents = hash_centroids(16, 64)
    cl = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(x) for x in c) + "]" for c in cents
        )
        + "]::DOUBLE[][]"
    )

    def d2(v: str) -> str:
        diff = f"(cl[j][i] - {v}[i]::DOUBLE)"
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1,65),"
            f" i -> {diff}*{diff})), (x,y) -> x+y)"
        )

    def scored(v: str) -> str:
        return (
            "list_sort(list_transform(range(1,17),"
            f" j -> {{'d': {d2(v)}, 'j': j-1}}))"
        )

    assign = f"({scored('v')}[1]).j"
    probe = f"list_transform(list_slice({scored('v')}, 1, 4), s -> s.j)"

    def fold(prod: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1,65),"
            f" i -> {prod})), (x,y) -> x+y)"
        )

    dot = fold("eq.v[i]::DOUBLE * ec.v[i]::DOUBLE")
    nq = f"sqrt({fold('eq.v[i]::DOUBLE * eq.v[i]::DOUBLE')})"
    nc = f"sqrt({fold('ec.v[i]::DOUBLE * ec.v[i]::DOUBLE')})"
    return (
        f"WITH cents AS (SELECT {cl} AS cl), "
        "e AS (SELECT vec_id AS id, embedding AS v FROM embeddings), "
        f"ass AS (SELECT id, {assign} AS cid FROM e, cents), "
        f"q AS (SELECT id AS query_id, unnest({probe}) AS cid"
        " FROM e, cents WHERE id < 10), "
        "cand AS (SELECT DISTINCT query_id, a.id AS neighbor_id "
        "FROM ass a JOIN q ON a.cid = q.cid AND a.id != q.query_id), "
        f"scored AS (SELECT query_id, neighbor_id, {dot}/({nq}*{nc}) AS cos "
        "FROM cand JOIN e eq ON eq.id = query_id"
        " JOIN e ec ON ec.id = neighbor_id), "
        "r AS (SELECT query_id, neighbor_id, cos, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT)"
        " AS rank FROM scored) "
        "SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5"
    )


def _cdc_chunks_oracle(mod: int = 16, max_words: int = 64) -> str:
    """DuckDB replay of cdc_chunks over the planted corpus: same word
    split, same md5 boundary hash, same two windows (running boundary
    count before each word; rank-within-chunk div max_words)."""
    return (
        "WITH src AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN "
        f"text || ' {_DUP_PASSAGE}' ELSE text END AS text FROM documents), "
        "w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM src), "
        "w AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos, "
        "unnest(ws) AS w FROM w0), "
        "f AS (SELECT doc_id, pos, w, CASE WHEN "
        "(('0x'||substr(md5('cdc:'||w),1,8))::BIGINT) % "
        f"{mod} = 0 THEN 1 ELSE 0 END AS flag FROM w), "
        "c AS (SELECT doc_id, pos, w, coalesce(sum(flag) OVER ("
        "PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND 1 PRECEDING), 0) AS chunk_id FROM f), "
        "c2 AS (SELECT c.*, CAST(floor((row_number() OVER ("
        "PARTITION BY doc_id, chunk_id ORDER BY pos) - 1) / "
        f"{max_words}.0) AS INT) AS sub_id FROM c), "
        "ch AS (SELECT doc_id, md5(string_agg(w, ' ' ORDER BY pos)) AS "
        "chunk_md5, CAST(count(*) AS INT) AS n_words FROM c2 "
        "GROUP BY doc_id, chunk_id, sub_id) "
        "SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs, "
        "count(*) AS n_occ, max(n_words) AS n_words FROM ch "
        "GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2"
    )


def oracle_sql() -> dict[str, str]:
    from comic_text_detector_spark.functions.textstats import (
        repetition_signals_sql,
    )
    from comic_text_detector_spark.operators import clustering as _clu
    from comic_text_detector_spark.operators.graph import lpa_sql as _lpa_sql
    from comic_text_detector_spark.operators.layout import (
        zorder_key_sql as _zorder_key_sql,
    )
    from comic_text_detector_spark.operators.dsir import (
        dsir_select_sql,
        dsir_weights_sql,
    )

    dsir_raw = "SELECT doc_id, text FROM documents"
    dsir_tgt = f"SELECT doc_id, text FROM documents WHERE {_DSIR_TGT}"
    en = "['the','a','of','and','is']"
    jacc_sh = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)), "
        "i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')))"
    )
    return {
        "minhash_lsh_pairs_md5": _minhash_md5_oracle(),
        "neardup_incremental": _minhash_md5_oracle(
            pair_where=" AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)",
            alias_a="id_a",
            alias_b="id_b",
        ),
        "neardup_survivors": (
            "WITH RECURSIVE"
            " pairs AS (SELECT doc_a a, doc_b b FROM ("
            + _minhash_md5_oracle()
            + ") q),"
            " edges AS (SELECT a src, b dst FROM pairs"
            "  UNION SELECT b, a FROM pairs),"
            " nodes AS (SELECT DISTINCT src id FROM edges),"
            " reach AS ("
            "  SELECT id, id comp FROM nodes"
            "  UNION"
            "  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),"
            " members AS (SELECT id, min(comp) rep FROM reach GROUP BY id)"
            " SELECT doc_id FROM documents"
            " WHERE doc_id NOT IN (SELECT id FROM members WHERE id <> rep)"
        ),
        "token_counts_v2": _token_vocab_oracle(),
        "token_counts_v3": _token_bpe_oracle(),
        "train_bpe_merges_docs": __import__(
            "comic_text_detector_spark.functions.textstats",
            fromlist=["train_bpe_sql"],
        ).train_bpe_sql("coalesce(text, '')", 4),
        "train_bpe_words_docs": __import__(
            "comic_text_detector_spark.functions.textstats",
            fromlist=["train_bpe_words_sql"],
        ).train_bpe_words_sql(4),
        "lang_id_v2": _lang_ngram_oracle(),
        "f19_f25_mini_box_warp": _mini_box_warp_oracle(),
        "rotated_iou_axis": _rotated_iou_axis_oracle(),
        "polygon_unclip_axis": _polygon_unclip_axis_oracle(),
        "f21_border_map": _f21_border_map_oracle(),
        "u7_dice_l1": _u7_dice_l1_oracle(),
        "pack_sequences": _pack_sequences_oracle(),
        "pack_sequences_split": _pack_sequences_split_oracle(),
        "train_quality_logit": _train_quality_oracle(),
        "train_quality_logit_topk": _train_quality_topk_oracle(),
        "u8_label_maps": _u8_label_maps_oracle(),
        "pagerank_hosts": _pagerank_oracle(),
        "trustrank_hosts": _trustrank_oracle(),
        "pagerank_incremental": _pagerank_incremental_oracle(),
        "schedule_frontier": _FRONTIER_ORACLE,
        "parse_robots": _PARSE_ROBOTS_ORACLE,
        "bm25_docs": __import__(
            "comic_text_detector_spark.operators.retrieval",
            fromlist=["bm25_sql"],
        ).bm25_sql(_BM25_TERMS),
        "bm25_phrase": __import__(
            "comic_text_detector_spark.operators.retrieval",
            fromlist=["bm25_phrase_sql"],
        ).bm25_phrase_sql(_BM25_PHRASE),
        # same oracle as bm25_docs: the index path must reproduce the
        # direct path bit-for-bit
        "bm25_index": __import__(
            "comic_text_detector_spark.operators.retrieval",
            fromlist=["bm25_sql"],
        ).bm25_sql(_BM25_TERMS),
        # likewise the positional-index path vs the bm25_phrase oracle
        "bm25_phrase_index": __import__(
            "comic_text_detector_spark.operators.retrieval",
            fromlist=["bm25_phrase_sql"],
        ).bm25_phrase_sql(_BM25_PHRASE),
        "extract_links": _LINKS_SQL,
        "anchor_stats_hosts": (
            "WITH l AS (" + _LINKS_SQL + "), "
            "c AS (SELECT dst_host, anchor, CAST(count(*) AS BIGINT) AS c"
            " FROM l GROUP BY dst_host, anchor), "
            "r AS (SELECT dst_host, anchor, c, row_number() OVER ("
            " PARTITION BY dst_host ORDER BY c DESC, anchor DESC) AS rn,"
            " sum(c) OVER (PARTITION BY dst_host) AS n_links,"
            " count(*) OVER (PARTITION BY dst_host) AS nu FROM c) "
            "SELECT dst_host, CAST(n_links AS BIGINT) AS n_links,"
            " CAST(nu AS BIGINT) AS n_unique_anchors,"
            " anchor AS top_anchor FROM r WHERE rn = 1"
        ),
        "link_pagerank": _link_pagerank_oracle(),
        "lm_score_docs": __import__(
            "comic_text_detector_spark.operators.lm", fromlist=["lm_score_sql"]
        ).lm_score_sql(),
        "lm_score_trigram_docs": __import__(
            "comic_text_detector_spark.operators.lm",
            fromlist=["lm_score_trigram_sql"],
        ).lm_score_trigram_sql(),
        "lm_outlier_spans": _lm_outlier_spans_oracle(),
        "cut_lm_outliers": _cut_lm_outliers_oracle(),
        "ccnet_tiers": (
            "WITH s AS ("
            + __import__(
                "comic_text_detector_spark.operators.lm",
                fromlist=["lm_score_sql"],
            ).lm_score_sql()
            + "), l AS (SELECT s.doc_id, d.lang, s.n_tokens, s.score,"
            " percent_rank() OVER (PARTITION BY d.lang"
            "  ORDER BY s.score DESC, s.doc_id) AS pr"
            " FROM s JOIN documents d USING (doc_id))"
            " SELECT doc_id, lang, n_tokens, score, pr,"
            " CASE WHEN pr < 1.0/3.0 THEN 'head'"
            "  WHEN pr < 1.0 - 1.0/3.0 THEN 'middle'"
            "  ELSE 'tail' END AS tier FROM l"
        ),
        "decontaminate": (
            "WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents), "
            "g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 5 THEN "
            "list_transform(generate_series(1, len(w)-4),"
            " i -> array_to_string(list_slice(w, i, i+4),' ')) "
            "ELSE [] END)) AS g FROM w), "
            "b AS (SELECT DISTINCT g FROM g WHERE doc_id < 20) "
            "SELECT c.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_shared "
            "FROM g c JOIN b USING(g) WHERE c.doc_id >= 20 GROUP BY c.doc_id"
        ),
        "multimodal_letterbox": (
            "WITH d AS (SELECT doc_id,"
            " CAST(1 + doc_id % 64 AS INT) AS in_w,"
            " CAST(1 + doc_id % 48 AS INT) AS in_h FROM documents), "
            "g AS (SELECT doc_id, in_w, in_h,"
            " CASE WHEN in_w >= in_h THEN 64 ELSE"
            "  greatest(1, CAST(floor(in_w * 64.0 / in_h + 0.5) AS INT)) END"
            " AS out_w,"
            " CASE WHEN in_w >= in_h THEN"
            "  greatest(1, CAST(floor(in_h * 64.0 / in_w + 0.5) AS INT))"
            " ELSE 64 END AS out_h FROM d) "
            "SELECT doc_id, in_w, in_h, out_w, out_h,"
            " CAST((64 - out_w) // 2 AS INT) AS pad_left,"
            " CAST((64 - out_h) // 2 AS INT) AS pad_top FROM g"
        ),
        "multimodal_letterbox_gif": (
            "WITH d AS (SELECT doc_id,"
            " CAST(1 + doc_id % 16 AS INT) AS in_w,"
            " CAST(1 + doc_id % 12 AS INT) AS in_h FROM documents), "
            "g AS (SELECT doc_id, in_w, in_h,"
            " CASE WHEN in_w >= in_h THEN 64 ELSE"
            "  greatest(1, CAST(floor(in_w * 64.0 / in_h + 0.5) AS INT)) END"
            " AS out_w,"
            " CASE WHEN in_w >= in_h THEN"
            "  greatest(1, CAST(floor(in_h * 64.0 / in_w + 0.5) AS INT))"
            " ELSE 64 END AS out_h FROM d) "
            "SELECT doc_id, in_w, in_h, out_w, out_h,"
            " CAST((64 - out_w) // 2 AS INT) AS pad_left,"
            " CAST((64 - out_h) // 2 AS INT) AS pad_top FROM g"
        ),
        "multimodal_letterbox_jpeg": (
            "WITH d AS (SELECT doc_id,"
            " CAST(1 + doc_id % 16 AS INT) AS in_w,"
            " CAST(1 + doc_id % 12 AS INT) AS in_h FROM documents), "
            "g AS (SELECT doc_id, in_w, in_h,"
            " CASE WHEN in_w >= in_h THEN 64 ELSE"
            "  greatest(1, CAST(floor(in_w * 64.0 / in_h + 0.5) AS INT)) END"
            " AS out_w,"
            " CASE WHEN in_w >= in_h THEN"
            "  greatest(1, CAST(floor(in_h * 64.0 / in_w + 0.5) AS INT))"
            " ELSE 64 END AS out_h FROM d) "
            "SELECT doc_id, in_w, in_h, out_w, out_h,"
            " CAST((64 - out_w) // 2 AS INT) AS pad_left,"
            " CAST((64 - out_h) // 2 AS INT) AS pad_top FROM g"
        ),
        "robots_filter": (
            "WITH u AS (SELECT doc_id,"
            " 'https://w' || (doc_id % 5)::VARCHAR || '.example.org/p/' ||"
            " doc_id::VARCHAR AS url,"
            " 'w' || (doc_id % 5)::VARCHAR || '.example.org' AS host,"
            " '/p/' || doc_id::VARCHAR AS path FROM documents), "
            "r(host, pat, allow) AS (VALUES"
            " ('w0.example.org', '/p/1', false),"
            " ('w0.example.org', '/p/12', true),"
            " ('w1.example.org', '/', false),"
            " ('w2.example.org', '/*2$', false),"
            " ('w2.example.org', '/p/1*', true),"
            " ('w3.example.org', '/p/*3', false)), "
            # pattern → regex translation replayed verbatim: strip a
            # trailing $, escape metachars except *, '*' → '.*', anchor
            "rt AS (SELECT host, allow,"
            " CASE WHEN ends_with(pat, '$') THEN"
            " substr(pat, 1, length(pat)-1) ELSE pat END AS body,"
            " ends_with(pat, '$') AS anch FROM r), "
            "rr AS (SELECT host, allow,"
            " length(replace(body, '*', '')) AS spec,"
            " '^' || regexp_replace(regexp_replace(body,"
            r" '([.^$+?(){}\[\]\\|])', '\\\1', 'g'), '\*', '.*', 'g')"
            " || CASE WHEN anch THEN '$' ELSE '' END AS rx FROM rt), "
            "d AS (SELECT u.doc_id, u.url,"
            " max(CASE WHEN rr.rx IS NOT NULL AND"
            " regexp_matches(u.path, rr.rx) THEN"
            " {'l': rr.spec, 'a': rr.allow} END) AS best"
            " FROM u LEFT JOIN rr ON u.host = rr.host"
            " GROUP BY u.doc_id, u.url) "
            "SELECT doc_id, url FROM d WHERE coalesce(best.a, true)"
        ),
        "substring_dup_spans": (
            _SUBSTR_SPANS_CTES.format(passage=_DUP_PASSAGE)
            + " SELECT doc_id, start_pos, end_pos,"
            " end_pos - start_pos + 1 AS span_len, n_grams"
            " FROM spans WHERE end_pos - start_pos + 1 >= 40"
        ),
        "substring_dup_cut": (
            _SUBSTR_SPANS_CTES.format(passage=_DUP_PASSAGE)
            + ", fs AS (SELECT doc_id, start_pos, end_pos FROM spans"
            " WHERE end_pos - start_pos + 1 >= 40), "
            "ch AS (SELECT doc_id, unnest(generate_series(1,"
            " length(text))) AS p, text FROM d), "
            "kept AS (SELECT c.doc_id, c.p, substr(c.text, c.p, 1) AS c"
            " FROM ch c ANTI JOIN fs ON c.doc_id = fs.doc_id"
            " AND c.p BETWEEN fs.start_pos AND fs.end_pos), "
            "agg AS (SELECT doc_id, string_agg(c, '' ORDER BY p)"
            " AS text_cut FROM kept GROUP BY doc_id), "
            "cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n"
            " FROM fs GROUP BY doc_id) "
            # null text must stay NULL (cut_spans passes it through);
            # coalesce('') is only for docs whose every char was cut
            "SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL"
            " ELSE coalesce(a.text_cut, '') END AS text_cut,"
            " coalesce(c.n, 0) AS n_cut_spans,"
            # length(d.text) is NULL for null text, so the subtraction
            # already null-propagates without a second CASE
            " length(d.text) - length(coalesce(a.text_cut, ''))"
            " AS n_chars_cut"
            " FROM d LEFT JOIN agg a USING (doc_id)"
            " LEFT JOIN cnt c USING (doc_id)"
        ),
        "quality_logit": (
            "WITH w0 AS (SELECT doc_id, unnest(string_split("
            "coalesce(text,''), ' ')) AS w FROM documents), "
            "b AS (SELECT doc_id,"
            " ('0x'||substr(md5(w),1,8))::BIGINT % 262144 AS b"
            " FROM w0 WHERE w <> ''), "
            "s AS (SELECT doc_id,"
            " ('0x'||substr(md5('qw:'||b::VARCHAR),1,8))::BIGINT % 2001"
            " - 1000 AS wi FROM b) "
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,"
            " CAST(sum(wi) AS BIGINT) / 1000.0 AS logit"
            " FROM s GROUP BY doc_id"
        ),
        "word_doc_freq": (
            "WITH w0 AS (SELECT DISTINCT doc_id, unnest(string_split("
            "coalesce(text,''), ' ')) AS w FROM documents), "
            "w AS (SELECT doc_id, w FROM w0 WHERE w <> ''), "
            "f AS (SELECT w, count(DISTINCT doc_id) AS wdf FROM w GROUP BY w) "
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_words,"
            " CAST(sum(wdf) AS BIGINT) / CAST(count(*) AS BIGINT)"
            " AS mean_word_df "
            "FROM w JOIN f USING(w) GROUP BY doc_id"
        ),
        "normalize_urls": (
            "WITH d AS (SELECT doc_id, 'HTTPS://W' || (doc_id % 5)::VARCHAR"
            " || '.Example.org/p/' || doc_id::VARCHAR ||"
            " CASE doc_id % 4"
            "  WHEN 0 THEN '?utm_source=x&q=' || doc_id::VARCHAR"
            "  WHEN 1 THEN '?q=' || doc_id::VARCHAR ||"
            "   '&utm_campaign=yy&gclid=abc'"
            "  WHEN 2 THEN '/#frag'"
            "  ELSE '?UTM_Source_Platform=z&q2=1' END AS url FROM documents), "
            "n1 AS (SELECT doc_id, url,"
            " regexp_replace(url, '#.*$', '') AS u FROM d), "
            "parts AS (SELECT doc_id, url,"
            " lower(regexp_extract(u, '^([a-zA-Z]+://[^/?]*)', 1)) AS sh,"
            " regexp_extract(regexp_replace(u, '^[a-zA-Z]+://[^/?]*', ''),"
            "  '^([^?]*)', 1) AS p,"
            " regexp_extract(regexp_replace(u, '^[a-zA-Z]+://[^/?]*', ''),"
            "  '\\?(.*)$', 1) AS q FROM n1), "
            "norm AS (SELECT doc_id, url,"
            " sh, regexp_replace(p, '/$', '') AS p,"
            " regexp_replace(regexp_replace('&' || q,"
            "  '&(?i:utm_[a-z0-9_]+|gclid|fbclid)=[^&]*', '', 'g'), '^&', '') AS q"
            " FROM parts) "
            "SELECT doc_id, url, sh || p ||"
            " CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url_norm"
            " FROM norm"
        ),
        "line_freq_dedup": (
            "WITH d AS (SELECT doc_id, coalesce(text, '') || chr(10) ||"
            " 'subscribe to our newsletter' || chr(10) ||"
            " 'doc-specific ' || doc_id::VARCHAR AS t FROM documents), "
            "l AS (SELECT doc_id, i,"
            " list_extract(string_split(t, chr(10)), i) AS line FROM"
            " (SELECT doc_id, t, unnest(generate_series(1,"
            " len(string_split(t, chr(10))))) AS i FROM d)), "
            "f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l"
            " GROUP BY line) "
            "SELECT doc_id,"
            " coalesce(string_agg(CASE WHEN df <= 2 OR trim(line) = ''"
            " THEN line END, chr(10) ORDER BY i), '') AS text,"
            " CAST(count(*) AS BIGINT) AS n_lines_in,"
            " CAST(sum(CASE WHEN df <= 2 OR trim(line) = '' THEN 1 ELSE 0"
            " END) AS BIGINT) AS n_lines_kept "
            "FROM l JOIN f USING(line) GROUP BY doc_id"
        ),
        "host_stats": (
            "SELECT regexp_extract('https://w' || (doc_id % 23)::VARCHAR"
            " || '.example.org/p/' || doc_id::VARCHAR,"
            " '^[a-z]+://([^/]+)', 1) AS host,"
            " CAST(count(*) AS BIGINT) AS n_docs,"
            " CAST(sum(n_chars) AS BIGINT) AS total_chars,"
            " CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_en "
            "FROM documents GROUP BY 1"
        ),
        "hash_sample": (
            "SELECT doc_id, lang FROM documents WHERE "
            "('0x'||substr(md5('mix:'||doc_id::VARCHAR),1,8))::BIGINT"
            " / 4294967296.0 < "
            "(CASE lang WHEN 'de' THEN 0.3 WHEN 'en' THEN 0.5"
            " WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.25 ELSE 0.0 END)"
        ),
        "dedup_embedding_pairs_md5": _emb_md5_oracle(),
        "ann_lsh_topk_md5": _ann_lsh_md5_oracle(),
        "ann_ivf_topk_md5": _ann_ivf_md5_oracle(),
        "kmeans_assign": _clu.kmeans_assign_sql(k=8, iters=2),
        "semdedup": _clu.semdedup_sql(
            k=8, iters=2, tau=0.8, src=_SEMDEDUP_SRC
        ),
        "ann_pq_topk": _clu.ann_pq_topk_sql(k=5),
        "ann_ivf_trained": _clu.ivf_topk_int_sql(k=5),
        "ann_int8_topk": _clu.ann_int8_topk_sql(k=5),
        "ann_ivfpq_topk": _clu.ann_ivfpq_topk_sql(k=5),
        "crawl_depth_hosts": _crawl_depth_oracle(),
        "surt_keys": _SURT_ORACLE,
        "hits_hosts": _hits_oracle(),
        "warc_revisit": _WARC_REVISIT_ORACLE,
        "table_stats_documents": _table_stats_oracle(),
        "zorder_curve": (
            "SELECT doc_id, xk, yk, "
            + _zorder_key_sql("xk", "yk")
            + " AS zval FROM (SELECT doc_id, "
            "(('0x'||substr(md5('zx:'||CAST(doc_id AS VARCHAR)),1,8))"
            "::BIGINT) % 65536 AS xk, n_chars % 65536 AS yk "
            "FROM documents)"
        ),
        "cdc_chunks": _cdc_chunks_oracle(),
        "simhash_md5": (
            f"WITH {_simhash_md5_ctes()} SELECT doc_id, simhash FROM sig"
        ),
        "simhash_pairs_md5": (
            f"WITH {_simhash_md5_ctes()}, "
            "bands AS (SELECT doc_id, simhash, b AS band_id,"
            " (simhash >> (b*15)) & 32767 AS bv"
            " FROM sig, (SELECT unnest([0,1,2,3]) AS b)) "
            "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,"
            " bit_count(xor(a.simhash, b.simhash)) AS hamming "
            "FROM bands a JOIN bands b ON a.band_id = b.band_id"
            " AND a.bv = b.bv AND a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 6"
        ),
        "extract_roundtrip": "SELECT doc_id, text FROM documents",
        "extract_roundtrip_2p": "SELECT doc_id, text FROM documents",
        "nodes_content_chars": (
            "SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS content_chars "
            "FROM documents"
        ),
        "asof_latest_event": (
            "SELECT user_id, event_id FROM ("
            " SELECT user_id, event_id,"
            "  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn"
            " FROM events) WHERE rn = 1"
        ),
        "w3_sessionize_events": (
            "WITH o AS (SELECT user_id, epoch_us(ts) ts_us, event_id FROM events),"
            " f AS (SELECT user_id,"
            "  CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END flg"
            "  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))"
            " SELECT user_id, CAST(sum(flg) + 1 AS BIGINT) AS n_sessions"
            " FROM f GROUP BY user_id"
        ),
        "w4_topk_orders": (
            "SELECT o_custkey, o_orderkey, CAST(rn AS INT) rn FROM ("
            " SELECT o_custkey, o_orderkey,"
            "  row_number() OVER (PARTITION BY o_custkey"
            "   ORDER BY o_totalprice DESC, o_orderkey ASC) rn"
            " FROM orders) WHERE rn <= 3"
        ),
        "a14_second_largest_order": (
            "SELECT o_custkey, o_orderkey FROM ("
            " SELECT o_custkey, o_orderkey,"
            "  row_number() OVER (PARTITION BY o_custkey"
            "   ORDER BY o_totalprice DESC, o_orderkey ASC) rn"
            " FROM orders) WHERE rn = 2"
        ),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus,"
            " CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty,"
            " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) sum_base_price,"
            " CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) sum_disc,"
            " count(*) count_order"
            " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'"
            " GROUP BY l_returnflag, l_linestatus"
        ),
        "a3_histogram_price": (
            "SELECT CAST(floor(l_extendedprice / 1000.0) AS BIGINT) bucket,"
            " count(*) cnt FROM lineitem GROUP BY 1"
        ),
        "j5_revenue_by_segment": (
            "SELECT c_mktsegment,"
            " CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) revenue,"
            " count(*) n_orders"
            " FROM orders JOIN customer ON o_custkey = c_custkey"
            " GROUP BY c_mktsegment"
        ),
        "j1_overlap_argmax": (
            "WITH lines AS (SELECT user_id, event_id line_id, value ls,"
            "  value + 5.0 le FROM events WHERE event_type = 'click'),"
            " blocks AS (SELECT user_id, event_id block_id, value bs,"
            "  value + 20.0 be FROM events WHERE event_type = 'view'),"
            " j AS (SELECT l.user_id, l.line_id, b.block_id,"
            "  greatest(0.0, least(l.le, b.be) - greatest(l.ls, b.bs)) / (l.le - l.ls)"
            "   AS overlap_score"
            "  FROM lines l LEFT JOIN blocks b ON l.user_id = b.user_id),"
            " r AS (SELECT *, row_number() OVER (PARTITION BY user_id, line_id"
            "  ORDER BY overlap_score DESC, block_id ASC) rn FROM j)"
            " SELECT user_id, line_id,"
            "  CASE WHEN overlap_score > 0.4 THEN block_id END assigned_block,"
            "  CASE WHEN overlap_score > 0.4 THEN overlap_score END assigned_score"
            " FROM r WHERE rn = 1"
        ),
        "j3_recover_uncovered": (
            "WITH comps AS (SELECT user_id, event_id comp_id, value cs,"
            "  value + 10.0 ce FROM events WHERE event_type = 'error'),"
            " blocks AS (SELECT user_id, event_id block_id, value bs,"
            "  value + 15.0 be FROM events WHERE event_type = 'purchase'),"
            " j AS (SELECT c.user_id, c.comp_id,"
            "  coalesce(greatest(0.0, least(c.ce, b.be) - greatest(c.cs, b.bs))"
            "   / (c.ce - c.cs), 0.0) cov"
            "  FROM comps c LEFT JOIN blocks b ON c.user_id = b.user_id)"
            " SELECT user_id, comp_id, max(cov) max_coverage"
            " FROM j GROUP BY user_id, comp_id HAVING max(cov) < 0.5"
        ),
        "dedup_exact": (
            "SELECT md5(text) content_hash, min(doc_id) representative,"
            " count(*) dup_count FROM documents GROUP BY md5(text)"
        ),
        "dedup_ngram_jaccard": (
            f"WITH sh AS (SELECT doc_id, source, {jacc_sh} s FROM documents)"
            " SELECT a.doc_id id_a, b.doc_id id_b,"
            "  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
            "   / len(list_distinct(list_concat(a.s, b.s))) jaccard"
            " FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id"
            " WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
            "   / len(list_distinct(list_concat(a.s, b.s))) >= 0.05"
        ),
        "lang_id": (
            "SELECT doc_id, CASE"
            f" WHEN len(list_filter(string_split(text,' '), w -> list_contains({en}, w)))"
            f"  > len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w)))"
            f"  AND len(list_filter(string_split(text,' '), w -> list_contains({en}, w))) > 0"
            "  THEN 'en'"
            f" WHEN len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w)))"
            f"  > len(list_filter(string_split(text,' '), w -> list_contains({en}, w)))"
            f"  AND len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w))) > 0"
            "  THEN 'es' ELSE 'unknown' END lang_pred"
            " FROM documents"
        ),
        "quality_score": (
            "WITH s AS (SELECT doc_id,"
            " len(string_split(text,' ')) nw,"
            f" len(list_filter(string_split(text,' '), w -> list_contains({en}, w))) hits,"
            " length(replace(text,' ','')) cl"
            " FROM documents)"
            " SELECT doc_id, CAST(nw AS BIGINT) n_words,"
            "  least(1.0, nw / 100.0)"
            "  * (1.0 - CAST(hits AS DOUBLE) / nw)"
            "  * (CASE WHEN CAST(cl AS DOUBLE)/nw >= 2.0 AND CAST(cl AS DOUBLE)/nw <= 12.0"
            "     THEN 1.0 ELSE 0.5 END) quality"
            " FROM s"
        ),
        "token_counts": (
            "SELECT doc_id,"
            " CAST(len(string_split(text,' ')) AS BIGINT) n_ws_tokens,"
            " CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
            "  AS BIGINT) n_regex_tokens"
            " FROM documents"
        ),
        "fingerprint_kgram": (
            "WITH grams AS (SELECT doc_id, md5(substring(text, CAST(i AS INT), 8)) gh"
            " FROM documents,"
            " unnest(generate_series(1, greatest(length(text) - 7, 1))) t(i))"
            " SELECT doc_id, count(DISTINCT gh) n_fingerprints, min(gh) min_fingerprint"
            " FROM grams WHERE gh LIKE '%0' GROUP BY doc_id"
        ),
        "f_geometry_boxes": (
            "WITH b AS (SELECT o_orderkey,"
            " CAST(o_orderkey % 97 AS DOUBLE) x1, CAST(o_custkey % 89 AS DOUBLE) y1,"
            " CAST((o_orderkey % 97) + 1 + o_orderkey % 53 AS DOUBLE) x2,"
            " CAST((o_custkey % 89) + 1 + o_custkey % 41 AS DOUBLE) y2"
            " FROM orders)"
            " SELECT o_orderkey,"
            " CASE WHEN least(x2,60.0)-greatest(x1,20.0) > 0 AND least(y2,60.0)-greatest(y1,20.0) > 0"
            "  THEN (least(x2,60.0)-greatest(x1,20.0))*(least(y2,60.0)-greatest(y1,20.0))"
            "  ELSE -1.0 END ua,"
            " (greatest(least(x2,60.0)-greatest(x1,20.0),0.0)*greatest(least(y2,60.0)-greatest(y1,20.0),0.0))"
            " / ((x2-x1)*(y2-y1) + 1600.0"
            "   - greatest(least(x2,60.0)-greatest(x1,20.0),0.0)*greatest(least(y2,60.0)-greatest(y1,20.0),0.0)) iou,"
            " ((x1+x2)/2)/128.0 ycx, (y2-y1)/128.0 yh"
            " FROM b"
        ),
        "f13_f14_min_rect_aspect": (
            "WITH b AS (SELECT o_orderkey,"
            " CAST(o_orderkey % 97 AS DOUBLE) x1, CAST(o_custkey % 89 AS DOUBLE) y1,"
            " CAST((o_orderkey % 97) + 1 + o_orderkey % 53 AS DOUBLE) x2,"
            " CAST((o_custkey % 89) + 1 + o_custkey % 41 AS DOUBLE) y2"
            " FROM orders)"
            " SELECT o_orderkey, round(x1, 4) rx1, round(y1, 4) ry1,"
            " round(x2, 4) rx2, round(y2, 4) ry2,"
            " (y2 - y1) / (x2 - x1) aspect FROM b"
        ),
        "f18_shrink_unclip": (
            "WITH b AS (SELECT o_orderkey,"
            " CAST(o_orderkey % 97 AS DOUBLE) x1,"
            " CAST((o_orderkey % 97) + 1 + o_orderkey % 53 AS DOUBLE) x2"
            " FROM orders)"
            " SELECT o_orderkey,"
            " round(least(x1 + (x2-x1)*(1 - 0.4*0.4)/2, (x1+x2)/2), 6) ss,"
            " round(greatest(x2 - (x2-x1)*(1 - 0.4*0.4)/2, (x1+x2)/2), 6) se,"
            " round(x1 - (x2-x1)*1.5/2, 6) us,"
            " round(x2 + (x2-x1)*1.5/2, 6) ue FROM b"
        ),
        # A4 greedy separated top-k as a recursive CTE: each iteration keeps
        # the (cnt desc, value asc) top candidate per group and carries only
        # candidates >= min_gap away from it; skipped candidates can never
        # become eligible again (picks only grow), so dropping them at the
        # iteration that excludes them is exact.
        "a4_topk_separated": (
            "WITH RECURSIVE hist AS ("
            " SELECT user_id, CAST(floor(value / 10) AS DOUBLE) AS value,"
            "        count(*) AS cnt FROM events GROUP BY 1, 2),"
            " cand AS ("
            "  SELECT user_id, value, cnt FROM ("
            "   SELECT *, row_number() OVER (PARTITION BY user_id"
            "            ORDER BY cnt DESC, value ASC) AS rn,"
            "          sum(cnt) OVER (PARTITION BY user_id) AS total"
            "   FROM hist)"
            "  WHERE rn <= 64 AND cnt >= total * 0.001),"
            " pick AS ("
            "  SELECT user_id, value, cnt, 0 AS pr, FALSE AS kept FROM cand"
            "  UNION ALL"
            "  SELECT user_id, value, cnt, pr + 1 AS pr, new_kept AS kept"
            "  FROM ("
            "   SELECT *, (value = first_value(value) OVER w) AS new_kept,"
            "          first_value(value) OVER w AS tv"
            "   FROM pick WHERE NOT kept AND pr < 3"
            "   WINDOW w AS (PARTITION BY user_id ORDER BY cnt DESC, value ASC"
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"
            "  WHERE new_kept OR abs(value - tv) >= 3.0)"
            " SELECT user_id, value, cnt, CAST(pr AS INT) AS pick_rank"
            " FROM pick WHERE kept"
        ),
        # J4 scattered-block merge = connected components over the mergeable
        # predicate, min block id per component (the DSU's smaller-root-wins
        # invariant). The cos-direction test is omitted: every block in this
        # query has vec = (1, 0), so cos = 1 >= cos(30 deg) always.
        "j4_merge_blocks": (
            "WITH RECURSIVE blocks AS ("
            " SELECT user_id, event_id AS block_id,"
            "        10.0 + (event_id % 4) AS font_size, value AS cx"
            " FROM events WHERE event_type = 'click'),"
            " edges AS ("
            "  SELECT a.user_id, a.block_id AS src, b.block_id AS dst"
            "  FROM blocks a JOIN blocks b"
            "   ON a.user_id = b.user_id AND a.block_id <> b.block_id"
            "  WHERE greatest(a.font_size, b.font_size)"
            "        / least(a.font_size, b.font_size) <= 1.3"
            "   AND abs(a.cx - b.cx) <= 2.0 * greatest(a.font_size, b.font_size)),"
            " reach AS ("
            "  SELECT user_id, block_id AS id, block_id AS comp FROM blocks"
            "  UNION"
            "  SELECT e.user_id, e.src, r.comp FROM edges e"
            "  JOIN reach r ON e.user_id = r.user_id AND e.dst = r.id)"
            " SELECT user_id, id AS block_id, min(comp) AS merged_id"
            " FROM reach GROUP BY user_id, id"
        ),
        # Greedy NMS as a recursive CTE: each iteration keeps the top
        # conf-ordered survivor per group (window over the recursive set)
        # and carries forward only candidates with IoU <= thres against it —
        # an independent sequential-greedy oracle, not a Spark re-run.
        "j2_nms_spans": (
            "WITH RECURSIVE cand AS ("
            " SELECT user_id, event_id AS span_id,"
            "  CAST(trunc(value) AS INT) AS char_start,"
            "  CAST(trunc(value) + 30 AS INT) AS char_end,"
            "  (event_id % 100) / 100.0 + 0.001 AS conf, 0 AS cls"
            " FROM events WHERE (event_id % 100) / 100.0 + 0.001 > 0.4"
            # the engine's max_nms pre-cap (reference yolov5_utils.py:143-146)
            " QUALIFY row_number() OVER (PARTITION BY user_id"
            "  ORDER BY conf DESC, span_id ASC) <= 30000),"
            " nms AS ("
            "  SELECT *, 0 AS pr, FALSE AS kept FROM cand"
            "  UNION ALL"
            "  SELECT user_id, span_id, char_start, char_end, conf, cls,"
            "         pr + 1 AS pr, new_kept AS kept"
            "  FROM ("
            "   SELECT *,"
            "    first_value(char_start) OVER w AS ts,"
            "    first_value(char_end)   OVER w AS te,"
            "    (span_id = first_value(span_id) OVER w) AS new_kept"
            # pr counts picks made so far per group: stop at max_det=300
            "   FROM nms WHERE NOT kept AND pr < 300"
            "   WINDOW w AS (PARTITION BY user_id"
            "                ORDER BY conf DESC, span_id ASC"
            "                ROWS BETWEEN UNBOUNDED PRECEDING"
            "                AND UNBOUNDED FOLLOWING))"
            "  WHERE new_kept"
            "   OR (CAST(greatest(least(char_end, te) - greatest(char_start, ts), 0) AS DOUBLE)"
            "       / ((char_end - char_start) + (te - ts)"
            "          - greatest(least(char_end, te) - greatest(char_start, ts), 0))) <= 0.35)"
            " SELECT user_id, span_id, char_start, char_end, conf, cls"
            " FROM nms WHERE kept"
        ),
        # Greedy first-come gt<->pred matching as a recursive CTE: each
        # iteration consumes the first remaining gt per group and its first
        # eligible (IoU >= 0.5) unused pred, emitting a 'tp' marker row.
        "j6_eval_prf": (
            "WITH RECURSIVE base AS ("
            " SELECT user_id, event_id, CAST(trunc(value) AS INT) AS v"
            " FROM events WHERE event_type = 'view'),"
            " golden AS (SELECT CAST(user_id AS VARCHAR) g, v AS s,"
            "            v + 100 AS e FROM base),"
            " preds AS (SELECT CAST(user_id AS VARCHAR) g,"
            "  v + CASE WHEN event_id % 2 = 0 THEN 10 ELSE 0 END AS s,"
            "  v + 100 + CASE WHEN event_id % 2 = 0 THEN 10 ELSE 0 END AS e"
            "  FROM base WHERE event_id % 7 <> 0),"
            " m AS ("
            "  SELECT g, 'gt' AS kind, s, e FROM golden"
            "  UNION ALL SELECT g, 'pred', s, e FROM preds"
            "  UNION ALL"
            "  SELECT g, CASE WHEN kind = 'pred' AND eligible AND rn2 = 1"
            "            THEN 'tp' ELSE kind END AS kind, s, e"
            "  FROM ("
            "   SELECT *, row_number() OVER (PARTITION BY g"
            "            ORDER BY eligible DESC, s, e) AS rn2"
            "   FROM ("
            "    SELECT *, (kind = 'pred' AND has_gt AND"
            "     CAST(greatest(least(e, gt_e) - greatest(s, gt_s), 0) AS DOUBLE)"
            "     / ((e - s) + (gt_e - gt_s)"
            "        - greatest(least(e, gt_e) - greatest(s, gt_s), 0)) >= 0.5"
            "    ) AS eligible"
            "    FROM ("
            "     SELECT *, row_number() OVER w1 AS rn1,"
            "      (first_value(kind) OVER w1 = 'gt') AS has_gt,"
            "      first_value(s) OVER w1 AS gt_s,"
            "      first_value(e) OVER w1 AS gt_e"
            "     FROM m WHERE kind <> 'tp'"
            "     WINDOW w1 AS (PARTITION BY g"
            "      ORDER BY CASE kind WHEN 'gt' THEN 0 ELSE 1 END, s, e"
            "      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))))"
            "  WHERE has_gt AND NOT (kind = 'gt' AND rn1 = 1))"
            " SELECT tp, n_gt, n_pred,"
            "  CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred"
            "       ELSE 0.0 END AS precision,"
            "  CASE WHEN n_gt > 0 THEN CAST(tp AS DOUBLE) / n_gt"
            "       ELSE 0.0 END AS recall,"
            "  CASE WHEN (CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END"
            "           + CASE WHEN n_gt > 0 THEN CAST(tp AS DOUBLE) / n_gt ELSE 0.0 END) > 0"
            "   THEN 2 * (CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END)"
            "          * (CASE WHEN n_gt > 0 THEN CAST(tp AS DOUBLE) / n_gt ELSE 0.0 END)"
            "          / ((CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END)"
            "           + (CASE WHEN n_gt > 0 THEN CAST(tp AS DOUBLE) / n_gt ELSE 0.0 END))"
            "   ELSE 0.0 END AS hmean"
            " FROM (SELECT (SELECT count(*) FROM m WHERE kind = 'tp') AS tp,"
            "       (SELECT count(*) FROM golden) AS n_gt,"
            "       (SELECT count(*) FROM preds) AS n_pred)"
        ),
        "pii_scrub": (
            "WITH s AS (SELECT doc_id,"
            " text || ' contact user' || CAST(doc_id AS VARCHAR)"
            " || '@example.com or 555-'"
            " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t"
            " FROM documents)"
            " SELECT doc_id,"
            " regexp_replace(regexp_replace(t,"
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',"
            "  'g'), '\\d{3}-\\d{4}', '<PHONE>', 'g') AS scrubbed,"
            " len(regexp_extract_all(t,"
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,"
            " len(regexp_extract_all(t, '\\d{3}-\\d{4}')) AS n_phones"
            " FROM s"
        ),
        "rep_top_bigram": (
            "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws"
            " FROM documents),"
            " g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM w,"
            "  unnest(generate_series(1, len(ws) - 1)) AS t(i)"
            "  WHERE len(ws) >= 2),"
            " c AS (SELECT doc_id, g, count(*) c FROM g GROUP BY 1, 2),"
            " m AS (SELECT *, max(c) OVER (PARTITION BY doc_id) mx,"
            "        sum(c) OVER (PARTITION BY doc_id) tot FROM c)"
            " SELECT doc_id, min(g) AS top_gram, mx AS top_count,"
            "  CAST(mx AS DOUBLE) / tot AS top_fraction"
            " FROM m WHERE c = mx GROUP BY doc_id, mx, tot"
        ),
        "repetition_signals": repetition_signals_sql(),
        "dsir_weights": dsir_weights_sql(dsir_raw, dsir_tgt),
        "dsir_select": dsir_select_sql(dsir_raw, dsir_tgt, k=100, seed=7),
        "tokenize_ids": _tokenize_ids_oracle(),
        "pack_token_ids": _pack_token_ids_oracle(),
        "f16_stroke_width": (
            "WITH a AS (SELECT user_id, count(*) n,"
            " CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) s,"
            " CAST(sum(CAST(value AS DECIMAL(18,2))"
            "          * CAST(value AS DECIMAL(18,2))) AS DOUBLE) ss"
            " FROM events GROUP BY user_id)"
            " SELECT user_id, n,"
            " sqrt(greatest(0.0, (ss - s*s/n)/n)) AS stroke_width FROM a"
        ),
        "f17_expand_eng": (
            "WITH b AS (SELECT o_orderkey,"
            " CAST(o_orderkey % 97 AS DOUBLE) x1,"
            " CAST((o_orderkey % 97) + 1 + o_orderkey % 53 AS DOUBLE) x2,"
            " CAST(10 + (o_orderkey % 7) AS DOUBLE) font_size FROM orders)"
            " SELECT o_orderkey,"
            " greatest(0.0, x1 - greatest(font_size*0.1, 2.0)) es,"
            " least(128.0, x2 + greatest(font_size*0.1, 2.0)) ee FROM b"
        ),
        "dedup_exact_survivors": (
            "WITH u AS (SELECT doc_id, text FROM documents"
            " UNION ALL SELECT doc_id + 1000000, text FROM documents)"
            " SELECT doc_id, text FROM u"
            " QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1"
        ),
        "w1_reading_order": (
            "WITH b AS (SELECT o_orderkey, o_custkey % 20 page_id,"
            " CAST(o_orderkey % 97 AS DOUBLE) x1, CAST(o_custkey % 89 AS DOUBLE) y1"
            " FROM orders),"
            " w AS (SELECT *,"
            "  CAST(least(2, CAST(floor(y1*3/128.0) AS INT))*4"
            "   + least(3, CAST(floor(x1*4/128.0) AS INT)) AS DOUBLE)"
            "   * 16384.0 + 1.2*x1 + y1 AS weight FROM b)"
            " SELECT page_id, o_orderkey, CAST(row_number() OVER ("
            "  PARTITION BY page_id ORDER BY weight ASC, o_orderkey ASC) AS INT) ro_rank"
            " FROM w"
        ),
        "x1_coalesce_spans": (
            "WITH iv AS (SELECT user_id, value cs, value + 5.0 ce FROM events"
            "  WHERE event_type = 'click'),"
            " f AS (SELECT user_id, cs, ce,"
            "  CASE WHEN max(ce) OVER (PARTITION BY user_id ORDER BY cs, ce"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL"
            "   OR cs > max(ce) OVER (PARTITION BY user_id ORDER BY cs, ce"
            "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END flg"
            "  FROM iv),"
            " g AS (SELECT *, sum(flg) OVER (PARTITION BY user_id ORDER BY cs, ce"
            "  ROWS UNBOUNDED PRECEDING) island FROM f)"
            " SELECT user_id, min(cs) char_start, max(ce) char_end"
            " FROM g GROUP BY user_id, island"
        ),
        "x2_interval_xor": (
            "WITH a AS (SELECT user_id, value s, value+5.0 e FROM events WHERE event_type='click'),"
            " b AS (SELECT user_id, value s, value+20.0 e FROM events WHERE event_type='view'),"
            " ev AS (SELECT user_id, s pos, 1 da, 0 db FROM a"
            "  UNION ALL SELECT user_id, e, -1, 0 FROM a"
            "  UNION ALL SELECT user_id, s, 0, 1 FROM b"
            "  UNION ALL SELECT user_id, e, 0, -1 FROM b),"
            " m AS (SELECT user_id, pos, sum(da) da, sum(db) db FROM ev GROUP BY 1, 2),"
            " r AS (SELECT user_id, pos,"
            "  sum(da) OVER (PARTITION BY user_id ORDER BY pos ROWS UNBOUNDED PRECEDING) cov_a,"
            "  sum(db) OVER (PARTITION BY user_id ORDER BY pos ROWS UNBOUNDED PRECEDING) cov_b,"
            "  lead(pos) OVER (PARTITION BY user_id ORDER BY pos) next_pos FROM m)"
            " SELECT user_id, CAST(round(sum(CASE WHEN next_pos IS NOT NULL"
            "  AND ((cov_a > 0) <> (cov_b > 0)) THEN next_pos - pos ELSE 0 END)) AS BIGINT) xor_len"
            " FROM r GROUP BY user_id"
        ),
        "a6_min_xor_candidate": (
            "WITH cands AS (SELECT user_id, CAST(event_id % 3 AS INT) candidate_id,"
            "  value s, value+5.0 e FROM events WHERE event_type='click'),"
            " cand_ids AS (SELECT DISTINCT user_id, candidate_id FROM cands),"
            " tgt AS (SELECT ci.user_id, ci.candidate_id, v.value s, v.value+20.0 e"
            "  FROM (SELECT user_id, value FROM events WHERE event_type='view') v"
            "  JOIN cand_ids ci ON v.user_id = ci.user_id),"
            " ev AS (SELECT user_id, candidate_id, s pos, 1 da, 0 db FROM cands"
            "  UNION ALL SELECT user_id, candidate_id, e, -1, 0 FROM cands"
            "  UNION ALL SELECT user_id, candidate_id, s, 0, 1 FROM tgt"
            "  UNION ALL SELECT user_id, candidate_id, e, 0, -1 FROM tgt),"
            " m AS (SELECT user_id, candidate_id, pos, sum(da) da, sum(db) db FROM ev GROUP BY 1,2,3),"
            " r AS (SELECT user_id, candidate_id, pos,"
            "  sum(da) OVER (PARTITION BY user_id, candidate_id ORDER BY pos ROWS UNBOUNDED PRECEDING) cov_a,"
            "  sum(db) OVER (PARTITION BY user_id, candidate_id ORDER BY pos ROWS UNBOUNDED PRECEDING) cov_b,"
            "  lead(pos) OVER (PARTITION BY user_id, candidate_id ORDER BY pos) next_pos FROM m),"
            " x AS (SELECT user_id, candidate_id, CAST(round(sum(CASE WHEN next_pos IS NOT NULL"
            "  AND ((cov_a > 0) <> (cov_b > 0)) THEN next_pos - pos ELSE 0 END)) AS BIGINT) xor_len"
            "  FROM r GROUP BY 1, 2),"
            " best AS (SELECT *, row_number() OVER (PARTITION BY user_id"
            "  ORDER BY xor_len ASC, candidate_id ASC) rn FROM x)"
            " SELECT user_id, candidate_id, xor_len FROM best WHERE rn = 1"
        ),
        "u4_refine_hysteresis": (
            "WITH nodes AS (SELECT user_id, CAST(row_number() OVER ("
            "  PARTITION BY user_id ORDER BY ts, event_id) AS INT) node_id,"
            "  value/500.0 score FROM events),"
            " blocks AS (SELECT DISTINCT user_id, 0 block_id, 3 node_start, 12 node_end FROM events),"
            " near AS (SELECT n.user_id, n.node_id, n.score, b.block_id, b.node_start, b.node_end"
            "  FROM nodes n JOIN blocks b ON n.user_id = b.user_id"
            "  WHERE n.node_id >= b.node_start - 1 AND n.node_id <= b.node_end + 1),"
            " q AS (SELECT *, (node_id BETWEEN node_start AND node_end) inside FROM near"
            "  WHERE ((node_id BETWEEN node_start AND node_end) AND score >= 0.3)"
            "   OR (NOT (node_id BETWEEN node_start AND node_end) AND score >= 0.7)),"
            " runs AS (SELECT *, CASE WHEN node_id - lag(node_id) OVER ("
            "  PARTITION BY user_id, block_id ORDER BY node_id) > 1 THEN 1 ELSE 0 END flg FROM q),"
            " runs2 AS (SELECT *, sum(flg) OVER (PARTITION BY user_id, block_id"
            "  ORDER BY node_id ROWS UNBOUNDED PRECEDING) run FROM runs),"
            " core AS (SELECT user_id, block_id, run, min(node_id) rs, max(node_id) re"
            "  FROM runs2 GROUP BY 1, 2, 3"
            "  HAVING max(CASE WHEN inside THEN 1 ELSE 0 END) = 1)"
            " SELECT user_id, block_id, CAST(min(rs) AS INT) node_start,"
            "  CAST(max(re) AS INT) node_end FROM core GROUP BY 1, 2"
        ),
        "j4_merge_spans_gap": (
            "WITH iv AS (SELECT user_id, value cs, value+10.0 ce FROM events"
            "  WHERE event_type = 'error'),"
            " f AS (SELECT user_id, cs, ce, CASE WHEN cs - lag(ce) OVER ("
            "  PARTITION BY user_id ORDER BY cs, ce) > 50.0 THEN 1 ELSE 0 END flg FROM iv),"
            " g AS (SELECT *, sum(flg) OVER (PARTITION BY user_id ORDER BY cs, ce"
            "  ROWS UNBOUNDED PRECEDING) sess FROM f)"
            " SELECT user_id, min(cs) char_start, max(ce) char_end"
            " FROM g GROUP BY user_id, sess"
        ),
        "s4_yolo_labels": (
            "SELECT o_orderkey, printf('%d %.6f %.6f %.6f %.6f',"
            " CAST(o_orderkey % 3 AS INT),"
            " (o_orderkey % 64)/64.0, (o_custkey % 64)/64.0,"
            " (1 + o_orderkey % 32)/64.0, (1 + o_custkey % 32)/64.0) AS \"label\""
            " FROM orders"
        ),
        "s5_line_poly": (
            "SELECT o_orderkey, array_to_string(["
            " CAST(o_orderkey % 97 AS INT), CAST(o_custkey % 89 AS INT),"
            " CAST(o_orderkey % 97 + 10 AS INT), CAST(o_custkey % 89 AS INT),"
            " CAST(o_orderkey % 97 + 10 AS INT), CAST(o_custkey % 89 + 5 AS INT),"
            " CAST(o_orderkey % 97 AS INT), CAST(o_custkey % 89 + 5 AS INT)], ' ') poly"
            " FROM orders"
        ),
        "grouping_sets_report": (
            "SELECT event_type, user_id % 10 AS ubucket, count(*) AS cnt,"
            " CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sumv"
            " FROM events"
            " GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())"
        ),
        "multimodal_meta": (
            "SELECT doc_id, octet_length(encode(text)) n_bytes,"
            " sha256(text) sha256,"
            " 'application/octet-stream' sniffed_mime FROM documents"
        ),
        "multimodal_decode": (
            "SELECT doc_id,"
            " CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png'"
            "  WHEN 1 THEN 'image/jpeg' ELSE 'image/gif' END AS mime,"
            " CAST(1 + doc_id % 64 AS INTEGER) AS width,"
            " CAST(1 + doc_id % 48 AS INTEGER) AS height,"
            " 3 AS channels, TRUE AS ok FROM documents"
        ),
        "multimodal_gif_frames": (
            "SELECT doc_id,"
            " CAST(1 + doc_id % 4 AS INTEGER) AS n_frames,"
            " CAST(4 + doc_id % 13 AS INTEGER) AS width,"
            " CAST(3 + doc_id % 11 AS INTEGER) AS height,"
            " CAST(((4 + doc_id % 13) * (3 + doc_id % 11) - (doc_id % 4))"
            "   * ((doc_id % 256) + ((doc_id * 3) % 256)"
            "      + ((doc_id * 7) % 256))"
            "  + COALESCE((SELECT SUM(((doc_id + k) % 256)"
            "       + ((doc_id * 5 + k) % 256)"
            "       + ((doc_id * 11 + 3 * k) % 256))"
            "     FROM unnest(generate_series(1, CAST(doc_id % 4 AS INTEGER)))"
            "       AS t(k)), 0) AS BIGINT) AS last_sum"
            " FROM documents"
        ),
        "audio_features": (
            "WITH p AS (SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS k,"
            " CAST(120 + doc_id % 101 AS BIGINT) AS n,"
            " CAST(CASE CAST(doc_id % 3 AS INTEGER)"
            "  WHEN 0 THEN 8000 + (doc_id % 5) * 1000"
            "  WHEN 1 THEN 16000 ELSE 11025 END AS BIGINT) AS rate"
            " FROM documents),"
            " s AS (SELECT p.doc_id, p.k, p.n, p.rate, t,"
            "  CASE WHEN p.k = 2 THEN ((p.doc_id + 5*t) % 256) - 128"
            "   ELSE ((p.doc_id*31 + 7*t*t) % 2001) - 1000 END AS s0,"
            "  CASE WHEN p.k = 1 THEN ((p.doc_id*17 + 13*t) % 2001) - 1000"
            "   END AS s1"
            "  FROM p, unnest(generate_series(0, p.n - 1)) AS g(t)),"
            " z AS (SELECT doc_id, k, n, rate, s0, s1,"
            "  lag(s0) OVER (PARTITION BY doc_id ORDER BY t) AS prev FROM s)"
            " SELECT doc_id,"
            "  CAST(max(rate) AS INTEGER) AS sample_rate,"
            "  CAST(max(CASE WHEN k = 1 THEN 2 ELSE 1 END) AS INTEGER)"
            "   AS channels,"
            "  CAST(max(CASE WHEN k = 2 THEN 8 ELSE 16 END) AS INTEGER)"
            "   AS bits,"
            "  max(n) AS n_frames,"
            "  CAST((max(n) * 1000) // max(rate) AS BIGINT) AS duration_ms,"
            "  CAST(max(greatest(abs(s0), coalesce(abs(s1), 0))) AS INTEGER)"
            "   AS peak,"
            "  CAST(sum(s0*s0 + coalesce(s1*s1, 0)) AS BIGINT) AS sum_sq,"
            "  CAST(floor(sqrt(CAST(sum(s0*s0 + coalesce(s1*s1, 0)) AS BIGINT)"
            "   / (max(n) * max(CASE WHEN k = 1 THEN 2 ELSE 1 END)))"
            "   * 1000) AS BIGINT) AS rms_milli,"
            "  CAST(sum(CASE WHEN prev * s0 < 0 THEN 1 ELSE 0 END) AS BIGINT)"
            "   AS zero_crossings,"
            "  TRUE AS ok"
            " FROM z GROUP BY doc_id"
        ),
        "audio_frame_energy": (
            "WITH p AS (SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS k,"
            " CAST(120 + doc_id % 101 AS BIGINT) AS n FROM documents),"
            " s AS (SELECT p.doc_id, t,"
            "  CASE WHEN p.k = 2 THEN ((p.doc_id + 5*t) % 256) - 128"
            "   ELSE ((p.doc_id*31 + 7*t*t) % 2001) - 1000 END AS s0"
            "  FROM p, unnest(generate_series(0, p.n - 1)) AS g(t))"
            " SELECT doc_id, CAST(t // 64 AS INTEGER) AS frame_idx,"
            "  CAST(count(*) AS INTEGER) AS n,"
            "  CAST(sum(s0*s0) AS BIGINT) AS energy"
            " FROM s GROUP BY doc_id, t // 64"
        ),
        "snapshot_diff": (
            "WITH o AS (SELECT doc_id, CASE WHEN text IS NULL THEN '<null>'"
            "  ELSE md5(text) END AS h"
            "  FROM documents WHERE doc_id % 10 <> 0),"
            " n AS (SELECT doc_id, CASE WHEN CASE WHEN doc_id % 3 = 0"
            "  THEN text || ' [v2]' ELSE text END IS NULL THEN '<null>'"
            "  ELSE md5(CASE WHEN doc_id % 3 = 0"
            "  THEN text || ' [v2]' ELSE text END) END AS h"
            "  FROM documents WHERE doc_id % 10 <> 1)"
            " SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,"
            "  CASE WHEN o.h IS NULL THEN 'added'"
            "   WHEN n.h IS NULL THEN 'removed'"
            "   WHEN o.h = n.h THEN 'unchanged'"
            "   ELSE 'changed' END AS status,"
            "  o.h AS old_hash, n.h AS new_hash"
            " FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"
        ),
        "normalize_text_docs": (
            "SELECT doc_id, nfc_normalize(lower(strip_accents(nfc_normalize("
            " 'Éc' || CAST(doc_id AS VARCHAR) || 'ole ÑAÏVE ü'"
            " || CAST(doc_id % 7 AS VARCHAR)"
            " || ' ÅNGSTRÖM çĆevapčići Ωμέγα Straße'"
            ")))) AS text_norm FROM documents"
        ),
        "charset_decode": (
            "SELECT doc_id,"
            " CASE CAST(doc_id % 4 AS INTEGER)"
            "  WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16-le'"
            "  ELSE 'cp1252' END AS charset,"
            " CASE CAST(doc_id % 4 AS INTEGER)"
            "  WHEN 0 THEN 'txt' || CAST(doc_id AS VARCHAR)"
            "   || ' caf' || chr(233)"
            "  WHEN 1 THEN 'u16 ' || CAST(doc_id AS VARCHAR)"
            "  WHEN 2 THEN '<meta charset=\"windows-1252\">' || chr(8220)"
            "   || 'q' || CAST(doc_id AS VARCHAR) || chr(8221)"
            "  ELSE 'plain ' || CAST(doc_id AS VARCHAR) || ' ' || chr(233)"
            " END AS text"
            " FROM documents"
        ),
        "gopher_quality": (
            "WITH arr AS (SELECT doc_id,"
            " list_filter(string_split("
            "  regexp_replace(coalesce(text, ''), '\\r\\n?', chr(10), 'g'),"
            "  chr(10)), l -> l <> '') AS lines,"
            " list_filter(regexp_split_to_array("
            "  regexp_replace(coalesce(text, ''), '\\r\\n?', chr(10), 'g'),"
            "  '[ \\t\\n]+'), w -> w <> '') AS words"
            " FROM documents),"
            " c AS (SELECT doc_id,"
            "  len(lines) AS n_lines,"
            "  len(lines) - len(list_distinct(lines)) AS n_dup_lines,"
            "  CAST(coalesce(list_sum(list_transform(lines, l -> length(l))), 0)"
            "   AS BIGINT) AS line_chars,"
            "  CAST(coalesce(list_sum(list_transform(lines, l -> length(l))), 0)"
            "   - coalesce(list_sum(list_transform(list_distinct(lines),"
            "      l -> length(l))), 0) AS BIGINT) AS dup_line_chars,"
            "  len(list_filter(lines, l -> starts_with(l, '- ')"
            "   OR starts_with(l, '* ') OR starts_with(l, '•'))) AS n_bullet,"
            "  len(list_filter(lines, l -> ends_with(l, '...')"
            "   OR ends_with(l, '…'))) AS n_ellipsis,"
            "  len(words) AS n_words,"
            "  CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)"
            "   AS BIGINT) AS word_chars,"
            "  len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))"
            "   AS n_alpha_words,"
            "  len(list_filter(words, w -> contains(w, '#')"
            "   OR contains(w, '…'))) AS n_sym_words,"
            "  len(list_intersect(list_distinct(list_transform(words,"
            "   w -> lower(w))), ['the','be','to','of','and','that','have',"
            "   'with'])) AS n_stop_kinds"
            " FROM arr),"
            " m AS (SELECT *,"
            "  CAST(CASE WHEN n_words > 0 THEN (word_chars * 1000) // n_words"
            "   ELSE 0 END AS BIGINT) AS mean_word_len_milli,"
            "  CASE WHEN n_lines > 0 THEN n_dup_lines / n_lines"
            "   ELSE 0.0 END AS dup_line_frac,"
            "  CASE WHEN line_chars > 0 THEN dup_line_chars / line_chars"
            "   ELSE 0.0 END AS dup_line_char_frac,"
            "  CASE WHEN n_lines > 0 THEN n_bullet / n_lines"
            "   ELSE 0.0 END AS bullet_line_frac,"
            "  CASE WHEN n_lines > 0 THEN n_ellipsis / n_lines"
            "   ELSE 0.0 END AS ellipsis_line_frac,"
            "  CASE WHEN n_words > 0 THEN n_sym_words / n_words"
            "   ELSE 0.0 END AS sym_word_frac,"
            "  CASE WHEN n_words > 0 THEN n_alpha_words / n_words"
            "   ELSE 0.0 END AS alpha_word_frac"
            " FROM c)"
            " SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,"
            "  CAST(n_lines AS INTEGER) AS n_lines, mean_word_len_milli,"
            "  dup_line_frac, dup_line_char_frac, bullet_line_frac,"
            "  ellipsis_line_frac, sym_word_frac, alpha_word_frac,"
            "  CAST(n_stop_kinds AS INTEGER) AS n_stop_kinds,"
            "  (n_words >= 50 AND n_words <= 100000"
            "   AND mean_word_len_milli >= 3000"
            "   AND mean_word_len_milli <= 10000"
            "   AND (CASE WHEN n_words > 0 THEN n_sym_words / n_words"
            "    ELSE 0.0 END) < 0.1"
            "   AND (CASE WHEN n_lines > 0 THEN n_bullet / n_lines"
            "    ELSE 0.0 END) < 0.9"
            "   AND (CASE WHEN n_lines > 0 THEN n_ellipsis / n_lines"
            "    ELSE 0.0 END) < 0.3"
            "   AND (CASE WHEN n_lines > 0 THEN n_dup_lines / n_lines"
            "    ELSE 0.0 END) < 0.3"
            "   AND (CASE WHEN line_chars > 0 THEN dup_line_chars / line_chars"
            "    ELSE 0.0 END) < 0.2"
            "   AND (CASE WHEN n_words > 0 THEN n_alpha_words / n_words"
            "    ELSE 0.0 END) >= 0.8"
            "   AND n_stop_kinds >= 2) AS keep"
            " FROM m"
        ),
        "parse_sitemap": (
            "WITH d AS (SELECT doc_id AS i FROM documents WHERE doc_id < 40)"
            " SELECT 'h' || CAST(i AS VARCHAR) AS host, 'url' AS kind,"
            "  'https://h' || CAST(i AS VARCHAR) || '/p0' AS loc,"
            "  '2024-0' || CAST(1 + i % 9 AS VARCHAR) || '-15' AS lastmod,"
            "  'daily' AS changefreq, (i % 10) / 10.0 AS priority,"
            "  CAST('2024-0' || CAST(1 + i % 9 AS VARCHAR) || '-15' AS DATE)"
            "   AS lastmod_date FROM d"
            " UNION ALL SELECT 'h' || CAST(i AS VARCHAR), 'url',"
            "  'https://h' || CAST(i AS VARCHAR) || '/p1?a=1&b='"
            "   || CAST(i % 5 AS VARCHAR), NULL, NULL, NULL, NULL FROM d"
            " UNION ALL SELECT 'h' || CAST(i AS VARCHAR), 'url',"
            "  'https://h' || CAST(i AS VARCHAR) || '/p2', 'soon',"
            "  NULL, NULL, NULL FROM d"
            " UNION ALL SELECT 'h' || CAST(i AS VARCHAR), 'sitemap',"
            "  'https://h' || CAST(i AS VARCHAR) || '/more'"
            "   || CAST(i % 3 AS VARCHAR) || '.xml', NULL, NULL, NULL,"
            "  NULL FROM d"
        ),
        "parse_feed": _PARSE_FEED_ORACLE,
        "blocklist_filter": _BLOCKLIST_ORACLE,
        "badword_score": _BADWORD_ORACLE,
        "unigram_tokenize_docs": __import__(
            "comic_text_detector_spark.operators.tokenize",
            fromlist=["unigram_tokenize_sql"],
        ).unigram_tokenize_sql(),
        "wordpiece_tokenize_docs": __import__(
            "comic_text_detector_spark.operators.tokenize",
            fromlist=["wordpiece_tokenize_sql"],
        ).wordpiece_tokenize_sql(),
        "train_unigram_pieces_docs": __import__(
            "comic_text_detector_spark.operators.tokenize",
            fromlist=["train_unigram_pieces_sql"],
        ).train_unigram_pieces_sql(
            max_piece_len=4, min_count=3, vocab_size=60, n_iter=2
        ),
        "page_directives": _PAGE_DIRECTIVES_ORACLE,
        "canonical_dedup": _CANONICAL_DEDUP_ORACLE,
        "count_min_hosts": __import__(
            "comic_text_detector_spark.operators.stats",
            fromlist=["count_min_estimate_sql"],
        ).count_min_estimate_sql(
            "SELECT 'h' || (doc_id % 30)::VARCHAR AS k FROM documents",
            depth=4,
            width=64,
        ),
        "cdx_roundtrip": _CDX_ORACLE,
        "split_sentences": _SPLIT_SENTENCES_ORACLE,
        "bitext_url_pairs": _BITEXT_ORACLE,
        "zipf_report": __import__(
            "comic_text_detector_spark.operators.stats",
            fromlist=["zipf_report_sql"],
        ).zipf_report_sql(),
        "sentence_freq_dedup": _SENTENCE_DEDUP_ORACLE,
        "percent_normalize": _PERCENT_NORMALIZE_ORACLE,
        "refetch_candidates": (
            "WITH d AS (SELECT doc_id AS i FROM documents WHERE doc_id < 40)"
            " SELECT 'https://h' || CAST(i AS VARCHAR) || '/p0' AS url,"
            "  CASE WHEN i % 2 <> 0 THEN 'never_crawled'"
            "   ELSE 'modified' END AS reason"
            " FROM d WHERE i % 2 <> 0 OR (1 + i % 9) >= 5"
            " UNION ALL SELECT 'https://h' || CAST(i AS VARCHAR)"
            "  || '/p1?a=1&b=' || CAST(i % 5 AS VARCHAR), 'never_crawled'"
            "  FROM d"
            " UNION ALL SELECT 'https://h' || CAST(i AS VARCHAR) || '/p2',"
            "  'never_crawled' FROM d"
        ),
        "cap_per_host": (
            "WITH u AS (SELECT doc_id,"
            " 'https://w' || CAST(doc_id % 23 AS VARCHAR)"
            "  || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url"
            " FROM documents),"
            " h AS (SELECT doc_id, url,"
            "  regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1) AS host"
            "  FROM u),"
            " r AS (SELECT doc_id, host, CAST(row_number() OVER ("
            "  PARTITION BY host"
            "  ORDER BY md5('hostcap:' || url) ASC, url ASC) AS INT)"
            "  AS host_rank FROM h)"
            " SELECT doc_id, host, host_rank FROM r"
            " WHERE host = '' OR host_rank <= 10"
        ),
        "robots_crawl_delay": (
            "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40)"
            " SELECT 'h' || CAST(doc_id AS VARCHAR) AS host, '*' AS agent,"
            "  CAST((doc_id % 7) * 1000 + (doc_id % 10) * 100 AS BIGINT)"
            "  AS delay_milli FROM d"
            " UNION ALL"
            " SELECT 'h' || CAST(doc_id AS VARCHAR), 'slow',"
            "  CAST(10000 AS BIGINT) FROM d"
        ),
        "robots_sitemaps": (
            "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40)"
            " SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,"
            "  'https://h' || CAST(doc_id AS VARCHAR) || '/sm'"
            "   || CAST(doc_id % 4 AS VARCHAR) || '.xml' AS sitemap FROM d"
            " UNION"
            " SELECT 'h' || CAST(doc_id AS VARCHAR),"
            "  'https://h' || CAST(doc_id AS VARCHAR) || '/sm0.xml' FROM d"
        ),
        "temperature_sample": (
            "WITH c AS (SELECT lang, count(*) AS n FROM documents"
            "  GROUP BY lang),"
            " m AS (SELECT min(n) AS n_min FROM c),"
            " r AS (SELECT lang, sqrt(CAST(n_min AS BIGINT)"
            "  / CAST(n AS BIGINT)) AS rate FROM c, m)"
            " SELECT d.doc_id, d.lang, r.rate"
            " FROM documents d JOIN r USING (lang)"
            " WHERE ('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)),"
            "  1, 8))::BIGINT / 4294967296.0 < r.rate"
        ),
        "bloom_new_urls": (
            "WITH b AS (SELECT DISTINCT 'k' || CAST(doc_id % 400 AS VARCHAR)"
            "  AS url FROM documents WHERE doc_id % 5 < 4),"
            " i AS (SELECT DISTINCT 'k' || CAST(doc_id % 600 AS VARCHAR)"
            "  AS url FROM documents)"
            " SELECT url FROM i WHERE url NOT IN (SELECT url FROM b)"
        ),
        "chunk_docs": (
            "WITH w AS (SELECT doc_id,"
            " list_filter(string_split(coalesce(text, ''), ' '),"
            "  x -> x <> '') AS words FROM documents),"
            " n AS (SELECT doc_id, words, len(words) AS n FROM w"
            "  WHERE len(words) > 0),"
            " k AS (SELECT doc_id, words, unnest(generate_series(0,"
            "  CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END))"
            "  AS chunk_id FROM n)"
            " SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,"
            "  CAST(chunk_id * 24 AS INTEGER) AS start_word,"
            "  CAST(len(list_slice(words, chunk_id * 24 + 1,"
            "   chunk_id * 24 + 32)) AS INTEGER) AS n_tokens,"
            "  array_to_string(list_slice(words, chunk_id * 24 + 1,"
            "   chunk_id * 24 + 32), ' ') AS chunk_text"
            " FROM k"
        ),
        "extract_blocks": (
            "SELECT doc_id, 0 AS block_id, text AS block_text, CASE"
            " WHEN len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','is'], w)))"
            "  > len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w)))"
            "  AND len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','is'], w))) > 0"
            "  THEN 'en'"
            " WHEN len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w)))"
            "  > len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','is'], w)))"
            "  AND len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w))) > 0"
            "  THEN 'es' ELSE 'unknown' END AS block_lang"
            " FROM documents"
        ),
        "pipeline_e2e": (
            "WITH s AS (SELECT doc_id, text,"
            " CASE"
            "  WHEN len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','is'], w)))"
            "   > len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w)))"
            "   AND len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','is'], w))) > 0"
            "   THEN 'en'"
            "  WHEN len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w)))"
            "   > len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','is'], w)))"
            "   AND len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','y','es'], w))) > 0"
            "   THEN 'es' ELSE 'unknown' END lang_pred,"
            " least(1.0, len(string_split(text,' ')) / 100.0)"
            "  * (1.0 - CAST(len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','is'], w))) AS DOUBLE) / len(string_split(text,' ')))"
            "  * (CASE WHEN CAST(length(replace(text,' ','')) AS DOUBLE)/len(string_split(text,' ')) >= 2.0"
            "     AND CAST(length(replace(text,' ','')) AS DOUBLE)/len(string_split(text,' ')) <= 12.0"
            "     THEN 1.0 ELSE 0.5 END) quality,"
            " CAST(len(string_split(text,' ')) AS BIGINT) n_tokens,"
            " md5(text) content_hash"
            " FROM documents)"
            " SELECT lang_pred, count(*) n_docs,"
            "  count(DISTINCT content_hash) n_distinct,"
            "  CAST(sum(n_tokens) AS BIGINT) total_tokens"
            " FROM s WHERE quality > 0.2 AND n_tokens >= 10"
            " GROUP BY lang_pred"
        ),
        "quality_filters": (
            "WITH s AS (SELECT doc_id, text, len(string_split(text,' ')) nw,"
            " length(regexp_replace(text, '[^A-Za-z]', '', 'g')) ac,"
            " length(regexp_replace(text, '[^0-9]', '', 'g')) dc,"
            " length(text) total,"
            " list_max(list_transform(string_split(text,' '), w -> length(w))) mw"
            " FROM documents)"
            " SELECT doc_id, nw < 20 too_short,"
            "  CAST(ac AS DOUBLE)/total < 0.6 low_alpha,"
            "  CAST(dc AS DOUBLE)/total > 0.2 high_digit,"
            "  mw > 30 long_word,"
            "  NOT (nw < 20) AND NOT (CAST(ac AS DOUBLE)/total < 0.6)"
            "   AND NOT (CAST(dc AS DOUBLE)/total > 0.2) AND NOT (mw > 30) keep"
            " FROM s"
        ),
        "vocab_stats": (
            "SELECT lang, count(*) n_tokens, count(DISTINCT w) vocab,"
            " min(w) first_word, CAST(max(length(w)) AS INT) max_word_len"
            " FROM (SELECT lang, unnest(string_split(text,' ')) w FROM documents)"
            " GROUP BY lang"
        ),
        "x_set_ops": (
            'SELECT DISTINCT user_id, "day" FROM ('
            ' SELECT user_id, CAST(ts AS DATE) "day" FROM events WHERE event_type = \'click\''
            " INTERSECT"
            ' SELECT user_id, CAST(ts AS DATE) "day" FROM events WHERE event_type = \'view\''
            " EXCEPT"
            ' SELECT user_id, CAST(ts AS DATE) "day" FROM events WHERE event_type = \'error\')'
        ),
        "a_percentiles": (
            "SELECT event_type, quantile_cont(value, 0.5) p50,"
            " quantile_cont(value, 0.9) p90, count(*) n"
            " FROM events GROUP BY event_type"
        ),
        "cc_clusters": (
            "WITH RECURSIVE pairs AS ("
            " SELECT DISTINCT event_id % 200 a, (event_id * 7 + 3) % 200 b"
            " FROM events WHERE event_id % 200 < (event_id * 7 + 3) % 200),"
            " edges AS (SELECT a src, b dst FROM pairs"
            "  UNION SELECT b, a FROM pairs),"
            " nodes AS (SELECT DISTINCT src id FROM edges),"
            " reach AS ("
            "  SELECT id, id comp FROM nodes"
            "  UNION"
            "  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id)"
            " SELECT id, min(comp) cluster_rep FROM reach GROUP BY id"
        ),
        "w2_order_by_distance": (
            "SELECT user_id, event_id, CAST(row_number() OVER ("
            " PARTITION BY user_id ORDER BY"
            " sqrt(value*value + (event_id % 50)*(event_id % 50)) ASC,"
            " event_id ASC) AS INT) line_rank"
            " FROM events"
        ),
        "w1_reading_order_rtl": (
            "WITH b AS (SELECT o_orderkey, o_custkey % 20 page_id,"
            " CAST(o_orderkey % 97 AS DOUBLE) x1, CAST(o_custkey % 89 AS DOUBLE) y1"
            " FROM orders),"
            " w AS (SELECT *,"
            "  CAST(least(2, CAST(floor(y1*3/128.0) AS INT))*4"
            "   + (3 - least(3, CAST(floor(x1*4/128.0) AS INT))) AS DOUBLE)"
            "   * 16384.0 + 1.2*(128.0 - x1) + y1 AS weight FROM b)"
            " SELECT page_id, o_orderkey, CAST(row_number() OVER ("
            "  PARTITION BY page_id ORDER BY weight ASC, o_orderkey ASC) AS INT) ro_rank"
            " FROM w"
        ),
        "f22_json_roundtrip": (
            "SELECT o_orderkey, o_orderpriority language_in,"
            " CAST(o_orderkey % 100 AS INT) block_id,"
            " o_orderpriority language_out,"
            " o_totalprice > 100000 vertical"
            " FROM orders"
        ),
        "j_semi_anti": (
            "WITH w AS (SELECT c_nationkey, count(*) n_with FROM customer c"
            "  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
            "  GROUP BY c_nationkey),"
            " wo AS (SELECT c_nationkey, count(*) n_without FROM customer c"
            "  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
            "  GROUP BY c_nationkey)"
            " SELECT coalesce(w.c_nationkey, wo.c_nationkey) c_nationkey,"
            "  coalesce(n_with, 0) n_with, coalesce(n_without, 0) n_without"
            " FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey"
        ),
        "w_range_rolling": (
            "SELECT user_id, event_id,"
            " count(*) OVER w AS n_trailing_hour,"
            " CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)"
            "  AS sum_trailing_hour"
            " FROM (SELECT user_id, event_id, epoch_us(ts) ts_us, value FROM events)"
            " WINDOW w AS (PARTITION BY user_id ORDER BY ts_us"
            "  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
        ),
        "u2_density_spans": (
            "WITH nodes AS (SELECT user_id, CAST(row_number() OVER ("
            "  PARTITION BY user_id ORDER BY ts, event_id) AS INT) node_id,"
            "  value/500.0 score FROM events),"
            " kept AS (SELECT * FROM nodes WHERE score > 0.3),"
            " f AS (SELECT *, CASE WHEN node_id - lag(node_id) OVER ("
            "  PARTITION BY user_id ORDER BY node_id) > 2 THEN 1 ELSE 0 END flg FROM kept),"
            " g AS (SELECT *, CAST(sum(flg) OVER (PARTITION BY user_id ORDER BY node_id"
            "  ROWS UNBOUNDED PRECEDING) AS INT) span_id FROM f)"
            " SELECT user_id, span_id, min(node_id) node_start, max(node_id) node_end,"
            "  count(*) n_nodes,"
            "  CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*) avg_score"
            " FROM g GROUP BY user_id, span_id"
        ),
        "a2_masked_mean": (
            "SELECT user_id,"
            " CAST(sum(CASE WHEN event_type = 'purchase'"
            "  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)"
            "  / nullif(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 0)"
            "  AS masked_mean,"
            " CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)"
            "  AS n_masked"
            " FROM events GROUP BY user_id"
        ),
        "a7_orientation": (
            "SELECT user_id,"
            " sum(abs(CAST(event_id % 7 AS DECIMAL(18,2))))"
            "  > sum(abs(CAST(value AS DECIMAL(18,2)))) * 2 AS vertical,"
            " CAST(sum(abs(CAST(value AS DECIMAL(18,2)))) AS DOUBLE) AS sum_dx"
            " FROM events GROUP BY user_id"
        ),
        "f11_hex2rgb": (
            "SELECT o_orderkey, ["
            " (o_orderkey * 2654435761 % 16777216) >> 16 & 255,"
            " (o_orderkey * 2654435761 % 16777216) >> 8 & 255,"
            " (o_orderkey * 2654435761 % 16777216) & 255] rgb"
            " FROM orders"
        ),
        "f15_alignment": (
            "WITH s AS (SELECT user_id, stddev_samp(value) sl,"
            " stddev_samp(value + CAST(event_id % 5 AS DOUBLE)) sc"
            " FROM events GROUP BY user_id)"
            " SELECT user_id, CASE WHEN sl <= sc THEN 'left' ELSE 'center' END alignment"
            " FROM s"
        ),
        "s11_parse_ann": (
            "SELECT o_orderkey, ["
            " [CAST(o_orderkey % 97 AS DOUBLE)/128.0, CAST(o_custkey % 89 AS DOUBLE)/128.0],"
            " [CAST(o_orderkey % 97 + 10 AS DOUBLE)/128.0, CAST(o_custkey % 89 AS DOUBLE)/128.0],"
            " [CAST(o_orderkey % 97 + 10 AS DOUBLE)/128.0, CAST(o_custkey % 89 + 5 AS DOUBLE)/128.0],"
            " [CAST(o_orderkey % 97 AS DOUBLE)/128.0, CAST(o_custkey % 89 + 5 AS DOUBLE)/128.0]] pts"
            " FROM orders"
        ),
        "asof_join_events": (
            "WITH clicks AS (SELECT user_id, event_id click_id, value cv"
            "  FROM events WHERE event_type = 'click'),"
            " views AS (SELECT user_id, event_id view_id,"
            "  value + event_id / 1e12 vv FROM events WHERE event_type = 'view')"
            " SELECT c.user_id, c.click_id, v.view_id AS right_view_id"
            " FROM clicks c ASOF LEFT JOIN views v"
            "  ON c.user_id = v.user_id AND c.cv >= v.vv"
        ),
        "tpch_q3": (
            "WITH agg AS (SELECT l_orderkey, o_orderdate,"
            "  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) revenue,"
            "  count(*) n_items"
            "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            "  JOIN customer ON o_custkey = c_custkey"
            "  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-01-01'"
            "  GROUP BY l_orderkey, o_orderdate)"
            " SELECT l_orderkey, o_orderdate, revenue, n_items, CAST(rk AS INT) rk"
            " FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC,"
            "  l_orderkey ASC) rk FROM agg) WHERE rk <= 10"
        ),
        "tpch_q5ish": (
            "SELECT r_name, n_name,"
            " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) revenue,"
            " count(*) n_items"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY r_name, n_name"
        ),
        "ann_cosine_topk": (
            "WITH q AS (SELECT vec_id query_id, embedding qv FROM embeddings WHERE vec_id < 10),"
            " scored AS (SELECT q.query_id, e.vec_id neighbor_id,"
            "  list_cosine_similarity(q.qv, e.embedding) cos"
            "  FROM embeddings e, q WHERE e.vec_id <> q.query_id),"
            " r AS (SELECT query_id, neighbor_id, row_number() OVER ("
            "  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) rank FROM scored)"
            " SELECT query_id, CAST(rank AS INT) rank, neighbor_id FROM r WHERE rank <= 5"
        ),
        "page_meta": _PAGE_META_ORACLE,
        "extract_tables": _EXTRACT_TABLES_ORACLE,
        "fix_mojibake": _FIX_MOJIBAKE_ORACLE,
        "extract_jsonld": _EXTRACT_JSONLD_ORACLE,
        "http_response_meta": _HTTP_META_ORACLE,
        "resolve_redirects_chains": _RESOLVE_REDIRECTS_ORACLE,
        "decode_bodies_docs": _DECODE_BODIES_ORACLE,
        "bloom_frontier": _BLOOM_FRONTIER_ORACLE,
        "recrawl_schedule": _RECRAWL_ORACLE,
        "image_dhash": _IMAGE_DHASH_ORACLE,
        "image_neardup_pairs": _IMAGE_NEARDUP_ORACLE,
        "detect_traps": _DETECT_TRAPS_ORACLE,
        "soft404_signals": _SOFT404_ORACLE,
        "extract_hreflang": _HREFLANG_ORACLE,
        "doc_keywords": _DOC_KEYWORDS_ORACLE,
        "readability_docs": _READABILITY_ORACLE,
        "extract_headings": _EXTRACT_HEADINGS_ORACLE,
        "registered_domains": _REGISTERED_DOMAINS_ORACLE,
        "pair_prf_eval": _PAIR_PRF_ORACLE,
        "stitch_pagination": _STITCH_PAGINATION_ORACLE,
        "bag_dedup_groups": _BAG_DEDUP_ORACLE,
        "release_manifest": _RELEASE_MANIFEST_ORACLE,
        "recency_blend": _RECENCY_BLEND_ORACLE,
        "cooccur_pmi": _COOCCUR_PMI_ORACLE,
        "host_boilerplate": _HOST_BOILERPLATE_ORACLE,
        "best_representatives": _BEST_REPS_ORACLE,
        "term_dict": _TERM_DICT_ORACLE,
        "vocab_drift": _VOCAB_DRIFT_ORACLE,
        "char_entropy_docs": _CHAR_ENTROPY_ORACLE,
        "token_entropy_docs": _TOKEN_ENTROPY_ORACLE,
        "diversify_topk": _DIVERSIFY_ORACLE,
        "containment_pairs": _CONTAINMENT_ORACLE,
        "snippet_window": _SNIPPET_WINDOW_ORACLE,
        "lpa_communities": _lpa_sql(_LPA_EDGES_SQL, 3),
        "bm25_anchors": _BM25_ANCHORS_ORACLE,
        "score_shards": _SCORE_SHARDS_ORACLE,
        "token_prf_eval": _TOKEN_PRF_ORACLE,
        "fuzzy_title_pairs": _FUZZY_TITLE_PAIRS_ORACLE,
        "markdown_fences": _MARKDOWN_FENCES_ORACLE,
        "markdown_outline": _MARKDOWN_OUTLINE_ORACLE,
        "markdown_links": _MARKDOWN_LINKS_ORACLE,
        "markdown_text": _MARKDOWN_TEXT_ORACLE,
        "code_lang": _CODE_LANG_ORACLE,
        "section_chunks": _SECTION_CHUNKS_ORACLE,
        "c4_filter_docs": _c4_filter_oracle(),
        "script_profile_docs": _script_profile_oracle(),
        "train_order_shards": __import__(
            "comic_text_detector_spark.operators.curation",
            fromlist=["train_order_shards_sql"],
        ).train_order_shards_sql(),
        "train_topic_softmax": _train_topic_oracle(),
        "topic_classify_docs": __import__(
            "comic_text_detector_spark.operators.topic",
            fromlist=["topic_scores_sql"],
        ).topic_scores_sql(_topic_demo_weights(), n_classes=3,
                           n_buckets=1 << 12),
        # the sampled-frame luma sums recomputed from the Y4M fixture
        # arithmetic: frame k of doc d is the constant (k*7+31)&255 over
        # a (4+d%13) x (3+d%11) luma plane; every 2nd frame is kept
        "video_frame_sample": (
            "SELECT d.doc_id, CAST(k AS INTEGER) AS frame_idx,"
            " CAST(4 + d.doc_id % 13 AS INTEGER) AS width,"
            " CAST(3 + d.doc_id % 11 AS INTEGER) AS height,"
            " CAST((4 + d.doc_id % 13) * (3 + d.doc_id % 11)"
            "   * ((k * 7 + 31) % 256) AS BIGINT) AS luma_sum"
            " FROM documents d,"
            " unnest(generate_series(0, CAST(d.doc_id % 7 AS BIGINT)))"
            "  AS t(k)"
            " WHERE k % 2 = 0"
        ),
        # host extraction + md5-uniform + cumulative CASE replayed; the
        # 0.75/0.125/0.125 bounds are exact binary fractions so the
        # float literals agree bit-for-bit across engines
        "split_by_host": (
            "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 29 = 0"
            "  THEN '/p/' || doc_id::VARCHAR"
            "  ELSE 'https://w' || (doc_id % 97)::VARCHAR"
            "   || '.example.org/p/' || doc_id::VARCHAR END AS url"
            "  FROM documents),"
            " h AS (SELECT doc_id, url,"
            "  regexp_replace(lower(regexp_extract(url,"
            "   '^[a-zA-Z]+://([^/?#]+)', 1)), ':\\d+$', '') AS host"
            "  FROM d),"
            " u AS (SELECT *, ('0x' || substr(md5('split:' || host), 1, 8))"
            "  ::BIGINT / 4294967296.0 AS uu FROM h)"
            " SELECT doc_id, url, host,"
            " CASE WHEN host = '' THEN NULL"
            "  WHEN uu < 0.75 THEN 'train'"
            "  WHEN uu < 0.875 THEN 'val'"
            "  WHEN uu < 1.0 THEN 'test' END AS split FROM u"
        ),
        # largest-remainder apportionment replayed in exact integers:
        # quota = budget*ppm, floor + remainder-ranked bonus, clamp
        "mixture_allocate": (
            "WITH counts AS (SELECT lang AS g,"
            "  CAST(SUM(n_chars) AS BIGINT) AS available"
            "  FROM documents GROUP BY lang),"
            " w AS (SELECT * FROM (VALUES ('de', 150000), ('en', 500000),"
            "  ('es', 150000), ('fr', 100000), ('xx', 50000),"
            "  ('zh', 50000)) AS t(g, weight_ppm)),"
            " j AS (SELECT w.g, COALESCE(c.available, 0) AS available,"
            "  CAST(w.weight_ppm AS BIGINT) AS weight_ppm,"
            "  CAST(100003 AS BIGINT) * w.weight_ppm AS quota"
            "  FROM w LEFT JOIN counts c ON w.g = c.g),"
            " b AS (SELECT *, quota // 1000000 AS base,"
            "  quota % 1000000 AS rem FROM j),"
            " r AS (SELECT *, row_number() OVER"
            "   (ORDER BY rem DESC, g ASC) AS rk,"
            "  SUM(base) OVER () AS sb FROM b),"
            " a AS (SELECT *, base + CASE WHEN rk <= 100003 - sb"
            "   THEN 1 ELSE 0 END AS alloc FROM r)"
            " SELECT g AS lang, available, weight_ppm,"
            " CAST(alloc AS BIGINT) AS alloc,"
            " CAST(LEAST(alloc, available) AS BIGINT) AS granted,"
            " CAST(alloc - LEAST(alloc, available) AS BIGINT) AS shortfall"
            " FROM a"
        ),
        # proportional-anchor alignment replayed: prefix sums per side,
        # the exact-integer midpoint-interval join test, milli ratio
        "align_bitext": (
            "WITH a AS (SELECT d.doc_id, CAST(k AS INTEGER) AS a_idx,"
            "  CAST(1 + (d.doc_id + 3 * k) % 9 AS BIGINT) AS len_a"
            "  FROM documents d, unnest(generate_series(0,"
            "   CAST(1 + d.doc_id % 4 AS BIGINT))) t(k)),"
            " a2 AS (SELECT doc_id, a_idx, len_a,"
            "  SUM(len_a) OVER (PARTITION BY doc_id ORDER BY a_idx)"
            "   AS cum_a,"
            "  SUM(len_a) OVER (PARTITION BY doc_id) AS tot_a FROM a),"
            " b AS (SELECT d.doc_id, CAST(k AS INTEGER) AS b_idx,"
            "  CAST(1 + (2 * d.doc_id + 5 * k) % 9 AS BIGINT) AS len_b"
            "  FROM documents d, unnest(generate_series(0,"
            "   CAST(1 + (d.doc_id + 1) % 4 AS BIGINT))) t(k)),"
            " b2 AS (SELECT doc_id, b_idx, len_b,"
            "  SUM(len_b) OVER (PARTITION BY doc_id ORDER BY b_idx)"
            "   AS cum_b,"
            "  SUM(len_b) OVER (PARTITION BY doc_id) AS tot_b FROM b)"
            " SELECT CAST(a2.doc_id AS VARCHAR) AS bitext_key,"
            "  a_idx, b_idx, len_a, len_b,"
            "  CAST(LEAST(len_a, len_b) * 1000 // GREATEST(len_a, len_b)"
            "   AS BIGINT) AS len_milli_ratio"
            " FROM a2 JOIN b2 ON a2.doc_id = b2.doc_id"
            " WHERE 2 * tot_a * (cum_b - len_b)"
            "   <= (2 * cum_a - len_a) * tot_b"
            "  AND (2 * cum_a - len_a) * tot_b < 2 * tot_a * cum_b"
        ),
        # milli-quantized empirical-Bayes shrinkage, integers throughout
        "host_quality_shrunk": (
            "WITH d AS (SELECT 'w' || (doc_id % 23)::VARCHAR AS host,"
            "  CAST(n_chars AS BIGINT) AS score FROM documents),"
            " g AS (SELECT 1000 * SUM(score) // COUNT(*) AS g_milli"
            "  FROM d),"
            " p AS (SELECT host, COUNT(*)::BIGINT AS n_docs,"
            "  SUM(score) AS s FROM d GROUP BY host)"
            " SELECT host, n_docs,"
            "  CAST(1000 * s // n_docs AS BIGINT) AS mean_milli,"
            "  CAST((1000 * s + 20 * g.g_milli) // (n_docs + 20)"
            "   AS BIGINT) AS shrunk_milli"
            " FROM p, g"
        ),
        "postings_compress": __import__(
            "comic_text_detector_spark.operators.retrieval",
            fromlist=["postings_blocks_sql"],
        ).postings_blocks_sql(block=4),
        # the merged index must match a FULL REBUILD's length ladder
        # over the unioned two-generation corpus
        "postings_merge": __import__(
            "comic_text_detector_spark.operators.retrieval",
            fromlist=["postings_blocks_sql"],
        ).postings_blocks_sql(
            block=4,
            source=(
                f"(SELECT doc_id, {_MERGE_OLD_TEXT_SQL} AS text"
                " FROM documents UNION ALL"
                f" SELECT 1000000000 + doc_id, {_MERGE_NEW_TEXT_SQL}"
                " FROM documents)"
            ),
        ),
        # served off the compressed blocks, scored by the shared tail:
        # the plain BM25 oracle must match bit-for-bit
        "bm25_compressed": __import__(
            "comic_text_detector_spark.operators.retrieval",
            fromlist=["bm25_sql"],
        ).bm25_sql(_BM25_TERMS),
    }
