"""The flagship query: documents(url, warc_ts, html, ...) → extracted(url, text, spans).

Two physically different plans compute the SAME function (a pytest asserts
equality):

1. ``extract_fused`` — ONE ``mapInArrow`` stage per partition: decode →
   tokenize → score both heads → threshold → gap-group → merge → recover →
   assemble. This is the 100 TB hot path: html bytes are parsed exactly once,
   nothing pixel/node-granular is ever shuffled, and the only exchange in the
   whole job is the explicit url-hash repartition (north_rule). It mirrors
   the reference's fused three-head forward pass (basemodel.py:240-244 —
   one backbone pass feeds every head).

2. ``extract_relational`` — the same semantics decomposed into DataFrame
   operators over an exploded ``nodes`` table (SURVEY.md §2: P5 threshold,
   A1 block aggregate, J3 recovery anti-join, W3 lag+running-sum gap
   sessionization, J4 merge-by-gap, F10 ordered assembly), so every stage is
   DuckDB-oracle-checkable.

Scoring model (the two-head analog):
  * Head 1 — block classifier (det head, reference models/yolov5/yolo.py:23-44
    reduced by conf thresh inference.py:120): per candidate block (nearest
    block-level container), conf = (1 - link_density) * min(1, chars/40);
    keep when conf > CONF_THRES = 0.4. Structural boilerplate
    (nav/header/footer/aside/...) is class-negative: conf = 0.
  * Head 2 — char-density map (seg head, thresholded at 0.3 like
    utils/db_utils.py:71-72): node density = min(1, chars/RECOVER_MIN_CHARS);
    a non-link, non-boiler node whose block was rejected is recovered when
    its density > MASK_THRES-scaled gate — the refine_undetected_mask analog
    (utils/textmask.py:135-156).
  * Grouping — kept nodes sessionize on char gaps: a new block starts when
    gap > max(MIN_GAP, 2.0 * mean kept-node extent) (the split_textblk rule
    ``distance > 2*font_size``, utils/textblock.py:403); small gaps merge
    adjacent blocks (try_merge_textline analog, utils/textblock.py:344-388).
  * Assembly — ``' '.join(node_texts).strip()`` exactly
    (utils/textblock.py:196-199). Byte-identical target per url.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.html import Node, tokenize
from ..schemas import EXTRACTED_SCHEMA, NODES_SCHEMA

# Thresholds (named for their reference counterparts).
CONF_THRES = 0.4  # block-classifier keep threshold (inference.py:120)
MASK_THRES = 0.3  # density threshold (utils/db_utils.py:33)
MIN_BLOCK_CHARS = 40  # chars for a block to reach full confidence
RECOVER_MIN_CHARS = 80  # density-head scale: node extent for full density
MIN_GAP = 40  # floor for the split tolerance
GAP_FACTOR = 2.0  # split when gap > 2 x mean extent (textblock.py:403)


# ---------------------------------------------------------------------------
# Pure per-document kernel (shared by both plans' UDF stage)
# ---------------------------------------------------------------------------


def _score_blocks(nodes: list[Node]) -> dict[int, float]:
    """Head 1: per candidate block, conf = (1 - link_density) * min(1, chars/40).

    Boiler nodes never contribute; an all-boiler block scores 0.
    """
    total: dict[int, int] = {}
    link: dict[int, int] = {}
    for nd in nodes:
        if nd.is_boiler:
            continue
        c = len(nd.text)
        total[nd.block_key] = total.get(nd.block_key, 0) + c
        link[nd.block_key] = link.get(nd.block_key, 0) + (c if nd.is_link else 0)
    conf: dict[int, float] = {}
    for bk, tot in total.items():
        ld = link.get(bk, 0) / tot
        conf[bk] = (1.0 - ld) * min(1.0, tot / MIN_BLOCK_CHARS)
    return conf


def _node_density(nd: Node) -> float:
    """Head 2: char-density score of a single node in [0, 1]."""
    return min(1.0, len(nd.text) / RECOVER_MIN_CHARS)


def _keep_nodes(nodes: list[Node]) -> list[Node]:
    """Threshold both heads: classifier-kept blocks + density-recovered nodes."""
    conf = _score_blocks(nodes)
    kept: list[Node] = []
    for nd in nodes:
        if nd.is_boiler:
            continue
        if conf.get(nd.block_key, 0.0) > CONF_THRES:
            kept.append(nd)
        elif not nd.is_link and _node_density(nd) >= 1.0 - MASK_THRES:
            # refine_undetected_mask analog: long dense node in a rejected
            # (link-heavy / short) block is recovered.
            kept.append(nd)
    return kept


def _group_spans(kept: list[Node]) -> list[tuple[int, int, int]]:
    """W3 gap sessionization + J4 merge over kept nodes (already id-ordered).

    Returns spans ``(block_id, char_start, char_end)`` in EXTRACTED-text
    coordinates (offsets into the ``' '.join`` of kept node texts).
    """
    if not kept:
        return []
    mean_extent = sum(len(nd.text) for nd in kept) / len(kept)
    tol = max(float(MIN_GAP), GAP_FACTOR * mean_extent)
    spans: list[tuple[int, int, int]] = []
    block_id = 0
    out_pos = 0
    blk_start = 0
    prev_end_src = kept[0].char_end
    blk_end = len(kept[0].text)
    out_pos = len(kept[0].text)
    for nd in kept[1:]:
        gap = nd.char_start - prev_end_src
        start_out = out_pos + 1
        end_out = start_out + len(nd.text)
        if gap > tol:
            spans.append((block_id, blk_start, blk_end))
            block_id += 1
            blk_start = start_out
        blk_end = end_out
        out_pos = end_out
        prev_end_src = nd.char_end
    spans.append((block_id, blk_start, blk_end))
    return spans


def extract_document(
    html_bytes: bytes | str | None,
) -> tuple[str, list[tuple[int, int, int]]]:
    """Full per-document kernel: bytes (or pre-decoded str) → (text, spans)."""
    kept = _keep_nodes(tokenize(html_bytes))
    text = " ".join(nd.text for nd in kept).strip()
    return text, _group_spans(kept)


# ---------------------------------------------------------------------------
# Plan 1: fused mapInArrow (the hot path)
# ---------------------------------------------------------------------------

_SPAN_PA = pa.list_(
    pa.struct(
        [
            pa.field("block_id", pa.int32(), nullable=False),
            pa.field("char_start", pa.int32(), nullable=False),
            pa.field("char_end", pa.int32(), nullable=False),
        ]
    )
)


# Byte-bounded slicing of oversized input batches: a batch whose html
# column exceeds this is processed and EMITTED slice-wise (mapInArrow
# accepts any number of output batches), so peak kernel memory is
# ~2x slice bytes instead of ~2x batch bytes — a 2048-row batch with
# outlier 100 MB pages would otherwise hold every row's Python bytes plus
# every output at once. Batches under the target (the normal case at the
# production 512 / bench 2048 row settings) take the single-slice path,
# identical to before.
_SLICE_TARGET_BYTES = 8 << 20

# output columns of the kernel; the last three only with lineage
_OUT_NAMES = ["url", "text", "spans", "partition_id", "in_bytes", "proc_us"]

# int64 offsets for large_binary/large_string (the session default via
# useLargeVarTypes), int32 for the plain variants
_OFFSET_CODE = {
    pa.large_binary(): "q",
    pa.large_string(): "q",
    pa.binary(): "i",
    pa.string(): "i",
}


def _decode_html(arr: pa.Array) -> list[str | None]:
    """utf-8 (errors='replace') decode of a binary Arrow array, straight
    from the record-batch buffers: one str per row with no intermediate
    bytes materialization (``to_pylist`` copies each cell into a bytes
    object first — measured ~1 µs/doc slower on bench-shaped pages).
    Null cells stay ``None`` (the tokenizer's one-bad-row contract)."""
    code = _OFFSET_CODE.get(arr.type)
    if code is None or arr.null_count or len(arr) == 0:
        # unknown layout / null cells / empty array (whose offsets buffer
        # may be absent): the plain per-cell path
        return [
            b if b is None or isinstance(b, str) else b.decode("utf-8", "replace")
            for b in arr.to_pylist()
        ]
    bufs = arr.buffers()
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    offs = memoryview(bufs[1]).cast(code)
    base = arr.offset
    return [
        str(data[offs[base + i]: offs[base + i + 1]], "utf-8", "replace")
        for i in range(len(arr))
    ]


def _extract_batches(
    batches: Iterator[pa.RecordBatch], lineage: bool = False
) -> Iterator[pa.RecordBatch]:
    """The extraction kernel: (url, html) batches → (url, text, spans).

    With ``lineage`` the input also carries ``partition_id`` and the output
    appends ``partition_id`` (passed through), ``in_bytes`` (each html
    cell's raw byte length; 0 for null) and ``proc_us`` (per-document
    ``extract_document`` time) — the columns the resumable runner commits
    and aggregates into its metrics table."""
    span_fields = list(_SPAN_PA.value_type)
    # every document is timed, lineage or not: two clock reads are ~0.1 us
    # against ~150 us of kernel per document, and one loop serves both
    clock = time.perf_counter_ns
    for batch in batches:
        urls = batch.column("url")
        html_arr = batch.column("html")
        n = batch.num_rows
        if n and html_arr.nbytes > _SLICE_TARGET_BYTES:
            rows_per = max(1, n * _SLICE_TARGET_BYTES // html_arr.nbytes)
        else:
            rows_per = max(n, 1)
        for off in range(0, n, rows_per):
            u = urls.slice(off, rows_per)
            html = html_arr.slice(off, rows_per)
            texts: list[str] = []
            proc_us: list[int] = []
            # spans build flat (three int columns + a ListArray offsets
            # vector) instead of one dict per span: same Arrow values,
            # ~2.5x less construction time per batch
            flat_b: list[int] = []
            flat_s: list[int] = []
            flat_e: list[int] = []
            offsets: list[int] = [0]
            n_spans = 0
            for h in _decode_html(html):
                t0 = clock()
                text, spans = extract_document(h)
                proc_us.append((clock() - t0) // 1000)
                texts.append(text)
                for b, s, e in spans:
                    flat_b.append(b)
                    flat_s.append(s)
                    flat_e.append(e)
                n_spans += len(spans)
                offsets.append(n_spans)
            spans_arr = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.StructArray.from_arrays(
                    [
                        pa.array(flat_b, type=pa.int32()),
                        pa.array(flat_s, type=pa.int32()),
                        pa.array(flat_e, type=pa.int32()),
                    ],
                    fields=span_fields,
                ),
            )
            cols = [
                u.combine_chunks() if isinstance(u, pa.ChunkedArray) else u,
                pa.array(texts, type=pa.string()),
                spans_arr,
            ]
            if lineage:
                cols += [
                    batch.column("partition_id").slice(off, rows_per),
                    pc.fill_null(pc.binary_length(html), 0).cast(pa.int64()),
                    pa.array(proc_us, type=pa.int64()),
                ]
            yield pa.RecordBatch.from_arrays(
                cols, names=_OUT_NAMES[: len(cols)]
            )


def _extract_batches_lineage(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` entry for the runner: the kernel with lineage on."""
    return _extract_batches(batches, lineage=True)


def extract_fused(documents: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """documents → extracted via ONE vectorized Arrow stage.

    The single exchange is the explicit url-hash repartition (north_rule);
    everything downstream is partition-local. Column pruning is explicit:
    only (url, html) cross the JVM→Python boundary.
    """
    docs = documents.select("url", "html")
    if num_partitions:
        docs = docs.repartition(num_partitions, F.xxhash64("url"))
    return docs.mapInArrow(_extract_batches, EXTRACTED_SCHEMA)


# ---------------------------------------------------------------------------
# Plan 2: relational decomposition over the exploded nodes table
# ---------------------------------------------------------------------------


def _nodes_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        urls = batch.column("url").to_pylist()
        htmls = _decode_html(batch.column("html"))
        rows = {name: [] for name in NODES_SCHEMA.fieldNames()}
        for url, h in zip(urls, htmls):
            for nd in tokenize(h):
                rows["url"].append(url)
                rows["node_id"].append(nd.node_id)
                rows["tag"].append(nd.tag)
                rows["depth"].append(nd.depth)
                rows["block_key"].append(nd.block_key)
                rows["is_link"].append(nd.is_link)
                rows["is_boiler"].append(nd.is_boiler)
                rows["char_start"].append(nd.char_start)
                rows["char_end"].append(nd.char_end)
                rows["text"].append(nd.text)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(rows["url"], type=pa.string()),
                pa.array(rows["node_id"], type=pa.int32()),
                pa.array(rows["tag"], type=pa.string()),
                pa.array(rows["depth"], type=pa.int32()),
                pa.array(rows["block_key"], type=pa.int32()),
                pa.array(rows["is_link"], type=pa.bool_()),
                pa.array(rows["is_boiler"], type=pa.bool_()),
                pa.array(rows["char_start"], type=pa.int32()),
                pa.array(rows["char_end"], type=pa.int32()),
                pa.array(rows["text"], type=pa.string()),
            ],
            names=NODES_SCHEMA.fieldNames(),
        )


def nodes_table(documents: DataFrame) -> DataFrame:
    """documents → exploded DOM node stream (the seg-map analog, SURVEY §1.3)."""
    return documents.select("url", "html").mapInArrow(_nodes_batches, NODES_SCHEMA)


def blocks_table(nodes: DataFrame) -> DataFrame:
    """A1-style block aggregate + Head-1 classifier conf as column exprs."""
    agg = (
        nodes.filter(~F.col("is_boiler"))
        .groupBy("url", "block_key")
        .agg(
            F.count("*").cast("int").alias("n_nodes"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(F.when(F.col("is_link"), F.length("text")).otherwise(F.lit(0))).alias(
                "link_chars"
            ),
        )
    )
    return agg.withColumn(
        "conf",
        (F.lit(1.0) - F.col("link_chars") / F.col("total_chars"))
        * F.least(F.lit(1.0), F.col("total_chars") / F.lit(MIN_BLOCK_CHARS)),
    )


def kept_nodes(nodes: DataFrame) -> DataFrame:
    """Threshold both heads relationally (P5 + J3 recovery as a join)."""
    blocks = blocks_table(nodes).select(
        "url", "block_key", "conf"
    )
    joined = nodes.filter(~F.col("is_boiler")).join(
        blocks, ["url", "block_key"], "left"
    )
    density = F.least(
        F.lit(1.0), F.length("text") / F.lit(RECOVER_MIN_CHARS)
    )
    return joined.filter(
        (F.col("conf") > F.lit(CONF_THRES))
        | ((~F.col("is_link")) & (density >= F.lit(1.0 - MASK_THRES)))
    )


def extract_relational(documents: DataFrame) -> DataFrame:
    """The W3/J4/F10 stages as pure DataFrame operators (oracle-checkable)."""
    kept = kept_nodes(nodes_table(documents))
    w_doc = Window.partitionBy("url")
    w_ord = Window.partitionBy("url").orderBy("node_id")
    tol = F.greatest(
        F.lit(float(MIN_GAP)),
        F.lit(GAP_FACTOR) * F.avg(F.length("text")).over(w_doc),
    )
    gap = F.col("char_start") - F.lag("char_end").over(w_ord)
    sess = kept.withColumn(
        "new_block", F.when(gap > tol, F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "block_id",
        F.sum("new_block")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    # Extracted-text coordinates: running offset over kept nodes.
    out_start = F.coalesce(
        F.sum(F.length("text") + F.lit(1)).over(
            w_ord.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("int")
    sess = sess.withColumn("out_start", out_start).withColumn(
        "out_end", (F.col("out_start") + F.length("text")).cast("int")
    )
    spans = (
        sess.groupBy("url", "block_id")
        .agg(
            F.min("out_start").alias("char_start"),
            F.max("out_end").alias("char_end"),
        )
        .groupBy("url")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("block_id", "char_start", "char_end"))
            ).alias("spans")
        )
    )
    text = sess.groupBy("url").agg(
        F.trim(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("node_id", "text"))),
                    lambda x: x["text"],
                ),
                " ",
            )
        ).alias("text")
    )
    empty = documents.select("url").distinct()
    return (
        empty.join(text, "url", "left")
        .join(spans, "url", "left")
        .select(
            "url",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("spans", F.array().cast(EXTRACTED_SCHEMA["spans"].dataType)).alias(
                "spans"
            ),
        )
    )
