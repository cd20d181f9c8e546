"""Focused tests for round-6 continuation-session internals:

* ``_decode_html`` — buffer-direct utf-8 decode of Arrow binary arrays
  (layouts, nulls, empties, slices) must agree with the per-cell path;
* ``tokenize`` input polymorphism — str (pre-decoded), bytes, bytearray
  and memoryview inputs must yield identical node streams;
* the positional slow path — markup inside a quoted attribute value must
  not start a comment or rawtext construct past the tag's end;
* ``_extract_batches`` — the flat ListArray span construction must
  round-trip the kernel's span tuples exactly, and with lineage on the
  ``partition_id`` / ``in_bytes`` / ``proc_us`` columns must stay aligned
  with ``url``, also across byte-bounded slices;
* the fold-based sessionize count must equal the window formulation.
"""

import pyarrow as pa
import pytest

from comic_text_detector_spark.functions.html import tokenize
from comic_text_detector_spark.plans import extract as extract_mod
from comic_text_detector_spark.plans.extract import (
    _decode_html,
    _extract_batches,
    _extract_batches_lineage,
    extract_document,
)

DOCS = [
    b"<p>plain paragraph body with enough characters to keep around</p>",
    b"",
    None,
    "<p>pré-decoded — bytes</p>".encode(),
    b"\xff\xfe invalid utf8 \x80<p>tail</p>",
    b"<nav>boiler</nav><p>content piece one two three four five six</p>",
]


DECODED = [None if d is None else d.decode("utf-8", "replace") for d in DOCS]


@pytest.mark.parametrize(
    "pa_type", [pa.binary(), pa.large_binary(), pa.string(), pa.large_string()]
)
def test_decode_html_matches_per_cell_decode(pa_type):
    # string arrays hold the decoded text; DOCS holds a null, so the whole
    # array takes the per-cell path
    is_str = pa.types.is_string(pa_type) or pa.types.is_large_string(pa_type)
    arr = pa.array(DECODED if is_str else DOCS, type=pa_type)
    assert arr.null_count == 1
    want = DECODED
    assert _decode_html(arr) == want
    # sliced arrays carry a nonzero offset into the shared buffers
    sl = arr.slice(3, 2)
    assert _decode_html(sl) == want[3:5]
    # empty array (offsets buffer may be absent)
    assert _decode_html(pa.array([], type=pa_type)) == []
    # all-null
    assert _decode_html(pa.array([None, None], type=pa_type)) == [None, None]


def test_tokenize_input_polymorphism():
    raw = b"<div><p>alpha beta gamma delta epsilon zeta</p><P>UPPER</P></div>"
    as_bytes = tokenize(raw)
    assert tokenize(raw.decode("utf-8", "replace")) == as_bytes
    assert tokenize(bytearray(raw)) == as_bytes
    assert tokenize(memoryview(raw)) == as_bytes
    assert tokenize(None) == []


@pytest.mark.parametrize(
    "doc, want",
    [
        (
            '<p><a title="x><!--">hello world</a> more --> tail</p>',
            [("hello world", True), ("more --> tail", False)],
        ),
        (
            '<p><a title="x><script>">hello world</a> more</p>',
            [("hello world", True), ("more", False)],
        ),
        # control: the same tag with no markup inside the quoted value
        (
            '<p><a title="x>">hello world</a> more</p>',
            [("hello world", True), ("more", False)],
        ),
    ],
    ids=["comment", "rawtext", "plain"],
)
def test_tokenize_slow_path_quoted_markup_stays_in_tag(doc, want):
    assert [(n.text, n.is_link) for n in tokenize(doc)] == want


def test_extract_batches_flat_span_construction():
    urls = [f"u{i}" for i in range(len(DOCS))]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls, type=pa.string()), pa.array(DOCS, type=pa.large_binary())],
        names=["url", "html"],
    )
    out = list(_extract_batches(iter([batch])))
    rows = [r for b in out for r in b.to_pylist()]
    assert [r["url"] for r in rows] == urls
    for r, h in zip(rows, DOCS):
        text, spans = extract_document(h)
        assert r["text"] == text
        assert [
            (s["block_id"], s["char_start"], s["char_end"]) for s in r["spans"]
        ] == spans


def _lineage_rows(batches: int) -> tuple[list[pa.RecordBatch], list[dict]]:
    urls = [f"u{i}" for i in range(len(DOCS))]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(urls, type=pa.string()),
            pa.array(DOCS, type=pa.large_binary()),
            pa.array([100 + i for i in range(len(DOCS))], type=pa.int32()),
        ],
        names=["url", "html", "partition_id"],
    )
    out = list(_extract_batches_lineage(iter([batch] * batches)))
    for b in out:
        assert b.schema.names == [
            "url", "text", "spans", "partition_id", "in_bytes", "proc_us",
        ]
    return out, [r for b in out for r in b.to_pylist()]


def _assert_lineage_aligned(rows: list[dict]) -> None:
    for j, r in enumerate(rows):
        i = j % len(DOCS)
        h = DOCS[i]
        assert r["url"] == f"u{i}"
        assert r["partition_id"] == 100 + i
        # raw byte length: multi-byte utf-8 and invalid bytes count as
        # stored, a null cell as 0
        assert r["in_bytes"] == (0 if h is None else len(h))
        assert isinstance(r["proc_us"], int) and r["proc_us"] >= 0
        assert r["text"] == extract_document(h)[0]


def test_extract_batches_lineage_columns():
    out, rows = _lineage_rows(1)
    assert len(out) == 1
    assert len(rows) == len(DOCS)
    assert rows[3]["in_bytes"] > len("<p>pré-decoded — bytes</p>")  # multi-byte
    _assert_lineage_aligned(rows)


def test_extract_batches_lineage_aligned_across_slices(monkeypatch):
    # a target under one page's size slices every batch into single rows
    monkeypatch.setattr(extract_mod, "_SLICE_TARGET_BYTES", 32)
    out, rows = _lineage_rows(2)
    assert len(out) == 2 * len(DOCS)
    assert len(rows) == 2 * len(DOCS)
    _assert_lineage_aligned(rows)


def test_sessionize_fold_equals_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = []
    base = 1_700_000_000_000_000
    # user 1: one session; user 2: three sessions (two big gaps);
    # user 3: single event; user 4: tie timestamps (event_id breaks order)
    for i, off in enumerate([0, 60, 120]):
        rows.append((1, 100 + i, base + off * 1_000_000))
    for i, off in enumerate([0, 30 * 60 + 1, 2 * (30 * 60 + 1)]):
        rows.append((2, 200 + i, base + off * 1_000_000))
    rows.append((3, 300, base))
    rows.append((4, 400, base))
    rows.append((4, 401, base))
    rows.append((4, 402, base + (30 * 60 + 1) * 1_000_000))
    ev = spark.createDataFrame(
        [(u, e, t) for u, e, t in rows], "user_id long, event_id long, ts_us long"
    )

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flag = F.when(
        F.col("ts_us") - F.lag("ts_us").over(w) > 1800 * 1_000_000, 1
    ).otherwise(0)
    want = {
        (r.user_id, r.n_sessions)
        for r in ev.withColumn(
            "sid",
            F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id")
        .agg((F.max("sid") + 1).cast("bigint").alias("n_sessions"))
        .collect()
    }
    got = {
        (r.user_id, r.n_sessions)
        for r in ev.selectExpr(
            "user_id", "named_struct('ts_us', ts_us, 'event_id', event_id) as e"
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "cast(aggregate("
                " array_sort(collect_list(e)),"
                " named_struct('prev', cast(null as bigint),"
                "              'n', cast(0 as bigint)),"
                " (acc, x) -> named_struct("
                "   'prev', x.ts_us,"
                "   'n', acc.n + IF(acc.prev IS NOT NULL"
                "                   AND x.ts_us - acc.prev > 1800000000,"
                "                   1, 0)),"
                " acc -> acc.n + 1) as bigint) as n_sessions"
            )
        )
        .collect()
    }
    assert got == want
    assert dict(got)[2] == 3 and dict(got)[1] == 1 and dict(got)[4] == 2
