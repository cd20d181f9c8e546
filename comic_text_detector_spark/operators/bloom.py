"""Deterministic Bloom filter — set-membership pre-filtering without a
join against the set itself. The crawl-frontier use: "have we ever
fetched this url?" asked 10^12 times per recrawl must not shuffle the
full seen-set; a Bloom filter built once (one aggregate) and broadcast
answers it map-side, with false POSITIVES only (a 'maybe seen' can be
confirmed by the exact path; a 'definitely new' never joins at all).

Reference analog: the detector's cheap per-box confidence gate before
the expensive refine stage (``inference.py``'s threshold pass) — a
fast may-discard filter in front of exact work.

Determinism contract: the k hash functions are salted ``md5_long``
(operators/dedup.py:100 — THE portable-hash primitive), so the filter
bits, and therefore every membership answer INCLUDING false
positives, are bit-identical across engines, runs, and
partitionings — the DuckDB oracle replays the whole filter.

Representation: sparse (word, bits) rows, 63 bits per bigint word
(shifts stay in non-negative signed range in every engine). A 10^10-
key filter at 10 bits/key is ~1.5 GB dense — the sparse rows only
materialize OCCUPIED words and broadcast fine at frontier scale
(the filter for 10^8 seen urls at m=2^30 is ~130 MB of words).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_long

_WORD_BITS = 63
_MAX_M = 1 << 52  # word index must stay float64-exact for the div


def _positions(col, m_bits: int, k: int):
    """The k salted bit positions of a key: md5_long('j:'||key) % m."""
    return [
        md5_long(F.concat(F.lit(f"{j}:"), col), 15) % m_bits
        for j in range(k)
    ]


def _word_mask(idx):
    bit = idx % _WORD_BITS
    word = ((idx - bit) / _WORD_BITS).cast("long")  # exact: multiple of 63
    # 2^bit for bit <= 62: every power of two is an exact double, so
    # pow→long is bit-exact (pyspark's shiftleft wants a literal count).
    return word, F.pow(F.lit(2.0), bit.cast("double")).cast("long")


def bloom_build(
    df: DataFrame, col: str = "url", m_bits: int = 1 << 20, k: int = 3
) -> DataFrame:
    """Build the sparse filter: (word, bits) with ``bits`` the bit_or
    of every key's masks landing in that word.

    One explode (k rows per key, map-side) + ONE aggregate with
    map-side partial bit_or — the same single-shuffle shape as exact
    dedup, output bounded by min(k·n, m/63) rows."""
    if not 64 <= m_bits <= _MAX_M:
        raise ValueError(f"m_bits must be in [64, 2^52], got {m_bits}")
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in 1..16, got {k}")
    c = F.col(col)
    pairs = F.array(
        *[
            F.struct(w.alias("word"), m.alias("mask"))
            for w, m in (_word_mask(p) for p in _positions(c, m_bits, k))
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.word", "p.mask")
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_contains(
    df: DataFrame,
    bloom: DataFrame,
    col: str = "url",
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Append ``maybe_present``: true iff ALL k bits are set — false
    means DEFINITELY absent (the Bloom guarantee), true means present
    or a false positive at the configured m/k rate.

    k broadcast left joins, each checking one bit — ZERO exchanges on
    the probe side (no explode/groupBy round trip), so 10^12 probes
    stream through map-only. ``m_bits``/``k`` must match the build.

    The filter is localCheckpoint'ed here so the k broadcasts share
    ONE materialization instead of re-running the build aggregate per
    join (the graph.py::pagerank convention)."""
    bloom = bloom.localCheckpoint()
    out = df
    hit_cols = []
    for j, pos in enumerate(_positions(F.col(col), m_bits, k)):
        word, mask = _word_mask(pos)
        b = bloom.select(
            F.col("word").alias(f"__w{j}"), F.col("bits").alias(f"__b{j}")
        )
        out = out.withColumn(f"__q{j}", word).withColumn(f"__m{j}", mask)
        out = out.join(
            F.broadcast(b), out[f"__q{j}"] == b[f"__w{j}"], "left"
        )
        hit_cols.append(
            (F.col(f"__b{j}").bitwiseAND(F.col(f"__m{j}")) == F.col(f"__m{j}"))
            & F.col(f"__b{j}").isNotNull()
        )
    present = hit_cols[0]
    for h in hit_cols[1:]:
        present = present & h
    keep = [c for c in df.columns]
    return out.select(*keep, F.coalesce(present, F.lit(False)).alias(
        "maybe_present"
    ))


def bloom_new_keys(
    base: DataFrame,
    incr: DataFrame,
    key_col: str = "url",
    m_bits: int = 1 << 24,
    k: int = 4,
) -> DataFrame:
    """EXACT set of keys in ``incr`` that are absent from ``base`` — the
    incremental-crawl dedup primitive ("which of this snapshot's URLs have
    we never seen?") — with a Bloom prefilter so the expensive exact
    anti-join runs only over candidate matches.

    Plan shape: ``bloom_build`` over the base keys, then ``bloom_contains``'s
    k broadcast joins split the increment's distinct keys into
    DEFINITE-NEW (some probe bit clear; the filter has no false negatives,
    so these skip the join entirely) and CANDIDATE (all k bits set: real
    dups plus the false-positive rate). Only candidates flow into the
    exact anti-join against base, so that join's probe side shrinks from
    the whole increment to dups + ε·new.

    Output: one row per distinct new key (column ``key_col``). NULL keys
    are dropped (no meaningful identity). Correctness never depends on
    the filter: false positives merely take the slow path.
    """
    key = F.col(key_col)
    seen = base.filter(key.isNotNull()).select(key)
    probed = bloom_contains(
        incr.filter(key.isNotNull()).select(key).distinct(),
        bloom_build(seen, key_col, m_bits, k),
        key_col,
        m_bits,
        k,
    )
    definite_new = probed.filter(~F.col("maybe_present")).select(key)
    candidates = probed.filter(F.col("maybe_present")).select(key)
    confirmed_new = candidates.join(seen.distinct(), key_col, "left_anti")
    return definite_new.unionByName(confirmed_new)
