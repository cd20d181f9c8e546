"""Perceptual image hashing — near-duplicate IMAGE detection for a
multimodal corpus, the pixel-space sibling of the text simhash leg
(``operators/dedup.py``): a 64-bit difference hash (dHash) per image,
then banded-LSH candidate pairs verified by Hamming distance.

Reference analog: the detector's downscaled letterbox input
(``utils/imgproc_utils.py:15-43``) — the same observation that a
tiny grayscale thumbnail preserves the identity-relevant structure —
here reduced all the way to 8x8 gradient signs.

Determinism contract: every step is integer arithmetic — the
299/587/114 luma weights with floor division, exact floor box-average
resampling on floor(k·W/9) boundaries, strict ``>`` gradient bits —
so the hash is bit-identical across runs/engines and a fixture with
closed-form pixels lets the DuckDB oracle predict hashes exactly.

Scale shape: hashing is map-only (Arrow kernel over the binary
column); pairing reuses ``operators/dedup.py::bucket_pairs`` (one
signature pass, star+chain capping on hot buckets), so the whole
near-dup path is the one LSH shuffle — no all-pairs anywhere.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import bucket_pairs
from .pixels import decode_image_pixels

_ROW = 8  # 8x8 comparison grid over a 9x8 cell lattice


def dhash_bytes(data: bytes | None) -> int | None:
    """64-bit dHash as a SIGNED two's-complement long (what a bigint
    column holds). None/undecodable/smaller-than-9x8 → None (refused,
    never a hash of garbage)."""
    if data is None:
        return None
    px = decode_image_pixels(bytes(data))
    if px is None:
        return None
    h, w = px.shape[0], px.shape[1]
    if w < _ROW + 1 or h < _ROW:
        return None
    g = (
        px[..., 0].astype(np.int64) * 299
        + px[..., 1].astype(np.int64) * 587
        + px[..., 2].astype(np.int64) * 114
    ) // 1000
    # exact floor box-average onto a (ROW+1) x ROW lattice: cell (x,y)
    # averages rows [floor(y*h/8), floor((y+1)*h/8)) etc. — integer
    # sums, one floor division, no float resampling anywhere.
    xs = [(x * w) // (_ROW + 1) for x in range(_ROW + 2)]
    ys = [(y * h) // _ROW for y in range(_ROW + 1)]
    cells = np.empty((_ROW, _ROW + 1), dtype=np.int64)
    for y in range(_ROW):
        for x in range(_ROW + 1):
            box = g[ys[y] : ys[y + 1], xs[x] : xs[x + 1]]
            cells[y, x] = int(box.sum()) // box.size
    bits = 0
    for y in range(_ROW):
        for x in range(_ROW):
            if cells[y, x + 1] > cells[y, x]:
                bits |= 1 << (y * _ROW + x)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def dhash_images(
    df: DataFrame, id_col: str = "media_id", media_col: str = "media"
) -> DataFrame:
    """(id, dhash) via an Arrow-batched kernel — map-only, no shuffle,
    linear in image bytes (the decode dominates; the hash is ~100 int
    ops on the 72-cell lattice)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "dhash": pd.array(
                        [dhash_bytes(m) for m in pdf[media_col]],
                        dtype="Int64",
                    ),
                }
            )

    ddl = f"{dict(df.dtypes)[id_col]}"
    return df.select(id_col, media_col).mapInPandas(
        kernel, f"{id_col} {ddl}, dhash bigint"
    )


def hamming_band(hash_col, j: int):
    """16-bit band j (0..3) of a signed 64-bit hash — arithmetic shift
    + mask gives the same field as a logical shift, in every engine."""
    return F.shiftright(hash_col, 16 * j).bitwiseAND(F.lit(0xFFFF))


def hamming_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_dist: int = 6,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, dist ≤ max_dist) via 4-band
    16-bit LSH over the 64-bit hash: any pair within Hamming distance
    ≤ 16 shares at least one exact band (pigeonhole over 4 bands at
    ≤ 4 flipped bits per band is GUARANTEED for dist ≤ 3 and
    high-probability beyond), then exact ``bit_count(xor)`` verify.

    One explode (4 rows per image) + the shared ``bucket_pairs``
    emission (star+chain capped hot buckets) + a distinct — the same
    single-shuffle family as minhash/simhash text dedup."""
    h = F.col(hash_col)
    banded = (
        df.select(F.col(id_col).alias("id"), h.alias("__h"))
        .filter(h.isNotNull())
        .select(
            "id",
            "__h",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("band"),
                        hamming_band(F.col("__h"), j).alias("key"),
                    )
                    for j in range(4)
                ])
            ).alias("b"),
        )
        .select("id", "__h", "b.band", "b.key")
    )
    pairs = bucket_pairs(
        banded,
        bucket_cols=["band", "key"],
        payload_cols=["__h"],
        max_bucket_size=max_bucket_size,
    )
    dist = F.bit_count(
        F.col("__h_a").bitwiseXOR(F.col("__h_b"))
    ).alias("dist")
    return (
        pairs.select(
            F.col("id_a").alias(f"{id_col}_a"),
            F.col("id_b").alias(f"{id_col}_b"),
            dist,
        )
        .filter(F.col("dist") <= max_dist)
        .distinct()
    )
