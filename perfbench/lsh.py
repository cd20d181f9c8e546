"""Minhash band signatures computed in plain Python, so the dedup input
generator can draw near-duplicate copies the LSH stage is able to find.

The engine's minhash (``operators.dedup.minhash_signatures``) permutes a
31-bit xxhash64 of each distinct word 3-shingle with h -> (a*h + b) mod
2**61-1 and small odd ``a``; with no wrap-around every permutation keeps
the same argmin, so a copy whose edit touches that one shingle shares no
band with its original. Planted near copies are therefore redrawn until
they share a band, which keeps the workload's truth reachable by the job.
The constants below are copied from the engine, not imported, so the
inputs stay the same when the engine's hashing changes.
"""

from __future__ import annotations

import struct

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_SEED = 42  # Spark's xxhash64 seed

_MERSENNE = (1 << 61) - 1
NUM_HASHES = 64
BANDS = 16
_A = np.array([2 * i + 1 for i in range(NUM_HASHES)], dtype=np.int64)
_B = np.array(
    [
        ((0x9E3779B97F4A7C15 + i * 0x2545F4914F6CDD1D) & _MERSENNE) % _MERSENNE
        for i in range(NUM_HASHES)
    ],
    dtype=np.int64,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = _SEED) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit integer."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = (((h ^ _round(0, a)) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _round(0, k), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ ((k * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def band_keys(text: str) -> list[tuple[int, ...]]:
    """The 16 bands of 4 minhash values of ``text``'s distinct word
    3-shingles (texts of fewer than 3 words have none)."""
    w = text.split(" ")
    shingles = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    if not shingles:
        return []
    h = np.array(
        [xxh64(s.encode()) & ((1 << 31) - 1) for s in shingles], dtype=np.int64
    )
    sig = ((h[:, None] * _A[None, :] + _B[None, :]) % _MERSENNE).min(axis=0)
    rows = NUM_HASHES // BANDS
    return [tuple(sig[b * rows:(b + 1) * rows].tolist()) for b in range(BANDS)]


def share_band(a: list[tuple[int, ...]], b: list[tuple[int, ...]]) -> bool:
    return any(x == y for x, y in zip(a, b))
