"""Real WAV (RIFF PCM) audio decode + integer-exact feature extraction.

Completes the multimodal triad (images: ``pixels.py``/``jpeg.py``/
``gif.py``; video: ``pixels.y4m_frame_stats``; audio: here). WAV is the
one audio container fully parseable with the stdlib: a RIFF chunk walk to
the ``fmt `` and ``data`` chunks, then fixed-width PCM samples. Anything
that needs a codec (MP3, AAC, FLAC) is refused — decodable-or-refused,
never wrong samples, same contract as the image codecs.

Feature arithmetic is engine-portable by construction:

* ``n_frames``, ``peak``, ``sum_sq``, ``zero_crossings`` are exact
  integers (samples are small ints; ``sum_sq`` ≤ n·32768² ≪ 2⁵³, far
  below bigint AND double-exact range at any plausible clip length).
* ``duration_ms = n_frames*1000 // sample_rate`` — integer division.
* ``rms_milli = floor(sqrt(sum_sq/n_samples) · 1000)`` — one IEEE
  division of two exact integers, one correctly-rounded sqrt, one
  multiply, one floor: bit-identical in any IEEE-754 engine, so the
  value is oracle-checkable at full precision.

Reference analog: the per-image decode-at-entry loop (reference
inference.py:28, utils/io_utils.py:42) applied to the audio modality.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

AUDIO_FEATURES_DDL = (
    "media_id string, sample_rate int, channels int, bits int, "
    "n_frames bigint, duration_ms bigint, peak int, sum_sq bigint, "
    "rms_milli bigint, zero_crossings bigint, ok boolean"
)
FRAME_ENERGY_DDL = "media_id string, frame_idx int, n int, energy bigint"

# cap against both forged headers AND legitimately huge clips: samples are
# held as int64 numpy arrays (8 bytes/sample — never per-sample Python
# ints), so a clip at the cap costs ~256 MiB resident inside the Arrow
# worker; a declared size larger than the actual payload is truncated to
# whole frames, a payload over the cap is refused outright
MAX_DATA_BYTES = 1 << 26  # 64 MiB of PCM per clip


def synthesize_wav(
    channels: list[list[int]], sample_rate: int, bits: int = 16
) -> bytes:
    """A fully valid RIFF/WAVE PCM file from per-channel sample lists
    (all channels same length; 16-bit signed LE or 8-bit unsigned with
    the spec's 128 offset). The golden synthesizer for round-trip tests,
    like ``synthesize_png``."""
    if not channels or bits not in (8, 16):
        raise ValueError("need >=1 channel and bits in (8, 16)")
    n = len(channels[0])
    if any(len(c) != n for c in channels):
        raise ValueError("ragged channels")
    nch = len(channels)
    block_align = nch * (bits // 8)
    if bits == 16:
        data = struct.pack(
            "<%dh" % (n * nch),
            *[channels[c][t] for t in range(n) for c in range(nch)],
        )
    else:
        data = bytes(
            (channels[c][t] + 128) & 0xFF for t in range(n) for c in range(nch)
        )
    fmt = struct.pack(
        "<HHIIHH", 1, nch, sample_rate, sample_rate * block_align,
        block_align, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(data: bytes) -> dict | None:
    """RIFF chunk walk → PCM samples, or None for anything that is not an
    intact integer-PCM WAV. Handles chunk ordering (fmt before data per
    spec but tolerant of extra chunks like LIST/INFO), odd-size chunk
    padding (RIFF pads to even offsets), and truncated payloads (declared
    data size clipped to the actual bytes — whole trailing frames only).

    Returns ``{sample_rate, channels, bits, frames}`` where ``frames`` is
    a list of per-channel int64 numpy arrays (signed; 8-bit samples are
    de-offset by 128 so silence is 0 in every width). Arrays, not Python
    lists — a list of boxed ints would cost ~28 bytes per sample and a
    single near-cap clip would balloon to gigabytes in the worker.
    """
    if data is None:
        return None
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + size]
        if tag == b"fmt " and fmt is None:
            if len(payload) < 16:
                return None
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif tag == b"data" and pcm is None:
            if size > MAX_DATA_BYTES:
                return None
            pcm = payload  # truncation → shorter payload, clipped below
        pos += 8 + size + (size & 1)  # RIFF even-offset padding
    if fmt is None or pcm is None:
        return None
    audio_format, nch, rate, _byte_rate, _block_align, bits = fmt
    # format 1 = integer PCM; 0xFFFE (extensible) wraps other codecs and
    # would need the cbSize extension parsed — refused, not guessed
    if audio_format != 1 or bits not in (8, 16) or not 1 <= nch <= 8:
        return None
    if rate <= 0:
        return None
    bytes_per_frame = nch * (bits // 8)
    n_frames = len(pcm) // bytes_per_frame
    raw = pcm[: n_frames * bytes_per_frame]
    if bits == 16:
        flat = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    else:
        flat = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
    frames = [flat[c::nch] for c in range(nch)]
    return {
        "sample_rate": rate, "channels": nch, "bits": bits, "frames": frames,
    }


def wav_features(parsed: dict) -> dict:
    """Integer-exact clip features from a ``parse_wav`` result. Peak and
    ``sum_sq`` run over ALL channels' samples; ``zero_crossings`` counts
    strict sign flips (product < 0, zeros break a crossing) on channel 0
    — the conventional mono reduction, documented so the oracle replays
    the same choice."""
    ch = [np.asarray(c, dtype=np.int64) for c in parsed["frames"]]
    n_frames = len(ch[0])
    n_samples = n_frames * len(ch)
    # vectorized exact integer arithmetic: per-sample squares ≤ 2^30, so
    # an int64 dot stays exact up to ~2^33 samples — far past the byte cap
    sum_sq = int(sum(int(np.dot(c, c)) for c in ch))
    peak = int(max((int(np.abs(c).max()) for c in ch if c.size), default=0))
    c0 = ch[0]
    zc = int(np.count_nonzero(c0[:-1] * c0[1:] < 0)) if n_frames > 1 else 0
    rms_milli = (
        math.floor(math.sqrt(sum_sq / n_samples) * 1000.0) if n_samples else 0
    )
    return {
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // parsed["sample_rate"],
        "peak": peak,
        "sum_sq": sum_sq,
        "rms_milli": rms_milli,
        "zero_crossings": zc,
    }


def decode_audio_features(df: DataFrame, media_col: str = "media") -> DataFrame:
    """(media_id, media) → per-clip features via an Arrow-batched
    ``mapInPandas`` kernel. Undecodable bytes yield ok=False zero rows
    (tolerant-input contract — one corrupt crawl clip never fails a
    task). Linear in payload bytes, no shuffle; at 100 TB this is a
    map-only stage exactly like the image decodes."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = AUDIO_FEATURES_DDL.replace(",", " ").split()[::2]
        for pdf in batches:
            out = {c: [] for c in cols}
            for mid, media in zip(pdf["media_id"], pdf[media_col]):
                parsed = parse_wav(media)
                out["media_id"].append(mid)
                if parsed is None:
                    for c in cols[1:-1]:
                        out[c].append(0)
                    out["ok"].append(False)
                    continue
                feat = wav_features(parsed)
                out["sample_rate"].append(parsed["sample_rate"])
                out["channels"].append(parsed["channels"])
                out["bits"].append(parsed["bits"])
                for k in (
                    "n_frames", "duration_ms", "peak", "sum_sq",
                    "rms_milli", "zero_crossings",
                ):
                    out[k].append(feat[k])
                out["ok"].append(True)
            yield pd.DataFrame(out)

    return df.select("media_id", media_col).mapInPandas(
        kernel, AUDIO_FEATURES_DDL
    )


def wav_frame_energy(
    df: DataFrame, frame_len: int = 64, media_col: str = "media"
) -> DataFrame:
    """Windowed channel-0 energy: one output row per ``frame_len``-sample
    window (last window partial, its true length in ``n``) — the audio
    twin of video frame sampling, and the feature a silence-trim or
    voice-activity stage consumes. Exact bigint energy per window.
    Undecodable clips emit nothing (drop-not-fake)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "n": [], "energy": []}
            for mid, media in zip(pdf["media_id"], pdf[media_col]):
                parsed = parse_wav(media)
                if parsed is None:
                    continue
                c0 = np.asarray(parsed["frames"][0], dtype=np.int64)
                for w in range((len(c0) + frame_len - 1) // frame_len):
                    seg = c0[w * frame_len : (w + 1) * frame_len]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(w)
                    out["n"].append(len(seg))
                    out["energy"].append(int(np.dot(seg, seg)))
            if out["media_id"]:  # empty pandas frames break Arrow typing
                yield pd.DataFrame(out)

    return df.select("media_id", media_col).mapInPandas(
        kernel, FRAME_ENERGY_DDL
    )
