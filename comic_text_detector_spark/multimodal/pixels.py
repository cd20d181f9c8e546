"""Real pixel operations over binary image columns: PNG decode (full
unfilter), letterbox resize, re-encode — pure stdlib + numpy.

This makes SURVEY §2.8 F5/F6 (``letterbox``/``resize_keepasp``, reference
utils/imgproc_utils.py:15-43,46-54) REAL operators instead of
by-design-out: the model-input geometry (fit the long side, pad the short
side to the target square) is computed on actual decoded pixels inside an
Arrow-batched ``mapInPandas`` kernel, and the output is a valid PNG again.

Scale shape: embarrassingly parallel per row (no shuffle at all); batch
memory is bounded by the session's Arrow batch size x image size, the same
contract as the extraction kernel. PNG is decoded here (zlib + 5 scanline
filters, all stdlib-expressible); baseline JPEG decodes for real in
``multimodal.jpeg`` (SOF0 sequential Huffman) and GIF stills in
``multimodal.gif`` (variable-width LZW, interlace, transparency); every
pixel operator dispatches through ``decode_image_pixels`` so all three
dominant crawl formats flow.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

from .binary_ops import png_chunk

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (palette unsupported: nothing writes one)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png_pixels(data: bytes) -> np.ndarray | None:
    """PNG bytes → (height, width, channels) uint8 array, or None if not a
    decodable 8-bit PNG. Implements the full filter spec (None/Sub/Up/
    Average/Paeth, PNG 1.2 §6) — not just the filter-0 byte our own
    synthesizers emit — so real crawl PNGs decode too."""
    if not isinstance(data, (bytes, bytearray)) or not bytes(data).startswith(
        _PNG_SIG
    ):
        return None
    data = bytes(data)
    width = height = None
    bit_depth = color_type = None
    idat_parts: list[bytes] = []
    i = len(_PNG_SIG)
    while i + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[i : i + 4])
        tag = data[i + 4 : i + 8]
        payload = data[i + 8 : i + 8 + ln]
        if tag == b"IHDR" and len(payload) >= 13:
            width, height, bit_depth, color_type = struct.unpack(
                ">IIBB", payload[:10]
            )
            if payload[10:13] != b"\x00\x00\x00":  # non-deflate/interlaced
                return None
        elif tag == b"IDAT":
            idat_parts.append(payload)  # list+join: real PNGs split IDAT
        elif tag == b"IEND":
            break
        i += 12 + ln
    if not width or not height or bit_depth != 8 or color_type not in _CHANNELS:
        return None
    ch = _CHANNELS[color_type]
    try:
        raw = zlib.decompress(b"".join(idat_parts))
    except zlib.error:
        return None
    stride = width * ch
    if len(raw) < height * (stride + 1):
        return None
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for r in range(height):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += stride + 1
        if ftype == 0:  # None
            cur = row.copy()
        elif ftype == 2:  # Up — uint8 wraparound IS the mod-256 spec math
            cur = row + prev
        elif ftype == 1:  # Sub — c_k = (r_k + c_{k-ch}) mod 256 is a
            # per-channel-lane cumulative sum: vectorized, no Python loop
            cur = np.empty(stride, dtype=np.uint8)
            for j in range(ch):
                lane = row[j::ch].astype(np.uint64)
                cur[j::ch] = np.cumsum(lane).astype(np.uint8)
        elif ftype in (3, 4):  # Average / Paeth: inherently sequential in
            # the left neighbor; plain-int lists beat np scalar access ~10x
            cur_l = [0] * stride
            row_l = row.tolist()
            prev_l = prev.tolist()
            for x in range(stride):
                a = cur_l[x - ch] if x >= ch else 0
                b = prev_l[x]
                if ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = prev_l[x - ch] if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                cur_l[x] = (row_l[x] + pred) & 0xFF
            cur = np.asarray(cur_l, dtype=np.uint8)
        else:
            return None
        out[r] = cur
        prev = cur
    return out.reshape(height, width, ch)


def decode_image_pixels(data: bytes) -> np.ndarray | None:
    """Magic-byte dispatch over the real pixel decoders: PNG (this module)
    or baseline JPEG (``multimodal.jpeg``) → (h, w, ch) uint8, else None.
    This is the decode call the pixel-tier operators (letterbox) go
    through, so the dominant crawl format decodes for real too."""
    if not isinstance(data, (bytes, bytearray)):
        return None
    data = bytes(data)
    if data.startswith(_PNG_SIG):
        return decode_png_pixels(data)
    if data.startswith(b"\xff\xd8"):
        from .jpeg import decode_jpeg_pixels

        return decode_jpeg_pixels(data)
    if data.startswith(b"GIF87a") or data.startswith(b"GIF89a"):
        from .gif import decode_gif_pixels

        return decode_gif_pixels(data)
    return None


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w, 1|2|3|4) uint8 array → valid PNG (filter 0 rows, one IDAT).
    Every channel count maps to its PNG color type — alpha is PRESERVED;
    consumers that want it gone (model input) slice it off themselves."""
    h, w, ch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    body = arr.reshape(h, w * ch)
    scanlines = b"".join(b"\x00" + body[r].tobytes() for r in range(h))
    return (
        _PNG_SIG
        + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(scanlines))
        + png_chunk(b"IEND", b"")
    )


def letterbox_geometry(w: int, h: int, size: int) -> tuple[int, int, int, int]:
    """(new_w, new_h, pad_left, pad_top) fitting (w, h) into a size x size
    canvas, aspect preserved, padding split evenly (left/top get the floor).

    Deterministic integer contract shared with the SQL oracle: the scaled
    short side is floor(short * size / long + 0.5) — NOT Python round(),
    whose banker's rounding differs from SQL engines on .5 ties.
    Reference analog: utils/imgproc_utils.py:15-43 (letterbox: r =
    min(new/h, new/w), pad split /2)."""
    if w >= h:
        new_w = size
        new_h = max(1, int(h * size / w + 0.5))
    else:
        new_h = size
        new_w = max(1, int(w * size / h + 0.5))
    return new_w, new_h, (size - new_w) // 2, (size - new_h) // 2


def letterbox_pixels(
    arr: np.ndarray, size: int, pad_value: int = 114
) -> tuple[np.ndarray, int, int, int, int]:
    """Nearest-neighbor resize to fit + pad to size x size (the model-input
    geometry). Returns (canvas, new_w, new_h, pad_left, pad_top) — the
    geometry the pixels were ACTUALLY placed with, so callers report what
    happened rather than recomputing it. pad_value 114 is the reference's
    gray (utils/imgproc_utils.py:34)."""
    h, w, ch = arr.shape
    new_w, new_h, pad_left, pad_top = letterbox_geometry(w, h, size)
    ys = np.minimum((np.arange(new_h) * h) // new_h, h - 1)
    xs = np.minimum((np.arange(new_w) * w) // new_w, w - 1)
    resized = arr[ys][:, xs]
    canvas = np.full((size, size, ch), pad_value, dtype=np.uint8)
    canvas[pad_top : pad_top + new_h, pad_left : pad_left + new_w] = resized
    return canvas, new_w, new_h, pad_left, pad_top


def letterbox_images(
    df: DataFrame, size: int = 64, media_col: str = "media"
) -> DataFrame:
    """(media_id, media) → (media_id, ok, in_w, in_h, out_w, out_h,
    pad_left, pad_top, out_png): decode real pixels (PNG or baseline
    JPEG, via ``decode_image_pixels``), letterbox to size x size,
    re-encode as PNG. Undecodable rows (other formats, corrupt bytes)
    pass through with ok=false and null geometry (dropped-not-faked,
    like the CID policy)."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf[media_col]):
                arr = decode_image_pixels(blob)
                if arr is None:
                    rows.append((mid, False, None, None, None, None, None, None, None))
                    continue
                if arr.shape[2] in (2, 4):  # model input: alpha carries no
                    arr = np.ascontiguousarray(arr[:, :, :-1])  # signal
                h, w, _ = arr.shape
                canvas, new_w, new_h, pad_left, pad_top = letterbox_pixels(
                    arr, size
                )
                rows.append(
                    (mid, True, w, h, new_w, new_h, pad_left, pad_top,
                     encode_png(canvas))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "ok", "in_w", "in_h", "out_w", "out_h",
                         "pad_left", "pad_top", "out_png"],
            )

    return df.mapInPandas(
        kernel,
        "media_id string, ok boolean, in_w int, in_h int, out_w int, "
        "out_h int, pad_left int, pad_top int, out_png binary",
    )


# ---- real video: Y4M (YUV4MPEG2) container ----
#
# The one mainstream video container that is fully stdlib-parseable: a text
# header ("YUV4MPEG2 W<w> H<h> ..."), then per-frame "FRAME...\n" markers
# each followed by w*h*3/2 bytes of planar YUV420 (or w*h for mono). This
# replaces the env-gated fake for the video leg of SURVEY §2.8's
# frame-sample plumbing with a REAL demuxer + frame decoder; formats that
# need an entropy codec (h264 etc.) remain out of scope, like CID-less PDF
# fonts — dropped, not faked.

_Y4M_MAGIC = b"YUV4MPEG2"


def synthesize_y4m(
    width: int, height: int, n_frames: int, mono: bool = True
) -> bytes:
    """Valid Y4M stream; frame k's luma is the constant (k*7 + 31) & 0xFF,
    so tests can assert WHICH frames were sampled from pixel content."""
    csp = b"Cmono" if mono else b"C420"
    hdr = b"%s W%d H%d F25:1 Ip A1:1 %s\n" % (_Y4M_MAGIC, width, height, csp)
    frame_len = width * height if mono else width * height * 3 // 2
    out = [hdr]
    for k in range(n_frames):
        out.append(b"FRAME\n")
        out.append(bytes([(k * 7 + 31) & 0xFF]) * frame_len)
    return b"".join(out)


def iter_y4m_frames(data: bytes):
    """(width, height, frame_idx, luma bytes) per frame. Tolerant: returns
    nothing on non-Y4M or truncated input (crawl contract)."""
    if not isinstance(data, (bytes, bytearray)):
        return
    data = bytes(data)
    if not data.startswith(_Y4M_MAGIC):
        return
    eol = data.find(b"\n")
    if eol < 0:
        return
    width = height = None
    csp = b"C420"  # spec default when no C tag is present
    for tok in data[len(_Y4M_MAGIC): eol].split():
        if tok[:1] in (b"W", b"H"):
            try:
                val = int(tok[1:])
            except ValueError:  # malformed header: tolerant, yield nothing
                return
            if tok[:1] == b"W":
                width = val
            else:
                height = val
        elif tok[:1] == b"C":
            csp = tok
    # positive dims only (a negative W would step pos BACKWARD = infinite
    # yield), and a sanity cap so a crafted header can't allocate GBs
    if not width or not height or width <= 0 or height <= 0:
        return
    if width * height > (1 << 26):
        return
    # chroma subsampling → bytes per frame; unknown colorspaces are
    # dropped-not-faked (sampling a frame at the wrong stride would emit
    # garbage pixels as if real)
    if csp == b"Cmono":
        frame_len = width * height
    elif csp.startswith(b"C420"):
        frame_len = width * height * 3 // 2
    elif csp.startswith(b"C422"):
        frame_len = width * height * 2
    elif csp.startswith(b"C444"):
        frame_len = width * height * 3
    else:
        return
    pos = eol + 1
    idx = 0
    while pos < len(data):
        if not data.startswith(b"FRAME", pos):
            return
        feol = data.find(b"\n", pos)
        if feol < 0 or feol + 1 + frame_len > len(data):
            return
        luma = data[feol + 1 : feol + 1 + width * height]
        yield width, height, idx, luma
        pos = feol + 1 + frame_len
        idx += 1


def y4m_frame_stats(
    df: DataFrame, every_n: int = 1, media_col: str = "media"
) -> DataFrame:
    """Frame-sampling AUDIT rows for the video leg: demux Y4M, keep every
    ``every_n``-th frame, and emit (media_id, frame_idx, width, height,
    luma_sum) — the integer sum of the sampled frame's luma plane, exact
    integer arithmetic over the decoded bytes, so a demux bug (wrong stride, wrong chroma skip,
    off-by-one frame walk) or a sampling bug (wrong cadence) changes a
    value the oracle predicts. Undecodable/non-Y4M blobs yield no rows
    (drop-not-fake, same contract as ``iter_y4m_frames``).

    Scale: one-to-many Arrow-batched map — no shuffle, no driver state;
    frame budget is inherited from the demuxer's header sanity cap."""
    import pandas as pd

    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def kernel(batches):
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf[media_col]):
                for w, h, idx, luma in iter_y4m_frames(blob):
                    if idx % every_n:
                        continue
                    s = int(
                        np.frombuffer(luma, dtype=np.uint8)
                        .astype(np.int64)
                        .sum()
                    )
                    rows.append((mid, idx, w, h, s))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "width", "height",
                         "luma_sum"],
            )

    return df.select("media_id", media_col).mapInPandas(
        kernel,
        "media_id string, frame_idx int, width int, height int,"
        " luma_sum long",
    )
