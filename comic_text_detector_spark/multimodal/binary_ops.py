"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Image METADATA decode is real: pure-stdlib header parsers (PNG IHDR,
JPEG SOFn marker scan, GIF logical screen descriptor, BMP info header)
run inside an Arrow-batched ``mapInPandas`` kernel — no image library
needed, and matching golden synthesizers (``synthesize_png`` emits fully
valid PNGs, CRCs and zlib IDAT included) make the round trip testable by
construction, like the PDF source. Reference analog: ``imread``
(reference utils/io_utils.py:42) decodes real bytes at pipeline entry.

Pixel-level decode is real for PNG (``multimodal/pixels.py``: full
unfilter, letterbox, re-encode), baseline JPEG and GIF, and video frame
extraction is real for Y4M containers (``pixels.y4m_frame_stats``).
Codec-entropy formats (h264 and the like) need cv2/PIL/ffmpeg, not in this
container, and are dropped, not faked.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

IMAGE_META_DDL = (
    "media_id string, mime string, width int, height int, channels int, ok boolean"
)


def sniff_mime(media: Column) -> Column:
    """Magic-byte MIME sniffing as a column expression (JVM-side)."""
    hexpfx = F.lower(F.hex(F.substring(media, 1, 4)))
    return (
        F.when(hexpfx.startswith("89504e47"), F.lit("image/png"))
        .when(hexpfx.startswith("ffd8ff"), F.lit("image/jpeg"))
        .when(hexpfx.startswith("47494638"), F.lit("image/gif"))
        .when(hexpfx.startswith("424d"), F.lit("image/bmp"))
        .when(hexpfx.startswith("52494646"), F.lit("audio/wav"))
        .when(hexpfx.startswith("1a45dfa3"), F.lit("video/webm"))
        .otherwise(F.lit("application/octet-stream"))
    )


# PNG color type → samples per pixel (PNG spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOFn markers that carry frame dimensions (C4=DHT, C8=JPG, CC=DAC excluded)
_JPEG_SOF = frozenset(
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
)


def parse_image_meta(data: bytes) -> tuple[str, int, int, int] | None:
    """(mime, width, height, channels) from real image header bytes, or
    None if the bytes are not a recognized/intact image. Pure stdlib:

    * PNG — 8-byte signature, then the IHDR chunk (width/height big-endian,
      color type → channel count).
    * JPEG — marker scan to the first SOFn segment (precision, height,
      width, component count); stops at SOS if no frame header exists.
    * GIF — GIF87a/GIF89a logical screen descriptor (little-endian).
    * BMP — DIB header size at offset 14 selects the dialect: 12 = OS/2
      BITMAPCOREHEADER (16-bit unsigned dims), 40+ = BITMAPINFOHEADER
      family (32-bit dims, height may be negative for top-down rows).
      Unknown DIB sizes are rejected rather than read as garbage.
    """
    if data is None:
        return None
    data = bytes(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        if len(data) < 26 or data[12:16] != b"IHDR":
            return None
        w = int.from_bytes(data[16:20], "big")
        h = int.from_bytes(data[20:24], "big")
        ch = _PNG_CHANNELS.get(data[25], 0)
        if w <= 0 or h <= 0 or ch == 0:
            return None
        return ("image/png", w, h, ch)
    if data[:3] == b"\xff\xd8\xff":
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                i += 1
                continue
            marker = data[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:  # no payload
                i += 2
                continue
            if i + 4 > len(data):
                return None
            seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
            if marker in _JPEG_SOF:
                if i + 10 > len(data):
                    return None
                h = int.from_bytes(data[i + 5 : i + 7], "big")
                w = int.from_bytes(data[i + 7 : i + 9], "big")
                ch = data[i + 9]
                if w <= 0 or h <= 0 or ch == 0:
                    return None
                return ("image/jpeg", w, h, ch)
            if marker == 0xDA:  # start of scan without a frame header
                return None
            i += 2 + seg_len
        return None
    if data[:6] in (b"GIF87a", b"GIF89a"):
        if len(data) < 10:
            return None
        w = int.from_bytes(data[6:8], "little")
        h = int.from_bytes(data[8:10], "little")
        if w <= 0 or h <= 0:
            return None
        return ("image/gif", w, h, 3)
    if data[:2] == b"BM":
        if len(data) < 22:
            return None
        dib = int.from_bytes(data[14:18], "little")
        if dib == 12:  # OS/2 BITMAPCOREHEADER: 16-bit unsigned dims
            w = int.from_bytes(data[18:20], "little")
            h = int.from_bytes(data[20:22], "little")
        elif 16 <= dib <= 64 or dib in (108, 124):
            # BITMAPINFOHEADER family + OS/2 2.x headers (any declared
            # size 16..64 is a valid truncated/extended OS22XBITMAPHEADER)
            # — all keep 32-bit dims at offsets 18/22
            if len(data) < 26:
                return None
            w = int.from_bytes(data[18:22], "little", signed=True)
            h = abs(int.from_bytes(data[22:26], "little", signed=True))
        else:
            return None
        if w <= 0 or h <= 0:
            return None
        return ("image/bmp", w, h, 3)
    return None


def decode_image_meta(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Real metadata decode → (mime, width, height, channels, ok) via an
    Arrow-batched ``mapInPandas`` kernel over ``parse_image_meta``.
    Undecodable/garbage bytes yield an ok=False row (tolerant-input, same
    contract as the HTML/PDF extractors) — one corrupt crawl image never
    fails a task. Reference analog: imread (reference utils/io_utils.py:42).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "mime": [], "width": [],
                "height": [], "channels": [], "ok": [],
            }
            for mid, media in zip(pdf["media_id"], pdf[media_col]):
                meta = parse_image_meta(media)
                out["media_id"].append(mid)
                if meta is None:
                    out["mime"].append("application/octet-stream")
                    out["width"].append(0)
                    out["height"].append(0)
                    out["channels"].append(0)
                    out["ok"].append(False)
                else:
                    mime, w, h, c = meta
                    out["mime"].append(mime)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(c)
                    out["ok"].append(True)
            yield pd.DataFrame(out)

    return df.select("media_id", media_col).mapInPandas(kernel, IMAGE_META_DDL)


def png_chunk(tag: bytes, payload: bytes) -> bytes:
    """One length-prefixed, CRC'd PNG chunk — THE chunk writer every PNG
    producer in the engine shares (synthesizers here, ``pixels.encode_png``,
    the S7 mask sink)."""
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload))
    )


def synthesize_png(width: int, height: int, rgb: tuple = (200, 80, 30)) -> bytes:
    """A fully valid solid-color 8-bit RGB PNG (signature, IHDR, zlib IDAT,
    IEND, correct CRCs) — decodable by any real viewer, pure stdlib."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    scanlines = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(scanlines))
        + png_chunk(b"IEND", b"")
    )


def synthesize_jpeg(width: int, height: int) -> bytes:
    """Structurally valid JPEG headers (SOI, JFIF APP0, SOF0 baseline frame
    with 3 components, EOI). Entropy-coded data is omitted — header parsing
    is the metadata-decode contract, mirroring how the PDF synthesizer emits
    only the structures the parser consumes."""
    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 72, 72, 0, 0)
    )
    sof0 = (
        b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3)
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def synthesize_gif(width: int, height: int) -> bytes:
    """Minimal GIF89a: header + logical screen descriptor + trailer."""
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x70\x00\x00" + b"\x3b"
