"""GIF pixel decode (LZW) — pure stdlib + numpy, no codec library.

Completes the pixel tier over the three dominant crawl image formats:
PNG (``pixels.decode_png_pixels``), baseline JPEG (``jpeg``), and now GIF
— the whole GIF87a/89a still-image format (logical screen descriptor,
global/local color tables, variable-width LSB-first LZW with clear/EOI
codes and 4096-entry dictionary, the 4-pass interlace row order, and the
GCE transparent index) is spec-expressible without a dependency.

Scope and honest refusals, same discipline as the PNG/JPEG decoders:

* ANIMATIONS composite for real (``decode_gif_frames``): every frame is
  drawn onto the running logical-screen canvas at its rect, honoring the
  GCE disposal method — 0/1 leave, 2 restore-to-background, 3
  restore-to-previous (undefined 4–7 treated as leave, the universal
  renderer convention) — and per-frame transparency + local color
  tables. ``decode_gif_pixels`` stays the first-frame still.
* Output frames are (h, w, 3) RGB of the full logical screen; pixels
  never painted, or marked transparent by the GCE, show the background
  color (background color index, else black).
* Malformed files (truncated sub-blocks, out-of-range codes, missing
  color table) return None — decode-or-refuse, never wrong pixels.
  A frame budget (``_MAX_TOTAL_PIXELS`` of composited output) bounds
  decode-bomb animations: excess frames are NOT decoded (the returned
  list is truncated — documented, never wrong pixels).

The encoder (``synthesize_gif_real``) writes real decodable files for
golden tests: indexed pixels LZW-coded with a CLEAR emitted every
``2^min_code_size - 3`` literals so the code width never grows — the
classic valid-if-verbose "uncompressed GIF" trick — with optional
interlacing to exercise the decoder's row reordering.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

_MAX_PIXELS = 1 << 24  # same forged-dims cap as the JPEG decoder
# total composited-output budget across an animation's frames: a small
# screen with thousands of frames is legal GIF but a decode bomb here —
# frames past the budget are not decoded (truncation, never wrong pixels)
_MAX_TOTAL_PIXELS = 1 << 26


def decode_gif_pixels(data: bytes) -> np.ndarray | None:
    """GIF bytes → (height, width, 3) uint8 RGB of the first frame
    composited onto the logical screen, or None if not decodable."""
    frames = decode_gif_frames(data, max_frames=1)
    return frames[0] if frames else None


def decode_gif_frames(
    data: bytes, max_frames: int | None = None
) -> list[np.ndarray] | None:
    """GIF bytes → list of (height, width, 3) uint8 RGB frames, each the
    logical screen AS DISPLAYED at that point of the animation (disposal
    methods and partial-update rects composited for real), or None if not
    decodable. ``max_frames`` stops reading early (the first-frame still
    is ``max_frames=1``); independently the ``_MAX_TOTAL_PIXELS`` output
    budget truncates decode-bomb animations."""
    if not isinstance(data, (bytes, bytearray)):
        return None
    data = bytes(data)
    if not (data.startswith(b"GIF87a") or data.startswith(b"GIF89a")):
        return None
    try:
        return _decode_frames(data, max_frames)
    except (ValueError, IndexError, struct.error):
        return None


def _color_table(data: bytes, i: int, size_field: int) -> tuple[np.ndarray, int]:
    n = 2 << size_field  # 2^(field+1) entries
    table = np.frombuffer(data[i : i + 3 * n], dtype=np.uint8)
    if table.size != 3 * n:
        raise ValueError("truncated color table")
    return table.reshape(n, 3), i + 3 * n


def _sub_blocks(data: bytes, i: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if i >= len(data):
            raise ValueError("truncated sub-blocks")
        ln = data[i]
        i += 1
        if ln == 0:
            return bytes(out), i
        out += data[i : i + ln]
        if len(out) and i + ln > len(data):
            raise ValueError("truncated sub-block payload")
        i += ln


def _lzw_decode(min_code_size: int, src: bytes, n_pixels: int) -> bytearray:
    """Variable-width LSB-first LZW (GIF flavor): clear/EOI codes, dict
    capped at 4096, width grows when the next code would not fit."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # bit reader state
    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    dict_base = [bytes([c]) for c in range(clear)]
    table: list[bytes] = []
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = list(dict_base) + [b"", b""]  # clear + eoi placeholders
        width = min_code_size + 1
        prev = None

    reset()
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(src):
                return out  # tolerate a truncated tail (partial image)
            acc |= src[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("first code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return out


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]
    out = np.empty_like(rows)
    out[np.asarray(order)] = rows
    return out


def _decode_frames(
    data: bytes, max_frames: int | None = None
) -> list[np.ndarray] | None:
    sw, sh, flags, bg_idx, _ = struct.unpack("<HHBBB", data[6:13])
    if not sw or not sh or sw * sh > _MAX_PIXELS:
        return None
    i = 13
    gct = None
    if flags & 0x80:
        gct, i = _color_table(data, i, flags & 0x07)
    # background canvas color: bg color index if the GCT has it, else black
    if gct is not None and bg_idx < len(gct):
        bg_rgb = gct[bg_idx]
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
    canvas = np.tile(bg_rgb, (sh, sw, 1)).astype(np.uint8)
    frames: list[np.ndarray] = []
    frame_budget = max(1, _MAX_TOTAL_PIXELS // (sw * sh))
    transparent = None
    disposal = 0
    while i < len(data):
        b = data[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[i + 1]
            i += 2
            if label == 0xF9:  # graphic control — applies to the NEXT image
                ln = data[i]
                if ln >= 4:
                    packed = data[i + 1]
                    disposal = (packed >> 2) & 0x07
                    transparent = data[i + 4] if packed & 0x01 else None
                # skip via the generic sub-block walk below
            blk, i = _sub_blocks(data, i)
            continue
        if b == 0x2C:  # image descriptor — one animation frame
            left, top, fw, fh, iflags = struct.unpack(
                "<HHHHB", data[i + 1 : i + 10]
            )
            i += 10
            lct = None
            if iflags & 0x80:
                lct, i = _color_table(data, i, iflags & 0x07)
            palette = lct if lct is not None else gct
            if palette is None or not fw or not fh:
                return None
            if fw * fh > _MAX_PIXELS:
                return None
            min_code = data[i]
            i += 1
            lzw, i = _sub_blocks(data, i)
            idx = _lzw_decode(min_code, lzw, fw * fh)
            if len(idx) < fw * fh:  # pad a truncated image with bg/0
                idx = idx + bytearray(fw * fh - len(idx))
            frame = np.frombuffer(bytes(idx[: fw * fh]), dtype=np.uint8)
            frame = frame.reshape(fh, fw)
            if iflags & 0x40:
                frame = _deinterlace(frame)
            if int(frame.max()) >= len(palette):
                return None  # out-of-palette index: refuse, never fabricate
            # restore-to-previous needs the pre-draw canvas kept aside
            pre = canvas.copy() if disposal == 3 else None
            # clamp frame rect into the screen
            fw_c = min(fw, max(0, sw - left))
            fh_c = min(fh, max(0, sh - top))
            if fw_c and fh_c:
                sub = frame[:fh_c, :fw_c]
                rgb = palette[sub]
                if transparent is not None:
                    keep = sub != transparent
                    region = canvas[top : top + fh_c, left : left + fw_c]
                    region[keep] = rgb[keep]
                else:
                    canvas[top : top + fh_c, left : left + fw_c] = rgb
            frames.append(canvas.copy())
            if max_frames is not None and len(frames) >= max_frames:
                return frames
            if len(frames) >= frame_budget:
                return frames  # decode-bomb budget: truncate, never fake
            # disposal runs AFTER this frame displays, BEFORE the next
            if disposal == 2:  # restore the frame rect to background
                if fw_c and fh_c:
                    canvas[top : top + fh_c, left : left + fw_c] = bg_rgb
            elif disposal == 3 and pre is not None:
                canvas = pre
            # a GCE governs exactly one image (GIF89a spec 23c)
            transparent = None
            disposal = 0
            continue
        # unknown block type: refuse rather than resync blindly
        return None
    return frames or None


def synthesize_gif_real(
    width: int,
    height: int,
    rgb: tuple = (200, 80, 30),
    interlace: bool = False,
) -> bytes:
    """Solid-color REAL decodable GIF89a (counterpart of
    ``binary_ops.synthesize_png`` / ``jpeg.synthesize_jpeg_real``)."""
    arr = np.tile(
        np.array(rgb, dtype=np.uint8)[None, None, :], (height, width, 1)
    )
    return encode_gif(arr, interlace=interlace)


def _build_palette(colors: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Distinct (n, 3) colors → (power-of-two padded palette, GCT size
    field, LZW min code size)."""
    if len(colors) > 256:
        raise ValueError("more than 256 distinct colors")
    n_pal = 2
    while n_pal < len(colors):
        n_pal *= 2
    size_field = n_pal.bit_length() - 2
    pal = np.zeros((n_pal, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    min_code = max(2, n_pal.bit_length() - 1)
    return pal, size_field, min_code


def _lzw_literal_payload(seq: np.ndarray, min_code: int) -> bytearray:
    """Index sequence → LZW entropy bytes, literal-per-pixel with a CLEAR
    every 2^min_code - 3 literals so the code width never grows (the
    classic valid-if-verbose "uncompressed GIF" trick)."""
    clear = 1 << min_code
    eoi = clear + 1
    width_bits = min_code + 1
    # bit writer (LSB-first)
    acc = 0
    nbits = 0
    payload = bytearray()

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    burst = (1 << min_code) - 3  # dict grows by burst-1 < width threshold
    for k, v in enumerate(seq):
        if k and k % burst == 0:
            emit(clear)
        emit(int(v))
    emit(eoi)
    if nbits:
        payload.append(acc & 0xFF)
    return payload


def _blockify(payload: bytes) -> bytearray:
    out = bytearray()
    for off in range(0, len(payload), 255):
        chunk = payload[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return out


def _interlace_rows(pix: np.ndarray) -> np.ndarray:
    h = pix.shape[0]
    order = [
        y for start, step in _INTERLACE_PASSES for y in range(start, h, step)
    ]
    return pix[np.asarray(order)]


def encode_gif(arr: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 → real GIF89a. Palette = the image's distinct
    colors (≤ 256 required); LZW emitted literal-per-pixel with periodic
    CLEAR codes so the code width never grows (valid, verbose)."""
    arr = np.asarray(arr, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3 or not h or not w:
        raise ValueError("need (h, w, 3) uint8")
    flat = arr.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    pal, size_field, min_code = _build_palette(colors)

    pix = idx.reshape(h, w)
    if interlace:
        pix = _interlace_rows(pix)
    payload = _lzw_literal_payload(pix.reshape(-1), min_code)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += pal.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    out.append(min_code)
    out += _blockify(payload)
    out.append(0x3B)
    return bytes(out)


def encode_gif_animation(
    frames: list[dict],
    screen: tuple[int, int] | None = None,
    bg_color: tuple = (0, 0, 0),
) -> bytes:
    """Multi-frame REAL GIF89a for animation goldens. Each frame dict:

    * ``arr`` — (h, w, 3) uint8 pixels of the frame's own rect
    * ``left`` / ``top`` — rect position on the logical screen (default 0)
    * ``disposal`` — GCE disposal method 0–3 (default 0)
    * ``transparent`` — an (r, g, b) whose pixels encode as the GCE
      transparent index (default None — frame fully opaque)
    * ``interlace`` — interlace this frame's rows (default False)

    One GLOBAL color table holds every frame's colors plus ``bg_color``
    (palette entry 0 = the screen background). ``screen`` defaults to the
    union extent of all frame rects."""
    if not frames:
        raise ValueError("need at least one frame")
    prepped = []
    for f in frames:
        arr = np.asarray(f["arr"], dtype=np.uint8)
        if arr.ndim != 3 or arr.shape[2] != 3 or not arr.size:
            raise ValueError("each frame arr must be (h, w, 3) uint8")
        prepped.append(
            (arr, int(f.get("left", 0)), int(f.get("top", 0)),
             int(f.get("disposal", 0)), f.get("transparent"),
             bool(f.get("interlace", False)))
        )
    if screen is None:
        screen = (
            max(l + a.shape[1] for a, l, t, *_ in prepped),
            max(t + a.shape[0] for a, l, t, *_ in prepped),
        )
    sw, sh = screen

    # one global palette: bg color first (entry 0 = background index),
    # then every color any frame uses (incl. transparent sentinels)
    all_colors = [np.array([bg_color], dtype=np.uint8)]
    for arr, *_rest in prepped:
        all_colors.append(arr.reshape(-1, 3))
    for *_x, tr, _il in prepped:
        if tr is not None:
            all_colors.append(np.array([tr], dtype=np.uint8))
    colors = np.unique(np.vstack(all_colors), axis=0)
    # stable keyed lookup: color → palette index
    keys = (
        colors[:, 0].astype(np.int64) << 16
    ) | (colors[:, 1].astype(np.int64) << 8) | colors[:, 2].astype(np.int64)
    order = np.argsort(keys)
    skeys = keys[order]
    pal, size_field, min_code = _build_palette(colors[order])
    bg_key = (int(bg_color[0]) << 16) | (int(bg_color[1]) << 8) | int(bg_color[2])
    bg_idx = int(np.searchsorted(skeys, bg_key))

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | size_field, bg_idx, 0)
    out += pal.tobytes()
    for arr, left, top, disposal, tr, interlace in prepped:
        h, w = arr.shape[:2]
        fkeys = (
            arr[:, :, 0].astype(np.int64) << 16
        ) | (arr[:, :, 1].astype(np.int64) << 8) | arr[:, :, 2].astype(np.int64)
        pix = np.searchsorted(skeys, fkeys.reshape(-1)).reshape(h, w)
        gce_packed = (disposal & 0x07) << 2
        tr_idx = 0
        if tr is not None:
            tkey = (int(tr[0]) << 16) | (int(tr[1]) << 8) | int(tr[2])
            tr_idx = int(np.searchsorted(skeys, tkey))
            gce_packed |= 0x01
        out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, gce_packed, 0, tr_idx, 0)
        out += struct.pack(
            "<BHHHHB", 0x2C, left, top, w, h, 0x40 if interlace else 0
        )
        out.append(min_code)
        if interlace:
            pix = _interlace_rows(pix)
        out += _blockify(_lzw_literal_payload(pix.reshape(-1), min_code))
    out.append(0x3B)
    return bytes(out)


def gif_frame_stats(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Per-GIF animation summary over REAL composited frames: (media_id,
    n_frames, width, height, last_sum) where ``last_sum`` is the integer
    pixel sum of the final composited screen — an arithmetic-checkable
    witness that disposal/partial-rect compositing accumulated correctly.
    Undecodable blobs yield no rows (drop-not-fake)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf[media_col]):
                frames = decode_gif_frames(
                    bytes(blob) if blob is not None else b""
                )
                if not frames:
                    continue
                last = frames[-1]
                rows.append(
                    (mid, len(frames), last.shape[1], last.shape[0],
                     int(last.astype(np.int64).sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_frames", "width", "height", "last_sum"],
            )

    return df.select("media_id", media_col).mapInPandas(
        kernel,
        "media_id string, n_frames int, width int, height int,"
        " last_sum bigint",
    )
