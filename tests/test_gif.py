"""GIF LZW codec (multimodal/gif.py): a hand-computed bitstream vector
(encoder-independent), exact roundtrips incl. interlace and full
palettes, transparency compositing, refusals, fuzz, Spark surface."""

from __future__ import annotations

import struct

import numpy as np

from comic_text_detector_spark.multimodal.gif import (
    decode_gif_pixels,
    encode_gif,
    synthesize_gif_real,
)


def test_handcrafted_bitstream_vector():
    """2x1 image, indices [1, 0], LZW codes [CLEAR, 1, 0, EOI] packed by
    hand (LSB-first, 3-bit width) -> bytes 0x0C 0x0A. Decoding this fixed
    vector validates the bit order independently of our encoder."""
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 1, 0x81, 0, 0)
        + bytes([10, 20, 30, 40, 50, 60, 0, 0, 0, 0, 0, 0])  # 4-entry GCT
        + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
        + bytes([2])            # LZW min code size
        + bytes([2, 0x0C, 0x0A, 0])  # one sub-block + terminator
        + b"\x3b"
    )
    out = decode_gif_pixels(gif)
    assert out.shape == (1, 2, 3)
    assert out[0, 0].tolist() == [40, 50, 60]  # index 1
    assert out[0, 1].tolist() == [10, 20, 30]  # index 0


def test_roundtrips_exact():
    rng = np.random.RandomState(0)
    pal = rng.randint(0, 256, (17, 3), np.uint8)
    img = pal[rng.randint(0, 17, (29, 35))]
    assert np.array_equal(decode_gif_pixels(encode_gif(img)), img)
    assert np.array_equal(
        decode_gif_pixels(encode_gif(img, interlace=True)), img
    )
    # near-full palette (9-bit LZW code width path)
    pal256 = np.unique(rng.randint(0, 256, (256, 3), np.uint8), axis=0)
    img2 = pal256[rng.randint(0, len(pal256), (40, 50))]
    assert np.array_equal(decode_gif_pixels(encode_gif(img2)), img2)
    # solid + tiny
    assert decode_gif_pixels(synthesize_gif_real(1, 1)).shape == (1, 1, 3)


def test_transparency_composites_background():
    """A GCE transparent index leaves the background color visible."""
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 1, 0x81, 1, 0)  # bg index 1
        + bytes([10, 20, 30, 99, 98, 97, 0, 0, 0, 0, 0, 0])
        + bytes([0x21, 0xF9, 4, 0x01, 0, 0, 0, 0])  # GCE: transparent idx 0
        + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
        + bytes([2])
        + bytes([2, 0x0C, 0x0A, 0])  # indices [1, 0]; 0 is transparent
        + b"\x3b"
    )
    out = decode_gif_pixels(gif)
    assert out[0, 0].tolist() == [99, 98, 97]  # opaque index 1
    assert out[0, 1].tolist() == [99, 98, 97]  # transparent -> bg color


def test_refusals_and_fuzz():
    from comic_text_detector_spark.multimodal.binary_ops import synthesize_gif

    assert decode_gif_pixels(synthesize_gif(10, 10)) is None  # header-only
    assert decode_gif_pixels(b"GIF89a123") is None
    assert decode_gif_pixels(b"nope") is None
    assert decode_gif_pixels(None) is None
    full = bytearray(encode_gif(np.zeros((8, 8, 3), np.uint8)))
    for cut in (10, 14, len(full) // 2, len(full) - 2):
        out = decode_gif_pixels(bytes(full[:cut]))
        assert out is None or out.shape == (8, 8, 3)
    rng = np.random.RandomState(7)
    for _ in range(200):
        mut = bytearray(full)
        for _ in range(rng.randint(1, 5)):
            mut[rng.randint(6, len(mut))] = rng.randint(0, 256)
        out = decode_gif_pixels(bytes(mut))
        assert out is None or (
            isinstance(out, np.ndarray) and out.dtype == np.uint8
        )


def test_dispatcher_and_letterbox_over_gif(spark):
    from comic_text_detector_spark.multimodal.pixels import (
        decode_image_pixels,
        letterbox_images,
    )

    gif = synthesize_gif_real(40, 20, (10, 200, 90))
    assert decode_image_pixels(gif).shape == (20, 40, 3)
    df = spark.createDataFrame(
        [("g", gif)], "media_id string, media binary"
    )
    row = letterbox_images(df, size=64).collect()[0]
    assert row.ok and (row.out_w, row.out_h) == (64, 32)


def test_out_of_palette_index_refused():
    """Literal codes above the palette size must refuse, never fabricate
    pixels from a clamped palette entry (review finding)."""
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 1, 0x81, 0, 0)
        + bytes([10, 20, 30, 100, 110, 120, 0, 0, 0, 0, 0, 0])
        + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
        + bytes([3])  # min code 3: literals 0-7, palette only 4 entries
    )
    acc = n = 0
    for code in (8, 5, 0, 9):  # CLEAR, literal 5 (out of range), 0, EOI
        acc |= code << n
        n += 4
    data = bytes([(acc >> (8 * i)) & 0xFF for i in range((n + 7) // 8)])
    gif += bytes([len(data)]) + data + b"\x00\x3b"
    assert decode_gif_pixels(gif) is None


# ---------------------------------------------------------------------------
# Animation compositing: golden multi-frame roundtrips against an
# INDEPENDENT numpy compositor (same disposal semantics, written straight
# from the GIF89a spec, no shared code with the decoder).


def _rgb(h, w, color):
    return np.tile(np.array(color, np.uint8)[None, None], (h, w, 1))


def _expected_frames(screen, bg, frames):
    sw, sh = screen
    bg = np.array(bg, np.uint8)
    canvas = np.tile(bg, (sh, sw, 1))
    out = []
    for f in frames:
        arr = np.asarray(f["arr"], np.uint8)
        left, top = f.get("left", 0), f.get("top", 0)
        disposal = f.get("disposal", 0)
        tr = f.get("transparent")
        pre = canvas.copy()
        h, w = arr.shape[:2]
        region = canvas[top : top + h, left : left + w]
        if tr is None:
            region[:] = arr
        else:
            opaque = ~np.all(arr == np.array(tr, np.uint8), axis=2)
            region[opaque] = arr[opaque]
        out.append(canvas.copy())
        if disposal == 2:
            canvas[top : top + h, left : left + w] = bg
        elif disposal == 3:
            canvas = pre
    return out


def _roundtrip(frames, screen=None, bg=(0, 0, 0)):
    from comic_text_detector_spark.multimodal.gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    data = encode_gif_animation(frames, screen=screen, bg_color=bg)
    got = decode_gif_frames(data)
    assert got is not None
    if screen is None:
        screen = (
            max(f.get("left", 0) + np.asarray(f["arr"]).shape[1] for f in frames),
            max(f.get("top", 0) + np.asarray(f["arr"]).shape[0] for f in frames),
        )
    want = _expected_frames(screen, bg, frames)
    assert len(got) == len(want)
    for k, (g, w) in enumerate(zip(got, want)):
        assert np.array_equal(g, w), f"frame {k} mismatch"
    return data, got


def test_animation_partial_updates_accumulate():
    """Disposal 'leave': each 1x1 update persists into later frames."""
    frames = [{"arr": _rgb(4, 6, (10, 20, 30)), "disposal": 1}]
    for k in range(3):
        frames.append(
            {"arr": _rgb(1, 1, (100 + k, 50, 200)), "left": k, "top": 1,
             "disposal": 1}
        )
    data, got = _roundtrip(frames, screen=(6, 4))
    # last frame carries ALL three updates
    for k in range(3):
        assert tuple(got[-1][1, k]) == (100 + k, 50, 200)


def test_animation_disposal_background_restores_rect():
    """Disposal 2: the frame's rect resets to the background color before
    the next frame draws."""
    frames = [
        {"arr": _rgb(5, 5, (200, 0, 0)), "disposal": 1},
        {"arr": _rgb(2, 2, (0, 200, 0)), "left": 1, "top": 1, "disposal": 2},
        {"arr": _rgb(1, 1, (0, 0, 200)), "left": 4, "top": 4, "disposal": 1},
    ]
    data, got = _roundtrip(frames, bg=(7, 7, 7))
    assert tuple(got[1][1, 1]) == (0, 200, 0)  # green visible while shown
    assert tuple(got[2][1, 1]) == (7, 7, 7)  # then restored to background
    assert tuple(got[2][0, 0]) == (200, 0, 0)  # outside the rect untouched


def test_animation_disposal_previous_restores_canvas():
    """Disposal 3: the canvas reverts to its pre-frame state."""
    frames = [
        {"arr": _rgb(4, 4, (50, 60, 70)), "disposal": 1},
        {"arr": _rgb(4, 4, (255, 255, 0)), "disposal": 3},
        {"arr": _rgb(1, 1, (1, 2, 3)), "disposal": 1},
    ]
    data, got = _roundtrip(frames)
    assert tuple(got[1][2, 2]) == (255, 255, 0)
    assert tuple(got[2][2, 2]) == (50, 60, 70)  # flash reverted
    assert tuple(got[2][0, 0]) == (1, 2, 3)


def test_animation_transparency_and_interlace():
    """A transparent color in a later frame lets the prior composite show
    through; an interlaced frame composites identically."""
    base = _rgb(6, 6, (10, 10, 10))
    overlay = _rgb(6, 6, (90, 91, 92))
    overlay[::2] = (0, 255, 0)  # stripes of the transparent sentinel
    frames = [
        {"arr": base, "disposal": 1},
        {"arr": overlay, "disposal": 1, "transparent": (0, 255, 0)},
    ]
    data, got = _roundtrip(frames)
    assert tuple(got[1][0, 0]) == (10, 10, 10)  # transparent stripe
    assert tuple(got[1][1, 0]) == (90, 91, 92)
    # same animation, second frame interlaced → identical composite
    frames[1]["interlace"] = True
    _roundtrip(frames)


def test_animation_first_frame_is_the_still():
    from comic_text_detector_spark.multimodal.gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    frames = [
        {"arr": _rgb(3, 5, (10, 20, 30)), "disposal": 1},
        {"arr": _rgb(1, 1, (200, 0, 0)), "left": 2, "disposal": 1},
    ]
    data = encode_gif_animation(frames)
    assert np.array_equal(decode_gif_pixels(data), decode_gif_frames(data)[0])


def test_animation_frame_budget_truncates(monkeypatch):
    from comic_text_detector_spark.multimodal import gif as G

    frames = [{"arr": _rgb(4, 4, (k, k, k)), "disposal": 1} for k in range(10)]
    data = G.encode_gif_animation(frames)
    assert len(G.decode_gif_frames(data)) == 10
    monkeypatch.setattr(G, "_MAX_TOTAL_PIXELS", 4 * 4 * 3)  # budget: 3 frames
    got = G.decode_gif_frames(data)
    assert len(got) == 3  # truncated, and what IS returned is still right
    assert tuple(got[2][0, 0]) == (2, 2, 2)


def test_gif_frame_stats_and_sampling_spark(spark):
    from comic_text_detector_spark.multimodal.gif import (
        encode_gif_animation,
        gif_frame_stats,
    )

    def anim(n):
        frames = [{"arr": _rgb(3, 4, (10, 20, 30)), "disposal": 1}]
        for k in range(1, n):
            frames.append(
                {"arr": _rgb(1, 1, (40 + k, 0, 0)), "left": k - 1,
                 "disposal": 1}
            )
        return encode_gif_animation(frames, screen=(4, 3))

    df = spark.createDataFrame(
        [("a", anim(1)), ("b", anim(3)), ("junk", b"not a gif")],
        "media_id string, media binary",
    )
    stats = {r.media_id: r for r in gif_frame_stats(df).collect()}
    assert set(stats) == {"a", "b"}  # junk dropped, not faked
    assert stats["a"].n_frames == 1 and stats["b"].n_frames == 3
    assert (stats["b"].width, stats["b"].height) == (4, 3)
    want = _expected_frames((4, 3), (0, 0, 0), [
        {"arr": _rgb(3, 4, (10, 20, 30)), "disposal": 1},
        {"arr": _rgb(1, 1, (41, 0, 0)), "left": 0, "disposal": 1},
        {"arr": _rgb(1, 1, (42, 0, 0)), "left": 1, "disposal": 1},
    ])[-1]
    assert stats["b"].last_sum == int(want.astype(np.int64).sum())
