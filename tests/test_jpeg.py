"""Baseline JPEG codec (multimodal/jpeg.py): golden roundtrips, a
bit-exact entropy/layout check against an independent recomputation of the
transform chain, decoder-coverage knobs (restart markers, 16-bit DQT,
subsampling), honest refusals, and the Spark pixel surface."""

from __future__ import annotations

import numpy as np

from comic_text_detector_spark.multimodal import jpeg as J
from comic_text_detector_spark.multimodal.jpeg import (
    decode_jpeg_pixels,
    encode_jpeg_baseline,
    synthesize_jpeg_real,
)


def _rand(h, w, ch=3, seed=0):
    return np.random.RandomState(seed).randint(0, 256, (h, w, ch), np.uint8)


def test_solid_color_exact_all_subsamplings():
    img = np.tile(np.array([180, 60, 220], np.uint8)[None, None], (19, 27, 1))
    for sub in ("444", "422", "420"):
        dec = decode_jpeg_pixels(encode_jpeg_baseline(img, 95, sub))
        assert dec.shape == (19, 27, 3)
        # constant chroma + constant luma → DC-only blocks survive exactly
        assert int(np.abs(dec.astype(int) - img.astype(int)).max()) == 0, sub


def test_gray_gradient_q100_exact():
    g = np.tile(np.arange(64, dtype=np.uint8), (16, 1))
    dec = decode_jpeg_pixels(encode_jpeg_baseline(g, quality=100))
    assert dec.shape == (16, 64, 1)
    assert int(np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max()) == 0


def test_smooth_gradient_within_one():
    x, y = np.linspace(0, 255, 40), np.linspace(0, 255, 24)
    lum = ((y[:, None] + x[None, :]) / 2).astype(np.uint8)
    img = np.stack([lum] * 3, axis=2)  # gray → chroma constant 128
    for sub in ("444", "420"):
        dec = decode_jpeg_pixels(encode_jpeg_baseline(img, 95, sub))
        assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 1, sub


def test_quadrant_orientation_through_420():
    """Spatial layout: colors must land in their quadrants (catches block
    raster-order / upsample-axis mistakes that noise metrics can't)."""
    q = np.zeros((32, 32, 3), np.uint8)
    q[:16, :16], q[:16, 16:] = [255, 0, 0], [0, 255, 0]
    q[16:, :16], q[16:, 16:] = [0, 0, 255], [255, 255, 0]
    dec = decode_jpeg_pixels(encode_jpeg_baseline(q, 95, "420"))
    for r, c, want in [(4, 4, [255, 0, 0]), (4, 28, [0, 255, 0]),
                       (28, 4, [0, 0, 255]), (28, 28, [255, 255, 0])]:
        assert int(np.abs(dec[r, c].astype(int) - want).max()) <= 3


def _expected_via_transform_chain(img: np.ndarray, quality: int) -> np.ndarray:
    """Independent recomputation WITHOUT the Huffman/marker layer: encoder
    intermediates (quantized zigzag blocks) → dezigzag → dequant → IDCT →
    color convert. The full decode must match this BIT-EXACTLY, proving the
    entropy coding and MCU layout are lossless."""
    h, w, _ = img.shape
    qlum, qchrom = J._quality_tables(quality)
    r, g, b = (img[:, :, k].astype(np.float64) for k in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    planes = [np.clip(np.floor(p + 0.5), 0, 255).astype(np.uint8)
              for p in (y, cb, cr)]
    bw, bh = -(-w // 8), -(-h // 8)
    out = []
    for plane, qt in zip(planes, (qlum, qchrom, qchrom)):
        zz = J._plane_blocks(plane, bw, bh, qt)  # (n, 64) zigzag quantized
        raster = np.zeros_like(zz)
        for zpos, ridx in enumerate(J.ZIGZAG):
            raster[:, ridx] = zz[:, zpos]
        deq = raster.reshape(-1, 8, 8) * qt
        pix = J.idct_blocks(deq)
        full = (
            pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        out.append(full[:h, :w].astype(np.float64))
    yy, cbv, crv = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack(
        [yy + 1.402 * crv,
         yy - 0.344136 * cbv - 0.714136 * crv,
         yy + 1.772 * cbv], axis=2)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


def test_entropy_and_layout_bit_exact_vs_independent_chain():
    img = _rand(21, 37, seed=7)
    dec = decode_jpeg_pixels(encode_jpeg_baseline(img, quality=80))
    exp = _expected_via_transform_chain(img, quality=80)
    assert np.array_equal(dec, exp)


def test_restart_interval_and_16bit_dqt_equivalent():
    img = _rand(29, 35, seed=1)
    base = decode_jpeg_pixels(encode_jpeg_baseline(img, 90))
    for kw in ({"restart_interval": 2}, {"restart_interval": 1},
               {"force_16bit_dqt": True}):
        assert np.array_equal(
            decode_jpeg_pixels(encode_jpeg_baseline(img, 90, **kw)), base
        ), kw


def test_odd_dims_and_single_pixel():
    for h, w in [(1, 1), (7, 9), (8, 17), (17, 8), (1, 100)]:
        img = _rand(h, w, seed=h * 100 + w)
        for sub in ("444", "420"):
            dec = decode_jpeg_pixels(encode_jpeg_baseline(img, 90, sub))
            assert dec.shape == (h, w, 3), (h, w, sub)


def test_grayscale_channel_shape():
    g = _rand(13, 11, 1, seed=3)[:, :, 0]
    dec = decode_jpeg_pixels(encode_jpeg_baseline(g, 90))
    assert dec.shape == (13, 11, 1)


def test_refusals():
    # SOF2 header with no scan data: refused (progressive decode
    # itself is supported and tested below)
    assert decode_jpeg_pixels(
        b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00\xff\xd9"
    ) is None
    assert decode_jpeg_pixels(b"\xff\xd8garbage") is None
    assert decode_jpeg_pixels(b"not a jpeg") is None
    assert decode_jpeg_pixels(None) is None
    assert decode_jpeg_pixels(b"") is None
    # truncated scan: must refuse or return the right shape, never crash
    full = encode_jpeg_baseline(_rand(16, 16), 90)
    for cut in (len(full) // 2, len(full) - 3):
        out = decode_jpeg_pixels(full[:cut])
        assert out is None or out.shape == (16, 16, 3)
    # header-only synthesize_jpeg (metadata tier) has no scan: refused
    from comic_text_detector_spark.multimodal.binary_ops import synthesize_jpeg

    assert decode_jpeg_pixels(synthesize_jpeg(10, 10)) is None


def test_synthesize_jpeg_real_decodes_and_meta_parses():
    b = synthesize_jpeg_real(33, 21, (200, 80, 30))
    dec = decode_jpeg_pixels(b)
    assert dec.shape == (21, 33, 3)
    assert np.array_equal(dec[0, 0], [200, 80, 30])
    from comic_text_detector_spark.multimodal.binary_ops import parse_image_meta

    mime, w, h, _ = parse_image_meta(b)
    assert (mime, w, h) == ("image/jpeg", 33, 21)


def test_dispatcher_routes_both_formats():
    from comic_text_detector_spark.multimodal.binary_ops import synthesize_png
    from comic_text_detector_spark.multimodal.pixels import decode_image_pixels

    png = decode_image_pixels(synthesize_png(5, 4))
    jpg = decode_image_pixels(synthesize_jpeg_real(5, 4))
    assert png.shape == (4, 5, 3) and jpg.shape == (4, 5, 3)
    assert decode_image_pixels(b"GIF89a\x00\x00") is None


def test_letterbox_images_over_mixed_png_jpeg(spark):
    """Spark surface: the letterbox kernel now letterboxes real JPEG rows
    through the same geometry contract as PNG rows."""
    from comic_text_detector_spark.multimodal.binary_ops import synthesize_png
    from comic_text_detector_spark.multimodal.pixels import (
        decode_png_pixels,
        letterbox_images,
    )

    rows = [
        ("png", synthesize_png(40, 20)),
        ("jpeg", synthesize_jpeg_real(20, 40, (10, 200, 90))),
        ("bad", b"\xff\xd8\xff"),
    ]
    df = spark.createDataFrame(rows, "media_id string, media binary")
    out = {r["media_id"]: r for r in letterbox_images(df, size=64).collect()}
    assert out["png"]["ok"] and (out["png"]["out_w"], out["png"]["out_h"]) == (64, 32)
    assert out["jpeg"]["ok"] and (out["jpeg"]["out_w"], out["jpeg"]["out_h"]) == (32, 64)
    assert not out["bad"]["ok"]
    canvas = decode_png_pixels(bytes(out["jpeg"]["out_png"]))
    assert canvas.shape == (64, 64, 3)
    # pad columns are the reference gray, content center is the jpeg color
    assert tuple(canvas[0, 0]) == (114, 114, 114)
    assert int(np.abs(canvas[32, 32].astype(int) - [10, 200, 90]).max()) <= 3


def test_decoder_fuzz_never_crashes():
    """Mutated valid files: decode returns an array or None, never raises
    (the kernel wraps per-row, but the contract is decode-or-refuse)."""
    rng = np.random.RandomState(42)
    base = bytearray(encode_jpeg_baseline(_rand(16, 24), 85))
    for _ in range(200):
        mut = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            mut[rng.randint(2, len(mut))] = rng.randint(0, 256)
        out = decode_jpeg_pixels(bytes(mut))
        assert out is None or (
            isinstance(out, np.ndarray) and out.dtype == np.uint8
        )


def test_forged_sof_dims_refused_fast():
    """A tiny file with huge forged SOF dimensions and a trivial DHT must
    refuse via the pixel-count cap, not decode millions of MCUs from the
    bit-reader's zero padding (CPU/memory bomb on one corrupt row)."""
    import struct
    import time

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    sof = struct.pack(">BHHB", 8, 8192, 8192, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes([1] + [0] * 15) + bytes([0])
    dht_ac = bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0])
    dqt = bytes([0]) + bytes([1] * 64)
    evil = (
        b"\xff\xd8" + seg(0xDB, dqt) + seg(0xC0, sof) + seg(0xC4, dht_dc)
        + seg(0xC4, dht_ac) + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\x00" + b"\xff\xd9"
    )
    t0 = time.time()
    assert decode_jpeg_pixels(evil) is None
    assert time.time() - t0 < 0.5


def test_progressive_equals_baseline_bit_exact():
    """Progressive (SOF2) decode of the same quantized coefficients must
    yield BIT-IDENTICAL pixels to baseline decode: the scan script (DC
    first at Al=1, spectral bands 1-5/6-63 at Al=1, DC + AC refinements
    to Al=0) exercises every G.2 path — successive approximation, EOB
    runs, correction bits — and any entropy-layer bug breaks equality."""
    from comic_text_detector_spark.multimodal.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(3)
    for shape in [(16, 16, 3), (21, 37, 3), (8, 8, 1), (1, 1, 3),
                  (7, 100, 3), (33, 9, 1), (17, 19, 3)]:
        img = rng.randint(0, 256, shape, np.uint8)
        src = img[:, :, 0] if shape[2] == 1 else img
        subs = ("444",) if shape[2] == 1 else ("444", "422", "420")
        for sub in subs:
            for q in (50, 90, 100):
                base = decode_jpeg_pixels(encode_jpeg_baseline(src, q, sub))
                prog = decode_jpeg_pixels(
                    encode_jpeg_progressive(src, q, sub)
                )
                assert prog is not None and np.array_equal(base, prog), (
                    shape, sub, q,
                )


def test_progressive_dispatcher_and_letterbox(spark):
    from comic_text_detector_spark.multimodal.jpeg import (
        encode_jpeg_progressive,
    )
    from comic_text_detector_spark.multimodal.pixels import (
        decode_image_pixels,
        letterbox_images,
    )

    img = np.tile(np.array([10, 200, 90], np.uint8)[None, None], (20, 40, 1))
    pj = encode_jpeg_progressive(img, 95)
    assert decode_image_pixels(pj).shape == (20, 40, 3)
    df = spark.createDataFrame([("p", pj)], "media_id string, media binary")
    row = letterbox_images(df, size=64).collect()[0]
    assert row.ok and (row.out_w, row.out_h) == (64, 32)


def test_progressive_truncation_and_fuzz_never_crash():
    from comic_text_detector_spark.multimodal.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(11)
    full = bytearray(encode_jpeg_progressive(_rand(16, 24), 85))
    for cut in (len(full) // 3, len(full) // 2, len(full) - 3):
        out = decode_jpeg_pixels(bytes(full[:cut]))
        assert out is None or out.shape == (16, 24, 3)
    for _ in range(200):
        mut = bytearray(full)
        for _ in range(rng.randint(1, 6)):
            mut[rng.randint(2, len(mut))] = rng.randint(0, 256)
        out = decode_jpeg_pixels(bytes(mut))
        assert out is None or (
            isinstance(out, np.ndarray) and out.dtype == np.uint8
        )


def test_single_component_scan_ignores_sof_sampling_factors():
    """T.81 A.2.2 (advice finding): a one-component scan is NON-interleaved
    regardless of declared SOF sampling factors — some transcoders keep the
    2x2 luma factor on grayscale. Patch the SOF0 sampling byte of our own
    grayscale output from 0x11 to 0x22: the entropy stream (already a
    raster block walk) must decode to pixels identical to the unpatched
    file, not scrambled tiles or a refusal."""
    g = np.random.RandomState(3).randint(0, 256, (21, 37), np.uint8)
    data = encode_jpeg_baseline(g, 90)
    i = data.find(b"\xff\xc0")
    # SOF0 layout: marker(2) len(2) precision(1) h(2) w(2) ncomps(1)
    # comp_id(1) hv(1) tq(1) → sampling byte at i+11
    assert i > 0 and data[i + 11] == 0x11
    patched = data[: i + 11] + b"\x22" + data[i + 12 :]
    base = decode_jpeg_pixels(data)
    dec = decode_jpeg_pixels(patched)
    assert dec is not None and np.array_equal(dec, base)
