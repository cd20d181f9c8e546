"""Sources/sinks (S-group) and multimodal binary plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from comic_text_detector_spark.multimodal.binary_ops import (
    decode_image_meta,
    media_stats,
    sample_frames,
)
from comic_text_detector_spark.sources.readers import (
    paired_scan,
    parse_blocks_json,
    read_raw_pages,
)
from comic_text_detector_spark.sources.sinks import (
    blocks_json,
    line_poly_rows,
    yolo_label_lines,
)


def test_raw_page_source_binaryfile(spark, tmp_path):
    p = tmp_path / "pages"
    p.mkdir()
    (p / "a.html").write_bytes(b"<p>hello page one content here</p>")
    (p / "b.html").write_bytes(b"<p>second page content</p>")
    df = read_raw_pages(spark, str(p))
    rows = {r.url.split("/")[-1]: bytes(r.html) for r in df.collect()}
    assert rows["a.html"].startswith(b"<p>hello")
    assert len(rows) == 2


def test_blocks_json_roundtrip(spark):
    df = spark.createDataFrame(
        [("u1", [(0, 0, 10, 0.9, "eng", False, 12.0, 0, ["hello"])])],
        "url string, blocks array<struct<block_id:int,char_start:int,char_end:int,"
        "conf:double,language:string,vertical:boolean,font_size:double,angle:int,"
        "text:array<string>>>",
    )
    js = df.select("url", blocks_json(F.col("blocks")).alias("j"))
    back = js.select("url", parse_blocks_json(F.col("j")).alias("blocks"))
    row = back.collect()[0]
    assert row.blocks[0].language == "eng" and row.blocks[0].text == ["hello"]
    # tolerant re-read: unknown fields ignored (the **kwargs analog)
    extra = spark.createDataFrame(
        [('[{"block_id":1,"char_start":2,"char_end":3,"UNKNOWN_FIELD":42}]',)],
        "j string",
    )
    got = extra.select(parse_blocks_json(F.col("j")).alias("b")).collect()[0]
    assert got.b[0].block_id == 1 and got.b[0].conf is None


def test_yolo_label_and_poly_sinks(spark):
    df = spark.createDataFrame([(0, 0.5, 0.25, 0.1, 0.2)], "cls int, cx double, cy double, w double, h double")
    line = df.select(
        yolo_label_lines(F.col("cls"), F.col("cx"), F.col("cy"), F.col("w"), F.col("h")).alias("l")
    ).collect()[0].l
    assert line == "0 0.500000 0.250000 0.100000 0.200000"
    poly = spark.createDataFrame(
        [([[0.0, 1.0], [2.0, 3.0], [4.0, 5.0], [6.0, 7.0]],)],
        "pts array<array<double>>",
    )
    row = poly.select(line_poly_rows(F.col("pts")).alias("r")).collect()[0].r
    assert row == "0 1 2 3 4 5 6 7"


def test_paired_scan_join(spark):
    imgs = spark.createDataFrame([("x.jpg", 1), ("y.jpg", 2)], "path string, v int")
    masks = spark.createDataFrame(
        [("mask-x.png", 10), ("mask-y.png", 20)], "mpath string, mv int"
    )
    out = paired_scan(
        imgs,
        masks,
        F.regexp_replace("path", r"\.jpg$", ""),
        F.regexp_replace(F.regexp_replace("mpath", r"^mask-", ""), r"\.png$", ""),
    )
    got = {(r.path, r.mpath) for r in out.collect()}
    assert got == {("x.jpg", "mask-x.png"), ("y.jpg", "mask-y.png")}


@pytest.fixture()
def media_df(spark):
    rows = [
        ("m1", b"\x89PNG\r\n" + b"z" * 300, "image/png"),
        ("m2", b"\xff\xd8\xff\xe0" + b"q" * 100, "image/jpeg"),
        ("m3", b"garbage", "application/octet-stream"),
    ]
    return spark.createDataFrame(rows, "media_id string, media binary, mime string")


def test_media_stats_and_sniff(spark, media_df):
    out = {r.media_id: r for r in media_stats(media_df).collect()}
    assert out["m1"].sniffed_mime == "image/png"
    assert out["m2"].sniffed_mime == "image/jpeg"
    assert out["m3"].sniffed_mime == "application/octet-stream"
    assert out["m1"].n_bytes == 306
    assert len(out["m1"].sha256) == 64


def test_decode_image_meta_real_headers(spark, media_df, monkeypatch):
    from comic_text_detector_spark.multimodal.binary_ops import (
        parse_image_meta,
        synthesize_gif,
        synthesize_jpeg,
        synthesize_png,
    )

    rows = [
        ("png", synthesize_png(33, 21)),
        ("jpg", synthesize_jpeg(640, 480)),
        ("gif", synthesize_gif(12, 7)),
        ("bad", b"garbage bytes here"),
        ("trunc", b"\x89PNG\r\n\x1a\n\x00\x00"),  # signature but no IHDR
    ]
    df = spark.createDataFrame(rows, "media_id string, media binary")
    out = {r.media_id: r for r in decode_image_meta(df).collect()}
    png = out["png"]
    assert (png.mime, png.width, png.height, png.channels, png.ok) == (
        "image/png", 33, 21, 3, True,
    )
    assert (out["jpg"].mime, out["jpg"].width, out["jpg"].height, out["jpg"].ok) == (
        "image/jpeg", 640, 480, True,
    )
    assert (out["gif"].width, out["gif"].height, out["gif"].channels) == (12, 7, 3)
    assert not out["bad"].ok and not out["trunc"].ok
    # direct parser check, plus BMP which has no synthesizer
    assert parse_image_meta(synthesize_png(5, 4)) == ("image/png", 5, 4, 3)
    import struct as _s

    bmp = (
        b"BM" + b"\x00" * 12 + _s.pack("<I", 40) + _s.pack("<ii", 17, -9)
        + b"\x00" * 8
    )
    assert parse_image_meta(bmp) == ("image/bmp", 17, 9, 3)
    # OS/2 BITMAPCOREHEADER: DIB size 12, 16-bit unsigned dims — must parse
    # the short header, not read 32-bit garbage at offsets 18/22
    core = b"BM" + b"\x00" * 12 + _s.pack("<IHH", 12, 17, 9) + b"\x00" * 8
    assert parse_image_meta(core) == ("image/bmp", 17, 9, 3)
    # OS/2 2.x short header (declared size 16, 32-bit dims at 18/22)
    os2v2 = b"BM" + b"\x00" * 12 + _s.pack("<I", 16) + _s.pack("<ii", 17, 9)
    assert parse_image_meta(os2v2) == ("image/bmp", 17, 9, 3)
    # unknown DIB header size → reject, never return garbage dims with ok
    weird = b"BM" + b"\x00" * 12 + _s.pack("<I", 13) + _s.pack("<ii", 17, 9)
    assert parse_image_meta(weird) is None

    # frame-sampling plumbing keeps its documented fake (video needs ffmpeg)
    monkeypatch.setenv("CTD_FAKE_DECODE", "1")
    frames = sample_frames(media_df, every_n=1).collect()
    assert {f.media_id for f in frames} == {"m1", "m2", "m3"}
    m1_frames = [f for f in frames if f.media_id == "m1"]
    assert m1_frames[0].frame_idx == 0 and len(bytes(m1_frames[0].frame)) > 0


def test_bucketed_table_write_read_prune(spark, tmp_path):
    """Iceberg-style bucketed layout: snapshot appends accumulate, point
    lookups partition-prune to one url_bucket directory, and a mismatched
    bucket count refuses (it would prune to the wrong directory)."""
    import pytest as _pytest

    from comic_text_detector_spark.fixtures import corpus_df
    from comic_text_detector_spark.operators.dedup import asof_dedup
    from comic_text_detector_spark.sources.sinks import (
        read_extracted_table,
        read_url,
        write_extracted_table,
    )

    path = str(tmp_path / "tbl")
    docs = asof_dedup(corpus_df(spark, 40)).select("url", "html")
    write_extracted_table(docs, path, buckets=8)
    n1 = read_extracted_table(spark, path).count()
    assert n1 == docs.count()

    # snapshot append: second batch lands alongside the first
    more = docs.limit(5).select(
        F.concat(F.lit("snap2-"), F.col("url")).alias("url"), "html"
    )
    write_extracted_table(more, path, buckets=8)
    assert read_extracted_table(spark, path).count() == n1 + 5

    # point lookup returns exactly the row and PRUNES the scan
    target = docs.select("url").first().url
    got = read_url(spark, path, target)
    assert got.count() == 1 and got.first().url == target
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "url_bucket" in plan

    with _pytest.raises(ValueError, match="buckets=8"):
        write_extracted_table(more, path, buckets=16)


def test_span_mask_png_sink(spark):
    """S7 made real: the span-coverage mask is a valid grayscale PNG whose
    pixels round-trip exactly."""
    from comic_text_detector_spark.multimodal.binary_ops import (
        decode_grayscale_png,
        parse_image_meta,
    )
    from comic_text_detector_spark.sources.sinks import span_mask_png

    df = spark.createDataFrame(
        [
            ("u1", "hello world", [(0, 0, 5), (1, 6, 11)]),
            ("u2", "", []),
        ],
        "url string, text string,"
        " spans array<struct<block_id:int,char_start:int,char_end:int>>",
    )
    rows = {r.url: r for r in span_mask_png(df).collect()}
    m1 = bytes(rows["u1"].mask_png)
    assert parse_image_meta(m1) == ("image/png", 11, 1, 1)
    assert decode_grayscale_png(m1) == b"\xff" * 5 + b"\x00" + b"\xff" * 5
    assert not rows["u1"].truncated
    # empty document still yields a valid 1x1 PNG with a real pixel (the
    # IDAT must match the declared IHDR dims, not truncate)
    m2 = bytes(rows["u2"].mask_png)
    assert parse_image_meta(m2) == ("image/png", 1, 1, 1)
    assert decode_grayscale_png(m2) == b"\x00"
    # truncation cap bounds the row
    long = spark.createDataFrame(
        [("u3", "x" * 100, [(0, 0, 100)])],
        "url string, text string,"
        " spans array<struct<block_id:int,char_start:int,char_end:int>>",
    )
    r3 = span_mask_png(long, max_width=10).collect()[0]
    assert r3.truncated and parse_image_meta(bytes(r3.mask_png))[1] == 10


# ---- real pixel ops (F5/F6) ----


def _png_with_filters(pixels, filters):
    """Hand-filter rows with the given per-row filter types (PNG 1.2 §6)
    and wrap in a valid PNG — the decoder must undo every filter."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = pixels.shape
    stride = w * ch
    flat = pixels.reshape(h, stride).astype(int)
    raw = bytearray()
    prev = [0] * stride
    for r, ftype in zip(range(h), filters):
        cur = list(flat[r])
        out = [0] * stride
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out[x] = (cur[x] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(out)
        prev = cur

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_png_pixel_decode_all_filters():
    import numpy as np

    from comic_text_detector_spark.multimodal.pixels import decode_png_pixels

    rng = np.random.RandomState(7)
    pixels = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    png = _png_with_filters(pixels, [0, 1, 2, 3, 4])
    got = decode_png_pixels(png)
    assert got is not None and (got == pixels).all()


def test_png_encode_decode_roundtrip():
    import numpy as np

    from comic_text_detector_spark.multimodal.pixels import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.RandomState(11)
    for shape in [(3, 7, 3), (1, 1, 1), (8, 2, 1)]:
        arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
        back = decode_png_pixels(encode_png(arr))
        assert (back == arr).all()
    from comic_text_detector_spark.multimodal.binary_ops import synthesize_png

    solid = decode_png_pixels(synthesize_png(6, 4, (10, 20, 30)))
    assert solid.shape == (4, 6, 3)
    assert (solid == [10, 20, 30]).all()


def test_letterbox_geometry_and_pixels():
    import numpy as np

    from comic_text_detector_spark.multimodal.pixels import (
        letterbox_geometry,
        letterbox_pixels,
    )

    assert letterbox_geometry(64, 32, 64) == (64, 32, 0, 16)
    assert letterbox_geometry(32, 64, 64) == (32, 64, 16, 0)
    assert letterbox_geometry(10, 10, 64) == (64, 64, 0, 0)
    # rounding contract: floor(x + 0.5), not banker's round
    assert letterbox_geometry(3, 2, 64) == (64, int(2 * 64 / 3 + 0.5), 0, 10)

    arr = np.zeros((2, 4, 3), dtype=np.uint8)
    arr[:, :, 0] = 255  # red wide image
    canvas, new_w, new_h, pad_left, pad_top = letterbox_pixels(arr, 8)
    assert (new_w, new_h) == (8, 4)
    assert canvas.shape == (8, 8, 3) and (pad_left, pad_top) == (0, 2)
    assert (canvas[0] == 114).all()  # top pad stripe
    assert (canvas[2:6, :, 0] == 255).all()  # image area
    assert (canvas[6:] == 114).all()


def test_letterbox_images_spark(spark):
    from comic_text_detector_spark.multimodal.binary_ops import (
        synthesize_jpeg,
        synthesize_png,
    )
    from comic_text_detector_spark.multimodal.pixels import letterbox_images

    rows = [
        ("p1", synthesize_png(20, 10)),
        ("p2", synthesize_png(5, 40)),
        ("j1", synthesize_jpeg(9, 9)),  # not a PNG: ok=false passthrough
    ]
    df = spark.createDataFrame(rows, "media_id string, media binary")
    got = {r.media_id: r for r in letterbox_images(df, size=32).collect()}
    assert got["p1"].ok and (got["p1"].out_w, got["p1"].out_h) == (32, 16)
    assert got["p1"].pad_top == 8 and got["p1"].pad_left == 0
    assert got["p2"].ok and (got["p2"].out_w, got["p2"].out_h) == (4, 32)
    assert not got["j1"].ok and got["j1"].out_png is None
    # output is itself a decodable PNG of the target size
    from comic_text_detector_spark.multimodal.pixels import decode_png_pixels

    out = decode_png_pixels(bytes(got["p1"].out_png))
    assert out.shape == (32, 32, 3)


def test_y4m_demux_and_frame_content():
    from comic_text_detector_spark.multimodal.pixels import (
        iter_y4m_frames,
        synthesize_y4m,
    )

    v = synthesize_y4m(8, 4, n_frames=7)
    frames = list(iter_y4m_frames(v))
    assert [f[2] for f in frames] == list(range(7))
    assert all((w, h) == (8, 4) for w, h, _, _ in frames)
    # frame k's luma is (k*7+31)&0xFF by construction
    assert all(set(luma) == {(k * 7 + 31) & 0xFF} for _, _, k, luma in frames)
    # tolerant on junk / truncation
    assert list(iter_y4m_frames(b"not video")) == []
    assert list(iter_y4m_frames(v[: len(v) - 3]))[:6] == frames[:6]


def test_sample_y4m_frames_spark(spark):
    from comic_text_detector_spark.multimodal.pixels import (
        decode_png_pixels,
        sample_y4m_frames,
        synthesize_y4m,
    )

    df = spark.createDataFrame(
        [("v1", synthesize_y4m(6, 4, 25)), ("junk", b"GIF89a nope")],
        "media_id string, media binary",
    )
    rows = sample_y4m_frames(df, every_n=10).collect()
    got = {(r.media_id, r.frame_idx): r for r in rows}
    assert set(got) == {("v1", 0), ("v1", 10), ("v1", 20)}
    # every sampled frame decodes back to its constant luma
    for (_, k), r in got.items():
        arr = decode_png_pixels(bytes(r.frame_png))
        assert arr.shape == (4, 6, 1)
        assert (arr == (k * 7 + 31) % 256).all()


def test_y4m_adversarial_headers_terminate():
    """Review repros: negative W must not loop forever, non-numeric W must
    not raise, unknown colorspaces are dropped (sampling at the wrong
    stride would emit garbage-as-real), C444/C422 stride correctly."""
    from comic_text_detector_spark.multimodal.pixels import iter_y4m_frames

    assert list(iter_y4m_frames(b"YUV4MPEG2 W-1 H4\nFRAME\n" + b"x" * 64)) == []
    assert list(iter_y4m_frames(b"YUV4MPEG2 Wx H4\nFRAME\n" + b"x" * 64)) == []
    assert list(iter_y4m_frames(b"YUV4MPEG2 W4 H2 Cweird\nFRAME\n" + b"x" * 64)) == []
    # C444: 3*w*h bytes/frame — both frames must demux (not stop after 0)
    f = b"\x05" * (4 * 2 * 3)
    v = b"YUV4MPEG2 W4 H2 C444\n" + b"FRAME\n" + f + b"FRAME\n" + f
    frames = list(iter_y4m_frames(v))
    assert [i for _, _, i, _ in frames] == [0, 1]
    assert all(len(luma) == 8 for _, _, _, luma in frames)


def test_letterbox_rgba_and_gray_alpha(spark):
    """Review repro: RGBA and gray+alpha PNGs must letterbox (alpha dropped
    at the model-input call site), not crash the kernel with KeyError —
    while encode_png itself PRESERVES alpha (color types 4/6 round-trip)."""
    import numpy as np

    from comic_text_detector_spark.multimodal.pixels import (
        decode_png_pixels,
        encode_png,
        letterbox_images,
    )

    rgba = np.zeros((2, 3, 4), dtype=np.uint8)
    rgba[..., 0] = 200
    rgba[..., 3] = 255
    ga = np.zeros((3, 2, 2), dtype=np.uint8)
    ga[..., 0] = 77
    ga[..., 1] = 255
    # encode_png round-trips BOTH alpha color types losslessly
    assert (decode_png_pixels(encode_png(rgba)) == rgba).all()
    assert (decode_png_pixels(encode_png(ga)) == ga).all()

    df = spark.createDataFrame(
        [("rgba", encode_png(rgba)), ("ga", encode_png(ga))],
        "media_id string, media binary",
    )
    got = {r.media_id: r for r in letterbox_images(df, size=6).collect()}
    assert got["rgba"].ok and got["ga"].ok
    out = decode_png_pixels(bytes(got["rgba"].out_png))
    assert out.shape == (6, 6, 3)  # alpha stripped for model input
    assert decode_png_pixels(bytes(got["ga"].out_png)).shape == (6, 6, 1)


def test_warp_region_axis_aligned_equals_crop(spark):
    """F25 on real pixels: an axis-aligned quad warp with the exact
    integer mapping is a crop; the vertical branch rotates 90 CCW; the
    DataFrame face flags garbage rows ok=false."""
    import numpy as np

    from comic_text_detector_spark.multimodal.pixels import (
        encode_png,
        warp_region_images,
        warp_region_pixels,
    )

    arr = ((np.arange(20 * 16).reshape(20, 16) * 7) % 256).astype(np.uint8)[
        ..., None
    ]
    quad = [(3, 2), (12, 2), (12, 9), (3, 9)]  # x:3..12, y:2..9
    region = warp_region_pixels(arr, quad, textheight=8)
    assert region.shape == (8, 10, 1)
    assert np.array_equal(region[:, :, 0], arr[2:10, 3:13, 0])
    # vertical branch: w=textheight, h=round(textheight*ratio) (reference
    # utils/textblock.py:185-191), THEN rotate 90 CCW. textheight=10 makes
    # the mapping exact: pre-rotation 10x8 == the crop, rotated after.
    regv = warp_region_pixels(arr, quad, textheight=10, vertical=True)
    assert np.array_equal(regv[:, :, 0], np.rot90(arr[2:10, 3:13, 0]))
    # the vertical output's line height IS textheight (post-rotation rows)
    assert regv.shape[0] == 10

    # perspective quad: corners land exactly on the source corners
    pq = [(2.0, 1.0), (13.0, 3.0), (11.0, 12.0), (1.0, 9.0)]
    reg2 = warp_region_pixels(arr, pq, textheight=9)
    assert reg2[0, 0, 0] == arr[1, 2, 0]          # dest tl ← src tl
    assert reg2[0, -1, 0] == arr[3, 13, 0]        # dest tr ← src tr
    assert reg2[-1, -1, 0] == arr[12, 11, 0]      # dest br ← src br
    assert reg2[-1, 0, 0] == arr[9, 1, 0]         # dest bl ← src bl

    from comic_text_detector_spark.multimodal.pixels import decode_png_pixels

    df = spark.createDataFrame(
        [
            ("good", bytearray(encode_png(arr)), [[3.0, 2.0], [12.0, 2.0],
                                                  [12.0, 9.0], [3.0, 9.0]]),
            ("bad", bytearray(b"not a png"), [[0.0, 0.0], [1.0, 0.0],
                                              [1.0, 1.0], [0.0, 1.0]]),
            # null inner point / short inner array: tolerant ok=false,
            # never a task crash (review repro)
            ("nullpt", bytearray(encode_png(arr)),
             [[0.0, 0.0], [9.0, 0.0], [9.0, 9.0], None]),
            ("shortpt", bytearray(encode_png(arr)),
             [[0.0, 0.0], [9.0, 0.0], [9.0, 9.0], [1.0]]),
        ],
        "media_id string, media binary, quad array<array<double>>",
    )
    out = {r.media_id: r for r in warp_region_images(df, textheight=8).collect()}
    assert out["good"].ok and (out["good"].out_w, out["good"].out_h) == (10, 8)
    got = decode_png_pixels(bytes(out["good"].region_png))
    assert np.array_equal(got[:, :, 0], arr[2:10, 3:13, 0])
    for bad_id in ("bad", "nullpt", "shortpt"):
        assert not out[bad_id].ok and out[bad_id].region_png is None


def test_y4m_frame_stats_sampling(spark):
    import pytest as _pytest

    from comic_text_detector_spark.multimodal.pixels import (
        synthesize_y4m,
        y4m_frame_stats,
    )

    df = spark.createDataFrame(
        [
            ("v1", bytearray(synthesize_y4m(8, 4, n_frames=7))),
            ("v2", bytearray(synthesize_y4m(3, 5, n_frames=1))),
            ("junk", bytearray(b"not a video")),
        ],
        "media_id string, media binary",
    )
    rows = {
        (r.media_id, r.frame_idx): r
        for r in y4m_frame_stats(df, every_n=3).collect()
    }
    # every 3rd frame of v1 (0,3,6), the single frame of v2, junk dropped
    assert set(rows) == {("v1", 0), ("v1", 3), ("v1", 6), ("v2", 0)}
    for (mid, k), r in rows.items():
        w, h = (8, 4) if mid == "v1" else (3, 5)
        assert (r.width, r.height) == (w, h)
        # constant luma (k*7+31)&255 by construction -> exact sum
        assert r.luma_sum == w * h * ((k * 7 + 31) & 0xFF)
    with _pytest.raises(ValueError):
        y4m_frame_stats(df, every_n=0)
