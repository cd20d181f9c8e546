"""Sources/sinks (S-group) and multimodal binary plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from comic_text_detector_spark.multimodal.binary_ops import (
    decode_image_meta,
    sniff_mime,
)
from comic_text_detector_spark.sources.sinks import (
    blocks_json,
    yolo_label_lines,
)


def test_blocks_json_roundtrip(spark):
    df = spark.createDataFrame(
        [("u1", [(0, 0, 10, 0.9, "eng", False, 12.0, 0, ["hello"])])],
        "url string, blocks array<struct<block_id:int,char_start:int,char_end:int,"
        "conf:double,language:string,vertical:boolean,font_size:double,angle:int,"
        "text:array<string>>>",
    )
    import json

    js = df.select("url", blocks_json(F.col("blocks")).alias("j"))
    (block,) = json.loads(js.collect()[0].j)
    assert block["language"] == "eng" and block["text"] == ["hello"]
    assert (block["block_id"], block["char_start"], block["char_end"]) == (0, 0, 10)


def test_yolo_label_and_poly_sinks(spark):
    df = spark.createDataFrame([(0, 0.5, 0.25, 0.1, 0.2)], "cls int, cx double, cy double, w double, h double")
    line = df.select(
        yolo_label_lines(F.col("cls"), F.col("cx"), F.col("cy"), F.col("w"), F.col("h")).alias("l")
    ).collect()[0].l
    assert line == "0 0.500000 0.250000 0.100000 0.200000"


@pytest.fixture()
def media_df(spark):
    rows = [
        ("m1", b"\x89PNG\r\n" + b"z" * 300, "image/png"),
        ("m2", b"\xff\xd8\xff\xe0" + b"q" * 100, "image/jpeg"),
        ("m3", b"garbage", "application/octet-stream"),
    ]
    return spark.createDataFrame(rows, "media_id string, media binary, mime string")


def test_media_stats_and_sniff(spark, media_df):
    out = {
        r.media_id: r.sniffed_mime
        for r in media_df.select(
            "media_id", sniff_mime(F.col("media")).alias("sniffed_mime")
        ).collect()
    }
    assert out == {
        "m1": "image/png",
        "m2": "image/jpeg",
        "m3": "application/octet-stream",
    }


def test_decode_image_meta_real_headers(spark):
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


def test_bucketed_table_write_read_prune(spark, tmp_path):
    """Iceberg-style bucketed layout: snapshot appends accumulate, point
    lookups partition-prune to one url_bucket directory, and a mismatched
    bucket count refuses (it would prune to the wrong directory)."""
    import pytest as _pytest

    from comic_text_detector_spark.fixtures import corpus_df
    from comic_text_detector_spark.operators.dedup import asof_dedup
    from comic_text_detector_spark.sources.sinks import (
        read_url,
        write_extracted_table,
    )

    path = str(tmp_path / "tbl")
    docs = asof_dedup(corpus_df(spark, 40)).select("url", "html")
    write_extracted_table(docs, path, buckets=8)
    n1 = spark.read.parquet(path).count()
    assert n1 == docs.count()

    # snapshot append: second batch lands alongside the first
    more = docs.limit(5).select(
        F.concat(F.lit("snap2-"), F.col("url")).alias("url"), "html"
    )
    write_extracted_table(more, path, buckets=8)
    assert spark.read.parquet(path).count() == n1 + 5

    # point lookup returns exactly the row and PRUNES the scan
    target = docs.select("url").first().url
    got = read_url(spark, path, target)
    assert got.count() == 1 and got.first().url == target
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "url_bucket" in plan

    with _pytest.raises(ValueError, match="buckets=8"):
        write_extracted_table(more, path, buckets=16)


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
