"""Property-based robustness (hypothesis): the kernel never crashes and its
invariants hold on arbitrary byte junk and on randomly composed HTML."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from comic_text_detector_spark.functions.html import escape, tokenize, unescape
from comic_text_detector_spark.plans.extract import extract_document

FRAGMENTS = st.lists(
    st.one_of(
        st.text(max_size=40),
        st.sampled_from(
            [
                "<p>", "</p>", "<div>", "</div>", "<a href='#'>", "</a>",
                "<nav>", "</nav>", "<script>var x=1;</script>", "<!-- c -->",
                "<br/>", "<img src=x>", "<td>", "</td>", "<!doctype html>",
                "<p title='a>b'>", "<P CLASS=X>", "</SPAN>", "<", ">", "&amp;",
                "&#65;", "&bogus;", "<unclosed", "<ul><li>", "</li></ul>",
            ]
        ),
    ),
    max_size=30,
)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=512))
def test_tokenize_arbitrary_bytes_never_crashes(b):
    nodes = tokenize(b)
    prev_end = -1
    for nd in nodes:
        assert nd.text and nd.text == " ".join(nd.text.split())
        assert nd.char_end - nd.char_start == len(nd.text)
        assert nd.char_start > prev_end
        prev_end = nd.char_end


@settings(max_examples=300, deadline=None)
@given(FRAGMENTS)
def test_extract_invariants_on_random_html(frags):
    html = "".join(frags).encode("utf-8", errors="ignore")
    text, spans = extract_document(html)
    assert text == text.strip()
    # spans slice-join reconstructs the text exactly
    assert " ".join(text[s:e] for _, s, e in spans) == text
    prev = -1
    for i, (bid, s, e) in enumerate(spans):
        assert bid == i
        assert 0 <= s < e <= len(text)
        assert s > prev
        prev = e
    if not spans:
        assert text == ""


def test_tokenize_mixed_quote_tag_is_linear_time():
    """Regression: a tag mixing both quote styles with no closing '>' used
    to send the slow-path matcher into exponential backtracking (a ~220
    byte crafted document took >100 s), and a page of such tags made the
    slow path rescan to the end of the page from every tag (56 KB took
    ~5 s). Both must stay linear."""
    import time

    doc = (
        b'<uncloseda b  c\t\nd</td>&amp;<!-- c --><p title=\'a>b\'>'
        b'<!-- c --><p a="1" b=\'2\'><unclosed<unclosed&bogus;'
        b'<p a="un>bal</p>&bogus;<p/>><p/><unclosed<x-y><nav>'
        b'<title>t</title></li></ul><div><!-- c --></x-y>'
        b'<P CLASS=X></nav><td>'
    )
    t0 = time.time()
    tokenize(doc)
    # long unclosed mixed-quote run: worst-case shape at 100x the length
    t1 = time.time()
    tokenize(b'<p a="x' + b"ab'c" * 5000 + b" no close ever")
    assert time.time() - t0 < 5.0 and time.time() - t1 < 5.0
    # 8,000 tags whose quote-aware body never closes: one node per tag
    t2 = time.time()
    assert len(tokenize('<a \'">\'' * 8000)) == 8000
    assert time.time() - t2 < 1.0


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_escape_unescape_roundtrip(t):
    assert unescape(escape(t)) == t


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            blacklist_characters="<>&", blacklist_categories=("Cs",)
        ),
        min_size=41,
        max_size=120,
    )
)
def test_single_paragraph_roundtrip(t):
    """Any whitespace-normalized 41+ char text survives a <p> wrap."""
    norm = " ".join(t.split())
    if len(norm) <= 40:
        return
    html = f"<html><body><p>{norm}</p></body></html>".encode()
    text, spans = extract_document(html)
    assert text == norm
    assert len(spans) == 1


# --- round-2 surfaces: Type0 PDF CMap and image header synthesizers ---

_PDF_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
    min_size=1,
    max_size=60,
).map(lambda s: " ".join(s.split())).filter(bool)


@settings(max_examples=60, deadline=None)
@given(st.lists(_PDF_TEXT, min_size=1, max_size=5), st.booleans())
def test_type0_pdf_roundtrip_property(lines, compress):
    """Any BMP text round-trips through the Type0/Identity-H CMap path."""
    from comic_text_detector_spark.sources.pdf import (
        extract_pdf_text,
        synthesize_type0_pdf,
    )

    pdf = synthesize_type0_pdf(lines, compress=compress)
    assert extract_pdf_text(pdf) == " ".join(lines)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=256))
def test_pdf_extract_never_raises_on_junk(junk):
    from comic_text_detector_spark.sources.pdf import extract_pdf_text

    assert isinstance(extract_pdf_text(junk), str)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=4096),
)
def test_image_header_roundtrip_property(w, h):
    from comic_text_detector_spark.multimodal.binary_ops import (
        parse_image_meta,
        synthesize_gif,
        synthesize_jpeg,
        synthesize_png,
    )

    assert parse_image_meta(synthesize_png(min(w, 64), min(h, 64))) == (
        "image/png", min(w, 64), min(h, 64), 3,
    )
    assert parse_image_meta(synthesize_jpeg(w, h)) == ("image/jpeg", w, h, 3)
    if w <= 0xFFFF and h <= 0xFFFF:
        assert parse_image_meta(synthesize_gif(w, h)) == ("image/gif", w, h, 3)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=128))
def test_image_parse_never_raises_on_junk(junk):
    from comic_text_detector_spark.multimodal.binary_ops import parse_image_meta

    r = parse_image_meta(junk)
    assert r is None or (isinstance(r, tuple) and len(r) == 4)


@settings(max_examples=80, deadline=None)
@given(
    st.integers(1, 9),
    st.integers(1, 9),
    st.sampled_from([1, 3]),
    st.lists(st.integers(0, 4), min_size=9, max_size=9),
    st.integers(0, 2**32 - 1),
)
def test_png_unfilter_roundtrip_property(w, h, ch, filters, seed):
    """Any pixel array, any per-row filter assignment: the decoder undoes
    the spec filtering exactly (uses the independent filterer from
    test_sources_multimodal)."""
    import numpy as np

    from comic_text_detector_spark.multimodal.pixels import decode_png_pixels
    from tests.test_sources_multimodal import _png_with_filters

    rng = np.random.RandomState(seed % (2**31))
    pixels = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
    png = _png_with_filters(pixels, filters[:h])
    got = decode_png_pixels(png)
    assert got is not None and (got == pixels).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-32768, 32767), min_size=0, max_size=40),
        min_size=1,
        max_size=3,
    ).filter(lambda chs: len({len(c) for c in chs}) == 1),
    st.integers(1, 192000),
    st.sampled_from([8, 16]),
)
def test_wav_roundtrip_property(channels, rate, bits):
    """Any channel layout/rate/width: synthesize → parse recovers the
    exact samples, and the features match an independent brute force."""
    import math

    from comic_text_detector_spark.multimodal.wav import (
        parse_wav,
        synthesize_wav,
        wav_features,
    )

    if bits == 8:  # clamp into the 8-bit domain
        channels = [[max(-128, min(127, s)) for s in c] for c in channels]
    p = parse_wav(synthesize_wav(channels, rate, bits))
    assert p is not None
    assert [c.tolist() for c in p["frames"]] == channels
    f = wav_features(p)
    flat = [s for c in channels for s in c]
    n = len(channels[0])
    assert f["sum_sq"] == sum(s * s for s in flat)
    assert f["peak"] == max((abs(s) for s in flat), default=0)
    assert f["duration_ms"] == n * 1000 // rate
    c0 = channels[0]
    assert f["zero_crossings"] == sum(
        1 for i in range(1, n) if c0[i - 1] * c0[i] < 0
    )
    if flat:
        assert f["rms_milli"] == math.floor(
            math.sqrt(sum(s * s for s in flat) / len(flat)) * 1000.0
        )


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 50),
    st.integers(1, 16),
    st.integers(0, 15),
)
def test_chunk_window_math_property(n_words, chunk, stride_off):
    """Pure-python replica of chunk_sliding's closed-form window count:
    windows cover every token, consecutive windows overlap by exactly
    chunk-stride tokens, and no window is empty. (This validates the
    FORMULA's algebra; test_chunk_sliding_matches_replica below pins the
    actual operator to the same replica so the two cannot drift.)"""
    stride = max(1, min(chunk, 1 + stride_off))
    if n_words <= chunk:
        n_chunks = 1
    else:
        n_chunks = 1 + -(-(n_words - chunk) // stride)
    covered = set()
    prev_end = None
    for k in range(n_chunks):
        start = k * stride
        end = min(start + chunk, n_words)
        assert start < n_words  # no empty window
        covered.update(range(start, end))
        if prev_end is not None and prev_end < n_words:
            assert start <= prev_end  # no gap
        prev_end = end
    assert covered == set(range(n_words))  # full coverage


def _chunk_replica(words, chunk, stride):
    """The same closed form, producing the operator's full output rows."""
    n = len(words)
    if n == 0:
        return []
    n_chunks = 1 if n <= chunk else 1 + -(-(n - chunk) // stride)
    out = []
    for k in range(n_chunks):
        start = k * stride
        piece = words[start:start + chunk]
        out.append((k, start, len(piece), " ".join(piece)))
    return out


def test_chunk_sliding_matches_replica(spark):
    """Run chunk_sliding ITSELF over a grid of document lengths and
    (chunk, stride) shapes and require row-exact agreement with the
    pure-python replica — a regression in the operator's sequence/slice
    expressions cannot slip past the formula-only property test."""
    from comic_text_detector_spark.operators.packing import chunk_sliding

    docs = [
        (i, " ".join(f"w{j}" for j in range(i)) if i else "  ")
        for i in range(0, 40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for chunk, stride in [(8, 8), (8, 5), (5, 2), (1, 1), (16, 3)]:
        got = {}
        for r in chunk_sliding(df, chunk=chunk, stride=stride).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_id"], r["start_word"], r["n_tokens"],
                 r["chunk_text"])
            )
        for i in range(0, 40):
            words = [f"w{j}" for j in range(i)]
            want = _chunk_replica(words, chunk, stride)
            have = sorted(got.get(i, []))
            assert have == want, (i, chunk, stride)
