"""Deterministic synthetic webtext corpus with golden extractions.

The analog of the reference's seeded synthetic-data generator
(``ComicTextSampler``, reference text_rendering.py:313-403): it composes
known content paragraphs into a boilerplate shell, so golden ``text`` is
known BY CONSTRUCTION (the generator drew it), exactly like the reference
knows its labels because it rendered them (text_rendering.py:383-395).

Two surfaces:

* ``gen_documents`` — pure-Python corpus for pytest goldens, including every
  edge-case tier from FIXTURES.md §1a (dup-/empty-/blockless-/split-/merge-/
  huge-/nested-/badenc-).
* ``wrap_html_expr`` — a Spark Column expression that wraps an arbitrary
  text column in the same boilerplate shell, used to turn the driver's
  ``documents(doc_id, text, ...)`` table into extraction input whose oracle
  is simply the original text (byte-identical round trip).

Seed-fixed (reference precedent: train_db.py:27-29, seg_dataset.py:214-216).
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.html import escape
from .schemas import DOCUMENTS_SCHEMA

SEED = 42
_BASE_TS = dt.datetime(2026, 1, 1, 0, 0, 0)

_WORDS = (
    "crawl corpus spark shuffle partition column vector batch stream filter "
    "window lattice harbor meadow copper signal lantern orchard timber marble "
    "quartz cedar ember falcon garnet hollow ivory juniper kestrel larch"
).split()

_NAV_ITEMS = ["Home", "World", "Tech", "Science", "Sports", "Archive", "About"]
_AD_TEXTS = [
    "Buy now and save big on everything today",
    "Subscribe for unlimited premium access offers",
    "Sponsored: ten gadgets you cannot miss",
]


def _shell(
    host: int,
    paragraphs: list[str],
    *,
    traps_between: str = "",
    nesting: int = 0,
    blockless: bool = False,
    link_heavy_content: bool = False,
    content_markup: str = "p",
) -> str:
    """Compose the boilerplate shell around known content paragraphs."""
    nav = "".join(
        f'<li><a href="/{w.lower()}">{w}</a></li>' for w in _NAV_ITEMS
    )
    header = (
        f"<header><h1>Site {host} Daily</h1>"
        f"<nav><ul>{nav}</ul></nav></header>"
    )
    ads = f"<aside><p>{_AD_TEXTS[host % len(_AD_TEXTS)]}</p></aside>"
    related = (
        '<div><a href="#p">Prev</a> <a href="#n">Next</a> '
        '<a href="#t">Top stories</a></div>'
    )
    body_paras = []
    for i, p in enumerate(paragraphs):
        esc = escape(p)
        if link_heavy_content and i == 0:
            # A dense paragraph drowned in a link-heavy container: link chars
            # dominate, so the block classifier rejects the container
            # (conf < 0.4); the density head then recovers the paragraph
            # (refine_undetected_mask analog). Link texts stay short (<56
            # chars) so they are NOT recovered.
            links = " ".join(f'<a href="#{j}">linkword{j}</a>' for j in range(60))
            esc = f"{links} {esc} {links}"
        open_n = "<div>" * nesting
        close_n = "</div>" * nesting
        if blockless:
            body_paras.append(f"{esc}")
        else:
            t = content_markup
            body_paras.append(f"{open_n}<{t}>{esc}</{t}>{close_n}")
        if i == 0 and traps_between:
            body_paras.append(traps_between)
        elif i < len(paragraphs) - 1:
            body_paras.append(related)
    article = "".join(body_paras)
    if content_markup == "li":
        article = f"<ul>{article}</ul>"
    elif content_markup == "td":
        article = f"<table><tr>{article}</tr></table>"
    if not blockless:
        article = f"<main><article>{article}</article></main>"
    footer = (
        f"<footer><p>&copy; 2026 site{host}.example</p>"
        f"<nav><a href='/terms'>Terms</a> <a href='/privacy'>Privacy</a></nav>"
        "</footer>"
    )
    comments = (
        "<form><label>Comment</label><textarea>say something</textarea>"
        "<button>Post</button></form>"
    )
    return (
        "<!DOCTYPE html><html><head><title>page title junk</title>"
        "<style>body{margin:0}</style><script>var x=1;</script></head>"
        f"<body>{header}{ads}{article}{related}{footer}{comments}</body></html>"
    )


def _para(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def gen_documents(n: int = 200, seed: int = SEED) -> list[dict]:
    """Deterministic corpus: ``n`` regular rows + one of each edge-case tier.

    Each row dict carries the DOCUMENTS_SCHEMA fields plus ``n_blocks``
    (expected final block count, golden by construction).
    """
    rng = random.Random(seed)
    rows: list[dict] = []

    def add(url, host, paras, n_blocks, *, html=None, lang="eng", ts_off=0, **shell_kw):
        raw = html if html is not None else _shell(host, paras, **shell_kw)
        rows.append(
            {
                "url": url,
                "warc_ts": _BASE_TS + dt.timedelta(seconds=len(rows) + ts_off),
                "html": raw if isinstance(raw, bytes) else raw.encode("utf-8"),
                "text": " ".join(paras).strip(),
                "lang": lang,
                "n_blocks": n_blocks,
            }
        )

    langs = ["eng", "ja", "unknown"]
    for i in range(n):
        # Zipf-ish host skew: a few hot hosts exist (exercises salting).
        host = min(int(rng.paretovariate(1.2)), 40)
        k = rng.randint(1, 4)
        paras = [_para(rng, rng.randint(12, 60)) for _ in range(k)]
        add(
            f"https://host{host}.example/article/{i}",
            host,
            paras,
            1,  # 'related' traps between paras are small => blocks merge
            lang=langs[i % 3],
        )

    # --- edge tiers (FIXTURES.md §1a) ---
    for v in range(3):  # same url at 3 warc_ts; latest capture must win
        add(
            "https://dup-host.example/a",
            1,
            [f"capture version {v} of this page " + _para(rng, 20)],
            1,
            ts_off=1000 + v,
        )
    add("https://empty-host.example/a", 2, [], 0)
    add(
        "https://blockless-host.example/a",
        3,
        [_para(rng, 40)],
        1,
        blockless=True,
    )
    # split-: two content runs separated by a huge boilerplate gap
    big_trap = "<div>" + " ".join(
        f'<a href="#{j}">{_para(rng, 3)}</a>' for j in range(120)
    ) + "</div>"
    add(
        "https://split-host.example/a",
        4,
        [_para(rng, 25), _para(rng, 25)],
        2,
        traps_between=big_trap,
    )
    # merge-: adjacent sibling paragraphs must land in ONE block
    add("https://merge-host.example/a", 5, [_para(rng, 30), _para(rng, 30)], 1)
    # huge-: ~300x median page (skew row)
    add(
        "https://huge-host.example/a",
        6,
        [_para(rng, 50) for _ in range(200)],
        1,
    )
    add(
        "https://nested-host.example/a",
        7,
        [_para(rng, 40)],
        1,
        nesting=31,
    )
    # recovery-: dense paragraph inside a link-heavy rejected container
    rec = _para(rng, 40)
    rows_before = len(rows)
    add(
        "https://recover-host.example/a",
        8,
        [rec],
        1,
        link_heavy_content=True,
    )
    # golden text for the recovery row is ONLY the dense paragraph (the link
    # words around it are rejected with their block and are too short to
    # recover).
    rows[rows_before]["text"] = rec
    # inline-: inline markup (<em>/<strong>/<a>) inside one paragraph; the
    # inline tags are NOT block tags so the nodes share a block and join
    # back with single spaces
    inline_words = [_para(rng, 6), _para(rng, 6), _para(rng, 6)]
    inline_html = _shell(
        13,
        ["PLACEHOLDER"],
    ).replace(
        "<p>PLACEHOLDER</p>",
        f"<p>{inline_words[0]} <em>{inline_words[1]}</em> "
        f'<a href="#x">{inline_words[2]}</a> tail words here</p>',
    )
    rows_before = len(rows)
    add("https://inline-host.example/a", 13, ["x"], 1, html=inline_html)
    rows[rows_before]["text"] = (
        f"{inline_words[0]} {inline_words[1]} {inline_words[2]} tail words here"
    )
    # list-: content as <ul><li> items (block-per-item, merged by gap rule)
    add(
        "https://list-host.example/a",
        11,
        [_para(rng, 8) for _ in range(5)],
        1,
        content_markup="li",
    )
    # table-: content in table cells
    add(
        "https://table-host.example/a",
        12,
        [_para(rng, 8) for _ in range(4)],
        1,
        content_markup="td",
    )
    # badenc-: invalid utf-8 bytes; decode policy errors='replace'
    bad_head = "the head of this paragraph survives the bad bytes"
    bad_para = "decoded tail paragraph survives intact after the bad byte"
    bad_html = (
        b"<html><body><p>" + bad_head.encode() + b" "
        + b"\xff\xfe"
        + b" tail</p><p>" + bad_para.encode() + b"</p></body></html>"
    )
    rows_before = len(rows)
    add("https://badenc-host.example/a", 9, [bad_para], 1, html=bad_html)
    rows[rows_before]["text"] = bad_head + " �� tail " + bad_para
    # escaped entities round-trip
    ent_para = 'comparing a &lt; b &amp;&amp; c &gt; "d" in the parser'
    rows_before = len(rows)
    add(
        "https://entity-host.example/a",
        10,
        ["x"],
        1,
        html=f"<html><body><p>{ent_para}</p></body></html>",
    )
    rows[rows_before]["text"] = 'comparing a < b && c > "d" in the parser'
    return rows


def corpus_df(spark: SparkSession, n: int = 200, seed: int = SEED) -> DataFrame:
    rows = gen_documents(n, seed)
    data = [
        (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows
    ]
    return spark.createDataFrame(data, DOCUMENTS_SCHEMA)


def gen_hard_documents(n: int = 100, seed: int = SEED + 1) -> list[dict]:
    """Adversarial tier: pages where heuristics are ALLOWED to be imperfect.

    Unlike ``gen_documents`` (byte-identity by construction), these rows
    stress the decision boundaries — content near the confidence edge,
    moderate link densities, decoy boilerplate in neutral containers — and
    are scored with the span-PRF evaluator (plans/eval.py) against a quality
    floor rather than byte equality. Golden text remains known by
    construction.
    """
    rng = random.Random(seed)
    rows: list[dict] = []
    for i in range(n):
        host = rng.randint(0, 20)
        kind = i % 4
        paras: list[str] = []
        if kind == 0:
            # borderline-short content paragraphs (just above the conf edge)
            paras = [_para(rng, rng.randint(5, 8)) for _ in range(3)]
        elif kind == 1:
            # content with moderate inline-link share (~25% of chars)
            core = [_para(rng, 30) for _ in range(2)]
            paras = core
        elif kind == 2:
            # long content next to a long decoy in a neutral div (decoy is
            # link-free and long: the classifier WILL keep it — golden
            # includes it, mirroring real extractors' over-inclusion)
            paras = [_para(rng, 40), "decoy " + _para(rng, 30)]
        else:
            paras = [_para(rng, rng.randint(10, 50))]
        html = _shell(host, paras)
        if kind == 1:
            # splice inline links into the first paragraph at word bounds
            words = paras[0].split()
            k = len(words) // 4
            linked = " ".join(
                f'<a href="#{j}">{w}</a>' if j < k else w
                for j, w in enumerate(words)
            )
            html = html.replace(f"<p>{escape(paras[0])}</p>", f"<p>{linked}</p>", 1)
        rows.append(
            {
                "url": f"https://hard{host}.example/{i}",
                "warc_ts": _BASE_TS + dt.timedelta(seconds=i),
                "html": html.encode("utf-8"),
                "text": " ".join(paras).strip(),
                "lang": "eng",
            }
        )
    return rows


# ---------------------------------------------------------------------------
# Spark-expression wrap for the driver's documents table (oracle round trip)
# ---------------------------------------------------------------------------

_SHELL_HEAD = (
    "<!DOCTYPE html><html><head><title>t</title><style>x{}</style></head><body>"
    "<header><h1>Host Daily</h1><nav><ul>"
    '<li><a href="/h">Home</a></li><li><a href="/w">World</a></li>'
    '<li><a href="/t">Tech</a></li></ul></nav></header>'
    "<aside><p>Sponsored: ten gadgets you cannot miss today</p></aside>"
    "<main><article>"
)
_SHELL_MID = (
    '</p><div><a href="#p">Prev</a> <a href="#n">Next</a> '
    '<a href="#t">Top stories</a></div><p>'
)
_SHELL_TAIL = (
    "</article></main>"
    '<div><a href="#p">Prev</a> <a href="#n">Next</a></div>'
    "<footer><p>&copy; 2026 example</p>"
    '<nav><a href="/terms">Terms</a></nav></footer>'
    "<form><label>Say</label><button>Post</button></form>"
    "</body></html>"
)


def wrap_html_expr(text_col: Column, two_paragraphs: bool = False) -> Column:
    """Pure-column html synthesis around ``text_col`` (no UDF).

    Extraction of the result is byte-identical to ``text_col`` — the DuckDB
    oracle for the round-trip query is just ``SELECT id, text``.

    ``two_paragraphs`` splits at the word midpoint with a link-trap div in
    between, guarded so both halves stay above the classifier's
    full-confidence size (>40 chars).
    """
    if not two_paragraphs:
        body = F.concat(F.lit("<p>"), text_col, F.lit("</p>"))
    else:
        words = F.split(text_col, " ")
        half = (F.size(words) / 2).cast("int")
        p1 = F.array_join(F.slice(words, F.lit(1), half), " ")
        p2 = F.array_join(
            F.slice(words, half + 1, F.greatest(F.size(words) - half, F.lit(0))), " "
        )
        body = F.when(
            (F.length(p1) > 40) & (F.length(p2) > 40),
            F.concat(F.lit("<p>"), p1, F.lit(_SHELL_MID), p2, F.lit("</p>")),
        ).otherwise(F.concat(F.lit("<p>"), text_col, F.lit("</p>")))
    return F.encode(
        F.concat(F.lit(_SHELL_HEAD), body, F.lit(_SHELL_TAIL)), "utf-8"
    )
