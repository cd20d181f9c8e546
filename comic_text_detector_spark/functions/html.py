"""HTML byte-stream tokenizer: raw page bytes → DOM node stream.

This is the engine's analog of the reference's image decode + backbone pass
(reference utils/io_utils.py:42 ``imread`` and basemodel.py:166-170): one
linear scan over the byte stream produces the per-node "feature map" that
both scoring heads consume. It runs ONLY inside Arrow-batched UDF stages
(plans/extract.py) — never as a per-row Spark UDF.

Design notes (scale):
  * pure str.find/regex scanning (C-speed inner loops), no external HTML lib;
  * single pass, O(bytes); no DOM tree materialized — just an open-tag stack;
  * deterministic decode policy: utf-8 with errors='replace'
    (FIXTURES.md 'badenc-' rows);
  * whitespace normalization per text node is ``' '.join(s.split())`` —
    the same normalization the assembly contract uses (reference
    utils/textblock.py:196-199 ``' '.join(text).strip()``).
"""

from __future__ import annotations

import re
from bisect import bisect_left
from typing import NamedTuple

VOID_TAGS = frozenset(
    "br img hr meta link input area base col embed source track wbr param".split()
)
# Structural boilerplate: any text under these is never main content.
# (The recast of the YOLO head's negative classes.)
BOILER_TAGS = frozenset(
    "nav header footer aside script style noscript form iframe button head "
    "title svg figcaption select option label template datalist dialog menu".split()
)
# Block-level containers: each open starts a new candidate block (the
# detection-box analog).
BLOCK_TAGS = frozenset(
    "p div article main section h1 h2 h3 h4 h5 h6 li ul ol table tr td th "
    "blockquote pre body figure dd dt dl address fieldset hgroup details "
    "summary center".split()
)

_ENT_RE = re.compile(r"&(#[xX]?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);")
_NAMED_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": "\u00a0",
    # the high-frequency tail of real pages: typographic punctuation,
    # legal marks, Latin-1 letters, common math/Greek — HTML4 §24 /
    # WHATWG named refs (public spec constants). Unknown names still
    # pass through verbatim (decodable-or-left, never guessed).
    "mdash": "\u2014",
    "ndash": "\u2013",
    "hellip": "\u2026",
    "lsquo": "\u2018",
    "rsquo": "\u2019",
    "ldquo": "\u201c",
    "rdquo": "\u201d",
    "sbquo": "\u201a",
    "bdquo": "\u201e",
    "prime": "\u2032",
    "Prime": "\u2033",
    "laquo": "\u00ab",
    "raquo": "\u00bb",
    "copy": "\u00a9",
    "reg": "\u00ae",
    "trade": "\u2122",
    "deg": "\u00b0",
    "middot": "\u00b7",
    "bull": "\u2022",
    "dagger": "\u2020",
    "Dagger": "\u2021",
    "sect": "\u00a7",
    "para": "\u00b6",
    "plusmn": "\u00b1",
    "times": "\u00d7",
    "divide": "\u00f7",
    "frac12": "\u00bd",
    "frac14": "\u00bc",
    "frac34": "\u00be",
    "sup1": "\u00b9",
    "sup2": "\u00b2",
    "sup3": "\u00b3",
    "micro": "\u00b5",
    "cent": "\u00a2",
    "pound": "\u00a3",
    "yen": "\u00a5",
    "euro": "\u20ac",
    "curren": "\u00a4",
    "iexcl": "\u00a1",
    "iquest": "\u00bf",
    "szlig": "\u00df",
    "agrave": "\u00e0",
    "aacute": "\u00e1",
    "acirc": "\u00e2",
    "atilde": "\u00e3",
    "auml": "\u00e4",
    "aring": "\u00e5",
    "aelig": "\u00e6",
    "ccedil": "\u00e7",
    "egrave": "\u00e8",
    "eacute": "\u00e9",
    "ecirc": "\u00ea",
    "euml": "\u00eb",
    "igrave": "\u00ec",
    "iacute": "\u00ed",
    "icirc": "\u00ee",
    "iuml": "\u00ef",
    "ntilde": "\u00f1",
    "ograve": "\u00f2",
    "oacute": "\u00f3",
    "ocirc": "\u00f4",
    "otilde": "\u00f5",
    "ouml": "\u00f6",
    "oslash": "\u00f8",
    "ugrave": "\u00f9",
    "uacute": "\u00fa",
    "ucirc": "\u00fb",
    "uuml": "\u00fc",
    "yacute": "\u00fd",
    "yuml": "\u00ff",
    "Agrave": "\u00c0",
    "Aacute": "\u00c1",
    "Auml": "\u00c4",
    "Aring": "\u00c5",
    "AElig": "\u00c6",
    "Ccedil": "\u00c7",
    "Egrave": "\u00c8",
    "Eacute": "\u00c9",
    "Ntilde": "\u00d1",
    "Ouml": "\u00d6",
    "Oslash": "\u00d8",
    "Uuml": "\u00dc",
    "shy": "\u00ad",
    "ensp": "\u2002",
    "emsp": "\u2003",
    "thinsp": "\u2009",
    "zwnj": "\u200c",
    "zwj": "\u200d",
    "lrm": "\u200e",
    "rlm": "\u200f",
    "oline": "\u203e",
    "frasl": "\u2044",
    "permil": "\u2030",
    "larr": "\u2190",
    "uarr": "\u2191",
    "rarr": "\u2192",
    "darr": "\u2193",
    "harr": "\u2194",
    "minus": "\u2212",
    "lowast": "\u2217",
    "infin": "\u221e",
    "ne": "\u2260",
    "le": "\u2264",
    "ge": "\u2265",
    "alpha": "\u03b1",
    "beta": "\u03b2",
    "gamma": "\u03b3",
    "delta": "\u03b4",
    "pi": "\u03c0",
    "sigma": "\u03c3",
    "omega": "\u03c9",
    "Omega": "\u03a9",
}


def _ent_sub(m: re.Match) -> str:
    body = m.group(1)
    if body[0] == "#":
        try:
            code = int(body[2:], 16) if body[1] in "xX" else int(body[1:])
            if 0 < code <= 0x10FFFF:
                return chr(code)
        except ValueError:
            pass
        return m.group(0)
    return _NAMED_ENTITIES.get(body, m.group(0))


def unescape(text: str) -> str:
    """Deterministic minimal HTML entity decoding."""
    if "&" not in text:
        return text
    return _ENT_RE.sub(_ent_sub, text)


def escape(text: str) -> str:
    """Inverse used by the fixture generator."""
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


class Node(NamedTuple):
    node_id: int
    tag: str  # nearest enclosing block-level tag
    depth: int
    block_key: int  # id of nearest block container (candidate-block key)
    is_link: bool
    is_boiler: bool
    char_start: int  # offsets into the all-nodes normalized text stream
    char_end: int
    text: str  # whitespace-normalized, entity-decoded


# One master scanner: comments, whole rawtext elements, tags, and junk
# constructs are each a branch, so the inner loop does one C-level regex
# step per markup construct instead of several find/startswith calls.
_SCAN = re.compile(
    r"<!--.*?(?:-->|$)"                                    # comment
    r"|<(script|style|textarea|title|noscript)\b[^>]*>"    # rawtext element
    r".*?(?:</\1[^>]*>|$)"
    # normal tag (fast path: body ends at the first '>'; the rare tag whose
    # QUOTED attribute value contains '>' is detected by unbalanced quotes
    # in the body and re-matched with _TAG_SLOW below)
    r"|<(/?)([a-zA-Z][a-zA-Z0-9-]*)([^>]*?)>"
    r"|<[^>]*(?:>|$)",                                     # doctype/PI/junk
    re.S | re.I,
)

# the characters that steer the slow path's quote-aware tag scan
_TAG_STOPS = re.compile(r"[>\"']")


def _quoted_tag_ends(s: str) -> tuple[list[int], list[int]]:
    """Where a quote-aware tag body starting at each stop character ends.

    The slow path reads a tag body left to right, HTML5-style: a quote
    opens a value that runs to the next quote of the same kind, and the
    first ``>`` outside a value closes the tag. Returns ``(stops, ends)``:
    the positions of every ``>``, ``"`` and ``'`` in ``s``, and for each
    the position of the ``>`` that closes a body reaching it outside a
    value, or -1 when an unclosed quote or the end of ``s`` comes first.
    One right-to-left pass, so every tag of a document is resolved in
    linear time: rescanning from each tag cost O(n) per tag, quadratic on
    a page of unclosed mixed-quote tags."""
    stops = [m.start() for m in _TAG_STOPS.finditer(s)]
    ends = [-1] * len(stops)
    next_quote = {'"': len(stops), "'": len(stops)}
    for i in range(len(stops) - 1, -1, -1):
        c = s[stops[i]]
        if c == ">":
            ends[i] = stops[i]
            continue
        j = next_quote[c]  # the value's closing quote; the body goes on after it
        if j + 1 < len(stops):
            ends[i] = ends[j + 1]
        next_quote[c] = i
    return stops, ends

# one-lookup tag classification for the hot loop:
# name -> (is_void, boiler_delta, is_link, is_block)
_TAG_INFO: dict[str, tuple[bool, int, bool, bool]] = {}
for _t in VOID_TAGS | BOILER_TAGS | BLOCK_TAGS | {"a"}:
    _TAG_INFO[_t] = (
        _t in VOID_TAGS,
        1 if _t in BOILER_TAGS else 0,
        _t == "a",
        _t in BLOCK_TAGS,
    )
_TAG_DEFAULT = (False, 0, False, False)

# Node construction in the hot loop goes through tuple.__new__ directly:
# namedtuple's generated __new__ is a Python-level function, so each call
# pays frame setup + kwargs plumbing; tuple.__new__(Node, (...)) builds
# the SAME Node instance (type, fields, equality, attribute access all
# identical) at C speed — measured ~4% off the whole tokenizer.
_tuple_new = tuple.__new__


def tokenize(
    html_bytes: bytes | bytearray | memoryview | str | None,
) -> list[Node]:
    """One linear scan: html bytes → ordered list of normalized text nodes.

    Tolerant of unbalanced markup: a close tag pops up to its nearest
    matching open; unknown/doctype/comment constructs are skipped. A null
    cell (nullable html:binary column in crawl tables) tokenizes as empty —
    one bad row must never fail a task.

    Fast path: ONE ``_SCAN.split`` pass yields the inter-tag text segments
    and the three tag capture groups as a flat list, so the Python loop
    touches plain list slots instead of ``re.Match`` objects (no
    ``m.start()/m.group()`` calls, no manual ``s[last:start]`` slicing —
    measured ~25% less kernel time than the ``finditer`` formulation).
    The one construct the fast match handles differently — a quoted
    attribute value containing ``>`` (detected by unbalanced quotes in the
    tag body) — needs positional re-matching, so such documents fall back
    wholesale to ``_tokenize_positional`` (bit-identical semantics; the
    shared master regex guarantees both paths see the same construct
    stream).
    """
    if html_bytes is None:
        return []
    # str input is accepted so the Arrow batch layer can decode utf-8
    # straight from the record-batch buffers (plans/extract.py) without
    # materializing an intermediate bytes object per document. Any other
    # input is decoded through the buffer protocol, so bytes-like inputs
    # that are NOT bytes — bytearray from a collected Spark BinaryType row,
    # memoryview — decode the same way as bytes.
    s = (
        html_bytes
        if isinstance(html_bytes, str)
        else str(html_bytes, "utf-8", "replace")
    )
    parts = _SCAN.split(s)
    # parts = [text, g1 (rawtext name), g2 (closing), g3 (name), g4 (body),
    #          text, ...] — one 5-stride frame per markup construct,
    #          consumed via a 5-way zip over ONE shared iterator (no index
    #          arithmetic, no parts[i] loads — measured ~1.2x on the whole
    #          tokenizer together with the positional-Node / unpacked-info
    #          micro-forms below; node output bit-identical, property-
    #          checked against the stride-indexed formulation).
    nodes: list[Node] = []
    append_node = nodes.append
    stack: list[str] = []
    boiler_depth = 0
    link_depth = 0
    next_block = 1
    block_stack: list[tuple[int, str]] = [(0, "body")]
    # char_pos starts at -1 so `start = char_pos + 1` yields 0 for the
    # first node and prev_end + 1 after — no per-emit branch
    char_pos = -1
    nid = 0
    tag_info = _TAG_INFO
    default = _TAG_DEFAULT
    it = iter(parts)
    raw_text = next(it)
    for _g1, closing, name, body, next_text in zip(it, it, it, it, it):
        if raw_text and not raw_text.isspace():
            norm = unescape(raw_text) if "&" in raw_text else raw_text
            # already-normalized fast path: isprintable() is False for
            # every whitespace char except ' ' (all Cc/Cf/Zl/Zp/Zs), so
            # three C scans prove the split/join is a no-op — fuzz-checked
            # equivalent over 500k adversarial strings
            if not (
                norm.isprintable()
                and "  " not in norm
                and norm[0] != " "
                and norm[-1] != " "
            ):
                norm = " ".join(norm.split())
            if norm:
                start = char_pos + 1
                blk, tag = block_stack[-1]
                end = start + len(norm)
                append_node(_tuple_new(Node, (
                    nid, tag, len(stack), blk,
                    link_depth > 0, boiler_depth > 0,
                    start, end, norm,
                )))
                nid += 1
                char_pos = end
        raw_text = next_text
        if name is None:  # comment / rawtext / junk construct
            continue
        if ('"' in body or "'" in body) and (
            body.count('"') % 2 or body.count("'") % 2
        ):
            # a quoted attribute value containing '>' truncated the fast
            # match; positions are needed to re-match — redo the document
            # with the positional scanner (rare on real markup)
            return _tokenize_positional(s)
        # tag names are normalized to lowercase LAZILY: real markup is
        # overwhelmingly already-lowercase, so the common paths below are
        # arranged to succeed without calling islower()/lower() at all
        # (the stack and _TAG_INFO hold lowercase names, so a hit proves
        # no normalization was needed) — measured ~1.15x on the tokenizer
        if closing:
            if not (stack and stack[-1] == name):
                if not name.islower():
                    name = name.lower()
                if not stack or stack[-1] != name:
                    if name in stack:
                        while stack:
                            t = stack.pop()
                            _v, bd, lk, bl = tag_info.get(t, default)
                            boiler_depth -= bd
                            if lk:
                                link_depth -= 1
                            if bl and len(block_stack) > 1:
                                block_stack.pop()
                            if t == name:
                                break
                    continue
            # fast path: the close matches the innermost open (the
            # overwhelmingly common case) — skip the membership scan
            _v, bd, lk, bl = tag_info.get(name, default)
            boiler_depth -= bd
            if lk:
                link_depth -= 1
            if bl and len(block_stack) > 1:
                block_stack.pop()
            stack.pop()
        else:
            info = tag_info.get(name)
            if info is None:
                if not name.islower():
                    name = name.lower()
                    info = tag_info.get(name, default)
                else:
                    info = default
            void, bd, lk, bl = info
            if void or (body and body[-1] == "/"):  # void / self-closing
                continue
            stack.append(name)
            if bd:
                boiler_depth += 1
            elif lk:
                link_depth += 1
            if bl:
                block_stack.append((next_block, name))
                next_block += 1
    # trailing text after the last construct
    if raw_text and not raw_text.isspace():
        norm = unescape(raw_text) if "&" in raw_text else raw_text
        if not (
            norm.isprintable()
            and "  " not in norm
            and norm[0] != " "
            and norm[-1] != " "
        ):
            norm = " ".join(norm.split())
        if norm:
            start = char_pos + 1
            blk, tag = block_stack[-1]
            append_node(_tuple_new(Node, (
                nid, tag, len(stack), blk,
                link_depth > 0, boiler_depth > 0,
                start, start + len(norm), norm,
            )))
    return nodes


def _tokenize_positional(s: str) -> list[Node]:
    """The positional scanner — the slow path behind ``tokenize`` for
    documents whose tag attributes hide ``>`` inside quoted values. Each
    search resumes at the end of the previous construct, so markup inside
    a re-matched tag's quoted attribute (``title="x><!--"``) never starts
    a comment or rawtext match that would swallow the text after it."""
    nodes: list[Node] = []
    stack: list[str] = []
    boiler_depth = 0
    link_depth = 0
    next_block = 1
    block_stack: list[tuple[int, str]] = [(0, "body")]
    char_pos = 0
    last = 0

    def emit(raw_text: str) -> None:
        nonlocal char_pos
        if raw_text.isspace():
            return
        norm = unescape(raw_text)
        norm = " ".join(norm.split())
        if not norm:
            return
        start = char_pos if not nodes else char_pos + 1
        blk, tag = block_stack[-1]
        nodes.append(
            Node(
                node_id=len(nodes),
                tag=tag,
                depth=len(stack),
                block_key=blk,
                is_link=link_depth > 0,
                is_boiler=boiler_depth > 0,
                char_start=start,
                char_end=start + len(norm),
                text=norm,
            )
        )
        char_pos = start + len(norm)

    tag_info = _TAG_INFO
    default = _TAG_DEFAULT
    quoted = None  # (stops, ends) of _quoted_tag_ends, built on first use
    while (m := _SCAN.search(s, last)) is not None:
        start = m.start()
        if start > last:
            emit(s[last:start])
        last = m.end()
        closing, name, body = m.group(2, 3, 4)
        if name is None:  # comment / rawtext / junk branch
            continue
        if ('"' in body or "'" in body) and (
            body.count('"') % 2 or body.count("'") % 2
        ):
            # a quoted attribute value containing '>' truncated the fast
            # match; re-read the body quote-aware from the same position
            if quoted is None:
                quoted = _quoted_tag_ends(s)
            stops, ends = quoted
            i = bisect_left(stops, m.start(4))
            if i < len(stops) and ends[i] >= 0:
                last = ends[i] + 1
                body = s[m.start(4):ends[i]]
        if not name.islower():
            name = name.lower()
        if closing:  # closing tag
            if name in stack:
                while stack:
                    t = stack.pop()
                    info = tag_info.get(t, default)
                    boiler_depth -= info[1]
                    if info[2]:
                        link_depth -= 1
                    if info[3] and len(block_stack) > 1:
                        block_stack.pop()
                    if t == name:
                        break
        else:
            info = tag_info.get(name, default)
            if info[0] or body.endswith("/"):  # void / self-closing
                continue
            stack.append(name)
            if info[1]:
                boiler_depth += 1
            elif info[2]:
                link_depth += 1
            if info[3]:
                block_stack.append((next_block, name))
                next_block += 1
    if last < len(s):
        emit(s[last:])
    return nodes
