"""HTTP response-envelope parsing — the very first gate a crawl
pipeline applies: keep status-200 ``text/html`` payloads, route
everything else (redirects, errors, binaries) away BEFORE the
expensive extraction stage ever sees the bytes.

This module parses the RAW envelope for pipelines that carry it (direct
fetch tables, revisit analysis, redirect-chain mining) — pure
regexp/substring column expressions, zero shuffles, oracle-replayable.

Discipline: a payload that does not start with ``HTTP/`` yields NULL
status and a NULL body (it is not an HTTP envelope — never guess);
header values are first-match; the charset parameter is read from the
Content-Type header only (the HTML <meta> prescan lives in
``functions/charset.py`` and wins at decode time per the documented
policy there).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATUS_LINE = r"^HTTP/1\.[01] (\d{3})"
CRLF2 = "\r\n\r\n"


def _header(env: Column, name: str) -> Column:
    v = F.regexp_extract(env, f"(?i)\r\n{name}:[ \t]*([^\r]*)", 1)
    return F.when(v != "", v)


def http_response_meta(
    df: DataFrame, url_col: str = "url", payload_col: str = "payload"
) -> DataFrame:
    """(url, status, content_type, charset, content_length, location,
    body) from raw HTTP/1.x response envelopes.

    * ``status`` — int from the status line; NULL when the payload is
      not an envelope.
    * ``content_type`` — the media type alone, lowercased, parameters
      stripped (``text/html; charset=utf-8`` → ``text/html``).
    * ``charset`` — the Content-Type charset parameter, lowercased,
      NULL when absent.
    * ``content_length`` — the declared header value (bigint), NULL
      when absent or non-numeric; callers comparing it to the actual
      body size detect truncated captures.
    * ``location`` — the redirect target header, for 3xx chain mining.
    * ``body`` — everything after the first blank line; NULL (not '')
      when the envelope never terminates its headers.

    One codegen'd Project over the scan — zero shuffles, zero Python;
    the 10^12-row cost is the regexes alone."""
    p = F.col(payload_col).cast("string")
    env_end = F.instr(p, CRLF2)  # 1-based; 0 = no header terminator
    env = F.when(env_end > 0, F.substring(p, 1, env_end + 1)).otherwise(p)
    status_s = F.regexp_extract(p, STATUS_LINE, 1)
    is_http = status_s != ""
    ctype_raw = _header(env, "content-type")
    clen_s = F.regexp_extract(
        F.coalesce(_header(env, "content-length"), F.lit("")),
        r"^(\d+)$", 1,
    )
    return df.select(
        F.col(url_col).alias("url"),
        F.when(is_http, status_s.cast("int")).alias("status"),
        F.when(
            is_http,
            F.nullif(
                F.lower(F.trim(F.regexp_extract(ctype_raw, "^([^;]*)", 1))),
                F.lit(""),
            ),
        ).alias("content_type"),
        F.when(
            is_http,
            F.nullif(
                F.lower(
                    F.regexp_extract(
                        ctype_raw, '(?i)charset=[\'"]?([A-Za-z0-9_\\-]+)', 1
                    )
                ),
                F.lit(""),
            ),
        ).alias("charset"),
        F.when(is_http & (clen_s != ""), clen_s.cast("bigint")).alias(
            "content_length"
        ),
        F.when(is_http, _header(env, "location")).alias("location"),
        # validators for conditional revisits
        F.when(is_http, _header(env, "etag")).alias("etag"),
        F.when(is_http, _header(env, "last-modified")).alias(
            "last_modified"
        ),
        F.when(
            is_http & (env_end > 0),
            F.substring(p, env_end + 4, 2_147_483_647),
        ).alias("body"),
    )


# ---------------------------------------------------------------------------
# Body transfer/content decoding. Chunked framing and gzip both need a
# data-dependent loop, so these are Arrow-batched mapInPandas kernels
# (the functions/charset.py shape) over BINARY columns — map-only, no
# shuffle, linear in payload bytes. Discipline: decodable-or-NULL,
# never partial-guess — a malformed chunk frame or a corrupt gzip
# stream yields NULL, not a truncated body the extractor would treat
# as real page text. A decompressed-size cap refuses gzip bombs the
# same way the JPEG decoder refuses forged dimensions.

_MAX_DECODED = 64 * 1024 * 1024  # bytes; past this, refuse (bomb guard)


def dechunk_bytes(body: bytes | None) -> bytes | None:
    """RFC 9112 §7.1 chunked transfer decoding. None/malformed → None.

    Grammar walked exactly: hex size [;ext] CRLF data CRLF, repeated,
    terminated by a 0-size chunk; trailer fields after the last chunk
    are allowed and discarded. Anything off-grammar (bad hex, missing
    CRLF, truncated data) refuses."""
    if body is None:
        return None
    out, pos, total = [], 0, 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            return None
        size_s = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_s, 16)
        except ValueError:
            return None
        if size < 0:
            return None
        pos = nl + 2
        if size == 0:
            return b"".join(out)  # trailers (if any) discarded
        total += size
        if total > _MAX_DECODED:
            return None
        data = body[pos : pos + size]
        if len(data) != size or body[pos + size : pos + size + 2] != b"\r\n":
            return None
        out.append(data)
        pos += size + 2


def gunzip_bytes(body: bytes | None) -> bytes | None:
    """gzip (RFC 1952) or raw-deflate Content-Encoding decode with a
    decompressed-size cap. None/corrupt/oversized → None."""
    if body is None:
        return None
    for wbits in (zlib.MAX_WBITS | 16, -zlib.MAX_WBITS):  # gzip, deflate
        d = zlib.decompressobj(wbits)
        try:
            out = d.decompress(body, _MAX_DECODED)
        except zlib.error:
            continue
        if d.unconsumed_tail or not d.eof:
            continue  # over the cap or truncated stream: refuse
        return out
    return None


def decode_bodies(
    df: DataFrame,
    body_col: str = "body",
    transfer_encoding_col: str | None = "transfer_encoding",
    content_encoding_col: str | None = "content_encoding",
) -> DataFrame:
    """Append ``decoded_body`` (binary): chunked framing removed when
    Transfer-Encoding says chunked, then gzip/deflate inflated when
    Content-Encoding says so — the layering order RFC 9110 mandates.
    Identity encodings pass the body through; a NULL from either stage
    propagates (refused, never partial)."""
    cols = list(df.columns)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            te = (
                pdf[transfer_encoding_col]
                if transfer_encoding_col
                else pd.Series([None] * len(pdf))
            )
            ce = (
                pdf[content_encoding_col]
                if content_encoding_col
                else pd.Series([None] * len(pdf))
            )
            decoded = []
            for body, t, c in zip(pdf[body_col], te, ce):
                b = bytes(body) if body is not None else None
                if t is not None and "chunked" in str(t).lower():
                    b = dechunk_bytes(b)
                if c is not None and str(c).lower().strip() in (
                    "gzip",
                    "x-gzip",
                    "deflate",
                ):
                    b = gunzip_bytes(b)
                decoded.append(b)
            out = pdf.copy()
            out["decoded_body"] = decoded
            yield out

    ddl = ", ".join(
        f"{c} {t}" for c, t in df.dtypes
    ) + ", decoded_body binary"
    return df.mapInPandas(kernel, ddl).select(*cols, "decoded_body")


# ---------------------------------------------------------------------------
# Soft-404 detection: servers that answer 200 for missing pages poison
# both the dedup tier (thousands of near-identical "not found" bodies)
# and the link graph (phantom targets). Signals are weighted so either
# a not-found TITLE alone, or a not-found BODY phrase plus a tiny page,
# crosses the flag threshold — a body phrase alone (an article ABOUT
# 404 pages) does not.

_NF = (
    r"(?i)(page not found|404 not found|\b404 error|error 404"
    r"|page (doesn['’]t|does not) exist|no longer available"
    r"|nicht gefunden|introuvable|no encontrada)"
)
_W_TITLE, _W_BODY, _W_TINY = 600, 400, 100
SOFT404_THRESHOLD = 500


def soft404_signals(
    df: DataFrame,
    url_col: str = "url",
    status_col: str = "status",
    title_col: str = "title",
    text_col: str = "text",
    tiny_chars: int = 512,
) -> DataFrame:
    """(url, title_nf, body_nf, tiny, soft404_score, is_soft404) from
    extracted (status, title, text) columns — the post-extraction
    complement of the status gate.

    ``soft404_score`` = 600·title_nf + 400·body_nf + 100·tiny;
    ``is_soft404`` fires only on status-200 rows with score ≥ 500
    (a REAL 404 is already handled by its status; NULL title/text
    contribute nothing — absence of evidence). Pure column regexps,
    zero shuffles; at 10^12 rows the cost is two rlike calls inside
    the scan projection."""
    title_nf = F.coalesce(F.col(title_col).rlike(_NF), F.lit(False))
    body_nf = F.coalesce(
        F.substring(F.col(text_col), 1, 2000).rlike(_NF), F.lit(False)
    )
    tiny = F.coalesce(
        F.length(F.col(text_col)) < tiny_chars, F.lit(True)
    )
    score = (
        title_nf.cast("int") * _W_TITLE
        + body_nf.cast("int") * _W_BODY
        + tiny.cast("int") * _W_TINY
    )
    return df.select(
        F.col(url_col).alias("url"),
        title_nf.alias("title_nf"),
        body_nf.alias("body_nf"),
        tiny.alias("tiny"),
        score.alias("soft404_score"),
        (
            (F.col(status_col) == 200) & (score >= SOFT404_THRESHOLD)
        ).alias("is_soft404"),
    )
