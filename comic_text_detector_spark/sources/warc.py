"""Crawl-archive record formats over the documents table.

``classify_revisits`` marks each later identical-payload capture as a WARC
``revisit`` record that refers to the first ``response`` with that digest;
``cdx_lines`` writes the CDXJ url-index line of each capture and
``parse_cdx`` reads one back. All three are column expressions plus at most
one window; nothing here reads or writes WARC files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def classify_revisits(
    pages: "DataFrame",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
) -> "DataFrame":
    """WARC revisit-record classification (WARC/1.1 §6.7.2, the
    'identical-payload-digest' profile): within each payload digest, the
    earliest capture is the ``response`` record; every later identical
    capture becomes a ``revisit`` record carrying WARC-Refers-To-Target-URI
    and -Date of that original. This is how real crawl archives avoid
    storing a duplicate body per recapture — the dedup decision happens at
    WRITE time, keyed by content digest, independent of URL (two urls
    serving the same bytes dedup against each other).

    Returns (url, ts, digest, record_type, refers_to_url, refers_to_ts);
    refers-to fields are NULL on responses. One window over the digest
    key — at crawl scale the digest shuffle is the same partitioning the
    WARC writer needs anyway, so classification is free at the sink.
    Ordering inside a digest is (ts, url): deterministic under capture-ts
    ties. NULL payloads are passed through as responses with a NULL
    digest (nothing to dedup against), never grouped together.

    Reference parity: the reference dedups detected text lines by mask
    identity before emitting annotations (inference.py model2annotations);
    this is the archive-format analogue keyed by payload digest."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = pages.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.md5(F.col(payload_col).cast("string")).alias("digest"),
    )
    w = Window.partitionBy("digest").orderBy("ts", "url")
    classified = (
        d.filter(F.col("digest").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .withColumn("first_url", F.first("url").over(w))
        .withColumn("first_ts", F.first("ts").over(w))
        .select(
            "url",
            "ts",
            "digest",
            F.when(F.col("rn") == 1, F.lit("response"))
            .otherwise(F.lit("revisit"))
            .alias("record_type"),
            F.when(F.col("rn") > 1, F.col("first_url")).alias(
                "refers_to_url"
            ),
            F.when(F.col("rn") > 1, F.col("first_ts")).alias(
                "refers_to_ts"
            ),
        )
    )
    nulls = d.filter(F.col("digest").isNull()).select(
        "url",
        "ts",
        "digest",
        F.lit("response").alias("record_type"),
        F.lit(None).cast("string").alias("refers_to_url"),
        F.lit(None).cast(d.schema["ts"].dataType).alias("refers_to_ts"),
    )
    return classified.unionByName(nulls)


def cdx_lines(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "text",
    mime: str = "text/html",
    status: int = 200,
) -> DataFrame:
    """CDXJ index lines — the fourth Common Crawl format beside
    WARC/WET/WAT: ``{surt} {ts14} {json}`` per capture, the line format
    CC's url index serves (pywb convention). Returns (surt, ts14,
    cdx_line); writing sorted-by-(surt, ts14) makes every domain one
    contiguous range — the ``surt_key`` pruning argument materialized as
    the industry's actual index file.

    The JSON is built by explicit concat (NOT to_json) so field order
    and byte layout are pinned across engines — the oracle twin
    reproduces the line verbatim. digest = md5 of the payload (CC uses
    sha1-b32 of the raw bytes; md5 is this repo's portable-hash
    primitive — documented deviation, same dedup semantics). Pure
    column exprs in the scan projection; zero shuffles."""
    from pyspark.sql import functions as F

    from ..operators.curation import surt_key

    url = F.col(url_col)
    # JSON string escaping for the one free-form field (backslash FIRST,
    # then quote) — a crawl url containing '"' must round-trip through
    # parse_cdx, not poison the line
    url_json = F.replace(
        F.replace(url, F.lit("\\"), F.lit("\\\\")),
        F.lit('"'), F.lit('\\"'),
    )
    payload = F.coalesce(F.col(payload_col).cast("string"), F.lit(""))
    ts14 = F.date_format(F.col(ts_col), "yyyyMMddHHmmss")
    j = F.concat(
        F.lit('{"url": "'), url_json,
        F.lit('", "mime": "'), F.lit(mime),
        F.lit('", "status": "'), F.lit(str(int(status))),
        F.lit('", "digest": "'), F.md5(payload),
        F.lit('", "length": '), F.length(payload).cast("string"),
        F.lit("}"),
    )
    surt = surt_key(url)
    return df.select(
        surt.alias("surt"),
        ts14.alias("ts14"),
        F.concat(surt, F.lit(" "), ts14, F.lit(" "), j).alias("cdx_line"),
    )


def parse_cdx(
    lines: DataFrame, line_col: str = "cdx_line"
) -> DataFrame:
    """Inverse of ``cdx_lines``: (surt, ts14, ts, url, mime, status,
    digest, length) from raw CDXJ lines. Space-split on the FIRST two
    fields only (the JSON may contain spaces), JSON fields via
    get_json_object, ts via try_to_timestamp (malformed timestamps →
    NULL, drop-not-fake). Scan-projection exprs; a malformed line yields
    NULL fields rather than killing the scan."""
    from pyspark.sql import functions as F

    l = F.col(line_col)
    # surt is only a surt when the whole 3-field shape is present — a
    # malformed line must yield all-NULL, not its first word
    surt = F.regexp_extract(l, r"^([^ ]+) \d{14} ", 1)
    ts14 = F.regexp_extract(l, r"^[^ ]+ (\d{14}) ", 1)
    j = F.regexp_extract(l, r"^[^ ]+ \d{14} (.*)$", 1)
    return lines.select(
        F.when(surt != "", surt).alias("surt"),
        F.when(ts14 != "", ts14).alias("ts14"),
        F.try_to_timestamp(ts14, F.lit("yyyyMMddHHmmss")).alias("ts"),
        F.get_json_object(j, "$.url").alias("url"),
        F.get_json_object(j, "$.mime").alias("mime"),
        F.get_json_object(j, "$.status").cast("int").alias("status"),
        F.get_json_object(j, "$.digest").alias("digest"),
        F.get_json_object(j, "$.length").cast("long").alias("length"),
    )
