"""DuckDB parity for a small set of driver queries at the smallest scale.

The full gate is ``tools/verify_oracle.py`` (every query, sf0.01). This
runs the same per-query compare on the queries over the extraction runner,
the Bloom filters, the crawl-record formats, HTTP parsing, polygons,
packing, pagination and every value-checked query whose pairs come from
``operators/dedup.py::bucket_pairs``, so drift there fails the test suite
too.
"""

from __future__ import annotations

import __spark_entry__ as entry
from tools.verify_oracle import check_query, oracle_connection

QUERIES = (
    "extract_roundtrip",
    "grouping_sets_report",
    "bloom_new_urls",
    "bloom_frontier",
    "warc_revisit",
    "cdx_roundtrip",
    "http_response_meta",
    "polygon_unclip_axis",
    "pack_sequences",
    "stitch_pagination",
    # through bucket_pairs
    "minhash_lsh_pairs_md5",
    "neardup_survivors",
    "neardup_incremental",
    "simhash_pairs_md5",
    "dedup_embedding_pairs_md5",
    "image_neardup_pairs",
)


def test_oracle_subset(spark):
    sf_dir = entry.SF_DEFAULT
    con = oracle_connection(sf_dir)
    queries, oracles = entry.queries(), entry.oracle_sql()
    results = {
        name: check_query(spark, con, sf_dir, queries[name], oracles.get(name))
        for name in QUERIES
    }
    # every query here has oracle SQL, so each must PASS (not ROWS-ONLY)
    bad = {name: r for name, r in results.items() if r[0] != "PASS"}
    assert not bad, bad
