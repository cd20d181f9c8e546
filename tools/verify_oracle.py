"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, sorted
column names, and order-insensitive values.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as entry
from comic_text_detector_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision
    return v


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="verify-oracle", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)
    oracles = entry.oracle_sql()
    counts = {"PASS": 0, "FAIL": 0, "ROWS-ONLY": 0}
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        status, detail = check_query(spark, con, sf_dir, fn, oracles.get(name))
        print(f"{status} {name}: {detail}")
        counts[status] += 1
    print(
        f"\n{counts['PASS']} pass, {counts['FAIL']} fail, "
        f"{counts['ROWS-ONLY']} rows-only"
    )
    spark.stop()
    sys.exit(1 if counts["FAIL"] else 0)


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def check_query(spark, con, sf_dir: str, fn, oracle: str | None):
    """Run one ``queries()`` entry on Spark and, when it has oracle SQL, on
    DuckDB.
    Returns (status, detail): PASS and ROWS-ONLY carry the Spark row count,
    FAIL says what differed."""
    try:
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
    except Exception as e:
        return "FAIL", f"spark error {type(e).__name__}: {str(e)[:300]}"
    if oracle is None:
        return "ROWS-ONLY", f"{len(srows)} rows"
    try:
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as e:
        return "FAIL", f"duckdb error {type(e).__name__}: {str(e)[:300]}"
    sc, sr = norm_rows(scols, srows)
    dc, dr = norm_rows(dcols, drows)
    if sc != dc:
        return "FAIL", f"columns {sc} vs {dc}"
    if len(sr) != len(dr):
        return "FAIL", f"rowcount {len(sr)} vs {len(dr)}"
    if sr != dr:
        bad = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
        return "FAIL", f"values differ, e.g. {bad}"
    return "PASS", f"{len(sr)} rows"


if __name__ == "__main__":
    main()
