"""Small-file compaction for extracted/curated tables — the table-
maintenance job a long-running ingest accumulates a need for: many
checkpointed chunk writes (plans/runner.py) leave hundreds of small
parquet files per directory, and small files are the classic
scan-throughput killer at 100 TB (per-file open cost, tiny row groups,
starved readers).

Bin-packing by MEASURED bytes: target file count = ceil(dir bytes /
--target-file-mb). An unpartitioned table is rewritten with a
round-robin repartition (no shuffle key needed — compaction preserves
CONTENT, not order). A Hive-partitioned layout (detected from `col=val`
directory names, or forced with --partition-by) is repartitioned ON the
partition columns plus a deterministic salt so each write task holds few
partition values — a blind round-robin would put every value in every
task and emit n_out x n_values tiny files, the opposite of compaction.
The rewrite goes to a sibling staging dir first and only replaces the
input on a verified content match (row count + order-insensitive
xxhash64 content hash) — a failed compaction leaves the original
untouched. The final swap is two renames; a crash between them is
self-healed on the next run (the backup dir is restored if the live
path is missing, discarded if both exist).

Usage:
  spark-submit --py-files dist/ctd_spark.zip jobs/compact_job.py \
      --table <parquet dir> [--target-file-mb 128] [--partition-by col]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys


def _dir_bytes_files(path: str) -> tuple[int, int]:
    total, n = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


def _detect_partition_cols(path: str) -> list[str]:
    """Infer Hive partition columns from the first parquet file's
    relative path (`a=1/b=2/part-...parquet` -> [a, b])."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(root, path)
                cols = []
                for seg in rel.split(os.sep):
                    if "=" in seg:
                        cols.append(seg.split("=", 1)[0])
                return cols
    return []


def _recover_interrupted_swap(table: str) -> None:
    """Self-heal a crash mid-swap from a previous run: if the backup
    dir exists and the live path is gone, the crash happened between
    the two renames — restore the backup. If both exist, the crash
    happened before the backup was deleted — discard it. A stale
    staging dir is always discarded."""
    backup = table.rstrip("/") + "__precompact"
    staging = table.rstrip("/") + "__compacting"
    if os.path.isdir(backup):
        if not os.path.exists(table):
            os.rename(backup, table)
        else:
            shutil.rmtree(backup)
    if os.path.isdir(staging):
        shutil.rmtree(staging)


def _content_fingerprint(spark, path: str):
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    row = df.select(
        F.count("*").alias("n"),
        # ANSI-safe order-insensitive fold: sum of 32-bit-folded hashes
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("hsum"),
    ).collect()[0]
    return int(row["n"] or 0), int(row["hsum"] or 0), df.columns


def main(argv: list[str], spark=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True)
    p.add_argument("--target-file-mb", type=int, default=128)
    p.add_argument(
        "--partition-by",
        default=None,
        help="comma-separated partition columns of a Hive layout to "
        "preserve on rewrite (e.g. url_bucket)",
    )
    args = p.parse_args(argv)

    from comic_text_detector_spark.session import get_spark

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="ctd-compact")
        spark.sparkContext.setLogLevel("WARN")

    _recover_interrupted_swap(args.table)

    total, n_files_in = _dir_bytes_files(args.table)
    target = max(1, args.target_file_mb) * (1 << 20)
    n_out = max(1, math.ceil(total / target))
    before = _content_fingerprint(spark, args.table)

    pcols = (
        args.partition_by.split(",")
        if args.partition_by
        else _detect_partition_cols(args.table)
    )

    from pyspark.sql import functions as F

    staging = args.table.rstrip("/") + "__compacting"
    df = spark.read.parquet(args.table)
    if pcols:
        # Hash-partition on the partition columns so each write task
        # holds few values (few files per task), salted so one huge
        # partition value can still be split toward the byte target.
        n_vals = df.select(*pcols).distinct().count()
        files_per_val = max(1, math.ceil(n_out / max(1, n_vals)))
        salt = F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]),
            F.lit(files_per_val),
        )
        keyed = df.repartition(n_out, *[F.col(c) for c in pcols], salt)
        writer = keyed.write.mode("overwrite").partitionBy(*pcols)
    else:
        writer = df.repartition(n_out).write.mode("overwrite")
    writer.parquet(staging)

    after = _content_fingerprint(spark, staging)
    if after[:2] != before[:2]:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"compaction verify FAILED (before {before[:2]}, after "
            f"{after[:2]}) — original left untouched"
        )
    backup = args.table.rstrip("/") + "__precompact"
    os.rename(args.table, backup)
    os.rename(staging, args.table)
    shutil.rmtree(backup)

    _, n_files_out = _dir_bytes_files(args.table)
    summary = {
        "bytes": total,
        "files_in": n_files_in,
        "files_out": n_files_out,
        "rows": before[0],
        "verified": True,
    }
    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
