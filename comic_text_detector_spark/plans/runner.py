"""Checkpointed, resumable batch driver for the extraction job (north_rule).

Reference analog: the epoch checkpoint dicts + resume path of the training
drivers (reference train_db.py:97-106, :183-194) and the AverageMeter/FPS
accounting (utils/db_utils.py:213-230).

Physical design (two passes, both scale-shaped):

1. **Staging pass (once per run id, job-atomic).** As-of dedup (the ONE
   window shuffle) + stable ``partition_id = pmod(xxhash64(url), P)`` +
   ``chunk_id = partition_id % num_chunks``, written as parquet partitioned
   BY chunk_id. This is the engine's "one exchange": after it, all state is
   directory-addressed.
2. **Chunk jobs.** A chunk is one read and one write: a known-schema scan
   of ONLY its ``chunk_id=K`` directory (no schema inference, no filter
   over the full input, no shuffle inside the chunk) through the extraction
   kernel (``plans.extract._extract_batches`` with lineage on), appended to
   the output partitioned by chunk_id. The output commit IS the checkpoint:
   completion is derived from the data at partition_id granularity. A
   chunk's staged partitions follow by arithmetic,
   ``{p < P : p % num_chunks == K}`` (salted mode included), so its pending
   set is that set minus the committed set — a crash mid-chunk reruns
   exactly the partitions whose output is not visible, exactly-once per url
   without a two-phase protocol.
   Committer fine print: with a job-atomic committer (fileoutputcommitter
   v1, the local/HDFS default) chunk output is all-or-nothing and the
   inference is trivially safe. Under committers that expose TASK output
   early (fileoutputcommitter v2, direct-write cloud committers,
   speculative commits), per-partition inference additionally requires
   that one partition_id's rows live in one task — pass
   ``atomic_partition_writes=True`` to repartition each chunk by
   partition_id (one extra chunk-local shuffle) so task visibility equals
   partition visibility; without it, a partition split across input files
   could commit half of itself before a crash and be wrongly skipped on
   resume.

Metrics are aggregated once per call, after the chunks: one ``metrics`` row
per committed partition that has none yet (run_id, partition_id, docs_in,
docs_out, bytes, wall_ms, ts) — the partitions this call committed, plus
any left without a row by a crash between a commit and its metrics. Pure
lineage/observability (FIXTURES.md §4), never a correctness input.
``wall_ms`` sums the per-document kernel time measured inside the Arrow
stage (the skew evidence the north_rule asks for).

In the sandbox the sinks are parquet directories; on a real deployment
staging/output/metrics are Iceberg tables (``writeTo(...).append()``,
partitioned by the same keys) and nothing else changes.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..operators.dedup import asof_dedup
from .extract import _extract_batches_lineage

# the committed output (``extracted``): the lineage kernel's columns
_COMBINED_DDL = (
    "url string, text string, "
    "spans array<struct<block_id:int,char_start:int,char_end:int>>, "
    "partition_id int, in_bytes bigint, proc_us bigint"
)
_METRICS_DDL = (
    "run_id string, partition_id int, docs_in bigint, docs_out bigint, "
    "bytes bigint, wall_ms bigint, ts timestamp"
)


def _partition_ids(spark: SparkSession, path: str, ddl: str) -> set[int]:
    """Distinct ``partition_id`` of a parquet directory read with a known
    schema (no inference job); a missing directory holds none."""
    if not os.path.exists(path):
        return set()
    rows = (
        spark.read.schema(ddl).parquet(path)
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r.partition_id for r in rows}


def completed_partitions(spark: SparkSession, data_dir: str) -> set[int]:
    """Partitions whose output already committed (the checkpoint read) —
    a single-column scan of the committed output.

    Only a missing directory, or one holding no committed parquet yet
    (e.g. only an aborted job's temporary dirs), means "nothing committed";
    any other read failure (permissions, corrupt footer, transient FS
    error) propagates — silently returning an empty set here would make
    resume re-run and append already-committed chunks, duplicating
    documents.
    """
    return _partition_ids(spark, data_dir, _COMBINED_DDL)


def _ensure_staging(
    spark: SparkSession,
    documents: DataFrame,
    staging_dir: str,
    num_partitions: int,
    num_chunks: int,
    salt_hot_hosts: bool,
    hot_row_threshold: int,
    dedup: bool = True,
) -> None:
    if os.path.exists(os.path.join(staging_dir, "_SUCCESS")):
        return
    docs = asof_dedup(documents) if dedup else documents
    if salt_hot_hosts:
        from ..operators.salting import salted_partition_key

        docs = salted_partition_key(
            docs,
            n_salts=max(2, num_partitions // 4),
            row_threshold=hot_row_threshold,
        ).withColumn(
            "partition_id",
            F.pmod(F.xxhash64("salt_key"), F.lit(num_partitions)).cast("int"),
        ).drop("host", "salt_key")
    else:
        docs = docs.withColumn(
            "partition_id",
            F.pmod(F.xxhash64("url"), F.lit(num_partitions)).cast("int"),
        )
    docs = docs.withColumn(
        "chunk_id", (F.col("partition_id") % num_chunks).cast("int")
    )
    (
        docs.select("url", "html", "partition_id", "chunk_id")
        .write.mode("overwrite")
        .partitionBy("chunk_id")
        .parquet(staging_dir)
    )


def run_extract(
    spark: SparkSession,
    documents: DataFrame,
    output_dir: str,
    run_id: str = "run0",
    num_partitions: int = 64,
    num_chunks: int = 4,
    stop_after_chunks: int | None = None,
    salt_hot_hosts: bool = False,
    hot_row_threshold: int = 10_000,
    dedup: bool = True,
    atomic_partition_writes: bool = False,
) -> dict:
    """Run (or resume) the extraction job.

    ``stop_after_chunks`` is the fault-injection hook for the resumability
    test: the driver stops after N chunk commits, simulating a crash.
    ``dedup=False`` skips the as-of window for inputs already known to hold
    one capture per url (the common production case with a dedup-maintained
    table) — the staging pass then shuffles nothing.
    ``atomic_partition_writes=True`` repartitions each chunk by
    partition_id before extraction so ONE task owns each partition's
    output — required for exactly-once resume under task-visible commit
    protocols (v2/direct committers); leave False (shuffle-free chunks)
    with a job-atomic committer. Returns a summary dict.
    """
    staging_dir = os.path.join(output_dir, "staging")
    data_dir = os.path.join(output_dir, "extracted")

    # Partitioning parameters are part of the checkpoint's identity:
    # resuming with a different num_partitions/num_chunks would mis-map
    # completed work and duplicate documents. Persist and enforce.
    meta_path = os.path.join(output_dir, "_run_meta.json")
    meta = {"num_partitions": num_partitions, "num_chunks": num_chunks}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            prev = json.load(f)
        if prev != meta:
            raise ValueError(
                f"resume parameter mismatch: output at {output_dir} was "
                f"written with {prev}, got {meta}; use the original values "
                "or a fresh output dir"
            )
    else:
        os.makedirs(output_dir, exist_ok=True)
        with open(meta_path, "w") as f:
            json.dump(meta, f)

    t_start = time.monotonic()
    _ensure_staging(
        spark, documents, staging_dir, num_partitions, num_chunks,
        salt_hot_hosts, hot_row_threshold, dedup,
    )
    staging_s = time.monotonic() - t_start
    # the staged files' schema (chunk_id is the directory), so chunk scans
    # skip parquet schema inference
    staged_schema = StructType(
        documents.select("url", "html").schema.fields
        + [StructField("partition_id", IntegerType())]
    )
    done = completed_partitions(spark, data_dir)
    committed = set(done)
    chunks_run = 0
    for chunk in range(num_chunks):
        if stop_after_chunks is not None and chunks_run >= stop_after_chunks:
            break
        chunk_src = os.path.join(staging_dir, f"chunk_id={chunk}")
        if not os.path.exists(chunk_src):
            continue  # chunk holds zero rows
        # Completion is derived PER partition_id, not per chunk: with
        # task-visible commit protocols (fileoutputcommitter v2, S3A/direct
        # committers, speculative commits) a mid-job crash can leave SOME of
        # a chunk's partitions visible; inferring the whole chunk done from
        # any one of them would silently drop the rest. The chunk's staged
        # partitions follow from chunk_id = partition_id % num_chunks; the
        # missing ones are reprocessed only. (A staged id may hold no rows:
        # it then reruns as an empty scan and commits nothing.)
        staged = set(range(chunk, num_partitions, num_chunks))
        todo = sorted(staged - done)
        if not todo:
            continue
        # directory-pruned scan: only this chunk's files are read
        part = spark.read.schema(staged_schema).parquet(chunk_src)
        if len(todo) < len(staged):
            part = part.filter(F.col("partition_id").isin(todo))
        if atomic_partition_writes:
            # one task per partition_id → task-commit visibility is
            # partition-atomic even under v2/direct committers
            part = part.repartition(len(todo), "partition_id")
        part.mapInArrow(_extract_batches_lineage, _COMBINED_DDL).withColumn(
            "chunk_id", F.lit(chunk)
        ).write.mode("append").partitionBy("chunk_id").parquet(data_dir)
        committed.update(todo)
        chunks_run += 1
    _append_metrics(spark, output_dir, run_id, committed)
    return {
        "run_id": run_id,
        "chunks_run": chunks_run,
        "resumed_partitions_skipped": len(done),
        "staging_s": round(staging_s, 2),
        "chunks_s": round(time.monotonic() - t_start - staging_s, 2),
    }


def _append_metrics(
    spark: SparkSession, output_dir: str, run_id: str, committed: set[int]
) -> None:
    """One aggregation over the committed output: a ``metrics`` row for
    each committed partition that has none yet. Every committed partition
    then has exactly one row, also after a crash between a chunk commit and
    this append."""
    data_dir = os.path.join(output_dir, "extracted")
    metrics_dir = os.path.join(output_dir, "metrics")
    metered = _partition_ids(spark, metrics_dir, _METRICS_DDL)
    missing = committed - metered
    if not missing or not os.path.exists(data_dir):
        return
    out = spark.read.schema(_COMBINED_DDL).parquet(data_dir)
    if metered:
        # with no metrics yet every committed partition is missing
        out = out.filter(F.col("partition_id").isin(sorted(missing)))
    (
        out.groupBy("partition_id")
        .agg(
            F.count("*").alias("docs_in"),
            F.sum(F.when(F.col("text") != "", 1).otherwise(0)).alias("docs_out"),
            F.sum("in_bytes").alias("bytes"),
            (F.sum("proc_us") / 1000).cast("long").alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "docs_in",
            "docs_out",
            "bytes",
            "wall_ms",
            F.current_timestamp().alias("ts"),
        )
        .write.mode("append")
        .parquet(metrics_dir)
    )


def run_extract_incremental(
    spark: SparkSession,
    documents: DataFrame,
    output_dir: str,
    snapshot_id: str,
    ts_col: str = "warc_ts",
    **run_kwargs,
) -> dict:
    """Incremental (recrawl) ingestion on top of the resumable runner:
    each snapshot processes ONLY captures newer than the committed
    watermark — the real workflow for a crawl table that keeps appending.

    Layout: ``output_dir/snapshots/<snapshot_id>/`` is a full,
    independently resumable ``run_extract`` output;
    ``output_dir/_watermark.json`` records the committed watermark (in
    epoch microseconds) plus the snapshot commit order, and advances ONLY
    after the whole increment commits.

    Crash-safety: the increment's UPPER ts bound is pinned into
    ``<snap_dir>/_pending.json`` the first time the snapshot is entered,
    so a crash → table grows → rerun sequence re-enters the SAME bounded
    increment (old_watermark, pinned_max] and run_extract's per-partition
    checkpoint resumes it; rows that arrived after the pin wait for the
    next snapshot instead of slipping between a fresh max() and the
    already-written staging (which would lose them). Re-running a
    committed snapshot_id is a no-op. Input contract: the table is
    append-only for rows at or below the pinned bound (what a WARC
    capture log satisfies by construction).
    """
    wm_path = os.path.join(output_dir, "_watermark.json")
    state = {"watermark_us": None, "snapshots": []}
    if os.path.exists(wm_path):
        with open(wm_path) as f:
            state = json.load(f)
    if snapshot_id in [s["snapshot_id"] for s in state["snapshots"]]:
        return {"snapshot_id": snapshot_id, "skipped": "already_committed"}

    # NULL capture timestamps must not silently vanish (both the watermark
    # filter and the pinned upper bound would evaluate to null and drop the
    # row even on the first snapshot). Coalesce them to epoch 0: they ride
    # in the FIRST snapshot and are never re-processed by later increments
    # — same fate a plain run_extract gives them, made explicit here.
    ts_us = F.coalesce(
        F.unix_micros(F.col(ts_col).cast("timestamp")), F.lit(0)
    )
    docs = documents
    if state["watermark_us"] is not None:
        docs = docs.filter(ts_us > F.lit(state["watermark_us"]))

    snap_dir = os.path.join(output_dir, "snapshots", snapshot_id)
    pending_path = os.path.join(snap_dir, "_pending.json")
    if os.path.exists(pending_path):
        with open(pending_path) as f:
            mx = json.load(f)["watermark_us"]
    else:
        mx = docs.agg(F.max(ts_us).alias("m")).collect()[0].m
        if mx is None:
            return {"snapshot_id": snapshot_id, "skipped": "no_new_captures"}
        os.makedirs(snap_dir, exist_ok=True)
        with open(pending_path, "w") as f:
            json.dump({"watermark_us": int(mx)}, f)
    docs = docs.filter(ts_us <= F.lit(mx))

    summary = run_extract(
        spark, docs, snap_dir, run_id=snapshot_id, **run_kwargs
    )
    state["snapshots"].append(
        {"snapshot_id": snapshot_id, "watermark_us": int(mx)}
    )
    state["watermark_us"] = max(int(mx), state["watermark_us"] or 0)
    tmp = wm_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, wm_path)  # single-file atomic commit of the watermark
    summary["snapshot_id"] = snapshot_id
    summary["new_watermark_us"] = int(mx)
    return summary


def read_extracted_latest(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read side of incremental mode: union committed snapshots and keep
    each url's NEWEST snapshot row (recaptures supersede older extractions
    — the cross-increment analog of the in-run as-of dedup)."""
    from functools import reduce

    from pyspark.sql import Window

    wm_path = os.path.join(output_dir, "_watermark.json")
    with open(wm_path) as f:
        state = json.load(f)
    if not state["snapshots"]:
        raise ValueError(f"no committed snapshots under {output_dir}")
    # rank by each snapshot's PINNED WATERMARK, not by commit order: a
    # crashed increment resumed after a later one commits lands at the
    # end of the list while holding OLDER captures — its rows must not
    # supersede the newer snapshot's (commit index only breaks wm ties)
    ordered = sorted(
        enumerate(state["snapshots"]),
        key=lambda t: (t[1]["watermark_us"], t[0]),
    )
    dfs = [
        read_extracted(
            spark, os.path.join(output_dir, "snapshots", s["snapshot_id"])
        ).withColumn("__seq", F.lit(rank))
        for rank, (_, s) in enumerate(ordered)
    ]
    merged = reduce(lambda a, b: a.unionByName(b), dfs)
    w = Window.partitionBy("url").orderBy(F.col("__seq").desc())
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__seq", "__rn")
    )


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    return (
        spark.read.schema(_COMBINED_DDL)
        .parquet(os.path.join(output_dir, "extracted"))
        .select("url", "text", "spans")
    )


def read_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.schema(_METRICS_DDL).parquet(
        os.path.join(output_dir, "metrics")
    )


def metrics_report(metrics: DataFrame) -> DataFrame:
    """GROUPING SETS rollup over the lineage table (SURVEY.md §2.4 note)."""
    metrics.createOrReplaceTempView("__metrics")
    return metrics.sparkSession.sql(
        """
        SELECT run_id, partition_id,
               sum(docs_in)  AS docs_in,
               sum(docs_out) AS docs_out,
               sum(bytes)    AS bytes,
               sum(wall_ms)  AS wall_ms
        FROM __metrics
        GROUP BY GROUPING SETS ((run_id, partition_id), (run_id), ())
        """
    )
