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
   kernel (``plans.extract._extract_batches`` with lineage on), written
   straight into its own output directory ``extracted/chunk_id=K`` (the
   layout ``partitionBy("chunk_id")`` would give). The output commit IS
   the checkpoint: completion is derived from the data at partition_id
   granularity. A chunk's staged partitions follow by arithmetic,
   ``{p < P : p % num_chunks == K}`` (salted mode included), so its pending
   set is that set minus the committed set — a crash mid-chunk reruns
   exactly the partitions whose output is not visible, exactly-once per url
   without a two-phase protocol. After a chunk job returns, a
   ``_committed_partitions.json`` marker in its directory lists every id
   it processed, so a staged id that holds no rows (and so never shows up
   in the data) is not scheduled again; the marker is written only after
   the commit, so it can under-claim but never over-claim.
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

Chunk jobs are sized by bytes and run concurrently. Every Python task pays a
fixed start-up cost before its kernel runs, so a chunk scan gets
``ceil(staged bytes / spark.sql.files.maxPartitionBytes)`` tasks (a
``coalesce``: it only ever lowers Spark's own split count), and
``max(1, defaultParallelism // tasks_per_chunk)`` chunk jobs are in flight
at once (``size_chunk_jobs``). Small chunks on a few cores then run as one
wave; once a chunk fills the cluster the window is 1 and chunks run one
after the other. A failure replays at most the ``in_flight`` chunks that
were running. Each chunk writes its own directory because concurrent
appends to one path share FileOutputCommitter's ``_temporary`` directory,
and one job's cleanup would delete the other's files. The chunk threads
inherit the caller's job group and tags. When one chunk job fails, no new
chunk starts; the call raises once the running ones have finished.

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
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark import inheritable_thread_target
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
# lists the partition ids a committed chunk job processed, rows or not
_MARKER = "_committed_partitions.json"


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


def _marked_partitions(data_dir: str, num_chunks: int) -> set[int]:
    """Partition ids the chunk markers record as processed, including the
    ones that held no rows (no Spark job)."""
    ids: set[int] = set()
    for chunk in range(num_chunks):
        path = os.path.join(data_dir, f"chunk_id={chunk}", _MARKER)
        if os.path.exists(path):
            with open(path) as f:
                ids.update(json.load(f))
    return ids


def _mark_processed(chunk_dir: str, ids: list[int]) -> None:
    """Add ``ids`` to the chunk's marker, replaced atomically. Call only
    after the chunk job committed."""
    path = os.path.join(chunk_dir, _MARKER)
    marked = set(ids)
    if os.path.exists(path):
        with open(path) as f:
            marked.update(json.load(f))
    tmp = os.path.join(chunk_dir, "_" + _MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump(sorted(marked), f)
    os.replace(tmp, path)


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (``_``/``.`` files skipped,
    as the parquet reader does)."""
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _dirs, names in os.walk(path)
        for name in names
        if not name.startswith(("_", "."))
    )


def _inheriting(spark: SparkSession, fn):
    """``fn`` run with a copy of the calling thread's local properties (job
    group) and session tags. Unpinned PySpark threads
    (``PYSPARK_PIN_THREAD=false``) carry no JVM thread state; pyspark then
    returns the session instead of a wrapper, and ``fn`` runs as is."""
    wrap = inheritable_thread_target(spark)
    return wrap(fn) if callable(wrap) else fn


def size_chunk_jobs(
    chunk_bytes: int,
    max_partition_bytes: int,
    parallelism: int,
    partition_tasks: int | None = None,
) -> tuple[int, int]:
    """``(tasks_per_chunk, in_flight)`` for a chunk of ``chunk_bytes``
    staged bytes: one kernel task per ``max_partition_bytes`` (at least
    one), or ``partition_tasks`` when the chunk is repartitioned into one
    task per partition id; and as many concurrent chunk jobs as fill
    ``parallelism`` cores (at least one)."""
    tasks = partition_tasks or max(1, -(-chunk_bytes // max_partition_bytes))
    return tasks, max(1, parallelism // tasks)


def _ensure_staging(
    spark: SparkSession,
    documents: DataFrame,
    staging_dir: str,
    num_partitions: int,
    num_chunks: int,
    salt_hot_hosts: bool,
    hot_row_threshold: int,
) -> None:
    if os.path.exists(os.path.join(staging_dir, "_SUCCESS")):
        return
    docs = asof_dedup(documents)
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
    atomic_partition_writes: bool = False,
) -> dict:
    """Run (or resume) the extraction job.

    ``stop_after_chunks`` is the fault-injection hook for the resumability
    test: the driver runs only the first N pending chunks, simulating a
    crash after their commits.
    Staging always runs the as-of window (latest capture per url wins), so
    an input holding re-captures still yields one document per url.
    ``atomic_partition_writes=True`` repartitions each chunk by
    partition_id before extraction so ONE task owns each partition's
    output — required for exactly-once resume under task-visible commit
    protocols (v2/direct committers); leave False (shuffle-free chunks)
    with a job-atomic committer. Returns a summary dict.
    """
    # checked before anything is written: a bad value must not be
    # persisted into _run_meta.json, where every rerun would refuse it
    if num_partitions < 1 or num_chunks < 1:
        raise ValueError(
            f"num_partitions and num_chunks must be >= 1, got "
            f"{num_partitions} and {num_chunks}"
        )
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
        salt_hot_hosts, hot_row_threshold,
    )
    staging_s = time.monotonic() - t_start
    # the staged files' schema (chunk_id is the directory), so chunk scans
    # skip parquet schema inference
    staged_schema = StructType(
        documents.select("url", "html").schema.fields
        + [StructField("partition_id", IntegerType())]
    )
    done_in_data = completed_partitions(spark, data_dir)
    done = done_in_data | _marked_partitions(data_dir, num_chunks)
    max_partition_bytes = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    parallelism = spark.sparkContext.defaultParallelism
    jobs, windows = [], []
    for chunk in range(num_chunks):
        if stop_after_chunks is not None and len(jobs) >= stop_after_chunks:
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
        # missing ones are reprocessed only.
        staged = set(range(chunk, num_partitions, num_chunks))
        todo = sorted(staged - done)
        if not todo:
            continue
        tasks, window = size_chunk_jobs(
            _dir_bytes(chunk_src), max_partition_bytes, parallelism,
            len(todo) if atomic_partition_writes else None,
        )
        windows.append(window)
        # directory-pruned scan: only this chunk's files are read
        part = spark.read.schema(staged_schema).parquet(chunk_src)
        if len(todo) < len(staged):
            part = part.filter(F.col("partition_id").isin(todo))
        if atomic_partition_writes:
            # one task per partition_id → task-commit visibility is
            # partition-atomic even under v2/direct committers
            part = part.repartition(tasks, "partition_id")
        else:
            part = part.coalesce(tasks)
        out = part.mapInArrow(_extract_batches_lineage, _COMBINED_DDL)
        jobs.append((out, os.path.join(data_dir, f"chunk_id={chunk}"), todo))

    def run_chunk(out: DataFrame, chunk_dir: str, todo: list[int]) -> list[int]:
        out.write.mode("append").parquet(chunk_dir)
        _mark_processed(chunk_dir, todo)
        return todo

    committed = set(done_in_data)
    chunks_run = 0
    failure = None
    # the pool starts no more threads than there are chunk jobs
    with ThreadPoolExecutor(max_workers=min(windows, default=1)) as pool:
        # wrapped per job: each thread gets its own copy of the caller's
        # local properties (job group), which a job's SQL execution edits
        futures = [pool.submit(_inheriting(spark, run_chunk), *job) for job in jobs]
        for fut in as_completed(futures):
            if fut.cancelled():
                continue
            exc = fut.exception()
            if exc is None:
                committed.update(fut.result())
                chunks_run += 1
            elif failure is None:
                failure = exc
                for other in futures:
                    other.cancel()  # only chunks not yet started
    if failure is not None:
        raise failure
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


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    return (
        spark.read.schema(_COMBINED_DDL)
        .parquet(os.path.join(output_dir, "extracted"))
        .select("url", "text", "spans")
    )


def read_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """The lineage table; empty when no chunk has run (an empty input)."""
    metrics_dir = os.path.join(output_dir, "metrics")
    if not os.path.exists(metrics_dir):
        return spark.createDataFrame([], _METRICS_DDL)
    return spark.read.schema(_METRICS_DDL).parquet(metrics_dir)
