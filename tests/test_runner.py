"""Resumability: kill after k chunks, restart, exactly-once per url
(SURVEY.md §5.2 item 4; north_rule checkpointed-batch requirement)."""

from __future__ import annotations

from pyspark.sql import functions as F

from comic_text_detector_spark.fixtures import corpus_df
from comic_text_detector_spark.operators.dedup import asof_dedup
from comic_text_detector_spark.plans.runner import (
    completed_partitions,
    read_extracted,
    read_metrics,
    run_extract,
    size_chunk_jobs,
)

MB = 2**20


def test_resume_exactly_once(spark, tmp_path):
    out = str(tmp_path / "job")
    corpus = corpus_df(spark, 80)
    expected = asof_dedup(corpus)
    n_urls = expected.count()

    # first run "crashes" after 2 of 4 chunks
    r1 = run_extract(
        spark, corpus, out, run_id="r1", num_partitions=16, num_chunks=4,
        stop_after_chunks=2,
    )
    assert r1["chunks_run"] == 2
    partial = completed_partitions(spark, out + "/extracted")
    n_partial = read_extracted(spark, out).count()
    assert 0 < n_partial < n_urls
    assert len(partial) > 0

    # resume completes only the remaining partitions
    r2 = run_extract(
        spark, corpus, out, run_id="r2", num_partitions=16, num_chunks=4
    )
    assert r2["resumed_partitions_skipped"] == len(partial)

    extracted = read_extracted(spark, out)
    assert extracted.count() == n_urls
    assert extracted.select("url").distinct().count() == n_urls  # exactly once

    # byte identity end-to-end through the runner
    bad = (
        extracted.withColumnRenamed("text", "etext")
        .join(expected.select("url", "text"), "url")
        .filter(F.col("etext") != F.col("text"))
        .count()
    )
    assert bad == 0

    # lineage consistency: sum(docs_in) over metrics == dedup'd url count,
    # no duplicated partition_id across the two runs
    metrics = read_metrics(spark, out)
    agg = metrics.agg(F.sum("docs_in").alias("di")).collect()[0]
    assert agg.di == n_urls
    assert (
        metrics.groupBy("partition_id").count().filter(F.col("count") > 1).count()
        == 0
    )

    # resuming with different partitioning parameters must refuse (would
    # mis-map completed work and duplicate documents)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="resume parameter mismatch"):
        run_extract(spark, corpus, out, num_partitions=32, num_chunks=4)


def test_resume_partial_partition_visibility(spark, tmp_path):
    """A committer that exposed only SOME of a chunk's partitions before a
    crash (fileoutputcommitter v2 / direct-write / speculative commits) must
    not make resume skip the chunk's remaining partitions (ADVICE r1)."""
    import os

    from comic_text_detector_spark.plans.extract import _extract_batches_lineage
    from comic_text_detector_spark.plans.runner import _COMBINED_DDL

    out = str(tmp_path / "job")
    corpus = corpus_df(spark, 60)
    expected = asof_dedup(corpus)
    n_urls = expected.count()

    # run chunk 0 only ("crash" before chunk 1)
    run_extract(
        spark, corpus, out, run_id="r1", num_partitions=8, num_chunks=2,
        stop_after_chunks=1,
    )

    # simulate a task-visible partial commit of chunk 1: extract exactly ONE
    # of its staged partitions and append it to the committed output
    staged = spark.read.parquet(os.path.join(out, "staging", "chunk_id=1"))
    pids = sorted(
        r.partition_id
        for r in staged.select("partition_id").distinct().collect()
    )
    assert len(pids) >= 2  # the scenario needs a partially visible chunk
    partial = staged.filter(F.col("partition_id") == pids[0]).select(
        "url", "html", "partition_id"
    )
    (
        partial.mapInArrow(_extract_batches_lineage, _COMBINED_DDL)
        .withColumn("chunk_id", F.lit(1))
        .write.mode("append")
        .partitionBy("chunk_id")
        .parquet(os.path.join(out, "extracted"))
    )

    # resume: chunk-level inference would skip chunk 1 entirely (silent data
    # loss); per-partition completion processes the missing partitions only.
    # atomic_partition_writes exercises the one-task-per-partition path
    # (required under v2/direct committers for this inference to be sound).
    run_extract(
        spark, corpus, out, run_id="r2", num_partitions=8, num_chunks=2,
        atomic_partition_writes=True,
    )
    extracted = read_extracted(spark, out)
    assert extracted.count() == n_urls
    assert extracted.select("url").distinct().count() == n_urls


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_extract_job_count(spark, tmp_path):
    """A fresh call is the staging pass (the as-of window's shuffle and the
    write), one write per chunk, and one metrics aggregation (its shuffle
    and the write); a rerun on completed output is the two checkpoint
    reads (committed partitions and metered partitions, a distinct each)."""
    out = str(tmp_path / "job")
    corpus = corpus_df(spark, 200)
    kw = dict(num_partitions=16, num_chunks=4)
    fresh = _jobs_in_group(
        spark, "runner-fresh", lambda: run_extract(spark, corpus, out, **kw)
    )
    assert len(completed_partitions(spark, out + "/extracted")) == 16
    noop = _jobs_in_group(
        spark, "runner-noop", lambda: run_extract(spark, corpus, out, **kw)
    )
    assert (fresh, noop) == (8, 4)


def test_size_chunk_jobs():
    """Small chunks take one task each and all run at once on 4 cores; a
    chunk of at least cores x maxPartitionBytes fills the cores alone, so
    chunks run one at a time; repartitioned chunks take one task per
    pending partition id."""
    assert size_chunk_jobs(2 * MB, 128 * MB, 4) == (1, 4)
    assert size_chunk_jobs(4 * 128 * MB, 128 * MB, 4) == (4, 1)
    assert size_chunk_jobs(5 * 128 * MB, 128 * MB, 4) == (5, 1)
    assert size_chunk_jobs(2 * MB, 128 * MB, 4, partition_tasks=16) == (16, 1)
    assert size_chunk_jobs(2 * MB, 128 * MB, 32, partition_tasks=8) == (8, 4)


def _metrics_exactly_once(spark, out: str, n_urls: int) -> None:
    metrics = read_metrics(spark, out)
    per_pid = {
        r.partition_id: r["count"]
        for r in metrics.groupBy("partition_id").count().collect()
    }
    assert set(per_pid) == completed_partitions(spark, out + "/extracted")
    assert set(per_pid.values()) == {1}
    assert metrics.agg(F.sum("docs_in")).collect()[0][0] == n_urls


def test_metrics_recovered_after_crash_before_metrics(spark, tmp_path):
    """Chunks committed but their metrics lost (a crash between the commit
    and the metrics append): the resume adds one row for each of those
    partitions as well as for the ones it commits itself."""
    import shutil

    out = str(tmp_path / "job")
    corpus = corpus_df(spark, 80)
    n_urls = asof_dedup(corpus).count()
    kw = dict(num_partitions=16, num_chunks=4)
    run_extract(spark, corpus, out, run_id="r1", stop_after_chunks=2, **kw)
    assert completed_partitions(spark, out + "/extracted")
    shutil.rmtree(out + "/metrics")
    r2 = run_extract(spark, corpus, out, run_id="r2", **kw)
    assert r2["chunks_run"] == 2
    assert read_extracted(spark, out).count() == n_urls
    _metrics_exactly_once(spark, out, n_urls)
    # a further rerun finds every committed partition metered
    run_extract(spark, corpus, out, run_id="r3", **kw)
    _metrics_exactly_once(spark, out, n_urls)


def test_resume_with_only_empty_partitions_missing(spark, tmp_path):
    """More partitions than urls leaves staged partition ids with no rows.
    They never show up in the committed data, but the chunk markers record
    them as processed: a rerun runs no chunk and appends no metrics file,
    only the two checkpoint reads."""
    import os

    out = str(tmp_path / "job")
    corpus = corpus_df(spark, 30)
    n_urls = asof_dedup(corpus).count()
    kw = dict(num_partitions=64, num_chunks=2)
    run_extract(spark, corpus, out, run_id="r1", **kw)
    committed = completed_partitions(spark, out + "/extracted")
    assert len(committed) < 64
    for chunk in range(2):  # every chunk has rows and empty ids
        assert os.path.exists(os.path.join(out, "staging", f"chunk_id={chunk}"))
        assert set(range(chunk, 64, 2)) - committed
    metrics_files = sorted(os.listdir(out + "/metrics"))
    r2 = {}
    jobs = _jobs_in_group(
        spark, "runner-empty-ids",
        lambda: r2.update(run_extract(spark, corpus, out, run_id="r2", **kw)),
    )
    assert (jobs, r2["chunks_run"]) == (4, 0)
    assert r2["resumed_partitions_skipped"] == 64
    assert sorted(os.listdir(out + "/metrics")) == metrics_files
    extracted = read_extracted(spark, out)
    assert extracted.count() == n_urls
    assert extracted.select("url").distinct().count() == n_urls
    assert completed_partitions(spark, out + "/extracted") == committed
    _metrics_exactly_once(spark, out, n_urls)


def test_failed_chunk_keeps_exactly_once(spark, tmp_path):
    """One concurrent chunk fails (a corrupt staged file): the call raises
    only after the other chunks committed, and a rerun with the file
    restored completes the output exactly once, identical to a clean run."""
    import os

    import pytest
    from py4j.protocol import Py4JJavaError

    out = str(tmp_path / "job")
    corpus = corpus_df(spark, 80)
    n_urls = asof_dedup(corpus).count()
    kw = dict(num_partitions=16, num_chunks=4)
    run_extract(spark, corpus, str(tmp_path / "clean"), **kw)
    clean = sorted(read_extracted(spark, str(tmp_path / "clean")).collect())

    # stage only, then corrupt one staged file of chunk 1
    run_extract(spark, corpus, out, run_id="r0", stop_after_chunks=0, **kw)
    chunk_src = os.path.join(out, "staging", "chunk_id=1")
    victim = os.path.join(
        chunk_src, sorted(f for f in os.listdir(chunk_src) if f.endswith(".parquet"))[0]
    )
    with open(victim, "rb") as f:
        good = f.read()
    with open(victim, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        run_extract(spark, corpus, out, run_id="r1", **kw)
    # the other chunks had finished and committed when the call raised
    marked = {
        chunk for chunk in range(4)
        if os.path.exists(os.path.join(out, "extracted", f"chunk_id={chunk}",
                                       "_committed_partitions.json"))
    }
    assert marked == {0, 2, 3}
    assert {p % 4 for p in completed_partitions(spark, out + "/extracted")} <= marked

    with open(victim, "wb") as f:
        f.write(good)
    r2 = run_extract(spark, corpus, out, run_id="r2", **kw)
    assert r2["chunks_run"] == 1
    extracted = read_extracted(spark, out)
    assert extracted.select("url").distinct().count() == n_urls
    assert sorted(extracted.collect()) == clean
    _metrics_exactly_once(spark, out, n_urls)


def test_bad_partitioning_writes_nothing(spark, tmp_path):
    """A zero chunk or partition count is refused before _run_meta.json is
    written, so a rerun with valid values on the same directory runs."""
    import os

    import pytest

    out = str(tmp_path / "job")
    corpus = corpus_df(spark, 20)
    for bad in (dict(num_partitions=8, num_chunks=0),
                dict(num_partitions=0, num_chunks=2)):
        with pytest.raises(ValueError, match="must be >= 1"):
            run_extract(spark, corpus, out, **bad)
        assert not os.path.exists(os.path.join(out, "_run_meta.json"))
    r = run_extract(spark, corpus, out, num_partitions=8, num_chunks=2)
    assert r["chunks_run"] == 2
    n_urls = corpus.select("url").distinct().count()
    assert read_extracted(spark, out).count() == n_urls


def test_extract_job_empty_input(spark, tmp_path, capsys):
    """An empty documents table runs no chunk, so no metrics are written;
    the job still reports zero totals instead of failing on the read."""
    import json

    from jobs import extract_job

    src = str(tmp_path / "docs")
    corpus_df(spark, 4).limit(0).write.parquet(src)
    out = str(tmp_path / "out")
    capsys.readouterr()
    assert extract_job.main(
        ["--input", src, "--output", out, "--num-partitions", "4",
         "--num-chunks", "2"],
        spark=spark,
    ) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["chunks_run"] == 0
    assert (summary["docs_in"], summary["docs_out"], summary["bytes"]) == (0, 0, 0)
    assert read_metrics(spark, out).count() == 0
    assert not spark.sparkContext._jsc.sc().isStopped()


def test_compact_job_binpacks_and_verifies(spark, tmp_path):
    """Many tiny files → few files, content-identical (verified by the
    job's own fingerprint gate); a Hive partition layout is preserved."""
    import os

    from jobs import compact_job

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 2000).selectExpr(
        "id", "CAST(id % 4 AS INT) AS bucket", "repeat('x', 50) AS payload"
    )
    # 64 small files per bucket dir
    df.repartition(64).write.partitionBy("bucket").parquet(tbl)
    n_before = sum(
        1 for _r, _d, fs in os.walk(tbl) for f in fs if f.endswith(".parquet")
    )
    assert n_before > 100
    rows_before = sorted(
        (r["id"], r["bucket"]) for r in spark.read.parquet(tbl).collect()
    )
    assert compact_job.main(
        ["--table", tbl, "--target-file-mb", "128", "--partition-by", "bucket"],
        spark=spark,
    ) == 0
    n_after = sum(
        1 for _r, _d, fs in os.walk(tbl) for f in fs if f.endswith(".parquet")
    )
    assert n_after <= 8  # one output partition x 4 bucket dirs + slack
    rows_after = sorted(
        (r["id"], r["bucket"]) for r in spark.read.parquet(tbl).collect()
    )
    assert rows_after == rows_before
    # the Hive layout survived
    assert sorted(
        d for d in os.listdir(tbl) if d.startswith("bucket=")
    ) == ["bucket=0", "bucket=1", "bucket=2", "bucket=3"]


def test_compact_job_partitioned_no_file_explosion(spark, tmp_path):
    """With n_out > 1 the rewrite must NOT put every partition value in
    every task (that would emit ~n_out x n_values files — worse than the
    input): files stay bounded by ~n_out + slack. Partition columns are
    AUTO-DETECTED from the col=val layout — no --partition-by given."""
    import os

    from jobs import compact_job

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 6000).selectExpr(
        "id", "CAST(id % 8 AS INT) AS bucket", "repeat('y', 200) AS payload"
    )
    df.repartition(32).write.partitionBy("bucket").parquet(tbl)
    rows_before = sorted(
        (r["id"], r["bucket"]) for r in spark.read.parquet(tbl).collect()
    )
    # tiny target => n_out is several; auto-detected 'bucket' partitioning
    assert compact_job.main(
        ["--table", tbl, "--target-file-mb", "1"], spark=spark
    ) == 0
    n_after = sum(
        1 for _r, _d, fs in os.walk(tbl) for f in fs if f.endswith(".parquet")
    )
    # 8 bucket dirs, salt may split a value into a couple of files — but
    # nowhere near the n_out x 8 a round-robin rewrite would emit
    assert n_after <= 24, n_after
    assert sorted(
        d for d in os.listdir(tbl) if d.startswith("bucket=")
    ) == [f"bucket={i}" for i in range(8)]
    rows_after = sorted(
        (r["id"], r["bucket"]) for r in spark.read.parquet(tbl).collect()
    )
    assert rows_after == rows_before


def test_compact_job_recovers_interrupted_swap(spark, tmp_path):
    """A crash between the two swap renames leaves only the __precompact
    backup; the next run restores it before doing anything else."""
    import os

    from jobs import compact_job

    tbl = str(tmp_path / "tbl")
    spark.range(0, 100).selectExpr("id", "repeat('z', 20) AS p").repartition(
        8
    ).write.parquet(tbl)
    rows = sorted(r["id"] for r in spark.read.parquet(tbl).collect())
    # simulate the mid-swap crash: live path renamed away, staging lost
    os.rename(tbl, tbl + "__precompact")
    assert not os.path.exists(tbl)
    assert compact_job.main(["--table", tbl], spark=spark) == 0
    assert sorted(r["id"] for r in spark.read.parquet(tbl).collect()) == rows
    assert not os.path.exists(tbl + "__precompact")
