"""The curation job end to end (jobs.curate_job) on a planted corpus:
every stage must do its planted job — decontamination drops
benchmark-derived docs, line-dedup strips the corpus-wide boilerplate
line, span-dedup cuts the planted verbatim passage, the LM and logit
floors cut the low-scoring tail — so the chain measures real work, not
no-ops."""

from __future__ import annotations

import contextlib
import io
import json
from unittest import mock

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from __spark_entry__ import SF_DEFAULT
from jobs import curate_job
from tests.test_runner import _jobs_in_group

REPLICAS = 4
# the benchmark is the first 50 base docs, so every copy of them must be
# dropped as contaminated
N_BENCH = 50

_BOILER_LINE = "Subscribe to our newsletter | Cookie settings | Back to top"
_DUP_PASSAGE = (
    "This work is licensed under the Creative Example License and may be "
    "redistributed verbatim in any medium provided this notice and the "
    "original attribution are preserved intact by the redistributor."
)


def _doc_id():
    """The base doc id; urls end in /<rep>/<doc_id>."""
    return F.regexp_extract("url", r"/(\d+)$", 1).cast("long")


def _planted_curate_corpus(spark, path, replicas):
    """sf0.001 docs x ``replicas`` at ``.../<rep>/<doc_id>``: a first line
    ``doc u<rep>_<doc_id> begins``, a marker after every 6th word (copies
    share 5-grams but no long verbatim runs), a boilerplate line in every
    doc, and a licence passage in docs with doc_id % 61 == 0."""
    docs = spark.read.parquet(f"{SF_DEFAULT}/documents.parquet")
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    uniq = F.concat(
        F.lit("u"), F.col("rep").cast("string"),
        F.lit("_"), F.col("doc_id").cast("string"),
    )

    def _mark(w, i):
        return F.when(i % 6 == 5, F.concat(w, F.lit(" "), uniq)).otherwise(w)

    body = F.array_join(F.transform(F.split("text", " "), _mark), " ")
    body = F.when(
        F.col("doc_id") % 61 == 0, F.concat(body, F.lit(" " + _DUP_PASSAGE))
    ).otherwise(body)
    text = F.concat_ws(
        "\n", F.concat(F.lit("doc "), uniq, F.lit(" begins")),
        F.lit(_BOILER_LINE), body,
    )
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".example/d/"), F.col("rep").cast("string"), F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    docs.crossJoin(reps).select(
        url.alias("url"), text.alias("text"), F.lit("en").alias("lang")
    ).write.parquet(path)


@pytest.fixture(scope="module")
def chain_call(spark, tmp_path_factory):
    """One curate_job call with line dedup, span cut, LM and logit floors,
    run under a job group with every parquet write's executed plan
    recorded; returns (spark, corpus path, output dir, the job's JSON
    summary, Spark jobs launched, {output path: plan})."""
    tmp = tmp_path_factory.mktemp("curate_chain")
    corpus, bench, out = (str(tmp / d) for d in ("c", "b", "out"))
    _planted_curate_corpus(spark, corpus, REPLICAS)
    spark.read.parquet(f"{SF_DEFAULT}/documents.parquet").filter(
        F.col("doc_id") < N_BENCH
    ).select("doc_id", "text").write.parquet(bench)

    plans = {}
    write = DataFrameWriter.parquet

    def recording_write(self, path, *args, **kwargs):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return write(self, path, *args, **kwargs)

    def call():
        assert curate_job.main(
            [
                "--input", corpus, "--benchmark", bench, "--output", out,
                # legitimate lines occur in at most the copies of one base
                # doc; the boilerplate line is in every doc
                "--max-line-doc-freq", str(4 * REPLICAS),
                "--cut-dup-spans",
                # floors that cut the low-scoring tail
                "--min-lm-score", "-2.85", "--min-logit", "-20",
            ],
            spark=spark,
        ) == 0

    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout), mock.patch.object(
        DataFrameWriter, "parquet", recording_write
    ):
        n_jobs = _jobs_in_group(spark, "curate-chain", call)
    summary = json.loads(stdout.getvalue().strip().splitlines()[-1])
    return spark, corpus, out, summary, n_jobs, plans


@pytest.fixture(scope="module")
def chain(chain_call):
    """(spark, corpus path, output dir, the job's JSON summary)."""
    return chain_call[:4]


def test_chain_is_linear(chain_call):
    """Each stage reads the previous stage's written output, so the final
    write scans the span-cut stage three times (the docs, the logit and
    the LM scorers) and the benchmark three times (the LM's training), not
    the corpus once per stage before it. The call is one input count,
    then each write with its shuffles; every summary count is observed
    during a write."""
    spark, corpus, out, s, n_jobs, plans = chain_call
    scans = plans[f"{out}/curated"].count("FileScan")
    assert (n_jobs, scans) == (40, 6)
    assert sorted(p[len(out) + 1:] for p in plans) == [
        "_stages/cut_spans", "_stages/decontaminated", "_stages/line_dedup",
        "contaminated", "curated",
    ]


def test_stage_monotone_and_counts(chain):
    spark, corpus, out, s = chain
    docs_in = spark.read.parquet(corpus).count()
    n_leaked = spark.read.parquet(f"{out}/contaminated").count()
    assert s["docs_in"] == docs_in == 500 * REPLICAS
    assert 0 < n_leaked < docs_in
    assert s["after_decontaminate"] == docs_in - n_leaked
    assert s["curated"] == spark.read.parquet(f"{out}/curated").count()
    # line/span stages rewrite text, never drop docs: the LM and logit
    # floors are the only stages here that drop docs after decontamination
    assert 0 < s["curated"] < s["after_decontaminate"]


def test_decontaminate_dropped_benchmark_derived(chain):
    spark, corpus, out, s = chain
    curated = spark.read.parquet(f"{out}/curated")
    # every doc derived from a benchmark base doc shares 5-grams with it
    assert curated.filter(_doc_id() < N_BENCH).count() == 0
    leaked = spark.read.parquet(f"{out}/contaminated")
    assert leaked.count() >= N_BENCH * REPLICAS


def test_line_dedup_stripped_boilerplate(chain):
    spark, corpus, out, s = chain
    curated = spark.read.parquet(f"{out}/curated")
    assert curated.filter(F.col("text").contains(_BOILER_LINE)).count() == 0
    # the boilerplate line and only it is stripped from every doc
    assert curated.filter("n_lines_in - n_lines_kept != 1").count() == 0
    # the per-doc unique first line survives (it is not boilerplate)
    assert curated.filter("text LIKE 'doc u%'").count() == s["curated"]


def test_cut_spans_removed_planted_passage(chain):
    spark, corpus, out, s = chain
    n_planted = (
        spark.read.parquet(corpus)
        .filter(F.col("text").contains(_DUP_PASSAGE))
        .count()
    )
    assert n_planted > 0
    curated = spark.read.parquet(f"{out}/curated")
    # docs that were planted with the licence passage survive, without it
    assert curated.filter(_doc_id() % 61 == 0).count() > 0
    assert curated.filter(F.col("text").contains(_DUP_PASSAGE)).count() == 0
