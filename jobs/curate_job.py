"""The corpus-curation job: front door → decontaminate → text rewrites →
floors → mixture sample.

The training-data pipeline's third pass (after jobs/extract_job.py and
jobs/dedup_job.py): given a deduplicated corpus and a benchmark set, drop
pages that must not be trained on (blocklisted, noindex, crawl-trap and
soft-404 pages) and documents that leak eval data (more than
--max-shared-ngrams distinct n-grams shared with the benchmark; 0 =
strict), strip boilerplate lines and cross-document verbatim spans, drop
low-quality documents, and downsample each language stratum to its
--rates entry (docs whose language has none are DROPPED) —
deterministically, so a re-run produces the same output. --text-col names
the text column in BOTH the corpus and the benchmark parquet.

The job is a linear chain: a stage whose plan reads its input more than
once (an anti-join against a verdict on the same docs, or a join with a
rewrite of them) writes its output under ``<output>/_stages/<name>`` and
the next stage reads that file, so no plan replays the stages before it.
The leaks are written to ``contaminated/`` and the result to ``curated/``;
every summary count but ``docs_in`` is observed during a write.

Usage (``--help`` lists every stage flag):
  spark-submit --py-files dist/ctd_spark.zip jobs/curate_job.py \
      --input <corpus parquet> --benchmark <benchmark parquet> \
      --output /tmp/curated [stage flags]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str], spark=None) -> int:
    """CLI entry point. ``spark=None`` (the spark-submit path) creates and
    stops its own session; tests inject a live session instead, which is
    left running."""
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--benchmark", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--rates", default='{"en": 1.0}')
    p.add_argument("--min-quality", type=float, default=0.0)
    p.add_argument("--max-shared-ngrams", type=int, default=0)
    p.add_argument(
        "--max-line-doc-freq",
        type=int,
        default=0,
        help="if > 0, drop lines occurring in more than this many docs "
        "(CCNet-style boilerplate removal) before the quality floor",
    )
    p.add_argument(
        "--max-host-line-doc-freq",
        type=int,
        default=0,
        help="if > 0, also drop lines occurring in more than this many "
        "docs OF THE SAME HOST (per-site nav/footer boilerplate the "
        "corpus-wide threshold never reaches)",
    )
    p.add_argument(
        "--min-logit",
        type=float,
        default=None,
        help="if set, drop docs whose hashing-trick quality_logit score "
        "(deterministic hash weights, or --logit-weights JSON of "
        "bucket->milliweight) falls below this floor",
    )
    p.add_argument(
        "--logit-weights",
        default=None,
        help="JSON dict bucket->int milliweight for a trained quality "
        "model (default: deterministic md5-derived weights)",
    )
    p.add_argument(
        "--min-lm-score",
        type=float,
        default=None,
        help="if set, train a stupid-backoff bigram LM on --lm-reference "
        "(a parquet of reference text; default: the benchmark set) and "
        "drop docs whose mean milli-quantized log10 probability falls "
        "below this floor (CCNet-style perplexity filtering)",
    )
    p.add_argument(
        "--lm-reference",
        default=None,
        help="parquet of reference text for --min-lm-score (needs the "
        "--text-col column); defaults to the --benchmark parquet",
    )
    p.add_argument(
        "--cut-dup-spans",
        action="store_true",
        help="find cross-document verbatim passages (substring_dup_spans) "
        "and CUT them from every doc (Lee et al. 2022 span-level dedup) "
        "after line-level dedup",
    )
    p.add_argument(
        "--max-docs-per-host",
        type=int,
        default=0,
        help="if > 0, keep at most this many docs per host (deterministic "
        "md5-ordered uniform draw; requires --id-col to be a url)",
    )
    p.add_argument(
        "--temperature-alpha",
        type=float,
        default=None,
        help="if set, replace the manual --rates mixture with α-temperature "
        "rebalancing over --lang-col (rarest group keeps all, common "
        "groups sample at (p/p_min)^(α-1))",
    )
    p.add_argument(
        "--gopher",
        action="store_true",
        help="apply the Gopher heuristic quality battery (Rae et al. 2021 "
        "§A1.1) as a document filter after the learned floors",
    )
    p.add_argument(
        "--gopher-min-words",
        type=int,
        default=50,
        help="minimum word count for --gopher (the other thresholds use "
        "the published defaults)",
    )
    p.add_argument(
        "--blocklist",
        default=None,
        help="parquet of (pattern, kind, category) UT1-style rules; "
        "matched docs (by --id-col as url) drop before every other stage",
    )
    p.add_argument(
        "--drop-traps",
        action="store_true",
        help="run operators/traps.py::detect_traps over --id-col urls and "
        "drop every doc on a host flagged for query/repeat/depth traps "
        "(thresholds via --trap-query-variants)",
    )
    p.add_argument("--trap-query-variants", type=int, default=50)
    p.add_argument(
        "--drop-soft404",
        action="store_true",
        help="drop pages functions/http.py::soft404_signals flags from "
        "the page title (via page_meta on --html-col) + --text-col; "
        "corpus rows are fetched-ok captures, so status is taken as 200",
    )
    p.add_argument(
        "--honor-noindex",
        action="store_true",
        help="parse <meta name=robots> from --html-col and drop noindex "
        "pages at the front door, after --blocklist",
    )
    p.add_argument("--html-col", default="html")
    p.add_argument("--dup-k", type=int, default=20)
    p.add_argument("--dup-min-len", type=int, default=50)
    p.add_argument("--ngram", type=int, default=5)
    p.add_argument("--id-col", default="url")
    p.add_argument("--text-col", default="text")
    p.add_argument("--lang-col", default="lang")
    p.add_argument("--salt", default="mix")
    args = p.parse_args(argv)
    rates = {str(k): float(v) for k, v in json.loads(args.rates).items()}

    from pyspark.sql import functions as F

    from comic_text_detector_spark.functions.textstats import quality_score
    from comic_text_detector_spark.operators.curation import (
        contaminated_docs,
        hash_sample,
    )
    from comic_text_detector_spark.session import get_spark
    from comic_text_detector_spark.sources.sinks import write_counted

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="ctd-curate")
        spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark)
    stages = f"{args.output}/_stages"

    # optional stage 0: UT1-style URL blocklist — the curation front door
    # (host/domain-suffix/url-prefix verdicts, broadcast-joined); matched
    # docs never reach the expensive stages. One aggregate counts both.
    if args.blocklist:
        from comic_text_detector_spark.operators.curation import (
            blocklist_filter,
        )

        bl = spark.read.parquet(args.blocklist)
        docs = blocklist_filter(docs, bl, url_col=args.id_col)
        n_in, n_blocklisted = docs.agg(
            F.count(F.lit(1)), F.count("block_category")
        ).first()
        docs = docs.filter(F.col("block_category").isNull()).drop(
            "block_category", "block_kind"
        )
    else:
        n_in, n_blocklisted = docs.count(), 0
    n_front, dropped = n_in - n_blocklisted, {}

    def front_door(name, survivors):
        # the verdict was computed from the same docs it filters
        nonlocal n_front
        kept, n = write_counted(survivors, f"{stages}/{name}")
        dropped[name], n_front = n_front - n, n
        return kept

    # optional stage 0b: meta-robots noindex — an unindexable page must
    # not enter a training corpus; zero-shuffle directive parse + anti-join
    if args.honor_noindex:
        from comic_text_detector_spark.functions.links import (
            page_directives,
        )

        noidx = (
            page_directives(
                docs, url_col=args.id_col, html_col=args.html_col
            )
            .filter(F.col("noindex"))
            .select(F.col("url").alias(args.id_col))
        )
        docs = front_door("noindex", docs.join(noidx, args.id_col, "left_anti"))

    # optional stage 0c: crawl-trap host drop — a trapped host's docs are
    # template spam by construction; one aggregate over the url column,
    # flagged hosts anti-joined back (broadcast-sized: hosts, not urls)
    if args.drop_traps:
        from comic_text_detector_spark.operators.traps import detect_traps

        trapped = (
            detect_traps(
                docs.select(F.col(args.id_col).alias("url")),
                query_variant_threshold=args.trap_query_variants,
            )
            .filter("query_trap OR repeat_trap OR depth_trap")
            .select("host")
        )
        docs = front_door("traps", docs.join(
            trapped.withColumnRenamed("host", "__th"),
            F.expr(
                f"regexp_extract({args.id_col},"
                " '^[a-zA-Z]+://([^/?#]+)', 1) = __th"
            ),
            "left_anti",
        ))

    # optional stage 0d: soft-404 scrub — 200-status not-found templates
    # must not enter the dedup tier; title from page_meta, zero shuffles
    if args.drop_soft404:
        from comic_text_detector_spark.functions.http import soft404_signals
        from comic_text_detector_spark.functions.links import page_meta

        meta = page_meta(
            docs, url_col=args.id_col, html_col=args.html_col
        ).select(F.col("url").alias(args.id_col), "title")
        flagged = (
            soft404_signals(
                docs.select(
                    args.id_col, F.lit(200).alias("status"), args.text_col
                ).join(meta, args.id_col, "left"),
                url_col=args.id_col,
                text_col=args.text_col,
            )
            .filter("is_soft404")
            .select(F.col("url").alias(args.id_col))
        )
        docs = front_door("soft404", docs.join(flagged, args.id_col, "left_anti"))

    # stage 1: decontamination — anti-join against docs sharing more than
    # the allowed number of distinct benchmark n-grams. The leaks (the
    # corpus n-gram explode's output) are written once as an audit artifact.
    leaks, _ = write_counted(contaminated_docs(
        docs, bench, args.id_col, args.text_col, n=args.ngram
    ).filter(F.col("n_shared") > args.max_shared_ngrams), f"{args.output}/contaminated")
    clean, n_clean = write_counted(
        docs.join(
            leaks.withColumnRenamed("id", args.id_col), args.id_col, "left_anti"
        ),
        f"{stages}/decontaminated",
    )

    def rewrite(base, name, new):
        # replace the text and the audit columns ``new`` carries; re-curating
        # a previous curate_job output brings last run's audit columns, which
        # must go first or the join would emit duplicate names
        cols = [c for c in new.columns if c != args.id_col]
        return write_counted(
            base.drop(*cols).join(new, args.id_col), f"{stages}/{name}"
        )[0]

    # optional stage 1b: boilerplate line removal (its own keyed exchanges;
    # n_lines_in/kept are carried into the curated output as audit columns)
    if args.max_line_doc_freq > 0:
        from comic_text_detector_spark.operators.curation import line_freq_dedup

        clean = rewrite(clean, "line_dedup", line_freq_dedup(
            clean, args.id_col, args.text_col, max_doc_freq=args.max_line_doc_freq
        ).withColumnRenamed("text", args.text_col))  # operator emits 'text'

    # optional stage 1b2: HOST-scoped boilerplate removal — per-site nav
    # and footer lines whose corpus-wide df never crosses the 1b cap;
    # the host is derived from the url id (same regexp as detect_traps)
    if args.max_host_line_doc_freq > 0:
        from comic_text_detector_spark.operators.curation import (
            host_boilerplate_dedup,
        )

        hosted = clean.withColumn(
            "__host",
            F.regexp_extract(
                F.col(args.id_col), "^[a-zA-Z]+://([^/?#]+)", 1
            ),
        )
        clean = rewrite(clean, "host_line_dedup", host_boilerplate_dedup(
            hosted,
            args.id_col,
            args.text_col,
            host_col="__host",
            max_doc_freq=args.max_host_line_doc_freq,
        ).select(
            args.id_col,
            F.col("text").alias(args.text_col),
            F.col("n_lines_in").alias("n_host_lines_in"),
            F.col("n_lines_kept").alias("n_host_lines_kept"),
        ))

    # optional stage 1c: span-level exact-substring dedup — cut cross-doc
    # verbatim passages (n_cut_spans/n_chars_cut become audit columns)
    if args.cut_dup_spans:
        from comic_text_detector_spark.operators.curation import (
            cut_spans,
            substring_dup_spans,
        )

        sp = substring_dup_spans(
            clean, args.id_col, args.text_col,
            k=args.dup_k, min_len=args.dup_min_len,
        )
        clean = rewrite(clean, "cut_spans", cut_spans(
            clean, sp, args.id_col, args.text_col
        ).withColumnRenamed("text_cut", args.text_col))

    # the text is final from here on: each floor below is a per-document
    # verdict on the materialized ``final``, anti-joined out of ``clean``
    final = clean

    # optional stage 1d: trained/hashed linear quality floor (the scorer
    # skips wordless docs; they keep their heuristic-floor fate)
    if args.min_logit is not None:
        from comic_text_detector_spark.operators.curation import quality_logit

        weights = (
            {int(k): int(v) for k, v in json.loads(args.logit_weights).items()}
            if args.logit_weights
            else None
        )
        low = quality_logit(
            final, args.id_col, args.text_col, weights=weights
        ).filter(F.col("logit") < args.min_logit)
        clean = clean.join(low.select(args.id_col), args.id_col, "left_anti")

    # optional stage 1e: LM perplexity floor (CCNet shape) — a bigram LM
    # trained on the reference corpus scores every doc (wordless docs are
    # unscored and keep their fate)
    if args.min_lm_score is not None:
        from comic_text_detector_spark.operators.lm import (
            lm_score,
            train_bigram_lm,
        )

        ref = (
            spark.read.parquet(args.lm_reference)
            if args.lm_reference
            else bench
        )
        uni, big = train_bigram_lm(
            ref.withColumn("_lm_id", F.monotonically_increasing_id()),
            id_col="_lm_id",
            text_col=args.text_col,
        )
        low = lm_score(
            final, uni, big, id_col=args.id_col, text_col=args.text_col
        ).filter(F.col("score") < args.min_lm_score)
        clean = clean.join(low.select(args.id_col), args.id_col, "left_anti")

    # optional stage 1e2: per-host anti-domination cap (deterministic
    # uniform draw; hostless rows pass uncapped — see the operator). Not
    # row-local: which docs it keeps depends on the floors before it.
    if args.max_docs_per_host > 0:
        from comic_text_detector_spark.operators.curation import cap_per_host

        pre_cols = set(clean.columns)
        clean = cap_per_host(clean, args.id_col, cap=args.max_docs_per_host)
        # drop only the audit columns the operator ADDED — a pre-existing
        # host/host_rank column in the input corpus passes through intact
        clean = clean.drop(
            *[c for c in ("host", "host_rank") if c not in pre_cols]
        )

    # optional stage 1f: Gopher heuristic battery — docs failing any of the
    # Rae et al. rules (word bounds, word length, symbol/bullet/ellipsis,
    # duplicate lines, stopword presence); the battery itself is a
    # zero-shuffle Project
    if args.gopher:
        from comic_text_detector_spark.operators.curation import gopher_quality

        bad = gopher_quality(
            final, args.id_col, args.text_col, min_words=args.gopher_min_words
        ).filter(~F.col("keep")).select(args.id_col)
        clean = clean.join(bad, args.id_col, "left_anti")

    # stage 2 + 3 fuse into one zero-exchange scan: quality floor, then the
    # deterministic per-language mixture sample — manual --rates, or the
    # automatic α-temperature rebalancing when --temperature-alpha is set
    # (rates derived from the post-filter language counts themselves)
    good = clean.filter(
        quality_score(F.col(args.text_col)) >= F.lit(args.min_quality)
    )
    if args.temperature_alpha is not None:
        from comic_text_detector_spark.operators.curation import (
            temperature_sample,
        )

        curated = temperature_sample(
            good, by=args.lang_col, alpha=args.temperature_alpha,
            key_col=args.id_col, salt=args.salt,
        ).drop("rate")
    else:
        curated = hash_sample(
            good, args.id_col, rates_by=args.lang_col, rates=rates,
            salt=args.salt,
        )
    _, n_out = write_counted(curated, f"{args.output}/curated")

    summary = {
        "docs_in": n_in,
        "blocklisted": n_blocklisted,
        "noindexed": dropped.get("noindex", 0),
        "trap_dropped": dropped.get("traps", 0),
        "soft404_dropped": dropped.get("soft404", 0),
        "after_decontaminate": n_clean,
        "contaminated_removed": n_front - n_clean,
        "curated": n_out,
    }
    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
