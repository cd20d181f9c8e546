"""The crawl-frontier job: raw robots.txt + sitemaps + crawl state →
politeness-scheduled fetch plan.

The crawl-side pipeline the engine's pieces compose into, end to end:

1. robots bytes → RFC 9309 rule selection for OUR agent
   (``robots_rules_for_agent``) + per-host Crawl-delay
   (``robots_crawl_delay``: the agent's own delay if it has one, else
   the ``*`` group's);
2. sitemap XML → page urls + lastmod (``parse_sitemap``);
3. recrawl decisions vs the crawl state (``refetch_candidates``:
   never_crawled / modified only — no blind refetches);
4. robots filtering of the fetch list (``robots_filter``);
5. politeness scheduling (``schedule_frontier``) with each host's OWN
   crawl-delay spacing its slots.

Every stage is the oracle-checked operator; this job only wires them and
writes audit tables (candidates, allowed, schedule). Each is written with
``write_counted``, so the summary's counts (candidates, blocked, scheduled)
come from those writes, and the next stage reads the written table.

Usage:
  spark-submit --py-files dist/ctd_spark.zip jobs/frontier_job.py \
      --robots <parquet (host, robots_txt)> \
      --sitemaps <parquet (host, sitemap_xml)> \
      --output /tmp/frontier_out \
      [--crawl-state <parquet (url, warc_ts)>] [--agent mybot]
      [--n-workers 64] [--default-delay-ms 1000]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str], spark=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--robots", required=True)
    p.add_argument("--sitemaps", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--crawl-state", default=None)
    p.add_argument("--agent", default="ctdbot")
    p.add_argument("--n-workers", type=int, default=64)
    p.add_argument("--default-delay-ms", type=int, default=1000)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from comic_text_detector_spark.operators.curation import (
        parse_sitemap,
        refetch_candidates,
        robots_agent_hosts,
        robots_crawl_delay,
        robots_filter,
        robots_rules_for_agent,
        schedule_frontier,
    )
    from comic_text_detector_spark.session import get_spark
    from comic_text_detector_spark.sources.sinks import write_counted

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="ctd-frontier")
        spark.sparkContext.setLogLevel("WARN")

    robots = spark.read.parquet(args.robots)
    sitemaps = spark.read.parquet(args.sitemaps)

    # stage 1: rules for our agent + per-host delay with the SAME §2.2.1
    # group selection the rules use (robots_agent_hosts is the shared
    # presence test): on a host where our agent has its OWN group, the
    # '*' group's delay does NOT apply — even if the own group declares
    # no delay (that means "no delay constraint", falling back to the
    # job default, never to a group the RFC says to ignore)
    rules = robots_rules_for_agent(robots, args.agent)
    token = args.agent.lower()
    own_hosts = robots_agent_hosts(robots, args.agent)
    d = robots_crawl_delay(robots)
    delays = (
        d.filter(F.col("agent") == token)
        .unionByName(
            d.filter(F.col("agent") == "*").join(
                own_hosts, "host", "left_anti"
            )
        )
        .select("host", "delay_milli")
    )

    # stages 2+3: sitemap pages → fetch candidates vs the crawl state
    pages = parse_sitemap(sitemaps)
    if args.crawl_state:
        crawled = spark.read.parquet(args.crawl_state)
    else:
        crawled = spark.createDataFrame(
            [], "url string, warc_ts timestamp"
        )
    candidates, n_candidates = write_counted(
        refetch_candidates(pages, crawled), f"{args.output}/candidates"
    )

    # stage 4: robots filtering (blocked urls are an audit count, not a
    # silent disappearance). Materialized once — the allowed/ audit table
    # and the schedule would otherwise each run the filter pipeline
    allowed, n_allowed = write_counted(
        robots_filter(candidates, rules, url_col="url"),
        f"{args.output}/allowed",
    )

    # stage 5: politeness schedule with per-host crawl-delays
    schedule = schedule_frontier(
        allowed,
        n_workers=args.n_workers,
        per_host_delay_ms=args.default_delay_ms,
        host_delays=delays,
    )
    _, n_scheduled = write_counted(schedule, f"{args.output}/schedule")
    summary = {
        "candidates": n_candidates,
        "robots_blocked": n_candidates - n_allowed,
        "scheduled": n_scheduled,
    }
    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
