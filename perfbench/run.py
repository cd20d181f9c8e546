#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The engine runs on
``local[<cores available>]`` through ``session.get_spark`` with its
defaults. ``--trace 0`` times the workload's job (``end_to_end`` metrics
of BENCHMARK.json); ``--trace 1`` calls each layer's public functions in
turn under spans (``per_layer`` metrics) and writes the spans to
``.perfbench/trace-<workload>-<seed>.json``. The last line of standard
output is one JSON object: correct, attempted, failed, metrics. Every
file the benchmark writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3  # session set-ups per run; setup_s is their median
MIN_CALLS = 3  # timed job calls per run, however long they take
# One untimed warm-up call on an input WARMUP_SCALE the size: job time
# falls over the first calls of a session (JIT compilation of the planner
# and generated code), by ~20% from the first call to the third.
WARMUP_SCALE = 0.25


def _prepare_env(work: str) -> None:
    """Keep Spark's scratch files in the checkout and let the Python
    workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # no hsperfdata file in /tmp, and the JVM's temporary files in the work dir
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    sys.path.insert(0, ROOT)


def _set_up(tr, times: list[tuple[float, float]]):
    """``get_spark`` plus a first tiny job that starts a Python worker per
    core, SETUPS times; the last session stays up."""
    from comic_text_detector_spark.session import get_spark
    from perfbench.probes import identity_batches

    for i in range(SETUPS):
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = get_spark()
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with tr.span("session.warm"):
            cores = spark.sparkContext.defaultParallelism
            spark.range(0, cores, 1, cores).mapInArrow(
                identity_batches, "id long"
            ).collect()
        times.append((t1 - t0, time.perf_counter() - t1))
        if i < SETUPS - 1:
            spark.stop()
    return spark


def _shut_down(spark) -> None:
    """Stop the session and the JVM this process launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class _Calls:
    """Job calls into fresh output directories, each checked; ``attempted``
    and ``failed`` count documents over every call."""

    def __init__(self, spark, work: str):
        from perfbench import probes

        self.spark = spark
        self.out = os.path.join(work, "out", "calls")
        self.jvm = probes.jvm_pid(spark)
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def call(self, inp, tr=None) -> dict:
        from perfbench import probes, workloads

        # a reused directory would time a no-op: the runner skips staging
        # when staging/_SUCCESS exists and skips committed partitions
        out = os.path.join(self.out, str(self.n))
        shutil.rmtree(out, ignore_errors=True)
        group = f"call-{self.n}"
        self.n += 1
        self.spark.sparkContext.setJobGroup(group, group)
        # start every call from a collected heap, so garbage left by earlier
        # calls does not decide when this one pauses for collection
        self.spark.sparkContext._jvm.System.gc()
        # memory is sampled in the traced call only: reading the JVM's
        # smaps takes its address-space lock and slows the job it measures
        traced = tr is not None
        rss = probes.RssSampler(self.jvm) if traced else contextlib.nullcontext()
        with rss, tr.span("job") if traced else contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                workloads.run_job(self.spark, inp, out)
                ok = True
            except Exception:  # a failed job counts all its documents
                traceback.print_exc()
                ok = False
            wall = time.perf_counter() - t0
        bad = workloads.check(inp, out) if ok else inp.docs
        tasks, failed_tasks = probes.task_counts(self.spark, group)
        written = probes.dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += inp.docs
        self.failed += bad
        return {
            "wall": wall,
            "rss": rss.peak if traced else None,
            "written": written,
            "tasks": tasks,
            "failed_tasks": failed_tasks,
        }


def timed_run(calls: _Calls, inp, seconds: float, setups) -> dict:
    from perfbench import probes

    runs = []
    deadline = time.perf_counter() + seconds
    while len(runs) < MIN_CALLS or time.perf_counter() < deadline:
        runs.append(calls.call(inp))
    print("job call walls (s):", [round(r["wall"], 3) for r in runs], file=sys.stderr)
    return {
        "setup_s": statistics.median(a + b for a, b in setups),
        "docs_per_s": inp.docs / statistics.median(r["wall"] for r in runs),
        "write_amp": (
            statistics.median(r["written"] for r in runs) / probes.dir_bytes(inp.docs_path)
        ),
    }


def traced_run(calls: _Calls, inp, seed: int, scale: float, work: str, tr, setups) -> dict:
    from perfbench import trace, workloads
    from perfbench.inputs import ensure_inputs

    spark = calls.spark
    # tracing overhead: the traced job call against an untraced one right
    # after it in the same session
    job = calls.call(inp, tr)
    plain = calls.call(inp)["wall"]
    metrics = {
        "session.start_s": statistics.median(a for a, _ in setups),
        "session.warm_s": statistics.median(b for _, b in setups),
        "spark.tasks": job["tasks"],
        "spark.failed_tasks": job["failed_tasks"],
        "spark.peak_rss_mb": job["rss"] / 2**20,
        "trace.overhead_frac": (job["wall"] - plain) / plain,
    }
    # Every layer is traced in every run. Layers the workload's own job
    # does not reach run on their own input from the same seed.
    scratch = os.path.join(work, "out", "layers")
    for name, sweep in (
        ("extract", trace.extract_layers),
        ("dedup", trace.dedup_layers),
        ("curate", trace.curate_layers),
    ):
        own = inp if name == inp.workload else ensure_inputs(work, name, seed, scale)
        with tr.span(f"layers.{name}"):
            metrics.update(sweep(spark, tr, own, scratch))
        if name == "extract":
            metrics.update(trace.kernel_probe(tr, own, seed))
        if name == "curate":
            calls.attempted += own.docs
            calls.failed += workloads.check_curation(
                own, os.path.join(scratch, "curate")
            )
    shutil.rmtree(scratch, ignore_errors=True)
    metrics["trace.spans"] = len(tr.spans)
    return metrics


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input size relative to the benchmark's (smaller for smoke tests)",
    )
    p.add_argument("--work", default=os.path.join(ROOT, ".perfbench"))
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    engine = os.path.join(ROOT, "comic_text_detector_spark", "__init__.py")
    jobs = os.path.join(ROOT, "jobs", "dedup_job.py")
    if not all(os.path.isfile(f) for f in (spec_path, engine, jobs)):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.abspath(args.work)
    _prepare_env(work)
    from perfbench.inputs import ensure_inputs
    from perfbench.trace import Tracer

    inp = ensure_inputs(work, args.workload, args.seed, args.scale)
    tr = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    setups: list[tuple[float, float]] = []
    with tr.span("run"):
        with tr.span("setup"):
            spark = _set_up(tr, setups)
        try:
            calls = _Calls(spark, work)
            calls.call(ensure_inputs(work, args.workload, args.seed, args.scale * WARMUP_SCALE))
            if args.trace:
                metrics = traced_run(calls, inp, args.seed, args.scale, work, tr, setups)
            else:
                metrics = timed_run(calls, inp, args.seconds, setups)
        finally:
            _shut_down(spark)
    if args.trace:
        tr.write(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, v in out.items():
        print(f"{name} = {v['value']:.6g} {v['unit']}")
    print(f"failed_frac = {calls.failed / calls.attempted:.6g} "
          f"({calls.failed} of {calls.attempted} documents)")
    print(json.dumps({
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
