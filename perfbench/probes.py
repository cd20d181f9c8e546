"""Measurements taken from outside the program: resident memory of the
Spark process tree, bytes on disk, and task counts from Spark's status
tracker."""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while the table was read
            continue
        # the command name in field 2 may hold spaces; fields after it don't
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    # proportional set size: pages a forked Python worker still shares
    # with its daemon count once across the tree, not once per process
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes (PSS) of ``root_pid`` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended between listing and reading
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread while the
    ``with`` block runs; ``peak`` holds the largest sample in bytes."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 when it is absent)."""
    total = 0
    for top, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(top, f))
    return total


def task_counts(spark, group: str) -> tuple[int, int]:
    """(tasks, failed tasks) over every stage of every job run under the
    job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return tasks, failed


def identity_batches(batches):
    """Arrow batches through the Python worker unchanged: the cost of the
    JVM-to-Python boundary alone."""
    yield from batches
