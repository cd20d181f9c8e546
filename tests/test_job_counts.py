"""No job runs a Spark action only to count rows it writes anyway.

Pure static check, no Spark session. A job's summary count of the rows
it writes comes from the write itself: ``sources/sinks.py::write_counted``
or an ``Observation`` on the written frame. Every ``.count()`` action
(a ``count`` method call with no arguments) in ``jobs/*.py`` must be
listed in ``ALLOWED_COUNTS`` with the reason it is an action of its own;
the list stays exact, so a count that goes also leaves it. A call is
named by its job module and its source text (``ast.unparse``).
"""

from __future__ import annotations

import ast
from pathlib import Path

JOBS = Path(__file__).resolve().parent.parent / "jobs"

ALLOWED_COUNTS = {
    # without --blocklist the input feeds more than one branch of the
    # first stage's plan (a verdict and the rows it filters), so an
    # Observation on it would count it more than once
    ("curate_job", "docs.count()"),
    # a distinct count cannot be an observed metric
    ("index_job", "comm.select('community').distinct().count()"),
    # the number of partition values steers the repartition before the
    # write, so it must be known first
    ("compact_job", "df.select(*pcols).distinct().count()"),
}


def _counts() -> set[tuple[str, str]]:
    out = set()
    for path in sorted(JOBS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "count"
                and not node.args
                and not node.keywords
            ):
                out.add((path.stem, ast.unparse(node)))
    return out


def test_every_job_count_action_is_allowed():
    assert _counts() == ALLOWED_COUNTS
