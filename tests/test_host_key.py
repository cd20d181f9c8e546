"""One host key: only ``functions/links.py::host_of`` takes a url's host.

Pure static check, no Spark session. A string constant in the package or
``jobs/*.py`` that holds the host-capture form ``://(`` (a regexp group
opened right after the scheme separator) derives a host, and the one
allowed derivation is inside ``host_of``. Every host key (frontier,
per-host caps, traps, robots, blocklists, splits, the link graph, hot-host
salting) then lowercases the host and drops userinfo the same way.
``__spark_entry__.py`` is out of scope: its DuckDB oracle twins replay the
derivation in SQL on purpose.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "comic_text_detector_spark").rglob("*.py")) + sorted(
    (ROOT / "jobs").glob("*.py")
)


def _host_captures() -> list[tuple[str, str, int]]:
    """(file, top-level definition or '<module>', line) per constant."""
    out = []
    for path in SOURCES:
        rel = path.relative_to(ROOT).as_posix()
        for top in ast.parse(path.read_text(), str(path)).body:
            name = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "://(" in node.value
                ):
                    out.append((rel, name, node.lineno))
    return out


def test_only_host_of_captures_a_host():
    sites = _host_captures()
    allowed = ("comic_text_detector_spark/functions/links.py", "host_of")
    extra = [s for s in sites if s[:2] != allowed]
    assert not extra, "host derived outside links.host_of:\n" + "\n".join(
        f"  {f}:{line} ({name})" for f, name, line in extra
    )
    assert [s[:2] for s in sites] == [allowed]
