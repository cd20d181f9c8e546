"""Every package module is reached from the jobs, the driver or perfbench.

Pure static check, no Spark session: walk the AST import closure from
``jobs/*.py``, ``__spark_entry__.py`` and ``perfbench/*.py``. Imports are
counted anywhere in a module (function-local imports included), relative
imports are resolved against the importing module, and importing a dotted
module also runs each parent package's ``__init__``. A package module that
no root reaches is code only its own tests use.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "comic_text_detector_spark"

# sources.pdf is the BASELINE north_rule's "PDF/layout parse" leg, kept on
# purpose though nothing reaches it: extract_job takes html documents
# (url, html, warc_ts), while read_pdfs turns a binaryFile glob into
# already-extracted (url, text) rows; and the driver's tables carry no PDF
# bytes for a query to parse, nor has DuckDB a PDF parser for its oracle.
ALLOWED_UNREACHED = {f"{PACKAGE}.sources.pdf"}


def _module_files() -> dict[str, Path]:
    """Dotted module name -> file, for every module a root can import."""
    files = {"__spark_entry__": ROOT / "__spark_entry__.py"}
    for top in (PACKAGE, "jobs", "perfbench"):
        for path in (ROOT / top).rglob("*.py"):
            parts = path.relative_to(ROOT).with_suffix("").parts
            if parts[-1] == "__init__":
                parts = parts[:-1]
            files[".".join(parts)] = path
    return files


def _imported_names(name: str, path: Path) -> set[str]:
    """Absolute dotted names ``path`` imports, with ``from X import Y``
    contributing both ``X`` and ``X.Y`` (Y may be a submodule)."""
    is_pkg = path.name == "__init__.py"
    here = name.split(".") if is_pkg else name.split(".")[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{alias.name}" for alias in node.names)
    return out


def _reached(files: dict[str, Path]) -> set[str]:
    roots = [
        m for m, path in files.items()
        if path.parent in (ROOT, ROOT / "jobs", ROOT / "perfbench")
    ]
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in files:
            continue
        seen.add(mod)
        for imp in _imported_names(mod, files[mod]):
            parts = imp.split(".")
            todo.extend(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return seen


def test_every_package_module_is_reached():
    files = _module_files()
    reached = _reached(files)
    package = {m for m in files if m.split(".")[0] == PACKAGE}
    assert ALLOWED_UNREACHED <= package
    unreached = package - reached - ALLOWED_UNREACHED
    assert not unreached, f"reached only by tests (or nothing): {sorted(unreached)}"
    # the allowlist stays exact: a module that becomes reachable leaves it
    assert not ALLOWED_UNREACHED & reached
