"""Every package module and top-level definition is reached from a root.

Pure static checks, no Spark session. The roots are ``jobs/*.py``,
``perfbench/*.py``, ``__spark_entry__.py`` and ``tools/*.py`` (the plan
dump and the oracle gate).

Modules: walk the AST import closure from the roots. Imports are counted
anywhere in a module (function-local imports included), relative imports
are resolved against the importing module, and importing a dotted module
also runs each parent package's ``__init__``. A package module that no
root reaches is code only its own tests use.

Definitions: a top-level ``def``, ``class`` or assignment target (a
module constant) in a package module is reached when its name is
referenced in a root file, in a package module's other module-level
statements (decorators, defaults, annotations and base classes run there
too), or in the body of another reached definition; iterate to a fixed
point. A definition's own body (an assignment's value) does not keep it
alive. Code kept on purpose (``ALLOWED_UNREACHED`` modules and
``ALLOWED_UNREACHED_DEFS``) counts as reached for what it calls. A
reference is an ``ast.Name``, an ``ast.Attribute`` attr, an import alias,
or a string constant equal to the name (dispatch by name). Module dunders
(``__all__``, ``__version__``) are metadata, neither definitions nor
references: listing a name in ``__all__`` exports it without using it.
Matching is by name only: one reference keeps every definition of that
name alive, so the check can miss an orphan that shares a name with
reached code, but it never fails on reached code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "comic_text_detector_spark"
ROOT_DIRS = (ROOT, ROOT / "jobs", ROOT / "perfbench", ROOT / "tools")

# sources.pdf is the BASELINE north_rule's "PDF/layout parse" leg, kept on
# purpose though nothing reaches it: extract_job takes html documents
# (url, html, warc_ts), while read_pdfs turns a binaryFile glob into
# already-extracted (url, text) rows; and the driver's tables carry no PDF
# bytes for a query to parse, nor has DuckDB a PDF parser for its oracle.
ALLOWED_UNREACHED = {f"{PACKAGE}.sources.pdf"}

ALLOWED_UNREACHED_DEFS = {
    # reference implementations the tests compare the shipped operator with
    f"{PACKAGE}.plans.extract.extract_relational",
    f"{PACKAGE}.functions.textstats.bpe_reference_encode",
    # the read side of formats a job writes: run_extract's extracted/ and
    # index_job's BM25 index
    f"{PACKAGE}.plans.runner.read_extracted",
    f"{PACKAGE}.operators.retrieval.bm25_from_index_path",
    # test-data generator
    f"{PACKAGE}.fixtures.gen_hard_documents",
    # build inputs for, or check outputs of, tests of reached code
    # (convex_iou / offset_polygons_df, pack_sequences)
    f"{PACKAGE}.operators.polygons.rect_corners",
    f"{PACKAGE}.operators.packing.pack_stats",
}


def _module_files() -> dict[str, Path]:
    """Dotted module name -> file, for every module a root can import."""
    files = {"__spark_entry__": ROOT / "__spark_entry__.py"}
    for top in (PACKAGE, "jobs", "perfbench", "tools"):
        for path in (ROOT / top).rglob("*.py"):
            parts = path.relative_to(ROOT).with_suffix("").parts
            if parts[-1] == "__init__":
                parts = parts[:-1]
            files[".".join(parts)] = path
    return files


def _is_root(path: Path) -> bool:
    return path.parent in ROOT_DIRS


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _imported_names(name: str, path: Path) -> set[str]:
    """Absolute dotted names ``path`` imports, with ``from X import Y``
    contributing both ``X`` and ``X.Y`` (Y may be a submodule)."""
    is_pkg = path.name == "__init__.py"
    here = name.split(".") if is_pkg else name.split(".")[:-1]
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
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
    seen: set[str] = set()
    todo = [m for m, path in files.items() if _is_root(path)]
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in files:
            continue
        seen.add(mod)
        for imp in _imported_names(mod, files[mod]):
            parts = imp.split(".")
            todo.extend(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return seen


def _refs(*nodes: ast.AST) -> set[str]:
    """Names the subtrees reference: Name ids, Attribute attrs, import
    aliases (both sides of ``as``) and string constants."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
                if node.asname:
                    out.add(node.asname)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                out.add(node.value)
    return out


def _import_time_parts(node: ast.AST) -> list[ast.AST]:
    """The parts of a top-level def/class that run when its module loads."""
    parts: list[ast.AST] = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        parts += node.bases + [kw.value for kw in node.keywords]
    else:
        args = node.args
        parts += args.defaults + [d for d in args.kw_defaults if d is not None]
        every = args.posonlyargs + args.args + args.kwonlyargs
        every += [a for a in (args.vararg, args.kwarg) if a is not None]
        parts += [a.annotation for a in every if a.annotation is not None]
        parts += [node.returns] if node.returns is not None else []
    return parts


def _assigned_names(node: ast.AST) -> list[str]:
    """The names a top-level ``X = ...`` / ``X: T = ...`` binds."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _definitions(files: dict[str, Path]):
    """Qualified name -> (name, refs of the whole definition) for every
    top-level def/class/assigned name in a package module outside
    ``ALLOWED_UNREACHED``, and the names that are live from the start:
    every reference in a root file or an allowed module, and in a package
    module's other module-level statements."""
    defs: dict[str, tuple[str, set[str]]] = {}
    live: set[str] = set()
    for mod, path in files.items():
        tree = _parse(path)
        if _is_root(path) or mod in ALLOWED_UNREACHED:
            live |= _refs(tree)
            continue
        if mod.split(".")[0] != PACKAGE:
            continue
        for node in tree.body:
            names = _assigned_names(node)
            if any(n.startswith("__") and n.endswith("__") for n in names):
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = (node.name, _refs(node))
                live |= _refs(*_import_time_parts(node))
            elif names:
                for name in names:
                    defs[f"{mod}.{name}"] = (name, _refs(node.value))
            else:
                live |= _refs(node)
    return defs, live


def _unreached_defs(files: dict[str, Path], kept: set[str]) -> set[str]:
    """Definitions no root reaches, when the bodies of ``kept`` count as
    reached code."""
    defs, live = _definitions(files)
    for qual in kept & defs.keys():
        live |= defs.pop(qual)[1]
    changed = True
    while changed:
        changed = False
        for qual, (name, _) in list(defs.items()):
            if name in live:
                live |= defs.pop(qual)[1]
                changed = True
    return set(defs)


def test_every_package_module_is_reached():
    files = _module_files()
    reached = _reached(files)
    package = {m for m in files if m.split(".")[0] == PACKAGE}
    assert ALLOWED_UNREACHED <= package
    unreached = package - reached - ALLOWED_UNREACHED
    assert not unreached, f"reached only by tests (or nothing): {sorted(unreached)}"
    # the allowlist stays exact: a module that becomes reachable leaves it
    assert not ALLOWED_UNREACHED & reached


def test_every_package_definition_is_reached():
    files = _module_files()
    # the allowlist stays exact: each entry is unreached without it
    unlisted = _unreached_defs(files, set())
    assert ALLOWED_UNREACHED_DEFS <= unlisted, sorted(ALLOWED_UNREACHED_DEFS - unlisted)
    unreached = _unreached_defs(files, ALLOWED_UNREACHED_DEFS)
    assert not unreached, f"reached only by tests (or nothing): {sorted(unreached)}"
