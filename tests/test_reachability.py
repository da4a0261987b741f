"""Reachability guards: every library module, and every top-level name
in it, is reached by something that runs it outside the test suite.

A pure-AST walk (no Spark, no imports executed). The roots are what
actually drives the library: the pipeline and file-boot entry points,
the query registry (which imports every query module), the benchmark's
non-test files, ``scripts/*.py`` and the query entry point
``__spark_entry__.py``. Imports are followed transitively, including
imports inside functions. A module that only tests import is dead
weight: delete it together with its tests instead of keeping it alive
through them.

Package ``__init__.py`` files are not followed through their own
re-export imports (``operators/__init__.py`` re-exports most of the
operator layer, and following it would mark everything reached). A
package counts as reached when any of its submodules is reached, and
``from atiesh_spark.<pkg> import name`` resolves to the submodule the
package's ``__init__.py`` imports ``name`` from.

The name guard applies the same rule one level down: a top-level
``def``, ``class`` or assignment in a library module must be read,
outside its own definition, by a root-side file (the library itself,
the benchmark's non-test files, ``scripts/*.py`` or
``__spark_entry__.py``). Re-exports in a package ``__init__.py`` and
``__all__`` entries are not reads, and a ``@register``-decorated query
counts as read because the registry runs it. Names are matched bare,
so two colliding names can hide an orphan, but a live name is never
reported.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
LIB = "atiesh_spark"

ROOT_FILES = [
    REPO / LIB / "pipeline.py",
    REPO / LIB / "bootstrap.py",
    REPO / LIB / "plans" / "registry.py",
    *sorted(p for p in (REPO / "perfbench").glob("*.py") if not p.name.startswith("test_")),
    *sorted((REPO / "scripts").glob("*.py")),
    REPO / "__spark_entry__.py",
]

# Modules allowed to be unreached. metrics.py is to be replaced by
# pipeline-owned observability that perfbench reads (ROADMAP open item 3).
ALLOWED_UNREACHED = {"atiesh_spark.metrics"}


def _library_modules() -> dict[str, Path]:
    """Dotted module name -> file, for every module under the library.
    A package is named by its ``__init__.py``."""
    mods = {}
    for path in (REPO / LIB).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _is_package(path: Path) -> bool:
    return path.name == "__init__.py"


def _reexports(mods: dict[str, Path], package: str) -> dict[str, str]:
    """Name -> defining submodule, for the names a package's
    ``__init__.py`` imports from its own modules."""
    out = {}
    for node in ast.parse(mods[package].read_text()).body:
        if isinstance(node, ast.ImportFrom) and node.module in mods:
            out.update((a.asname or a.name, node.module) for a in node.names)
    return out


def _edges(mods: dict[str, Path], path: Path) -> set[str]:
    """Library modules one file imports, anywhere in its body. The
    library uses absolute imports only, so relative ones are not read."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names if a.name in mods)
        elif isinstance(node, ast.ImportFrom) and node.module in mods:
            src = node.module
            if not _is_package(mods[src]):
                out.add(src)
                continue
            exported = _reexports(mods, src)
            for alias in node.names:
                sub = f"{src}.{alias.name}"
                out.add(sub if sub in mods else exported.get(alias.name, src))
    return out


def reached_modules() -> set[str]:
    mods = _library_modules()
    seen = {name for name, path in mods.items() if path in ROOT_FILES}
    todo = list(ROOT_FILES)
    while todo:
        for dep in _edges(mods, todo.pop()):
            if dep not in seen:
                seen.add(dep)
                if not _is_package(mods[dep]):
                    todo.append(mods[dep])
    # a package runs whenever any of its submodules is imported
    for name in list(seen):
        parts = name.split(".")
        seen.update(".".join(parts[:i]) for i in range(1, len(parts)))
    return seen


def test_every_library_module_is_reached_from_a_root():
    unreached = set(_library_modules()) - reached_modules() - ALLOWED_UNREACHED
    assert not unreached, (
        "library modules reached only by tests (delete them with their "
        f"tests, or import them from a root): {sorted(unreached)}"
    )


def test_allowlisted_modules_exist_and_are_still_unreached():
    mods = _library_modules()
    assert ALLOWED_UNREACHED <= set(mods)
    assert not ALLOWED_UNREACHED & reached_modules(), "drop the entry from ALLOWED_UNREACHED"



# Names allowed to be unread by any root-side file, with the reason each
# stays. Every name in a module listed in ALLOWED_UNREACHED is allowed
# with its module.
ALLOWED_UNREAD = {
    "atiesh_spark.boot": "public file-boot entry named in README.md",
    "atiesh_spark.operators.sampling._cumulative_take_window":
        "reference implementation the budgeted-take tests compare against",
    "atiesh_spark.operators.web._extract_html_content_jvm":
        "reference implementation the html-extract tests compare against",
    "atiesh_spark.operators.dedup.MINHASH_BAND_FORMAT":
        "documented format stamp of the incremental MinHash band store",
    "atiesh_spark.plans.ledger.CURRENT_ROUND":
        "generated ledger data the ledger checks read",
    "atiesh_spark.plans.registry.DEFERRED_FIRST_GRADE":
        "registry data the rotation checks read",
    "atiesh_spark.plans.registry.MAX_STALENESS_ROUNDS":
        "registry data the rotation checks read",
    "atiesh_spark.operators.avi.encode_avi_dib":
        "fixture encoder for the avi tests; leaves with avi (ROADMAP item 5)",
}


def _reader_files() -> list[Path]:
    """The whole library plus the roots outside it."""
    lib = list((REPO / LIB).rglob("*.py"))
    return lib + [p for p in ROOT_FILES if p not in lib]


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "register":
            return True
    return False


def _definitions(tree: ast.Module):
    """(name, node) for each top-level def, class and assignment;
    dunder names such as ``__all__`` are not definitions."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node


def _reads(tree: ast.Module, package: bool) -> list[tuple[str, int]]:
    """(identifier, line) for every read in one file. A package's
    top-level ``from ... import`` lines are re-exports, not reads."""
    reexports = set(tree.body) if package else set()
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.ImportFrom) and node not in reexports:
            out.extend((a.name, node.lineno) for a in node.names)
    return out


def unread_names() -> set[str]:
    mods = _library_modules()
    by_path = {path: name for name, path in mods.items()}
    trees = {p: ast.parse(p.read_text()) for p in _reader_files()}
    reads: dict[str, list[tuple[Path, int]]] = {}
    for path, tree in trees.items():
        for ident, line in _reads(tree, _is_package(path)):
            reads.setdefault(ident, []).append((path, line))
    unread = set()
    for path, mod in by_path.items():
        if mod in ALLOWED_UNREACHED:
            continue
        for name, node in _definitions(trees[path]):
            if _is_registered(node):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            if not any(p != path or ln not in own for p, ln in reads.get(name, ())):
                unread.add(f"{mod}.{name}")
    return unread


def test_every_library_name_is_read_from_a_root():
    unread = unread_names() - set(ALLOWED_UNREAD)
    assert not unread, (
        "library names read only by tests (delete them with their tests, "
        f"or add them to ALLOWED_UNREAD with a reason): {sorted(unread)}"
    )


def test_allowlisted_names_exist_and_are_still_unread():
    defined = {
        f"{mod}.{name}"
        for mod, path in _library_modules().items()
        for name, _ in _definitions(ast.parse(path.read_text()))
    }
    assert set(ALLOWED_UNREAD) <= defined, sorted(set(ALLOWED_UNREAD) - defined)
    stale = set(ALLOWED_UNREAD) - unread_names()
    assert not stale, f"drop these entries from ALLOWED_UNREAD: {sorted(stale)}"
