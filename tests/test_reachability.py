"""Reachability guard: every library module is reached by something that
runs it outside the test suite.

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

