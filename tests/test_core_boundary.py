"""The paper core's import boundary.

The core is what the two dataflows (index build, query), the CLI and the
benchmark's workloads run. Its static import closure, function-level
imports included, must be exactly ``CORE``: adding a module to the core is
a deliberate edit of this list, and nothing from the catalog (``queries/``)
or the streaming extensions (``streaming/``) may be pulled in. Beyond the
core, every engine module must be imported by some entry point.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "cargo_chat_spark"

CORE = {
    "cargo_chat_spark.cli",
    "cargo_chat_spark.functions.hashing",
    "cargo_chat_spark.functions.language",
    "cargo_chat_spark.functions.localframe",
    "cargo_chat_spark.functions.paths",
    "cargo_chat_spark.models.mock",
    "cargo_chat_spark.models.openai_http",
    "cargo_chat_spark.models.provider",
    "cargo_chat_spark.operators.chunking",
    "cargo_chat_spark.operators.context",
    "cargo_chat_spark.operators.filters",
    "cargo_chat_spark.operators.knn",
    "cargo_chat_spark.operators.profile",
    "cargo_chat_spark.operators.ranking",
    "cargo_chat_spark.plans.indexing",
    "cargo_chat_spark.plans.retrieval",
    "cargo_chat_spark.session",
    "cargo_chat_spark.sources.index_io",
    "cargo_chat_spark.sources.repo",
    "cargo_chat_spark.worker_daemon",
}


def _module_file(name: str) -> Path | None:
    """The source file of a ``cargo_chat_spark`` module; None for packages
    (their ``__init__.py`` files are empty) and for non-module names."""
    f = ROOT.joinpath(*name.split(".")).with_suffix(".py")
    return f if f.is_file() else None


def _imports(path: Path) -> set[str]:
    """The ``cargo_chat_spark`` modules ``path`` imports, at any depth."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            found.add(node.module)
            # ``from pkg import module`` names a module, not an attribute
            found.update(f"{node.module}.{a.name}" for a in node.names)
    return {m for m in found if m.split(".")[0] == PKG and _module_file(m)}


def _closure(todo: list[str]) -> set[str]:
    """``todo`` and every ``cargo_chat_spark`` module it imports, at any
    depth."""
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imports(_module_file(name)))
    return seen


def _core_closure() -> set[str]:
    return _closure([
        f"{PKG}.cli", f"{PKG}.plans.indexing", f"{PKG}.plans.retrieval",
        *_imports(ROOT / "perfbench" / "workloads.py"),
    ])


def test_core_import_closure():
    closure = _core_closure()
    catalog = sorted(
        m for m in closure
        if m.startswith((f"{PKG}.queries.", f"{PKG}.streaming."))
    )
    assert not catalog, f"the core imports catalog modules: {catalog}"
    assert closure == CORE, (
        f"added: {sorted(closure - CORE)}, gone: {sorted(CORE - closure)}"
    )


# Engine modules no entry point imports, on purpose. ``models.local_st`` is
# the reference's sentence-transformers embedding path (SURVEY §2.8); no
# entry point selects it because it needs model weights the repo does not ship.
UNREACHED = {f"{PKG}.models.local_st"}


def test_every_engine_module_is_reachable():
    """Every engine module is imported, at some depth, by an entry point:
    the CLI, ``python -m cargo_chat_spark``, the query catalog, the legacy
    bench, the Spark entry or a perfbench script. A module only its own
    tests import is dead code."""
    roots = [f"{PKG}.cli", f"{PKG}.__main__", f"{PKG}.queries.catalog"]
    for f in [ROOT / "bench.py", ROOT / "__spark_entry__.py",
              *sorted((ROOT / "perfbench").glob("*.py"))]:
        roots.extend(_imports(f))
    reached = _closure(roots)
    modules = {
        ".".join(f.relative_to(ROOT).with_suffix("").parts)
        for f in (ROOT / PKG).rglob("*.py") if f.name != "__init__.py"
    }
    unreached = sorted(modules - reached - UNREACHED)
    assert not unreached, f"no entry point imports: {unreached}"


def test_only_local_frame_calls_create_dataframe():
    """Driver rows become a DataFrame one way: ``functions/localframe.py``
    is the only engine module that calls ``createDataFrame``."""
    one_path = ROOT / PKG / "functions" / "localframe.py"
    callers = sorted(
        str(f.relative_to(ROOT))
        for f in (ROOT / PKG).rglob("*.py")
        if f != one_path and any(
            isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
            for node in ast.walk(ast.parse(f.read_text()))
        )
    )
    assert not callers, f"createDataFrame outside local_frame: {callers}"
