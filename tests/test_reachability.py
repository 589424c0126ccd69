"""Every module in the package must be reachable from a KG entry point.

A static walk of the import graph (no SparkSession, nothing imported):
module-level and function-local imports, absolute and relative, starting
from the entry points of the KG engine. A module no entry point reaches
is dead code and should be deleted rather than kept green.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "knowledge_graph_builder_spark"
PKG_DIR = Path(__file__).resolve().parents[1] / PKG

ROOTS = [
    "__main__",
    "plans.pipeline",
    "plans.incremental",
    "streaming.incremental",
    "operators.canonicalize",
    "operators.linking",
    "sources.ingest",
    "sources.synth",  # the golden corpus
    "session",
]


def _modules() -> dict[str, Path]:
    out = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = list(path.relative_to(PKG_DIR).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join([PKG, *parts])] = path
    return out


def _imports(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    is_pkg = path.name == "__init__.py"
    package = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            found.add(target)
            # `from pkg import submodule` imports the submodule itself
            found.update(f"{target}.{alias.name}" for alias in node.names)
    return found & modules.keys()


def _reachable(modules: dict[str, Path]) -> set[str]:
    todo = [f"{PKG}.{r}" for r in ROOTS]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        # importing a.b.c also executes the packages a and a.b
        parts = mod.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(mod, modules[mod], modules))
    return seen


def test_every_module_is_reachable_from_a_kg_entry_point():
    modules = _modules()
    assert all(f"{PKG}.{r}" in modules for r in ROOTS)
    unreached = sorted(modules.keys() - _reachable(modules))
    assert not unreached, f"modules no KG entry point imports: {unreached}"
