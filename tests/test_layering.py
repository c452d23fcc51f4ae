"""Layering guard: engine modules never import registry modules.

The serving engine (``facade``, ``search/*``) depends
only on library modules; the ``queries_*`` registry rows sit on top of
it.  This walks the engine sources' ASTs (no Spark, no imports
executed) and fails on any ``sortify_spark.queries_*`` import, at
module level or inside a function.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "sortify_spark"
ENGINE_FILES = sorted(
    [PKG / "facade.py", *PKG.glob("search/*.py")]
)


def _registry_imports(path: Path) -> list[str]:
    """``module (line N)`` for every import of a ``queries_*`` module."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:  # relative: resolve against the package path
                parts = path.relative_to(PKG.parent).with_suffix("").parts
                mod = ".".join([*parts[: -node.level], *filter(None, [mod])])
            # ``from sortify_spark import queries_x`` names it in the alias
            mods = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        found += [
            f"{m} (line {node.lineno})"
            for m in mods
            if m.startswith("sortify_spark.queries")
        ]
    return found


def test_engine_modules_do_not_import_registry():
    names = {p.relative_to(PKG).as_posix() for p in ENGINE_FILES}
    assert {"facade.py", "search/lexical.py", "search/serving.py"} <= names
    bad = {
        p.relative_to(PKG).as_posix(): hits
        for p in ENGINE_FILES
        if (hits := _registry_imports(p))
    }
    assert not bad, f"engine modules import registry modules: {bad}"
