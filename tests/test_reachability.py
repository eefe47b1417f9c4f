"""Every top-level package function and class has a caller outside tests.

The callers are the package itself, ``tools/``, ``perfbench/*.py``,
``bench.py`` and ``__spark_entry__.py``; a ``@query``-registered function
is reached through the registry. A reference is a load-context name, a
load-context attribute or an imported name, so an annotated field that
shares a function's name does not count. A definition's own body does
not reach it, and neither does a package ``__init__.py`` re-exporting it:
a re-export is not a call.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "k_means_in_mapreduce_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
IMPORTS = (ast.Import, ast.ImportFrom)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def test_every_package_definition_has_a_non_test_caller():
    callers = [*PKG.rglob("*.py"), *(ROOT / "tools").glob("*.py"),
               *(ROOT / "perfbench").glob("*.py"),
               ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    defs, reached = [], set()
    for path in callers:
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            if path.name == "__init__.py" and isinstance(stmt, IMPORTS):
                continue
            own = {stmt.name} if isinstance(stmt, DEFS) else set()
            if own and path.is_relative_to(PKG) and not _is_query(stmt):
                defs.append((stmt.name, f"{path.relative_to(ROOT)}::{stmt.name}"))
            reached |= _refs(stmt) - own
    dead = sorted(label for name, label in defs if name not in reached)
    assert not dead, "no non-test caller:\n" + "\n".join(dead)
