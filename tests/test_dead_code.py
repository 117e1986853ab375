"""Every top-level ``def`` or ``class`` in ``dabstract_spark/`` must be
referenced by some ``.py`` file of the repo outside its own definition:
a helper nothing calls is code to delete, not code to keep in step with
the one that runs. Spark-free, pure ``ast``.

A reference is a Name, an Attribute, an import alias or a string
constant equal to the name (``getattr(mod, "name")``). Decorated
definitions are exempt: the catalog registers queries by decorator and
nothing names them afterwards."""

from __future__ import annotations

import ast
import os
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "dabstract_spark"
_SKIP_DIRS = {"__pycache__", "spark-warehouse"}


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d not in _SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield Path(root, f)


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def unreferenced_definitions() -> list[str]:
    """``path::name`` of each undecorated top-level def/class in the
    package that no code outside its own definition names."""
    refs: Counter[str] = Counter()
    own: dict[tuple[str, str], int] = {}
    for path in _py_files():
        rel = path.relative_to(REPO).as_posix()
        for node in ast.parse(path.read_text(), rel).body:
            names = Counter(_names(node))
            refs.update(names)
            if (
                rel.startswith(PACKAGE + "/")
                and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ):
                own[rel, node.name] = names[node.name]
    return sorted(f"{rel}::{name}" for (rel, name), n in own.items() if refs[name] == n)


def test_no_unreferenced_library_definitions():
    assert unreferenced_definitions() == []
