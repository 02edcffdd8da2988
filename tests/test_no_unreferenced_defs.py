"""Every undecorated top-level function and class under
``cid_etl_spark/`` is used: its name appears as a name, attribute or
import somewhere in the package, ``tools/``, ``bench.py``,
``__spark_entry__.py``, ``perfbench/`` or ``tests/``.  Decorated
definitions (registered queries, UDFs) are reached through their
decorator and are exempt.  A definition nothing uses is deleted; its
code stays in the git history.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "cid_etl_spark"


def _used_names() -> set[str]:
    sources = [
        *PACKAGE.rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *(REPO / "perfbench").rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
    ]
    used: set[str] = set()
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
    return used


def test_every_top_level_definition_is_referenced():
    used = _used_names()
    unreferenced = [
        f"{path.relative_to(REPO)}:{node.lineno} {node.name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.decorator_list
        and node.name not in used
    ]
    assert not unreferenced, f"definitions nothing references: {unreferenced}"
