"""Registry machinery: the freshness ladder read from
``CORRECTNESS_rNN.json`` files, the order it induces, the package
facade's name space, and the per-input scratch directories of queries
that write files (the only test here that needs the Spark session).
"""

from __future__ import annotations

import ast
import collections
import hashlib
import json
import tempfile
from pathlib import Path

from cid_etl_spark.queries._registry import (
    _ORACLE,
    _SPARK,
    _ordered_names,
    _verified_rounds,
)
from cid_etl_spark.session import scratch_dir


def _write_round(root: Path, name: str, rows: dict) -> None:
    (root / name).write_text(json.dumps(
        {n: {"hash_match": hm} for n, hm in rows.items()}
    ))


def test_ladder_orders_rounds_numerically_and_keeps_only_green(tmp_path):
    assert _verified_rounds(tmp_path) == []
    _write_round(tmp_path, "CORRECTNESS_r10.json", {"c": True})
    _write_round(tmp_path, "CORRECTNESS_r2.json", {"a": True, "b": False})
    _write_round(tmp_path, "CORRECTNESS_r01.json", {"b": True, "x": None})
    _write_round(tmp_path, "CORRECTNESS_r03_draft.json", {"z": True})
    assert _verified_rounds(tmp_path) == [
        frozenset({"b"}), frozenset({"a"}), frozenset({"c"}),
    ]


def test_order_with_an_empty_ladder_is_registration_order():
    oracled = [n for n in _SPARK if n in _ORACLE]
    rows_only = [n for n in _SPARK if n not in _ORACLE]
    assert _ordered_names([], ()) == oracled + rows_only


def test_order_puts_priority_then_unverified_then_stalest():
    oracled = [n for n in _SPARK if n in _ORACLE]
    p, new, old, fresh = oracled[5], oracled[:3], oracled[3], oracled[4]
    ladder = [frozenset({old, fresh, p}), frozenset({fresh})]
    order = _ordered_names(ladder, (p,))
    assert order[0] == p
    assert order[1:4] == new
    tail = [n for n in order if n in (old, fresh)]
    assert tail == [old, fresh]


def test_query_modules_define_disjoint_names():
    """The package facade re-exports every module-level name of every
    query module, first module wins; a name defined in two modules
    would silently export only one of them."""
    where = collections.defaultdict(list)
    for path in sorted(
        (Path(__file__).resolve().parents[1] / "cid_etl_spark" / "queries")
        .glob("*.py")
    ):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [
                    n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name)
                ]
            else:
                continue
            for name in names:
                if path.name not in where[name]:
                    where[name].append(path.name)
    shared = {n: files for n, files in where.items() if len(files) > 1}
    assert not shared, shared


def test_scratch_dir_keys_on_the_whole_input_path(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = "/srv/testdata/sf0.01"
    a = scratch_dir(spark, "csv_sink", sf_dir)
    b = scratch_dir(spark, "csv_sink", "perfbench/data/sf0.01")
    assert a != b
    assert scratch_dir(spark, "csv_sink", sf_dir) == a
    assert scratch_dir(spark, "csv_plain", sf_dir) != a
    for d in (a, b):
        assert Path(d).is_dir() and Path(d).parent == tmp_path
    # with the setting unset, the path is exactly the one the queries
    # have always written to
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    assert a == f"{tempfile.gettempdir()}/cid_etl_csv_sink_{digest}"
