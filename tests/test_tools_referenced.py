"""Every script under ``tools/`` earns its place: a test, ``bench.py``
or ``perfbench/`` runs or imports it, or a checked-in generated file
names it as its generator.  A one-off probe that nothing references
belongs in a commit message and the BASELINE.md table, not in the tree.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
#: Checked-in files whose header names the tool that generated them.
GENERATED = ("PLANS.md", "cid_etl_spark/plans/fixture_cardinality.py")


def _referencing_text() -> str:
    sources = [
        p for p in (REPO / "tests").rglob("*.py") if p.name != Path(__file__).name
    ]
    sources += [REPO / "bench.py", *(REPO / "perfbench").rglob("*.py")]
    parts = [p.read_text(encoding="utf-8") for p in sources]
    parts += [
        "\n".join((REPO / g).read_text(encoding="utf-8").splitlines()[:5])
        for g in GENERATED
    ]
    return "\n".join(parts)


def test_every_tool_is_referenced():
    text = _referencing_text()
    tools = sorted(p.stem for p in (REPO / "tools").glob("*.py"))
    assert tools
    unreferenced = [
        t for t in tools
        if not re.search(rf"\b{t}\.py\b|\btools\.{t}\b", text)
    ]
    assert not unreferenced, f"tools nothing references: {unreferenced}"
