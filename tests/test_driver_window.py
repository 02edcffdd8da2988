"""The driver checks the first 50 oracled entries of ``queries()``
each round.  Registry order is derived from the ``CORRECTNESS_rNN.json``
files at the repository root, so once a round's file is checked in the
next window must move on to other rows: only the explicit
``_DRIVER_WINDOW_PRIORITY`` rows may repeat the newest round.  Pure
registry introspection, no Spark session.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from cid_etl_spark.queries import (
    _DRIVER_WINDOW_PRIORITY,
    oracle_queries,
    spark_queries,
)

REPO = Path(__file__).resolve().parents[1]
WINDOW = 50


def _newest_correctness() -> dict:
    files = {
        int(m.group(1)): f
        for f in REPO.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name))
    }
    assert files, "no CORRECTNESS_rNN.json at the repository root"
    return json.loads(files[max(files)].read_text())


def test_driver_window_rotates_past_the_newest_round():
    oracled = set(oracle_queries())
    window = [n for n in spark_queries() if n in oracled][:WINDOW]
    repeated = (set(window) & set(_newest_correctness())) - set(
        _DRIVER_WINDOW_PRIORITY
    )
    assert not repeated, (
        f"{len(repeated)} of the {len(window)} rows in the next driver window "
        f"(outside _DRIVER_WINDOW_PRIORITY) were checked in the newest "
        f"round: {sorted(repeated)[:10]}"
    )
