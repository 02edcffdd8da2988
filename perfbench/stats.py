"""Order statistics used to summarise benchmark samples."""

from __future__ import annotations

import random
import statistics
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``, exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def tail_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """The highest percentile that has at least ten samples beyond it.

    Returns ``(percentile, value)`` by the nearest-rank rule: with ``n``
    sorted samples the value of rank ``n - 10`` has exactly ten samples
    above it, and that rank is the ``100 * (n - 10) / n`` percentile.
    ``None`` when there are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    return 100.0 * (n - 10) / n, float(ordered[n - 11])


def summary(values: Sequence[float]) -> dict:
    """Median, tail percentile and sample count of one timing."""
    tail = tail_percentile(values)
    return {
        "median": median(values),
        "tail_pct": None if tail is None else round(tail[0], 1),
        "tail": None if tail is None else tail[1],
        "n": len(values),
    }


def quiet_passes(passes: Sequence[dict], margin: float) -> list[dict]:
    """The passes whose host CPU steal share (``host_steal_share``) is at
    most ``margin`` above that of the run's least-stolen pass."""
    least = min(p["host_steal_share"] for p in passes)
    return [p for p in passes if p["host_steal_share"] <= least + margin]


def pass_order(names: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """Query order of one pass: a permutation fixed by (seed, pass)."""
    order = list(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order
