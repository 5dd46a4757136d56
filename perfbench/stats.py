"""Pure summary statistics used by the benchmark (no Spark imports)."""

from __future__ import annotations

import math

TAIL_ABOVE = 10  # samples that must lie above the reported tail value


def tail(values: list[float], above: int = TAIL_ABOVE) -> tuple[float, float, int]:
    """Highest percentile of ``values`` that still has at least ``above``
    samples strictly above it.

    Returns ``(value, percentile, n)``. The percentile is the
    nearest-rank percent of the chosen sample (its rank over ``n``).
    Raises ``ValueError`` when fewer than ``above + 1`` samples exist.
    """
    n = len(values)
    if n < above + 1:
        raise ValueError(f"need at least {above + 1} samples for the tail, got {n}")
    ordered = sorted(values)
    # Walk down from the largest rank whose position leaves `above`
    # samples after it; ties with later samples do not count as "above".
    for rank in range(n - above, 0, -1):
        v = ordered[rank - 1]
        if sum(1 for x in ordered if x > v) >= above:
            return v, 100.0 * rank / n, n
    raise ValueError("no sample has enough samples above it (all tied)")


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover.

    Children may overlap each other and may stick out of the parent
    (Spark's millisecond timestamps against the harness clock); only the
    covered part inside ``[start, end]`` is subtracted.
    """
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)
