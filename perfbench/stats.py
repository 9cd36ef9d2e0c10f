"""Pure measurement arithmetic shared by the workloads and their tests.

Nothing here touches Spark, so every rule that decides a reported number
(which order statistic is a tail, what a file's latency is, when an
output counts as failed) is unit-tested in isolation.
"""

from __future__ import annotations

# A tail is reported only where at least this many samples lie beyond it.
TAIL_MARGIN = 10


def _order_stat(pairs: list[tuple[float, int]], k: int) -> float:
    """k-th (0-based) smallest value of the sample in which each
    (value, weight) pair stands for ``weight`` equal samples."""
    acc = 0
    for v, w in pairs:
        acc += w
        if acc > k:
            return v
    raise IndexError(k)


def summarize(
    values: list[float], weights: list[int] | None = None
) -> tuple[float, float, float]:
    """(median, tail, tail percentile) of a sample.

    The tail is the highest order statistic with at least
    ``TAIL_MARGIN`` samples above it. A sample too small to support a
    tail above its median reports the median, so a tail is never read
    off a handful of points. ``weights`` lets one value stand for many
    equal samples (rows committed together)."""
    if weights is None:
        weights = [1] * len(values)
    pairs = sorted((v, w) for v, w in zip(values, weights) if w > 0)
    n = sum(w for _, w in pairs)
    if n == 0:
        raise ValueError("summary of no samples")
    med = (_order_stat(pairs, (n - 1) // 2) + _order_stat(pairs, n // 2)) / 2
    k = n - 1 - TAIL_MARGIN
    if k < n // 2:
        return med, med, 50.0
    return med, _order_stat(pairs, k), 100.0 * (k + 1) / n


def due_latencies(
    due: list[float], commits: list[tuple[float, int]], last_key: list[int]
) -> list[float | None]:
    """Latency of each released unit, measured from the time it was DUE
    to the end of the first sink commit that contains it.

    ``due[i]`` is unit i's scheduled release time (not when the pacer
    actually got to it, so a late release counts against the system),
    ``last_key[i]`` the highest key it carries, and ``commits`` the
    (end time, highest key committed so far) pairs the sink reported in
    commit order. Units never committed get None."""
    out: list[float | None] = []
    j = 0
    for d, key in zip(due, last_key):
        while j < len(commits) and commits[j][1] < key:
            j += 1
        out.append(commits[j][0] - d if j < len(commits) else None)
    return out


def fingerprint_failures(
    observed: dict[str, tuple | None], expected: dict[str, list]
) -> list[str]:
    """Entries whose (rows, sum-hash, xor-hash) fingerprint is missing
    (the entry errored) or differs from the recorded expectation."""
    bad = []
    for name, fp in observed.items():
        want = expected.get(name)
        if fp is None or want is None or list(fp) != list(want):
            bad.append(name)
    return bad


def range_failures(counts: list[tuple[int, int, int]]) -> list[int]:
    """Indices of the units whose key range is not present exactly once
    in the sink. Each item is (expected rows, rows found, distinct keys
    found)."""
    return [i for i, (want, rows, uniq) in enumerate(counts)
            if not want == rows == uniq]


def rows_lost_or_duplicated(sent: int, rows: int, uniq: int) -> int:
    """The exactly-once audit as a count: keys of the sent range that
    never arrived plus rows beyond one per key."""
    return (sent - uniq) + (rows - uniq)
