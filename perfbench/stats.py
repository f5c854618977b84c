"""Order statistics and bookkeeping for the benchmark.

Pure Python, no Spark: everything here is unit-tested in
``perfbench/tests/test_stats.py``.
"""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the 'exclusive' method); one sample gives (v, v, v)."""
    vals = list(values)
    if not vals:
        raise ValueError("quartiles of no samples")
    if len(vals) == 1:
        v = float(vals[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return float(q1), float(q2), float(q3)


def iqr_share(values) -> float:
    """Quartile distance as a share of the median (the spread the
    benchmark's bounds are set against)."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


# percentiles offered, highest first; a percentile is reportable only
# when at least ``tail`` samples lie beyond it
_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values, tail: int = 10) -> tuple[float, float] | None:
    """The highest percentile in ``_PERCENTILES`` with at least ``tail``
    samples strictly above its rank, as ``(p, value)``; None when even
    the median has fewer than ``tail`` samples beyond it.  The value is
    the nearest-rank sample, so it is a time some operation really
    took."""
    vals = sorted(values)
    n = len(vals)
    for p in _PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))  # 1-based nearest rank
        if n - rank >= tail:
            return p, float(vals[rank - 1])
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile ``p`` in (0, 100]."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(vals)))
    return float(vals[rank - 1])


class OpsLedger:
    """Counts attempted and failed operations.  An operation fails when
    it raises or when its output check does not hold; both count once
    against the attempted total."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{what}: {type(exc).__name__}: {exc}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def agreement(first, second, bound: float, better: str) -> dict:
    """Two sets of runs of the same code, one metric: does the second
    set's median stay within ``bound`` (a share of the first median) of
    the first, in the direction that counts as worse?  Returns the two
    medians, the signed worsening share and the verdict."""
    m1, m2 = median(first), median(second)
    if better == "lower":
        worse = (m2 - m1) / abs(m1) if m1 else math.inf
    elif better == "higher":
        worse = (m1 - m2) / abs(m1) if m1 else math.inf
    else:
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    return {"median_1": m1, "median_2": m2, "worse_share": worse,
            "ok": worse <= bound}
