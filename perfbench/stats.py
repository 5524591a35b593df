"""Summary statistics the benchmark reports.

Medians and quartiles follow `statistics.quantiles(values, n=4)`, the
rule the acceptance check uses for run-to-run spread.
"""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    vals = list(values)
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (0 for a single value)."""
    q1, _, q3 = quartiles(values)
    m = median(values)
    return (q3 - q1) / m if m else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (a value that was actually measured)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100 * len(vals)))
    return vals[k - 1]


def reportable_percentile(values, p: float, min_beyond: int = 10) -> float | None:
    """The p-th percentile, or None when fewer than `min_beyond` samples
    lie above it: a tail percentile is reported only where the sample
    supports it."""
    vals = list(values)
    if not vals:
        return None
    v = percentile(vals, p)
    return v if sum(1 for x in vals if x > v) >= min_beyond else None


def worse_share(base: float, new: float, better: str) -> float:
    """How much worse `new` is than `base`, as a share of `base`
    (negative when it is better)."""
    if not base:
        return 0.0
    d = (new - base) / base
    return d if better == "lower" else -d
