"""Pure helpers of the benchmark: percentiles, the host-record gate and
the metric-name grammar. Nothing here needs Spark, so the self-tests run
without a JVM."""

from __future__ import annotations

import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# Fields of the host record that make two results comparable. The seed,
# workload and trace flag are recorded too, but they identify a run, not
# the host it ran on.
HOST_KEYS = (
    "nproc",
    "master",
    "default_parallelism",
    "shuffle_partitions",
    "spark",
    "python",
    "data",
)

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0..100) with linear interpolation between
    closest ranks, as numpy's default method."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def highest_tail(n: int, candidates: tuple[float, ...] = (99.0, 95.0, 90.0, 75.0)) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when even the lowest has fewer."""
    for q in candidates:
        if n * (100.0 - q) / 100.0 >= MIN_BEYOND:
            return q
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count and the highest tail percentile the count
    supports (``tail_q`` is None when no tail percentile is supported)."""
    out = {"n": len(values), "p50": median(values), "tail_q": highest_tail(len(values))}
    if out["tail_q"] is not None:
        out["tail"] = percentile(values, out["tail_q"])
    return out


def host_mismatch(a: dict, b: dict) -> list[str]:
    """Host-record fields on which two results differ; empty when the
    two ran on comparable hosts. A field missing from either side
    counts as differing."""
    return [k for k in HOST_KEYS if k not in a or k not in b or a[k] != b[k]]


def bad_metric_names(names) -> list[str]:
    return [n for n in names if not METRIC_NAME.fullmatch(n)]
