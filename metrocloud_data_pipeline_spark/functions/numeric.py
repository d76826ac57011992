"""Numeric column helpers shared across operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round6(c: Column) -> Column:
    """Canonical 6-decimal rounding for derived double outputs.

    Applied to every *computed* floating aggregate the engine exposes so
    that results are stable across aggregation orders (floating-point sums
    are not associative across partitions; see ARCHITECTURE notes).
    """
    return F.round(c, 6)


def safe_double(c: Column | str, default: float = 0.0) -> Column:
    """float(v)-or-default (reference _safe_float, ruuvitag_adapter.py:439-444)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col.cast("double"), F.lit(float(default)))


def clamp(c: Column, lo: float, hi: float) -> Column:
    """least/greatest clamp (reference battery-% clamp, ruuvitag_adapter.py:446-468)."""
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def pct(numer: Column, denom: Column) -> Column:
    """100.0 * numer / denom as double (anomaly_percentage, init.sql:261-290)."""
    return F.lit(100.0) * numer.cast("double") / denom.cast("double")


def iterate_partials(name, frame, kernel, schema, update, state=None, n_iter=1):
    """The driver-reduced training loop of the iterative fits (k-means,
    PQ, PCA, logistic regression): the map-side partial-aggregate
    iteration of MLlib (Meng et al., JMLR 2016). Returns the final state.

    Each of the n_iter iterations broadcasts `state`, runs one narrow
    mapInPandas pass in which `kernel(state, batches)` yields
    per-Arrow-batch partial rows of `schema`, collects them, and sets
    `state = update(state, sorted(rows))`: one Spark job per iteration.

    Deterministic: the driver reduces the partial rows in the total
    order of their tuples, independent of partition placement, so every
    schema lists its fields in sort-key order and repeated fits are
    bit-identical. Scale shape: the partials are the map-side combine
    for vector sums that groupBy cannot express JVM-side, so only
    ~partitions x (rows per batch) tiny rows reach the driver; frame
    rows never shuffle and the frame is scanned n_iter times, so
    callers at scale persist it first.

    Every schema has a count field `n`; a pass that counts no rows
    raises ValueError("<name>: empty input frame")."""
    sc = frame.sparkSession.sparkContext
    for _ in range(n_iter):
        bc = sc.broadcast(state)

        def run(batches):
            return kernel(bc.value, batches)

        rows = frame.mapInPandas(run, schema).collect()
        bc.destroy()
        if not any(r.n for r in rows):
            raise ValueError(f"{name}: empty input frame")
        state = update(state, sorted(rows))
    return state


# --- exact money aggregation via paired-long sums ---------------------------
#
# Spark's decimal SUM is exact but slow: every row routes through
# Decimal.changePrecision + checked decimal adds, outside the primitive
# codegen path (measured 6x over a double sum on TPC-H Q1 at sf0.1:
# 1.67 s vs 0.28 s for the same five-measure aggregate). Money columns
# here are fixed-point by construction — 2-dp source values, so k-factor
# products have exactly 2/4/6 true decimals — which makes the exact sum
# expressible as LONG integer sums of unit values, fully inside
# whole-stage codegen.
#
# A single long sum of micro-units would overflow at warehouse scale
# (1e-6-unit values reach ~1.1e11; a 6e11-row TPC-H SF100k group sums to
# ~1e22 >> 2^63), so each measure is split into TWO long sums at the
# 1e6 boundary: lo = pmod(u, 1e6) in [0, 1e6), hi = (u - lo) / 1e6.
# Overflow margins per group: lo-sum 9.2e12 rows, hi-sum (u <= ~1.1e11)
# 8.1e13 rows — two orders of magnitude above a 100 TB TPC-H group.
# Reassembly (hi_sum * 1e6 + lo_sum, then one decimal division by the
# scale factor) happens once per GROUP in the final projection, where
# decimal cost is irrelevant.
#
# Correctness bounds (documented, asserted nowhere hot): unit values
# must stay below 2^53 so the (u - pmod) / 1e6 double division is exact;
# pmod (floor-mod) keeps the split exact for negative units (profit-style
# measures). Unit extraction from the 2-dp doubles is exact because
# round(x * 100) recovers the integer cents whenever |x| < 2^43.

_SPLIT = 1_000_000


def money_units(col: Column, decimals: int = 2) -> Column:
    """Exact integer units from a fixed-point double column (cents for
    decimals=2). round() recovers the true integer because the source
    doubles are exact k-dp values."""
    return F.round(col * (10 ** decimals)).cast("long")


def split_sum(units: Column, name: str) -> list[Column]:
    """Two long SUM aggregates exactly representing sum(units): use with
    merge_split(name, scale) in the post-aggregation projection."""
    lo = F.pmod(units, F.lit(_SPLIT))
    hi = ((units - lo) / _SPLIT).cast("long")
    return [F.sum(lo).alias(f"_{name}_lo"), F.sum(hi).alias(f"_{name}_hi")]


def merge_split(name: str, scale: int) -> Column:
    """Reassemble a split_sum pair into the exact DECIMAL(18, scale)
    total, where `scale` is the measure's true decimal count (units are
    10**-scale of the measure)."""
    total = (
        F.col(f"_{name}_hi").cast("decimal(26,0)") * _SPLIT
        + F.col(f"_{name}_lo").cast("decimal(26,0)")
    )
    return (total / F.lit(10 ** scale)).cast(f"decimal(18,{scale})")


def small_units_sum(units: Column, name: str) -> Column:
    """Single long SUM for measures whose unit values are small (qty
    cents <= 5e3, discount cents <= 1e2): one long add per row, overflow
    beyond ~1.8e15 rows per group. Pair with merge_small."""
    return F.sum(units).alias(f"_{name}_c")


def merge_small(name: str, scale: int = 2) -> Column:
    return (F.col(f"_{name}_c").cast("decimal(26,0)") / F.lit(10 ** scale)).cast(
        f"decimal(18,{scale})"
    )
