"""Cross-engine determinism helpers.

Every query in the driver contract is compared to a DuckDB oracle by an
order-insensitive VALUE hash, so results must be bit-identical across
engines. Floating-point aggregation is the hazard: Spark sums partitions
in nondeterministic order, so ``SUM(double)`` can differ in final ulps
both run-to-run and vs DuckDB. The fix used throughout: aggregate in
DECIMAL (exact, order-independent addition), then cast back to double.

This also matters at 100 TB: a 1000-executor sum is combined in whatever
order tasks finish, so exactness-by-decimal is the only way to get a
reproducible aggregate at scale.

Exactness is the only mode. Decimal partials leave Spark's compact-long
fast path and cost ~4× on the agg expression (PERF.md, measured in
isolation); the driver's cross-engine value-hash gate and any
run-to-run-reproducible production aggregate need that price paid. The
SQL twins are exact too — the oracle defines the reference answer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Enough integer digits for ~1e12 row sums of price-scale values.
DEC = "decimal(28,6)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent exact sum of a double column, returned as
    double.

    SQL twin: ``CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Exact-sum average: exact decimal sum cast to double, divided by
    count — a single deterministic IEEE division, identical in DuckDB.

    SQL twin: ``CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def stable_round(col: Column, n: int) -> Column:
    """Cross-engine-deterministic rounding of a double.

    ``ROUND(double, n)`` is NOT portable at half-way boundaries: Spark
    rounds the shortest decimal representation Java derives for the
    double (BigDecimal.valueOf), DuckDB rounds the full binary
    expansion — for a mean whose true value sits at x.xxxxx5 they emit
    different 6th digits (hit in practice by embedding_centroid at
    sf0.1: 0.003214 vs 0.003213). This variant uses only IEEE ops —
    scale, add 0.5, floor, unscale — which every engine evaluates
    bit-identically. (Half-negative values round toward +inf rather
    than away from zero; consistency across engines is what matters
    here, not the tie convention.)

    SQL twin: ``FLOOR(x * 1e{n} + 0.5) / 1e{n}``.
    """
    s = float(10**n)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)


def sql_stable_round(expr: str, n: int) -> str:
    """DuckDB twin of :func:`stable_round`."""
    s = float(10**n)
    return f"(FLOOR(({expr}) * {s} + 0.5) / {s})"


def micro_units(col: Column) -> Column:
    """Exact 6-dp fixed point as a LONG: floor(x·1e6 + 0.5) — the
    stable-round idiom (bit-identical across engines) applied per row
    BEFORE aggregation, so sums run as integer math instead of
    per-row DECIMAL(28,6) casts. The time_rollup r11 A/B measured the
    decimal cast as the hot path's heaviest expression (2.2 s vs
    1.2 s on 20M rows for ONE column); the same pricing_summary A/B
    read 4.2 s decimal vs 1.75 s for the two-level long form on 7
    aggregates. Overflow is the caller's obligation: a LONG sum holds
    ~9.2e18 micro-units, so either bound the group size (time_rollup's
    hour buckets) or sum per-partition partials first and merge the
    ≤ partitions·groups partial longs as decimals (pricing_summary /
    rollup_agg — safe at any group size because rows-per-partition is
    bounded by maxPartitionBytes, ~1.3e6 rows ≈ 1.7e17 micro at
    worst-case 1.3e11-micro values, 50× headroom).

    Input domain: FINITE doubles — now ENFORCED here (r11 advice):
    without the guard the engines diverge silently (Spark's long cast
    of NaN yields null and the sum skips the row; DuckDB's BIGINT
    cast throws), so a single NaN admitted past the
    validate_constraints ingest gate would skew the Spark result
    LOUDLY on the oracle side and SILENTLY on ours — the wrong
    asymmetry for six-plus hot keys (pricing_summary, rollup_agg,
    cube_agg, grouping_sets_agg, embedding_centroid, embedding_drift)
    routed through this helper. The guard is a codegen `when` over
    two double comparisons per row (isnan + |x|=inf → raise_error),
    noise next to the multiply/floor it feeds — re-measured r12:
    pricing_summary and rollup_agg bench medians unchanged — and it
    makes Spark fail exactly where DuckDB's cast fails, which is the
    cross-engine-parity contract this module exists to hold.

    SQL twin: :func:`sql_micro_units` (DuckDB needs no guard — its
    BIGINT cast of NaN/Inf already throws)."""
    bad = F.isnan(col) | (F.abs(col) == F.lit(float("inf")))
    checked = F.when(
        bad, F.raise_error(F.lit("micro_units: non-finite input")).cast("double")
    ).otherwise(col)
    return F.floor(checked * F.lit(1e6) + F.lit(0.5)).cast("long")


def sql_micro_units(expr: str) -> str:
    """DuckDB twin of :func:`micro_units` (DuckDB sums BIGINT into
    a 128-bit accumulator, so the oracle side needs no partial
    split)."""
    return f"CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS BIGINT)"


def sql_dsum(expr: str) -> str:
    """DuckDB twin of :func:`dsum` for an arbitrary SQL expression."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE) / COUNT({expr}))"
