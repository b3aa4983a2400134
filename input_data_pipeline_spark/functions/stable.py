"""Comparison-stable float aggregates.

Summing IEEE doubles is order-dependent: Spark's partial aggregation and
DuckDB's (and even two Spark runs with different partitioning) add the same
values in different orders, so ``ROUND(SUM(value), 4)`` can land on either
side of a ``.00005`` boundary run-to-run.  The driver's round-1 correctness
snapshot caught exactly this (``user_sessions`` rows-match / hash-mismatch).

Fix: make the aggregate itself exact.  Each double is quantized to an
integer count of millionths *per value* — that conversion is deterministic
and engine-independent (no double is exactly representable at a ``…5``
sixth decimal, so nearest-int vs decimal-cast tie handling can never
disagree) — then summed in exact integer arithmetic, which is
order-independent.  The rounded result is cast back to DOUBLE so both
engines hash the same cell type.

Spark-side mechanics (the 100 TB design): ``SUM(CAST(x AS DECIMAL(18,6)))``
is semantically right but 3× slower than a double sum — the sum type
widens to ``DECIMAL(28,6)``, leaving the compact-long accumulator for the
128-bit path.  Instead each value's millionths count ``v`` (a BIGINT,
exact for |x| < 9e6) is split as ``v = hi*1e6 + lo``; ``SUM(hi)`` and
``SUM(lo)`` are plain long sums in whole-stage codegen (measured at
double-sum speed, 3.4× faster than the decimal sum), recombined exactly in
DECIMAL(38,0) once per group.  Because every per-row term is bounded by
1e6-ish, each long sum overflows only past ~9.2e12 rows *per group* (a
petabyte-scale group; ANSI mode makes overflow loud, and the recombine is
exact far beyond) — vs ~9.2e6 rows for a naively scaled single long.
The result is bit-identical to the DECIMAL(18,6) formulation, so the
DuckDB oracles keep the readable decimal form:

    SUM  -> CAST(ROUND(SUM(CAST(x AS DECIMAL(18,6))), s) AS DOUBLE)
    AVG  -> ROUND(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x), s)
    STD  -> two exact sums (x, x*x as DECIMAL(28,10)) folded through the
            textbook formula in identical IEEE double ops on both engines.

Equality with the decimal form requires the data contract asserted by
``tests/test_registry_contract.py::test_stable_sum_data_invariants``:
aggregated columns carry at most 6 true decimal places and |x| < 9e6, so
the millionths quantization is lossless and matches the decimal cast on
every value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

DEC = "decimal(18,6)"
DEC_SQ = "decimal(28,10)"

_M = 1_000_000


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _split(col: Column) -> tuple[Column, Column]:
    """Per-row exact millionths count ``v`` split as ``(hi, lo)`` longs.

    ``v = floor(x*1e6 + 0.5)`` is the nearest integer (exact: |v| < 2^53),
    identical to the value DECIMAL(18,6) would store.  ``hi = floor(v/1e6)``
    is computed in double — exact because v < 2^53 and integer ratios divide
    to exact doubles — and ``lo = v - hi*1e6`` ∈ [0, 1e6) in long space.
    """
    v = F.floor(col * _M + F.lit(0.5))
    hi = F.floor(v.cast("double") / _M)
    lo = v - hi * _M
    return hi, lo


def _combine(hi_sum: Column, lo_sum: Column) -> Column:
    """Exact total in millionths as DECIMAL(38,0) (null iff no input rows)."""
    return (
        hi_sum.cast("decimal(38,0)") * F.lit(_M).cast("decimal(8,0)")
        + lo_sum.cast("decimal(38,0)")
    )


def stable_sum(c: Column | str, scale: int) -> Column:
    """Order-independent ``ROUND(SUM(double), scale)`` returning DOUBLE."""
    hi, lo = _split(_col(c))
    total = _combine(F.sum(hi), F.sum(lo))
    return F.round(total / F.lit(_M).cast("decimal(8,0)"), scale).cast("double")


def stable_sum_micros(c: Column | str) -> Column:
    """Exact order-independent ``SUM(double)`` as a BIGINT count of millionths.

    Same split-long machinery as :func:`stable_sum`, but the result never
    re-enters float space: the DECIMAL(38,0) total is cast straight to
    BIGINT.  Emitting integer cells makes a query's output immune to any
    float-formatting / canonicalization quirk in a downstream comparator —
    the driver-proof output type.  Oracle-side twin:
    ``CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT)``.
    """
    hi, lo = _split(_col(c))
    return _combine(F.sum(hi), F.sum(lo)).cast("long")


def micros(c: Column | str) -> Column:
    """Per-row exact millionths BIGINT — the integer cell a DECIMAL(18,6)
    cast would store (see module docstring for why ties can't occur).
    Oracle twin: ``CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT)``."""
    return F.floor(_col(c) * _M + F.lit(0.5))


def stable_sum_micros_over(c: Column | str, w: WindowSpec) -> Column:
    """Windowed :func:`stable_sum_micros`: exact frame sum as BIGINT."""
    hi, lo = _split(_col(c))
    return _combine(F.sum(hi).over(w), F.sum(lo).over(w)).cast("long")


def stable_sum_over(c: Column | str, w: WindowSpec, scale: int) -> Column:
    """Windowed variant: exact split-long sums over the frame, then round."""
    hi, lo = _split(_col(c))
    total = _combine(F.sum(hi).over(w), F.sum(lo).over(w))
    return F.round(total / F.lit(_M).cast("decimal(8,0)"), scale).cast("double")


def stable_avg_micros(c: Column | str) -> Column:
    """Order-independent ``AVG(double)`` as BIGINT micros (floor division).

    The exact millionths total (split-long machinery) is floor-divided by
    the non-null count entirely in integer space: ``q = (t - pmod(t, n))/n``
    — the subtraction makes the numerator exactly divisible, so the double
    division is exact (inputs < 2^53).  Oracle twin: :func:`sql_avg_micros`.
    """
    col = _col(c)
    hi, lo = _split(col)
    total = _combine(F.sum(hi), F.sum(lo)).cast("long")
    n = F.count(col)
    return ((total - F.pmod(total, n)) / n).cast("long")


def round_micros(c: Column) -> Column:
    """Quantize a comparison-stable DOUBLE to BIGINT micros.

    Only valid on expressions both engines derive bit-identically (stable_*
    folds, per-row arithmetic on shared inputs): identical input double →
    identical half-up rounding → identical BIGINT.  Turns any float cell
    into the driver-proof integer type.  Oracle twin: :func:`sql_round_micros`.
    """
    return F.round(c * F.lit(_M)).cast("long")


def sql_avg_micros(expr: str, alias: str) -> str:
    """Oracle-side fragment matching :func:`stable_avg_micros`."""
    t = f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
    n = f"COUNT({expr})"
    return f"({t} - (({t} % {n}) + {n}) % {n}) // {n} AS {alias}"


def sql_round_micros(expr: str, alias: str) -> str:
    """Oracle-side fragment matching :func:`round_micros` (expr already
    engine-identical; DuckDB round is half-away like Spark's)."""
    return f"CAST(ROUND(({expr}) * 1000000) AS BIGINT) AS {alias}"


def stable_avg(c: Column | str, scale: int) -> Column:
    """Order-independent ``ROUND(AVG(double), scale)``.

    Exact numerator cast to double, divided by the non-null count in IEEE
    double — both engines perform the identical final two operations.
    """
    col = _col(c)
    hi, lo = _split(col)
    total = _combine(F.sum(hi), F.sum(lo))
    return F.round(
        (total / F.lit(_M).cast("decimal(8,0)")).cast("double") / F.count(col), scale
    )


def stable_stddev_samp(c: Column | str, scale: int) -> Column:
    """Order-independent sample standard deviation.

    sqrt((sum(x^2) - sum(x)^2 / n) / (n - 1)) with both sums exact decimals;
    the fold to double is the same IEEE sequence in Spark and the oracle.
    """
    col = _col(c)
    n = F.count(col).cast("double")
    s1 = F.sum(col.cast(DEC)).cast("double")
    s2 = F.sum((col * col).cast(DEC_SQ)).cast("double")
    # clamp: catastrophic cancellation can push the variance a hair below 0
    var = F.greatest(F.lit(0.0), (s2 - s1 * s1 / n) / (n - F.lit(1.0)))
    return F.round(F.sqrt(var), scale)


def stable_corr(x: Column | str, y: Column | str, scale: int) -> Column:
    """Order-independent Pearson correlation via five exact sums.

    (n*Sxy - Sx*Sy) / (sqrt(n*Sx2 - Sx^2) * sqrt(n*Sy2 - Sy^2)) where every
    sum is exact decimal arithmetic; the final fold is identical IEEE double
    ops on both engines.
    """
    cx, cy = _col(x), _col(y)
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(cx.cast(DEC)).cast("double")
    sy = F.sum(cy.cast("decimal(20,6)")).cast("double")
    sxy = F.sum((cx * cy).cast(DEC_SQ)).cast("double")
    sx2 = F.sum((cx * cx).cast(DEC_SQ)).cast("double")
    sy2 = F.sum((cy * cy).cast("decimal(38,6)")).cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy)
    return F.round(num / den, scale)


def sql_corr_expr(x: str, y: str, scale: int) -> str:
    """Bare (alias-free) oracle expression matching :func:`stable_corr`."""
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx = f"CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE)"
    sy = f"CAST(SUM(CAST({y} AS DECIMAL(20,6))) AS DOUBLE)"
    sxy = f"CAST(SUM(CAST(({x}) * ({y}) AS DECIMAL(28,10))) AS DOUBLE)"
    sx2 = f"CAST(SUM(CAST(({x}) * ({x}) AS DECIMAL(28,10))) AS DOUBLE)"
    sy2 = f"CAST(SUM(CAST(({y}) * ({y}) AS DECIMAL(38,6))) AS DOUBLE)"
    return (
        f"ROUND(({n} * {sxy} - {sx} * {sy})"
        f" / (SQRT({n} * {sx2} - {sx} * {sx}) * SQRT({n} * {sy2} - {sy} * {sy})),"
        f" {scale})"
    )


def sql_sum_micros(expr: str, alias: str) -> str:
    """Oracle-side fragment matching :func:`stable_sum_micros`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS {alias}"


def sql_micros(expr: str, alias: str) -> str:
    """Oracle-side fragment matching :func:`micros`."""
    return f"CAST(CAST({expr} AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS {alias}"


def sql_stddev_samp_expr(expr: str, scale: int) -> str:
    """Bare (alias-free) oracle expression matching :func:`stable_stddev_samp`."""
    s1 = f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
    s2 = f"CAST(SUM(CAST(({expr}) * ({expr}) AS DECIMAL(28,10))) AS DOUBLE)"
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    return (
        f"ROUND(SQRT(GREATEST(0.0, ({s2} - {s1} * {s1} / {n}) / ({n} - 1.0))),"
        f" {scale})"
    )
