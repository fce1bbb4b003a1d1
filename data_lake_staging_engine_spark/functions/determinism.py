"""Cross-engine determinism helpers (SURVEY.md §5.4 item 1).

Parallel double summation is order-dependent, and shuffle/AQE make the
order nondeterministic — so a plain ``SUM(double)`` can differ between
Spark and the DuckDB oracle (and even between two Spark runs) in final
ulps, occasionally straddling a rounding boundary.

The fix used engine-wide: **cast to DECIMAL before aggregating**. The
per-row cast is deterministic (both engines see bit-identical doubles
from the same parquet and round them to the same decimal — decimal
midpoints are not binary-representable, so round-to-nearest agrees), and
decimal addition is exact and associative, so any accumulation order
yields the same sum. Cast back to double + ROUND for a stable, schema-
simple output column. At 100 TB this also removes float drift from
partial/final aggregation across thousands of partitions.

The matching oracle-side pattern is
``ROUND(CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE), r)``.

Python twins.  Pandas folds (e06/e10 state, f03, f10) cannot use the
Column helpers, so the same two rules have one Python form each:

- ``make_cents()`` returns ``cents(x)``: integer cents exactly as
  DuckDB casts a double to DECIMAL(18,2) (the oracle's per-row cast).
- ``make_py_duck_round()`` returns ``duck_round(x, n)``: the
  std::round mirror of DuckDB's ROUND(double, n), as ``duck_round``.

Both are factories because their results are shipped to executors:
cloudpickle pickles a module-level function by reference, so a worker
without this package on its path fails with ModuleNotFoundError.  The
returned closures use only the stdlib and closure variables and pickle
by value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def duck_round(col: Column | str, n: int = 2) -> Column:
    """Bit-exact mirror of DuckDB's ROUND(double, n).

    DuckDB rounds doubles as ``std::round(x * 10^n) / 10^n`` — half away
    from zero evaluated on the *scaled double*, so e.g.
    ``round(101112.72499999999, 2) = 101112.73`` (the scaled product
    lands exactly on 10111272.5). Spark's ``F.round`` instead rounds the
    shortest-decimal representation HALF_UP, giving ``101112.72`` —
    verified divergence on fixture data. Since the driver hash-compares
    against DuckDB, every computed double the engine emits goes through
    this mirror.

    Implementation note (round-8 fuzz-probe fix): the obvious mirror
    ``floor(|x*p| + 0.5)/p`` is NOT std::round — when ``|x*p|`` sits
    within one ulp BELOW a half-integer (e.g. 0.49999999999999994, or
    0.004999999999999999 * 100), the IEEE ``+ 0.5`` addition rounds UP
    to the half and floor then lands one too high, where std::round
    truncates the true fraction. The exact mirror splits off the
    integer part first: ``t = floor(y)`` and ``y - t`` are both EXACT
    in IEEE (Sterbenz: t >= y/2 for y >= 1; y - 0 for y < 1), so
    ``t + (y - t >= 0.5)`` reproduces std::round's comparison on the
    true fraction with no rounding step in between. Domain: |x * 10^n|
    < 2^52 (beyond that doubles are integers and no product query
    rounds there).
    """
    c = F.col(col) if isinstance(col, str) else col
    p = F.lit(float(10**n))
    y = F.abs(c * p)
    t = F.floor(y)
    mag = (
        t + F.when(y - t >= F.lit(0.5), F.lit(1)).otherwise(F.lit(0))
    ) / p
    # c == 0 returns c ITSELF so the sign of zero survives: std::round
    # (and DuckDB) emit -0.0 for -0.0 and for small negatives that
    # round to zero, and the driver's exact-repr compare distinguishes
    # -0.0 from 0.0 (round-8 fuzz catch).
    return F.when(c < 0, -mag).when(c == 0, c).otherwise(mag)


def dec_sum(col_name: str, scale: int = 2, round_to: int | None = None) -> Column:
    """Order-independent SUM of a money-like double column."""
    round_to = scale if round_to is None else round_to
    s = F.sum(F.col(col_name).cast(f"decimal(18,{scale})")).cast("double")
    return duck_round(s, round_to)


def dec_sum_expr(expr: Column, scale: int = 4, round_to: int = 2) -> Column:
    """Order-independent SUM of a computed double expression.

    The expression is rounded per-row with ``duck_round`` (bit-identical
    across engines), making the decimal cast exact, so the aggregation
    is order-independent and both engines sum identical decimals. The
    matching oracle pattern is
    ``SUM(CAST(ROUND(expr, scale) AS DECIMAL(18,scale)))``.
    """
    return duck_round(
        F.sum(duck_round(expr, scale).cast(f"decimal(18,{scale})")).cast("double"),
        round_to,
    )


def make_cents():
    """Return ``cents(x)``: the integer cents of DuckDB's
    ``CAST(x AS DECIMAL(18,2))`` for a finite double ``x``.

    DuckDB scales the double by 100, nudges it 1e-9 away from zero and
    rounds half to even, so 1.005 (whose double sits just below the
    half cent) casts to 1.01.  ``floor(|x|*100 + 0.5)`` gives 1.00
    there.  On exact 2-decimal doubles (the fixtures' events.value)
    every formula agrees; on other values only this one matches the
    oracles.
    """

    def cents(x: float) -> int:
        y = x * 100.0
        if y > 0:
            y += 1e-9
        elif y < 0:
            y -= 1e-9
        return int(round(y))  # round() is half-to-even, like nearbyint

    return cents


def make_py_duck_round():
    """Return ``duck_round(x, n)``, the Python twin of ``duck_round``
    (same exact std::round mirror; see its docstring for why
    ``floor(y + 0.5)`` is wrong one ulp below a half-integer)."""
    import math

    def duck_round(x: float, n: int) -> float:
        p = float(10**n)
        y = abs(x) * p
        t = math.floor(y)
        mag = (t + (1 if y - t >= 0.5 else 0)) / p
        # copysign keeps the sign of ZERO too (-0.0 and small negatives
        # round to -0.0, exactly like std::round / DuckDB)
        return math.copysign(mag, x)

    return duck_round


def safe_corr(x: Column | str, y: Column | str) -> Column:
    """ANSI-safe Pearson correlation aligned with DuckDB's corr.

    Two traps, both found by the round-9 contract-domain fuzz
    (tests/test_fuzz_parity.py::test_fuzz_stats_contract_domain):

    1. ``F.corr`` THROWS DIVIDE_BY_ZERO under ANSI mode (the Spark 4
       default) whenever a group's variance is zero — constant column,
       n >= 2 — where DuckDB returns NULL.  The try_divide form
       returns NULL in exactly DuckDB's NULL cases (probed: n=1, zero
       variance, all-pairs-incomplete).
    2. corr is PAIRWISE-complete (a row counts only when both inputs
       are non-null), but the naive twin covar/(sd(x)*sd(y)) computes
       the marginal stddevs with UNIVARIATE null-deletion — over a
       different row set when nulls are one-sided, which even produced
       |corr| > 1.  Masking each marginal by the other column's
       non-nullness restores the pairwise row set exactly.
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    xp = F.when(yc.isNotNull(), xc)
    yp = F.when(xc.isNotNull(), yc)
    return F.try_divide(
        F.covar_samp(xp, yp), F.stddev_samp(xp) * F.stddev_samp(yp)
    )


def as_long(col: Column) -> Column:
    """Cast to long — DuckDB emits BIGINT for row_number/ntile/year/
    grouping/levenshtein etc. where Spark emits int; align schemas."""
    return col.cast("long")


def rounded(col: Column, n: int) -> Column:
    return F.round(col, n)
