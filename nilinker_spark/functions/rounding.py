"""DuckDB's ``round(DOUBLE, d)`` as a Spark column: the one rounding of a
double in the repo.

DuckDB scales the double by ``10^d`` in float64, rounds that half away
from zero, divides by ``10^d``, and returns the input when the scaled
value is inf or NaN.  The sign of zero survives: ``round(-1e-9, 4)`` is
``-0.0``.  Spark's ``F.round`` rounds the double's decimal expansion
HALF_UP through a BigDecimal instead, so the two engines disagree near a
half: 0.48624999999999996 scales to exactly 4862.5, which DuckDB rounds
to 0.4863, while Spark rounds the expansion (``...4999...``) to 0.4862.
``F.round`` also turns -0.0 into 0.0.  Every double rounded here goes
through :func:`round_double`, scale 0 included, so a result the oracle
compares rounds the same way on both engines.

``rint`` rounds an exact half to even; those halves are moved half a
unit away from zero instead.  ``x - rint(x)`` is exact, and an exact half
is below 2^52 in magnitude, so ``x ± 0.5`` is exact too.  (The shortcut
``floor(|x| + 0.5)`` is wrong at 0.49999999999999994, whose sum with 0.5
rounds up to 1.0.)  No BigDecimal is built per row.

:func:`mean_4dp` is the 4-dp integer fixed-point mean of money- and
quality-like columns, whose DuckDB twins average integer units.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_double(col: Column | str, d: int = 0) -> F.Column:
    """Spark column: ``col`` (a double) rounded to ``d`` decimals exactly
    as DuckDB's ``round(DOUBLE, d)`` rounds it, bit for bit."""
    v = F.col(col) if isinstance(col, str) else col
    scale = float(10**d)
    x = v * scale
    t = F.rint(x)
    r = F.when(F.abs(x - t) == 0.5, x + F.signum(x) * 0.5).otherwise(t)
    return F.when(F.abs(x) == float("inf"), v).otherwise(r / scale)


def mean_4dp(col: str, d: int) -> F.Column:
    """Aggregate: the mean of the non-negative ``col``, whose values carry
    at most ``d`` <= 4 decimals, to 4 decimals in integer arithmetic —
    ``sum(round(x * 10^d)) * 10^(4-d) div count(*) / 10^4``.  A float
    sum's ulps follow the partial-aggregation order, which differs
    between the engines; this integer sum does not (floor == trunc for
    non-negative values, so ``div`` agrees too)."""
    units = F.sum(round_double(F.col(col) * float(10**d)).cast("bigint"))
    if d < 4:
        units = units * 10 ** (4 - d)
    return F.call_function("div", units, F.count("*")) / 10000.0
