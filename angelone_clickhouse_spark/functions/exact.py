"""Cross-engine-exact aggregates for fixed-point data.

Why this exists: ``round(avg(price), k)`` is NOT reproducible across
engines. Averages of cent-valued data land exactly on decimal halves
(sum_cents/n hits m·5·10^-(k+1) whenever n is even and divides the
cent sum suitably), and at an exact half the two engines legitimately
disagree: Spark rounds the double's shortest decimal representation
half-up, DuckDB rounds the scaled binary value — for a half whose
nearest double sits just below it, Spark says up and DuckDB says down.
This produced a real one-ULP-of-decimal mismatch in q8 at sf0.1
(avg 56.20875 -> 56.2088 vs 56.2087).

Fix: never round a float. Sum the data as exact integers (cents), do
half-up rounding with integer arithmetic, and divide back at the end.
Integer sums are order-independent and bit-identical on any engine,
so the result is reproducible by construction.

``avg_fixed`` = half-up average at 2 decimals:
    cents = round(x * 100)                      (exact: data is 2-dec)
    avg   = floor((sum(cents) + floor(n/2)) / n) / 100

The float division inside floor is safe below 2^53: when n divides
(sum+half) exactly the IEEE quotient is the exact integer, and
otherwise the quotient is >= 1/n away from an integer — double error
(~1e-16) can't cross that. The DuckDB spelling uses pure integer
``//`` and is exactly equal. Inputs must be non-negative (true for
every column this engine averages).

At 100 TB: sum(cents) stays < 2^53 up to ~9e13 dollars of volume per
group; past that, swap the long for DecimalType(38,0) — the formula
is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 100  # 2 decimal places


def sum_fixed(col: str | Column, alias: str) -> Column:
    """Order-independent exact sum of a 2-decimal column (in units)."""
    c = F.col(col) if isinstance(col, str) else col
    cents = F.round(c * SCALE).cast("long")
    return (F.sum(cents) / F.lit(float(SCALE))).alias(alias)


def avg_fixed(col: str | Column, alias: str) -> Column:
    """Half-up average of a non-negative 2-decimal column, exact and
    engine-independent. Output is a double on the cent grid."""
    c = F.col(col) if isinstance(col, str) else col
    cents = F.round(c * SCALE).cast("long")
    s = F.sum(cents)
    # count of non-null inputs, so nullable columns average over the
    # present values (standard AVG), not over every row
    n = F.count(cents)
    avg_cents = F.floor((s + F.floor(n / 2)) / n)
    return (avg_cents / F.lit(float(SCALE))).alias(alias)


def avg_fixed_g(col: str | Column, grid_scale: int, alias: str) -> Column:
    """avg_fixed generalized to a 10^-grid_scale output grid: exact
    integer-unit sum, half-up integer division by the non-null count.
    Input values must be exactly representable on the grid (e.g.
    paise-valued prices at grid_scale=4: round(price*10000) recovers
    paise*100 exactly)."""
    c = F.col(col) if isinstance(col, str) else col
    mult = 10**grid_scale
    units = F.round(c * mult).cast("long")
    s = F.sum(units)
    n = F.count(units)
    avg_units = F.floor((s + F.floor(n / 2)) / n)
    return (avg_units / F.lit(float(mult))).alias(alias)


def sum_fixed_round2(col: Column, grid_scale: int, alias: str) -> Column:
    """Half-up-to-2-decimals sum of a column whose values lie on the
    10^-grid_scale grid (e.g. price*(1-disc) is exact at 4 decimals,
    price*(1-disc)*(1+tax) at 6). ``round(sum(x), 2)`` is unsafe here:
    the sum can land exactly on a .005 half where engines diverge (see
    module docstring). Summing exact 10^-g units in integers and
    rounding with integer arithmetic is reproducible by construction.

    Overflow headroom: the long sum holds ~9e18 grid units; at g=6
    that is ~9e12 in value per group — beyond that swap in
    DecimalType(38,0), same formula."""
    mult = 10**grid_scale
    units = F.round(col * mult).cast("long")
    s = F.sum(units)
    d = 10 ** (grid_scale - 2)
    if d > 1:
        # decimal, not double, for the integer division: a g=6 sum can
        # exceed 2^53 grid units, where double floor(x/d) goes wrong
        cents = F.floor(
            (s.cast("decimal(38,0)") + F.lit(d // 2)) / F.lit(d)
        ).cast("long")
    else:
        cents = s
    return (cents / F.lit(100.0)).alias(alias)


def sum_fixed_round2_sql(expr: str, grid_scale: int, alias: str) -> str:
    mult = 10**grid_scale
    d = 10 ** (grid_scale - 2)
    s = f"sum(CAST(round(({expr}) * {mult}) AS BIGINT))"
    if d > 1:
        s = f"(({s} + {d // 2}) // {d})"
    return f"CAST({s} AS DOUBLE) / 100 AS {alias}"


def avg_fixed_sql(expr: str, alias: str) -> str:
    """The DuckDB spelling of avg_fixed (pure integer arithmetic);
    count((expr)) matches avg_fixed's non-null count."""
    return (
        f"CAST((sum(CAST(round(({expr}) * 100) AS BIGINT)) "
        f"+ count(({expr})) // 2) "
        f"// count(({expr})) AS DOUBLE) / 100 AS {alias}"
    )


def sum_fixed_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(sum(CAST(round(({expr}) * 100) AS BIGINT)) AS DOUBLE) / 100 "
        f"AS {alias}"
    )
