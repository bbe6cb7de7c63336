"""How a value is written for the cross-engine gate.

Every Spark output the correctness gate proves against a DuckDB twin is
hashed on both engines, so a value must be written the same way on both.
This module is the one place that decides how:

- **Fixed point.** A gate column named ``*_eN`` holds ``floor(x * 10**N +
  0.5)`` as a BIGINT (round half up at N decimals), and NULL when ``x`` is
  NaN or NULL.  An integer has no representation error, so it cannot sit a
  hair off a float rounding boundary and hash-flap between engines.  NaN is
  guarded because Spark casts it to 0 while DuckDB refuses the cast.
- **Hash.** The first 15 hex digits of md5 as a non-negative 60-bit BIGINT.
  Spark's murmur ``F.hash`` has no DuckDB twin.

Each has a Column form for the Spark side and an SQL-text twin.  The SQL of
:func:`fixed_sql` is valid in both Spark SQL and DuckDB; :func:`hash60_sql`
is DuckDB's spelling (Spark SQL would use ``conv``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def fixed(col: Column | str, n: int) -> Column:
    """``col`` in units of ``10**-n`` as a BIGINT, rounded half up; NaN → NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.isnan(c), None).otherwise(
        F.floor(c * 10**n + F.lit(0.5)).cast("long")
    )


def fixed_sql(x: str, n: int) -> str:
    """SQL twin of :func:`fixed` for the expression text ``x``."""
    return (
        f"CASE WHEN isnan({x}) THEN NULL"
        f" ELSE CAST(floor(({x}) * {10**n} + 0.5) AS BIGINT) END"
    )


def hash60(col: Column | str) -> Column:
    """First 15 hex digits of md5 as a non-negative 60-bit bigint.

    DuckDB twin: :func:`hash60_sql`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(x: str) -> str:
    """DuckDB twin of :func:`hash60` for the expression text ``x``."""
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
