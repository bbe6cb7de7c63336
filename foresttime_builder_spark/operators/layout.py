"""Data-layout operators: Z-order (Morton) clustering for multi-column
data skipping.

Parquet scans skip row groups whose min/max statistics exclude a filter.
A sort on one column makes THAT column skippable and destroys locality on
every other; interleaving the bits of two columns (the Z-order curve —
what Delta's ``OPTIMIZE ZORDER BY`` and Iceberg's z-ordered rewrites do)
gives every interleaved column bounded min/max ranges per row group, so
selective filters on ANY of them skip.

``zorder_key`` is pure column algebra (shift/and/or over BIGINTs — one
codegen'd expression, no UDF) and has an exact SQL twin for the gate.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints: ``x``
    occupies even bit positions, ``y`` odd — a bijection from
    ``[0, 2^bits)^2`` onto ``[0, 4^bits)``.  Callers clamp/bucket inputs
    into range first (out-of-range high bits are simply ignored).

    Inputs are widened to BIGINT up front: with a 32-bit int input and
    ``bits=16`` the ``y`` term lands on bit 31 — the int sign bit — and a
    trailing cast would sign-extend, diverging from the BIGINT SQL twin."""
    x = x.cast("long")
    y = y.cast("long")
    key = None
    for i in range(bits):
        xb = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        yb = F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        term = xb.bitwiseOR(yb)
        key = term if key is None else key.bitwiseOR(term)
    return key.cast("long")


def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`zorder_key` (identical shift/and/or terms)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "CAST((" + " | ".join(terms) + ") AS BIGINT)"
