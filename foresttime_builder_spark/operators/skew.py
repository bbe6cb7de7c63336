"""Skew-resilient shuffle operators (salting).

The reference runs single-process R, so key skew never surfaces there; at
cluster scale a hot grouping/join key turns one reducer into the straggler
that bounds the whole stage.  Two standard remedies, expressed as reusable
operators:

- :func:`salted_agg` — two-stage aggregation: append a random salt to the
  grouping key so a hot key's rows spread over ``salt`` reducers, partially
  aggregate, then merge partials on the true key.  Exact for the algebraic
  aggregates (sum / count / min / max; avg = sum ÷ count of the partials).
  This generalizes the map-side partial aggregation Spark already does to
  the case where a single key dominates whole partitions.
- :func:`salted_join` — replicate the build side ``salt`` times with an
  explicit salt column and scatter the probe side uniformly, so one hot join
  key no longer lands on a single task.  (Spark's AQE skew-join split covers
  sort-merge joins after the fact; the explicit form also covers aggregates
  feeding a join and documents the technique for bucketed layouts where AQE
  cannot re-split.)

Determinism: the salt derives from a hash of stable row identity columns
(``salt_from``), not ``rand()``, so retried tasks produce identical rows —
required under speculative execution / stage retry (the same reason
``monotonically_increasing_id`` is banned in SURVEY §2.3 J15).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

#: aggregates that distribute over a two-stage (partial → merge) split
_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # partial counts merge by summing
    "min": F.min,
    "max": F.max,
}
_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, Column | str]],
    salt: int = 16,
    salt_from: Sequence[str] | None = None,
) -> DataFrame:
    """Two-stage skew-resilient aggregation.

    ``aggs`` maps output column name → ``(fn, input)`` with fn in
    {sum, count, min, max}.  ``salt_from`` names the columns whose hash
    forms the salt (defaults to all non-key columns — any stable subset
    works; the only requirement is determinism per row).
    """
    for name, (fn, _) in aggs.items():
        if fn not in _PARTIAL:
            raise ValueError(f"{name}: {fn!r} is not algebraic (sum/count/min/max)")
    src = salt_from if salt_from is not None else [
        c for c in df.columns if c not in keys
    ]
    if not src:
        raise ValueError(
            "salt_from resolved to zero columns (frame has only key columns); "
            "pass salt_from explicitly — the salt must hash some stable "
            "per-row identity to spread a hot key"
        )
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in src]), F.lit(salt))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _PARTIAL[fn](c).alias(f"_p_{name}")
            for name, (fn, c) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _MERGE[fn](f"_p_{name}").alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt: int = 16,
    salt_from: Sequence[str] | None = None,
) -> DataFrame:
    """Inner equi-join with the right side replicated ``salt`` times and
    the left side scattered by a deterministic salt — no single reducer
    receives all rows of a hot key.  Only sensible when ``right`` is too
    big to broadcast but small enough to replicate ``salt``-fold (classic
    medium-dim case).  The construction replicates every right row
    ``salt`` times, so a join shape that emits unmatched RIGHT rows
    (right/full/anti) would emit them once per replica."""
    src = salt_from if salt_from is not None else [
        c for c in left.columns if c not in on
    ]
    if not src:
        raise ValueError(
            "salt_from resolved to zero columns (left frame has only join "
            "columns); pass salt_from explicitly — the salt must hash some "
            "stable per-row identity to scatter a hot key"
        )
    lsalted = left.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in src]), F.lit(salt))
    )
    rexp = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return lsalted.join(rexp, [*on, "_salt"], "inner").drop("_salt")
