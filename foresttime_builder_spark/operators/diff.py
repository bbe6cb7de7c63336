"""Snapshot diff (CDC): what changed between two versions of a table.

The reference refreshes its published parquet by overwrite-and-rerun
(``scripts/state-parquet.R`` writes every state's file from scratch each
run); ``operators/upsert.merge_latest`` narrows that to a key-level MERGE.
This operator closes the remaining gap: given two snapshots, report each
key as ``insert`` /
``delete`` / ``update`` — the change feed a downstream consumer (index
refresh, cache invalidation, incremental training-data delivery) actually
wants.

Scale design: each side is projected map-side to ``(keys..., row_hash)``
BEFORE the shuffle, so the full-outer join on the key moves only keys +
32-byte hashes regardless of payload width; unchanged keys (the
overwhelming majority of a production diff) are dropped immediately after
the join.  Callers that need changed payloads re-join the emitted keys
against the snapshots — a semi-join-reduced second pass over only the
changed fraction, not a wide first pass over everything.

Row-hash construction (identical in both engines): each compare column is
rendered to a fixed-width 33-char token — ``'0' * 33`` when the value is
NULL, ``'1' || md5(CAST(col AS STRING))`` otherwise — and the row hash is
``md5`` over the concatenation of the tokens.  Fixed token widths make
column boundaries unambiguous (no delimiter to inject, so ``('a|b','c')``
vs ``('a','b|c')`` differ), and the leading tag bit makes NULL distinct
from every non-NULL value including the empty string and ``(NULL,'x')``
distinct from ``('x',NULL)``.

Cross-engine hash portability: values are hashed via their STRING
renderings, so callers must pass columns whose rendering is engine-stable
(strings, integers, dates — not raw doubles, whose decimal rendering
differs between engines; normalize doubles to scaled bigints first, as the
gate queries do everywhere else).

Unique-key precondition: ``keys`` must uniquely identify a row within each
snapshot (the usual CDC contract — a primary key).  Duplicate keys make
the full-outer join fan out and emit duplicate, potentially contradictory
change rows for that key; the operator does not detect this (a distinct
count per side would cost an extra aggregation over the full input).
Deduplicate or aggregate to one row per key first if the input can carry
duplicates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

_NULL_TOKEN = "0" * 33


def _row_hash(compare_cols: Sequence[str]) -> F.Column:
    """md5 over fixed-width per-column tokens (see module docstring)."""
    tokens = [
        F.when(F.col(c).isNull(), F.lit(_NULL_TOKEN)).otherwise(
            F.concat(F.lit("1"), F.md5(F.col(c).cast("string")))
        )
        for c in compare_cols
    ]
    return F.md5(F.concat(*tokens))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """``(keys..., change)`` with ``change`` in ``insert`` (key only in
    ``new``), ``delete`` (only in ``old``), ``update`` (in both, compare
    columns differ).  Unchanged keys are not emitted.  ``keys`` must be
    unique per snapshot (see module docstring).

    DuckDB twin: :func:`snapshot_diff_oracle_sql`.
    """
    keys = list(keys)

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        return df.select(*keys, _row_hash(compare_cols).alias(f"h_{tag}"))

    o, n = hashed(old, "old"), hashed(new, "new")
    joined = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("h_old").isNull(), F.lit("insert"))
        .when(F.col("h_new").isNull(), F.lit("delete"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("update"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change")
    )


def snapshot_diff_oracle_sql(
    old_sql: str,
    new_sql: str,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> str:
    """DuckDB twin of :func:`snapshot_diff` — identical hash construction
    (md5 over fixed-width per-column tokens) and change classification.
    ``old_sql`` / ``new_sql`` are subqueries producing the two snapshots."""
    keys = list(keys)
    key_list = ", ".join(keys)
    coal_keys = ", ".join(
        f"coalesce(o.{k}, n.{k}) AS {k}" for k in keys
    )
    on = " AND ".join(f"o.{k} = n.{k}" for k in keys)
    tokens = " || ".join(
        f"CASE WHEN {c} IS NULL THEN '{_NULL_TOKEN}' "
        f"ELSE '1' || md5(CAST({c} AS VARCHAR)) END"
        for c in compare_cols
    )
    h = f"md5({tokens})"
    return f"""
WITH o AS (SELECT {key_list}, {h} AS h_old FROM ({old_sql})),
n AS (SELECT {key_list}, {h} AS h_new FROM ({new_sql})),
j AS (
  SELECT {coal_keys}, o.h_old, n.h_new
  FROM o FULL OUTER JOIN n ON {on}
)
SELECT {key_list},
       CASE WHEN h_old IS NULL THEN 'insert'
            WHEN h_new IS NULL THEN 'delete'
            WHEN h_old != h_new THEN 'update' END AS change
FROM j
WHERE h_old IS NULL OR h_new IS NULL OR h_old != h_new
"""
