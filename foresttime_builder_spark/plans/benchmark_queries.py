"""Benchmark / correctness-gate queries over the synthetic star schema.

Each entry pairs an idiomatic-PySpark query (DataFrame API, Catalyst-friendly)
with an equivalent ANSI-SQL oracle that DuckDB runs on the same parquet
tables. The driver compares row counts, schemas, and order-insensitive value
hashes — so every computed column is aliased identically on both sides, and
every float that passes through an order-dependent aggregate is rounded to a
fixed scale on both sides (per-row IEEE arithmetic is deterministic and needs
no rounding; cross-partition summation order is not).

Each family module under ``plans/queries/`` (and ``plans/streaming_queries``)
declares its own ``QUERIES`` entries; this module only merges them, so
adding a query touches one file.

Query → reference-operator map (SURVEY.md §2): see each docstring.
"""

from __future__ import annotations

from foresttime_builder_spark.plans import streaming_queries
from foresttime_builder_spark.plans.queries import (
    ann,
    dedup,
    fia,
    infra,
    multimodal,
    profile,
    relational,
    relevance,
    sampling,
    streaming,
    text,
    timeseries,
)
from foresttime_builder_spark.plans.queries._shared import QuerySpec


def _merge(*families: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    """Union of the family registries, ordered by query number.  A name
    declared by two families raises instead of silently overwriting."""
    merged: dict[str, QuerySpec] = {}
    for family in families:
        for name, spec in family.items():
            if name in merged:
                raise ValueError(f"query {name!r} is declared twice")
            merged[name] = spec
    return dict(sorted(merged.items(), key=lambda kv: int(kv[0][1:].split("_")[0])))


QUERIES: dict[str, QuerySpec] = _merge(
    ann.QUERIES,
    dedup.QUERIES,
    fia.QUERIES,
    infra.QUERIES,
    multimodal.QUERIES,
    profile.QUERIES,
    relational.QUERIES,
    relevance.QUERIES,
    sampling.QUERIES,
    streaming.QUERIES,
    streaming_queries.QUERIES,
    text.QUERIES,
    timeseries.QUERIES,
)
