"""Parquet/CSV source readers.

The synthetic benchmark tables (`/root/testdata/sf*/`) store timestamps as
INT64 TIMESTAMP(NANOS), which vanilla Spark rejects at scan time
(PARQUET_TYPE_ILLEGAL). With ``spark.sql.legacy.parquet.nanosAsLong=true``
(set in :mod:`foresttime_builder_spark.session`) the column arrives as a
LongType of nanoseconds; :func:`load_table` converts it back to a proper
timestamp using *integer* division (nanosecond epochs exceed 2^53, so a
float roundtrip would corrupt the low digits).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from foresttime_builder_spark.sources.ref_tables import cached

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# timestamp-typed columns per synthetic table (stored as nanos)
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Benchmark-table scan with a per-session plan cache.

    ``spark.read.parquet`` resolves the footer schema + file listing
    eagerly (~90 ms of the plan-construction floor of EVERY registry
    query; the r11 bench showed it dominating sub-second entries like
    q64).  The returned DataFrame is an immutable logical plan, so one
    resolution per (session, path) is enough — the cache hangs off the
    session object (dies with it, never leaks across restarts).  Only
    valid because the SF dirs are immutable inputs: anything that
    re-reads a path it has WRITTEN (q51's sink read-back, streaming
    sinks) goes through ``spark.read`` directly, never this cache."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        for c in _TS_COLS.get(name, ()):
            if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df

    return cached(spark, path, build)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> None:
    """Expose the synthetic tables as temp views (catalog surface — the
    reference's legacy duckdb-file architecture, SURVEY §2.1 S6)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
