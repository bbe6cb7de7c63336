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

import pyarrow as pa
import pyarrow.parquet as pq
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
    q64), and inferring the schema runs a Spark job.  So the footer is
    read here with pyarrow and Spark gets the equivalent schema
    (:func:`parquet_schema`): the first read of a table runs no job.  The
    returned DataFrame is an immutable logical plan, so one resolution per
    (session, path) is enough — the cache hangs off the session object
    (dies with it, never leaks across restarts).  Only valid because the
    SF dirs are immutable inputs: anything that re-reads a path it has
    WRITTEN (q51's sink read-back, streaming sinks) goes through
    ``spark.read`` directly, never this cache."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))

    def build() -> DataFrame:
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
        for c in _TS_COLS.get(name, ()):
            if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df

    return cached(spark, path, build)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, from the footer
    pyarrow reads on the driver.  Every field is nullable, as Spark makes
    a file source's schema.  A TIMESTAMP(NANOS) column is a long of
    nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``, set by
    :mod:`foresttime_builder_spark.session`); a MICROS or MILLIS one is
    a ``timestamp`` when adjusted to UTC, else ``timestamp_ntz`` while
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` holds.  A top-level
    INT96 column (Spark's default timestamp output), which pyarrow also
    shows as nanoseconds, is a ``timestamp``.  ``path`` is a file or a
    directory of part files, as Spark writes them."""
    dataset = pq.ParquetDataset(path)
    int96 = {
        col.path
        for frag in dataset.fragments[:1]
        for col in frag.metadata.schema
        if col.physical_type == "INT96"
    }
    ntz = spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
    ).lower() == "true"

    def spark_type(t: pa.DataType, name: str | None) -> T.DataType:
        """``t``'s Spark type; ``name`` is a top-level column's name."""
        if pa.types.is_timestamp(t):
            if name in int96:
                return T.TimestampType()
            if t.unit == "ns":
                return T.LongType()
            return T.TimestampType() if t.tz or not ntz else T.TimestampNTZType()
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return T.ArrayType(spark_type(t.value_type, None))
        if pa.types.is_struct(t):
            return T.StructType([field(f, None) for f in t])
        if pa.types.is_decimal(t):
            return T.DecimalType(t.precision, t.scale)
        for test, out in _SIMPLE_TYPES:
            if test(t):
                return out
        raise ValueError(f"{path}: no Spark type for parquet column type {t}")

    def field(f: pa.Field, name: str | None) -> T.StructField:
        return T.StructField(f.name, spark_type(f.type, name))

    return T.StructType([field(f, f.name) for f in dataset.schema])


#: the flat arrow types of a parquet footer and the Spark types Spark
#: reads them as (unsigned ints widen, as Spark widens them)
_SIMPLE_TYPES = (
    (pa.types.is_boolean, T.BooleanType()),
    (pa.types.is_int8, T.ByteType()),
    (pa.types.is_int16, T.ShortType()),
    (pa.types.is_int32, T.IntegerType()),
    (pa.types.is_int64, T.LongType()),
    (pa.types.is_uint8, T.ShortType()),
    (pa.types.is_uint16, T.IntegerType()),
    (pa.types.is_uint32, T.LongType()),
    (pa.types.is_uint64, T.DecimalType(20, 0)),
    (pa.types.is_float32, T.FloatType()),
    (pa.types.is_float64, T.DoubleType()),
    (pa.types.is_string, T.StringType()),
    (pa.types.is_large_string, T.StringType()),
    (pa.types.is_binary, T.BinaryType()),
    (pa.types.is_large_binary, T.BinaryType()),
    (pa.types.is_date32, T.DateType()),
)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> None:
    """Expose the synthetic tables as temp views (catalog surface — the
    reference's legacy duckdb-file architecture, SURVEY §2.1 S6)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
