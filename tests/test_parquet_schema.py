"""``sources.readers.parquet_schema``: the schema ``load_table`` declares
from the parquet footer must be the one Spark infers, so the first read of
a table runs no Spark job and types nothing differently."""

from __future__ import annotations

import datetime as dt
import glob
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from foresttime_builder_spark.sources import load_table
from foresttime_builder_spark.sources.readers import parquet_schema

SF = "/root/testdata/sf0.01"


@pytest.mark.skipif(not os.path.isdir(SF), reason=f"{SF} is absent")
def test_declared_schema_matches_inference_on_every_table(spark):
    paths = sorted(glob.glob(os.path.join(SF, "*.parquet")))
    assert paths
    for path in paths:
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, path


def test_declared_schema_matches_inference_on_every_encoding(spark, tmp_path):
    """Both timestamp encodings the testdata has carried (INT64 NANOS,
    read as long under nanosAsLong, and MICROS), with and without UTC
    adjustment, beside the other flat and nested types."""
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    table = pa.table({
        "ts_ns": pa.array([t0, None], pa.timestamp("ns")),
        "ts_us": pa.array([t0, None], pa.timestamp("us")),
        "ts_us_utc": pa.array([t0, None], pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array([t0, None], pa.timestamp("ms")),
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, None], pa.int16()),
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, None], pa.int64()),
        "f32": pa.array([1.5, None], pa.float32()),
        "f64": pa.array([1.5, None], pa.float64()),
        "flag": pa.array([True, None]),
        "s": pa.array(["a", None]),
        "b": pa.array([b"a", None]),
        "d": pa.array([dt.date(2024, 1, 2), None]),
        "dec": pa.array([Decimal("1.25"), None], pa.decimal128(9, 2)),
        "vec": pa.array([[1.0, None], None], pa.list_(pa.float32())),
        "rec": pa.array(
            [{"x": 1, "y": "a"}, None],
            pa.struct([("x", pa.int64()), ("y", pa.string())]),
        ),
    })
    path = str(tmp_path / "types.parquet")
    pq.write_table(table, path)
    declared = parquet_schema(spark, path)
    assert declared == spark.read.parquet(path).schema
    got = spark.read.schema(declared).parquet(path).collect()
    want = spark.read.parquet(path).collect()
    assert got == want


def test_declared_schema_matches_inference_on_spark_output(spark, tmp_path):
    """A directory of part files as Spark writes it, whose timestamps are
    INT96 by default, and an INT96 file pyarrow writes."""
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        [(1, t0, [1.5]), (2, None, None)], "id long, ts timestamp, v array<double>"
    ).coalesce(1).write.parquet(out)
    legacy = str(tmp_path / "legacy.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([t0, None], pa.timestamp("us"))}), legacy,
        use_deprecated_int96_timestamps=True,
    )
    for path in (out, legacy):
        declared = parquet_schema(spark, path)
        assert declared == spark.read.parquet(path).schema, path
        got = spark.read.schema(declared).parquet(path).collect()
        assert got == spark.read.parquet(path).collect(), path


def test_first_load_runs_no_job(spark, tmp_path):
    """A table's first ``load_table`` in a session declares its schema;
    the nanosecond column still arrives as the timestamp it holds."""
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderdate": pa.array([t0, None], pa.timestamp("ns")),
        }),
        str(tmp_path / "orders.parquet"),
    )
    sc = spark.sparkContext
    group = "test_first_load_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, str(tmp_path), "orders")
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    from pyspark.sql import functions as F

    micros = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6 + 678901
    rows = df.orderBy("o_orderkey").select(F.unix_micros("o_orderdate")).collect()
    assert [r[0] for r in rows] == [micros, None]
