"""The cross-engine value encoding: each Spark Column form in
``functions.encoding`` and its SQL twin run on DuckDB emit the same integers
on edge inputs."""

from __future__ import annotations

import hashlib
from decimal import Decimal

import duckdb
import pytest

from foresttime_builder_spark.functions.encoding import (
    fixed,
    fixed_sql,
    hash60,
    hash60_sql,
)

_SCALES = (2, 4, 6)

# (Spark type, DuckDB type, values): NaN and NULL, values whose scaled form
# sits on or next to a .5 boundary, and a magnitude near the BIGINT ceiling
# at 6 decimals
_CASES = [
    ("double", "DOUBLE", [float("nan"), None, 0.00005, -0.00005, 2.49995, 1e12]),
    (
        "decimal(12,2)",
        "DECIMAL(12,2)",
        [None, Decimal("2.49"), Decimal("-0.05"), Decimal("9999999999.99")],
    ),
    ("int", "INTEGER", [None, 0, 7, -3, 2000]),
]


@pytest.mark.parametrize(
    "spark_type,duck_type,values", _CASES, ids=[c[0] for c in _CASES]
)
def test_fixed_matches_its_sql_twin(spark, spark_type, duck_type, values):
    rows = list(enumerate(values))
    df = spark.createDataFrame(rows, f"i int, x {spark_type}")
    got = [
        tuple(r)
        for r in df.select("i", *[fixed("x", n) for n in _SCALES])
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i INTEGER, x {duck_type})")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cols = ", ".join(fixed_sql("x", n) for n in _SCALES)
    want = con.execute(f"SELECT i, {cols} FROM t ORDER BY i").fetchall()
    assert got == want
    for (_, v), r in zip(rows, got):
        if v is None or v != v:  # NULL and NaN both emit NULL
            assert r[1:] == (None,) * len(_SCALES)


def test_hash60_matches_its_sql_twin(spark):
    ten_kb = "".join(chr(97 + i % 26) for i in range(10240))
    texts = ["", "a", "ñandú 森林 🌲", ten_kb]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "i int, s string")
    got = [r[1] for r in df.select("i", hash60("s")).orderBy("i").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = f"SELECT {hash60_sql('s')} FROM t ORDER BY i"
    want = [r[0] for r in con.execute(sql).fetchall()]
    py = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in texts]
    assert got == want == py
