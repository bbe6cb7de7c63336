"""Golden-vector tests for the time-series operators.

Vectors ported verbatim from the reference test suite:
``tests/testthat/test-step_interp.R:1-7`` and
``tests/testthat/test-inter_extra_polate.R:1-20``.
"""

from __future__ import annotations

import math

from pyspark.sql import Row

from foresttime_builder_spark.operators import (
    expand_grid,
    fill_gaps,
    linear_interpolate,
    step_interpolate,
)
from foresttime_builder_spark.operators.timeseries import fill_gaps_layers
from foresttime_builder_spark.functions.helpers import apply_layers


def _series(spark, ys, xs=None, grp="g1"):
    xs = xs or list(range(1, len(ys) + 1))
    rows = [Row(g=grp, x=int(x), y=y) for x, y in zip(xs, ys)]
    return spark.createDataFrame(rows, schema="g string, x int, y double")


def _col(df, col="y"):
    return [r[col] for r in df.orderBy("g", "x").collect()]


def test_linear_interp_golden(spark):
    # x=1..7, y=[2,Ø,5,6,Ø,Ø,Ø] → [2,3.5,5,6,7,8,9]
    df = _series(spark, [2.0, None, 5.0, 6.0, None, None, None])
    out = linear_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == [2.0, 3.5, 5.0, 6.0, 7.0, 8.0, 9.0]


def test_linear_interp_single_value_carried_forward(spark):
    # y=[Ø,Ø,3,Ø,Ø] → [Ø,Ø,3,3,3]
    df = _series(spark, [None, None, 3.0, None, None])
    out = linear_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == [None, None, 3.0, 3.0, 3.0]


def test_linear_interp_leading_backward_extrapolation(spark):
    # documented intent: line through first two known points extends backward
    df = _series(spark, [None, 4.0, 6.0, None])
    out = linear_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == [2.0, 4.0, 6.0, 8.0]


def test_linear_interp_leading_gap_reference_divergence_pinned(spark):
    """Pins the DELIBERATE divergence from the reference on leading gaps.

    The reference returns ``c(interpolated[!is.na(...)], extrapolated)``
    (``R/inter_extra_polate.R:52-58``): the extrapolated values — computed
    for BOTH ends' missing x's — are appended at the END of the vector, so
    whenever a leading gap exists the values are right but their positions
    are scrambled relative to YEAR (the column is assigned back
    positionally by ``mutate(across(...))``).  Its own golden tests
    (``tests/testthat/test-inter_extra_polate.R:1-20``) only cover trailing
    gaps and carry-forward, where the concatenation happens to be
    positionally correct.

    Hand-evaluated reference output for x=2015..2021,
    y=(NA, NA, 10, 13, NA, 19, NA):
      - stats::approx  → (NA, NA, 10, 13, 16, 19, NA)
      - approxExtrap at xout=(2015, 2016, 2021) → (4, 7, 22)
      - returned vector: c(10, 13, 16, 19, 4, 7, 22)   # scrambled
    This engine instead places every value at its own year:
      (4, 7, 10, 13, 16, 19, 22) — same value multiset, correct positions.
    The q25/q08 DuckDB oracles pin the engine's (positionally correct)
    semantics; this test pins the divergence itself so the choice is
    explicit and visible.
    """
    ref_output = [10.0, 13.0, 16.0, 19.0, 4.0, 7.0, 22.0]  # reference, by hand
    engine_expected = [4.0, 7.0, 10.0, 13.0, 16.0, 19.0, 22.0]

    df = _series(
        spark,
        [None, None, 10.0, 13.0, None, 19.0, None],
        xs=list(range(2015, 2022)),
    )
    got = _col(linear_interpolate(df, ["g"], "x", ["y"]))
    assert got == engine_expected
    # same values, different placement — the divergence is position-only
    assert sorted(got) == sorted(ref_output)
    assert got != ref_output


def test_linear_interp_all_null(spark):
    df = _series(spark, [None, None, None])
    out = linear_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == [None, None, None]


def test_linear_interp_respects_x_spacing(spark):
    # irregular x: interpolation is on x values, not row position
    df = _series(spark, [0.0, None, 10.0], xs=[2000, 2004, 2010])
    out = linear_interpolate(df, ["g"], "x", ["y"])
    got = _col(out)
    assert got[0] == 0.0 and got[2] == 10.0
    assert math.isclose(got[1], 4.0)


def test_linear_interp_multiple_groups_independent(spark):
    df1 = _series(spark, [1.0, None, 3.0], grp="a")
    df2 = _series(spark, [10.0, None, None], grp="b")
    out = linear_interpolate(df1.unionByName(df2), ["g"], "x", ["y"])
    vals = {(r["g"], r["x"]): r["y"] for r in out.collect()}
    assert vals[("a", 2)] == 2.0
    assert vals[("b", 2)] == 10.0  # single known value carried forward
    assert vals[("b", 3)] == 10.0


def test_step_interp_golden(spark):
    # [Ø,Ø,A,Ø,Ø,Ø,B,Ø,Ø,Ø,Ø,C,Ø] → [Ø,Ø,A,A,B,B,B,B,B,C,C,C,C]
    ys = [None, None, "A", None, None, None, "B", None, None, None, None, "C", None]
    rows = [Row(g="g", x=i + 1, y=y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, schema="g string, x int, y string")
    out = step_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == [
        None, None, "A", "A", "B", "B", "B", "B", "B", "C", "C", "C", "C",
    ]


def test_step_interp_even_gap(spark):
    # gap 4: switch at prev + ceil(4/2) = prev + 2
    ys = ["A", None, None, None, "B"]
    rows = [Row(g="g", x=i + 1, y=y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, schema="g string, x int, y string")
    out = step_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == ["A", "A", "B", "B", "B"]


def test_step_interp_numeric_and_trailing(spark):
    df = _series(spark, [None, 1.0, None, None, 2.0, None, None])
    out = step_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == [None, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0]


def test_step_interp_all_null(spark):
    rows = [Row(g="g", x=i, y=None) for i in range(1, 4)]
    df = spark.createDataFrame(rows, schema="g string, x int, y string")
    out = step_interpolate(df, ["g"], "x", ["y"])
    assert _col(out) == [None, None, None]


def test_expand_grid(spark):
    rows = [
        Row(g="t1", x=2001, y=1.0),
        Row(g="t1", x=2004, y=4.0),
        Row(g="t2", x=2010, y=9.0),
    ]
    df = spark.createDataFrame(rows, schema="g string, x int, y double")
    out = expand_grid(df, ["g"], "x").orderBy("g", "x").collect()
    assert [(r["g"], r["x"], r["y"], r["interpolated"]) for r in out] == [
        ("t1", 2001, 1.0, False),
        ("t1", 2002, None, True),
        ("t1", 2003, None, True),
        ("t1", 2004, 4.0, False),
        ("t2", 2010, 9.0, False),
    ]


def test_fill_gaps_directions(spark):
    df = _series(spark, [None, 5.0, None, 7.0, None])
    up = apply_layers(df, fill_gaps_layers(["g"], "x", ["y"], direction="up"))
    assert _col(up) == [5.0, 5.0, 7.0, 7.0, None]
    assert _col(fill_gaps(df, ["g"], "x", ["y"])) == [5.0, 5.0, 5.0, 7.0, 7.0]


def test_linear_interp_empty_group_cols(spark):
    # no PARTITION BY clause at all: one global partition (latent-SQL guard
    # from the round-5 SQL-text rewrite — a bare "PARTITION BY " is invalid)
    df = _series(spark, [1.0, None, 3.0])
    assert _col(linear_interpolate(df, [], "x", ["y"])) == [1.0, 2.0, 3.0]


def test_step_interp_empty_group_cols(spark):
    rows = [
        Row(g="g1", x=1, y="a"),
        Row(g="g1", x=2, y=None),
        Row(g="g1", x=3, y=None),
        Row(g="g1", x=4, y="b"),
    ]
    df = spark.createDataFrame(rows, schema="g string, x int, y string")
    assert _col(step_interpolate(df, [], "x", ["y"])) == ["a", "a", "b", "b"]


def test_interp_backticked_identifiers(spark):
    # a column literally containing a backtick must round-trip through the
    # SQL-text expression assembly (identifier-escaping guard)
    rows = [Row(**{"g": "g1", "x": 1}), Row(**{"g": "g1", "x": 2}), Row(**{"g": "g1", "x": 3})]
    df = spark.createDataFrame(rows, schema="g string, x int").selectExpr(
        "g", "x", "CASE WHEN x = 2 THEN CAST(NULL AS DOUBLE) ELSE CAST(x AS DOUBLE) END AS `y``z`"
    )
    out = linear_interpolate(df, ["g"], "x", ["y`z"])
    assert [r["y`z"] for r in out.orderBy("x").collect()] == [1.0, 2.0, 3.0]
