"""Unit tests for the NSVB estimation primitives."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from foresttime_builder_spark.functions import nsvb


def _vib_pick(spark, rows):
    """Evaluate the ``vib_*`` entries of :func:`nsvb.coef_pick_layer` over
    raw per-level columns as :func:`nsvb.join_coef_dims` attaches them.

    ``rows`` are ``(tag, [(has, a, b) for levels 1-3])``: ``has`` is the
    dim's presence flag (NULL when no level row matched the key at all),
    ``a``/``b`` the level's coefficients; the other vib coefs are 0."""
    cols = nsvb.prefix_cols()["vib"]
    schema = ["tag string"]
    for i in (1, 2, 3):
        schema.append(f"_l{i}_vib_has boolean")
        schema += [f"_l{i}_vib_{c} double" for c in cols]
    data = []
    for tag, levels in rows:
        row = [tag]
        for has, a, b in levels:
            coefs = {"a": a, "b": b}
            row.append(has)
            row += [coefs.get(c, 0.0) for c in cols]
        data.append(tuple(row))
    df = spark.createDataFrame(data, ", ".join(schema))
    picks, _ = nsvb.coef_pick_layer()
    vib = {k: v for k, v in picks.items() if k.startswith("vib_")}
    out = df.select("tag", *[F.expr(v).alias(k) for k, v in vib.items()])
    return {r["tag"]: r for r in out.collect()}


def test_resolution_precedence(spark):
    miss = (None, None, None)
    by = _vib_pick(
        spark,
        [
            ("l1", [(True, 1.0, 2.0), (True, 10.0, 2.0), (True, 100.0, 2.0)]),
            # no division row -> level 2
            ("l2", [miss, (True, 10.0, 2.0), (True, 100.0, 2.0)]),
            # the key has a division row, but not for this source -> level 2
            ("l2_src", [(False, None, None), (True, 10.0, 2.0),
                        (True, 100.0, 2.0)]),
            # only jenkins -> level 3
            ("l3", [miss, miss, (True, 100.0, 2.0)]),
            # no match anywhere -> nulls
            ("none", [miss, miss, miss]),
        ],
    )
    assert by["l1"]["vib_level"] == 1 and by["l1"]["vib_a"] == 1.0
    assert by["l2"]["vib_level"] == 2 and by["l2"]["vib_a"] == 10.0
    assert by["l2_src"]["vib_level"] == 2 and by["l2_src"]["vib_a"] == 10.0
    assert by["l3"]["vib_level"] == 3 and by["l3"]["vib_a"] == 100.0
    assert by["none"]["vib_level"] is None and by["none"]["vib_a"] is None


def test_matched_level_takes_all_coefs(spark):
    """A null coefficient at the matched level must NOT fall through to a
    coarser level (row-level precedence, not per-coefficient coalesce)."""
    row = _vib_pick(
        spark,
        [("t", [(True, None, 5.0), (True, 7.0, 9.0), (None, None, None)])],
    )["t"]
    assert row["vib_level"] == 1
    assert row["vib_a"] is None  # level-1 'a' is null and stays null
    assert row["vib_b"] == 5.0


def test_equation_dispatch_forms(spark):
    df = spark.createDataFrame(
        [(10.0, 60.0, 0.5, 9.0)], "DBH double, THT double, WDSG double, k double"
    )
    coefs = {"t_a": 2.0, "t_b": 1.5, "t_c": 0.8, "t_a0": 3.0, "t_b0": 1.2,
             "t_b1": 2.1, "t_b2": -0.05, "t_a1": 1.9, "t_c1": 0.6}
    for name, val in coefs.items():
        df = df.withColumn(name, F.lit(val))
    avail = frozenset(c[2:] for c in coefs)
    for eq, expected in [
        (3, 2.0 * 10.0**1.5 * 60.0**0.8),
        (4, 3.0 * 9.0 ** (1.2 - 2.1) * 10.0**2.1 * 60.0**0.8),  # DBH >= k
        (5, 2.0 * 10.0 ** (1.9 * (1 - math.exp(-2.1 * 10.0)) ** 0.6) * 60.0**0.8),
        (50, 2.0 * 10.0**1.5 * 60.0**0.8 * math.exp(0.05 * 10.0)),
        (3.1, 2.0 * 10.0**1.5 * 60.0**0.8 * 0.5),
    ]:
        sql = nsvb.equation_sql("t", equation=f"{eq}D", available=avail)
        got = df.select(F.expr(sql).alias("v")).collect()[0]["v"]
        assert got == pytest.approx(expected, rel=1e-12), f"eq {eq}"


def test_find_vol_algebra(spark):
    df = spark.createDataFrame([(60.0, 12.0)], "THT double, VTOT double")
    a, b = 2.1, 0.87
    sql = nsvb.find_vol_sql(f"{a}D", f"{b}D", "THT", "1.0D", "30.0D", "VTOT")
    got = df.select(F.expr(sql).alias("v")).collect()[0]["v"]
    ratio = lambda h: (1 - (1 - h / 60.0) ** a) ** b
    assert got == pytest.approx(ratio(30.0) * 12.0 - ratio(1.0) * 12.0, rel=1e-12)


_MH = "DBH double, THT double, dl double, mh_a double, mh_b double, " \
      "mh_c double, mh_alpha double, mh_beta double"


def _find_ht(spark, rows):
    nsvb.register_udfs(spark)
    df = spark.createDataFrame(rows, _MH)
    return [r["h"] for r in df.selectExpr(f"{nsvb.find_ht_sql('dl')} AS h").collect()]


def test_bisection_finds_taper_root(spark):
    """pd(HT4) must equal dlim at the returned height."""
    a, b, c, al, be = 0.002, 1.98, 1.02, 2.1, 0.87
    D, H, dlim = 14.0, 80.0, 4.0
    [got] = _find_ht(spark, [(D, H, dlim, a, b, c, al, be)])
    K = a * D**b * H**c / 0.005454154 / H * al * be
    pd_sq = K * (1 - got / H) ** (al - 1) * (1 - (1 - got / H) ** al) ** (be - 1)
    assert math.sqrt(pd_sq) == pytest.approx(dlim, rel=1e-6)
    assert 0 < got < H


def test_bisection_sapling_and_missing_null(spark):
    coefs = (0.002, 1.98, 1.02, 2.1, 0.87)
    rows = [(4.0, 30.0, 4.0, *coefs), (10.0, None, 4.0, *coefs),
            (None, 30.0, 4.0, *coefs)]
    assert _find_ht(spark, rows) == [None, None, None]


def test_apply_layers_packing_differential(spark):
    """ASAP level packing must be value- and order-identical to the
    sequential per-layer form, including replace-in-place, cross-level
    reads, drops, and case-insensitive name matching (r15)."""
    import random

    from pyspark.sql import functions as F

    from foresttime_builder_spark.functions.helpers import (
        _merge_layers,
        apply_layers,
    )

    def sequential(base, layers):
        for exprs, drops in layers:
            if exprs:
                base = base.withColumns(
                    {k: F.expr(v) for k, v in exprs.items()}
                )
            if drops:
                base = base.drop(*drops)
        return base

    rng = random.Random(20260817)
    base = spark.range(50).selectExpr(
        "id", "id * 2 AS a", "id % 7 AS b", "CAST(id AS DOUBLE) AS C3"
    )
    for trial in range(8):
        cols = ["id", "a", "b", "C3"]
        layers = []
        alive = set(cols)
        for _ in range(rng.randint(2, 7)):
            exprs = {}
            for _ in range(rng.randint(0, 3)):
                src = rng.choice(sorted(alive))
                name = rng.choice(
                    [src, src.swapcase(), f"n{rng.randint(0, 5)}"]
                )
                if name.lower() in {k.lower() for k in exprs}:
                    continue
                exprs[name] = rng.choice(
                    [f"{src} + 1", f"abs({src})", f"{src} * 0 + 2", "7"]
                )
            drops = []
            if alive - {"id"} and rng.random() < 0.4:
                d = rng.choice(sorted(alive - {"id"}))
                drops = [d]
            for k in exprs:
                alive.add(k)
            for d in drops:
                alive = {c for c in alive if c.lower() != d.lower()}
            # keep names unique per dict (dict does that) and layers valid
            layers.append((exprs, drops))
        got = apply_layers(base, layers)
        want = sequential(base, layers)
        assert got.columns == want.columns, (trial, got.columns, want.columns)
        assert sorted(map(str, got.collect())) == sorted(
            map(str, want.collect())
        ), trial
        # packing must never grow the level count
        assert len(_merge_layers(layers)) <= len(layers)


def test_apply_layers_window_over_layers(spark):
    """OVER-clause layers (r16: the FIA interpolators now route their
    window expressions through apply_layers) must match the sequential
    withColumns form — including a window that reads a column an earlier
    layer defined, and a later layer reading the window's result."""
    from pyspark.sql import functions as F

    from foresttime_builder_spark.functions.helpers import apply_layers

    base = spark.range(12).selectExpr(
        "id % 3 AS g", "id AS t", "CASE WHEN id % 4 = 0 THEN NULL"
        " ELSE CAST(id AS DOUBLE) END AS v"
    )
    layers = [
        ({"v2": "v * 2"}, []),
        (
            {
                "filled": (
                    "last(v2, true) OVER (PARTITION BY g ORDER BY t "
                    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                ),
                "rk": "row_number() OVER (PARTITION BY g ORDER BY t)",
            },
            [],
        ),
        ({"out": "coalesce(filled, -1.0D) + rk"}, ["v2"]),
    ]
    got = apply_layers(base, layers)
    want = base.withColumns({"v2": F.expr("v * 2")})
    want = want.withColumns(
        {
            "filled": F.expr(
                "last(v2, true) OVER (PARTITION BY g ORDER BY t "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ),
            "rk": F.expr("row_number() OVER (PARTITION BY g ORDER BY t)"),
        }
    )
    want = want.withColumns(
        {"out": F.expr("coalesce(filled, -1.0D) + rk")}
    ).drop("v2")
    assert got.columns == want.columns
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_apply_layers_quoted_identifier_dependency(spark):
    """A read-after-write dependency through a backquoted non-word name
    must survive packing (r15 advice: the word-token scan fragmented
    `a b` into a, b and packed the two layers together, silently reading
    the stale value).  The guard skips packing when any defined name is
    non-word, so c must see the layer-1 value."""
    from foresttime_builder_spark.functions.helpers import (
        _merge_layers,
        apply_layers,
    )

    base = spark.range(1).selectExpr("0 AS `a b`")
    layers = [({"a b": "1"}, []), ({"c": "`a b` + 0"}, [])]
    # the scan must not re-stratify these into one level
    assert len(_merge_layers(layers)) == 2
    row = apply_layers(base, layers).collect()[0]
    assert row["c"] == 1


def test_apply_layers_brace_expression(spark):
    """Literal braces in a layer expression (regex quantifiers) must reach
    the SQL parser unchanged (r15 advice: the generated statement once
    went through PySpark's string formatter, which crashed on them)."""
    from foresttime_builder_spark.functions.helpers import apply_layers

    base = spark.range(1).selectExpr("'ab 2026 cd' AS s")
    layers = [
        ({"yr": r"regexp_extract(s, '[0-9]{4}', 0)"}, []),
        ({"yr2": "concat(yr, '!')"}, ["s"]),
    ]
    row = apply_layers(base, layers).collect()[0]
    assert (row["yr"], row["yr2"]) == ("2026", "2026!")
