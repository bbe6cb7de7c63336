"""Property-based tests: the distributed window formulations of the
time-series operators must agree with straightforward sequential Python
models on arbitrary panels (beyond the reference's fixed golden vectors)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from foresttime_builder_spark.operators import (
    expand_grid,
    fill_gaps,
    linear_interpolate,
    step_interpolate,
)

# one group: sorted distinct years with optional-null values
panel_strategy = st.lists(
    st.tuples(
        st.integers(min_value=2000, max_value=2030),
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _grid(years):
    return list(range(min(years), max(years) + 1))


def _model_linear(points: dict[int, float | None], grid: list[int]):
    """Sequential model of inter_extra_polate (R/inter_extra_polate.R)."""
    known = [(x, points[x]) for x in sorted(points) if points.get(x) is not None]
    out = {}
    for x in grid:
        if points.get(x) is not None:
            out[x] = float(points[x])
        elif not known:
            out[x] = None
        elif len(known) == 1:
            out[x] = float(known[0][1]) if x > known[0][0] else None
            if x == known[0][0]:
                out[x] = float(known[0][1])
        else:
            lo = [p for p in known if p[0] <= x]
            hi = [p for p in known if p[0] >= x]
            if lo and hi:
                (x0, y0), (x1, y1) = lo[-1], hi[0]
                out[x] = y0 + (y1 - y0) / (x1 - x0) * (x - x0) if x1 != x0 else float(y0)
            elif not hi:  # trailing: line through last two known
                (x0, y0), (x1, y1) = known[-2], known[-1]
                out[x] = y1 + (y1 - y0) / (x1 - x0) * (x - x1)
            else:  # leading: line through first two known
                (x0, y0), (x1, y1) = known[0], known[1]
                out[x] = y0 + (y1 - y0) / (x1 - x0) * (x - x0)
    return out


def _model_step(points: dict[int, int | None], grid: list[int]):
    """Sequential model of step_interp (R/step_interp.R): positional
    midpoint switch, trailing fill, leading nulls stay null."""
    vals = [points.get(x) for x in grid]
    n = len(vals)
    out = list(vals)
    known_idx = [i for i, v in enumerate(vals) if v is not None]
    for i, v in enumerate(vals):
        if v is not None:
            continue
        prevs = [j for j in known_idx if j < i]
        nexts = [j for j in known_idx if j > i]
        if not prevs:
            out[i] = None
        elif not nexts:
            out[i] = vals[prevs[-1]]
        else:
            p, q = prevs[-1], nexts[0]
            switch = p + math.ceil((q - p) / 2)
            out[i] = vals[p] if i < switch else vals[q]
    return dict(zip(grid, out))


def _run(spark, rows, op, value_type="double"):
    df = spark.createDataFrame(
        [("g", x, v) for x, v in rows],
        f"g string, x int, v {value_type}",
    )
    g = expand_grid(df, ["g"], "x")
    out = op(g)
    return {
        r["x"]: r["v"] for r in out.select("x", "v").collect()
    }


@given(panel=panel_strategy)
@settings(**_SETTINGS)
def test_linear_interpolate_matches_model(spark, panel):
    rows = [(x, float(v) if v is not None else None) for x, v in panel]
    points = dict(rows)
    got = _run(
        spark, rows, lambda g: linear_interpolate(g, ["g"], "x", ["v"])
    )
    want = _model_linear(points, _grid([x for x, _ in rows]))
    assert set(got) == set(want)
    for x in want:
        if want[x] is None:
            assert got[x] is None, f"x={x}: expected null, got {got[x]}"
        else:
            assert got[x] == pytest.approx(want[x], rel=1e-9), f"x={x}"


@given(panel=panel_strategy)
@settings(**_SETTINGS)
def test_step_interpolate_matches_model(spark, panel):
    rows = list(panel)
    points = dict(rows)
    got = _run(
        spark, rows, lambda g: step_interpolate(g, ["g"], "x", ["v"]),
        value_type="int",
    )
    want = _model_step(points, _grid([x for x, _ in rows]))
    assert got == want


@given(panel=panel_strategy)
@settings(**_SETTINGS)
def test_fill_downup_matches_model(spark, panel):
    rows = list(panel)
    got = _run(
        spark, rows, lambda g: fill_gaps(g, ["g"], "x", ["v"]),
        value_type="int",
    )
    grid = _grid([x for x, _ in rows])
    points = dict(rows)
    vals = [points.get(x) for x in grid]
    known = [v for v in vals if v is not None]
    want = {}
    last = None
    for x, v in zip(grid, vals):
        if v is not None:
            last = v
        want[x] = last if last is not None else (known[0] if known else None)
    assert got == want


# --- ties and edges ----------------------------------------------------------
#
# (custkey, year, val, prio) groups: duplicate YEAR rows, no known value,
# one known value, leading and trailing gaps, and a known and an unknown
# val at one YEAR (group 7: its nearest known points on both sides are
# that one peer, whose val it takes).  Groups below 10 have one
# answer whatever order a sort leaves tied rows in, so DuckDB can check
# them; 10 and 11 tie rows of different values, which only an in-query
# comparison over one sort can pin.
_EDGE_ROWS = [
    (1, 2000, 1.0, "a"), (1, 2002, 5.0, "b"), (1, 2002, 5.0, "b"),
    (1, 2005, 2.0, "c"),
    (2, 2000, 1.0, "a"), (2, 2002, None, None), (2, 2002, None, None),
    (2, 2004, 3.0, "b"),
    (3, 2000, None, None), (3, 2003, None, None),
    (4, 2000, None, None), (4, 2002, 7.0, "x"), (4, 2005, None, None),
    (5, 2000, None, None), (5, 2001, 1.0, "a"), (5, 2003, 3.0, "b"),
    (5, 2006, None, None),
    (6, 2001, 4.0, "a"), (6, 2001, 4.0, "a"),
    (7, 2000, 1.0, "a"), (7, 2000, None, "a"), (7, 2002, 3.0, "b"),
    (10, 2000, 1.0, "a"), (10, 2000, 2.0, "b"), (10, 2003, 4.0, "c"),
    (11, 2000, 1.0, "a"), (11, 2000, 1.0, None), (11, 2002, 2.0, "b"),
]
_EDGE_SCHEMA = "custkey int, year int, val double, prio string"


def _edge_grid(spark):
    panel = spark.createDataFrame(_EDGE_ROWS, _EDGE_SCHEMA)
    return expand_grid(panel, ["custkey"], "year")


def test_linear_lookups_match_array_filter_form(spark):
    """The RANGE-frame ``last``/``first`` lookups equal the former
    ``filter(k, e -> e.x <= x)[-1]`` / ``filter(k, e -> e.x >= x)[1]``
    over the known-point array, ties included: both in one query, so
    both see one sort."""
    from foresttime_builder_spark.functions.helpers import apply_layers
    from foresttime_builder_spark.operators.timeseries import (
        linear_interpolate_layers,
    )

    windows = linear_interpolate_layers(["custkey"], "year", ["val"])[0]
    x = "CAST(year AS DOUBLE)"
    ref = {
        "ref_p": f"try_element_at(filter(_li_val_k, e -> e.x <= {x}), -1)",
        "ref_n": f"try_element_at(filter(_li_val_k, e -> e.x >= {x}), 1)",
    }
    rows = apply_layers(_edge_grid(spark), [windows, (ref, [])]).collect()
    assert len(rows) == 45
    for r in rows:
        assert (r["_li_val_p"], r["_li_val_n"]) == (r["ref_p"], r["ref_n"]), r


def test_step_lookups_match_array_filter_form(spark):
    """The ROWS-frame ``last``/``first`` lookups equal the former
    ``filter(k, e -> e.i <= _sg_i)[-1]`` / ``[1]`` over a collected
    (index, value) array, ties included."""
    from foresttime_builder_spark.functions.helpers import apply_layers
    from foresttime_builder_spark.operators.timeseries import (
        step_interpolate_layers,
    )

    rn, (windows, _), _ = step_interpolate_layers(["custkey"], "year", ["prio"])
    over = (
        "OVER (PARTITION BY custkey ORDER BY year "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    ref_k = (
        "collect_list(CASE WHEN prio IS NOT NULL "
        f"THEN named_struct('i', _sg_i, 'v', prio) END) {over}"
    )
    ref = {
        "ref_p": "try_element_at(filter(ref_k, e -> e.i <= _sg_i), -1)",
        "ref_n": "try_element_at(filter(ref_k, e -> e.i >= _sg_i), 1)",
    }
    rows = apply_layers(
        _edge_grid(spark), [rn, ({**windows, "ref_k": ref_k}, []), (ref, [])]
    ).collect()
    assert len(rows) == 45
    for r in rows:
        assert (r["_sg_prio_p"], r["_sg_prio_n"]) == (r["ref_p"], r["ref_n"]), r


@pytest.mark.parametrize("query", ["q08", "q09"])
def test_edge_groups_match_registry_twins(spark, query):
    """Linear (q08) and step (q09) interpolation of the order-independent
    edge groups equal the registry's DuckDB twins run over the same
    panel."""
    import duckdb

    from foresttime_builder_spark.functions.encoding import fixed
    from foresttime_builder_spark.plans.queries import _shared, timeseries

    def lit(v, kind):
        return "NULL" if v is None else f"CAST({v!r} AS {kind})"

    edge = [r for r in _EDGE_ROWS if r[0] < 10]
    values = ", ".join(
        f"({c}, {y}, {lit(v, 'DOUBLE')}, {lit(p, 'VARCHAR')})"
        for c, y, v, p in edge
    )
    panel_cte = f"panel AS ({_shared._PANEL_SQL})"
    assert panel_cte in _shared._GRID_SQL
    oracle = getattr(timeseries, f"ORACLE_{query.upper()}").replace(
        panel_cte,
        f"panel AS (SELECT * FROM (VALUES {values}) t(custkey, year, val, prio))",
    )
    g = expand_grid(spark.createDataFrame(edge, _EDGE_SCHEMA), ["custkey"], "year")
    if query == "q08":
        out = linear_interpolate(g, ["custkey"], "year", ["val"])
        out = out.select("custkey", "year", fixed("val", 4), "interpolated")
    else:
        out = step_interpolate(g, ["custkey"], "year", ["prio"])
        out = out.select("custkey", "year", "prio", "interpolated")
    got = sorted(tuple(map(str, r)) for r in out.collect())
    want = sorted(tuple(map(str, r)) for r in duckdb.sql(oracle).fetchall())
    assert len(got) == 36
    assert got == want
