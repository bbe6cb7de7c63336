"""Population-scaling estimators: one post-stratified estimator, two designs.

The simplified mode (``estimate_population``) is the design-based mode
(``estimate_population_stratified``) over a derived design of one stratum
per year with ``EXPNS = area / n_plots`` and ``ADJ_FACTOR_SUBP = 1``; that
design must equal a hand-built one, the two modes must agree exactly on
it, and a hand-computed multi-stratum expansion must be reproduced.  The
edge cases (non-finite values, NULL proportions, zero-area years,
unassigned plots) run through both modes.
"""

from __future__ import annotations

import pytest

from foresttime_builder_spark.plans import population
from foresttime_builder_spark.plans.population import (
    estimate_population,
    estimate_population_stratified,
)

PANEL_SCHEMA = (
    "plot_ID string, tree_ID string, YEAR int, PLT_CN string, CONDID int, "
    "CONDPROP_UNADJ double, COND_STATUS_CD int, INTENSITY int, STATUSCD int, "
    "TPA_UNADJ double, CARBON_AG double"
)

ROWS = [
    # plot p1: two live trees, one dead; fully forested condition
    ("p1", "t1", 2020, "cn_p1_2020", 1, 1.0, 1, 1, 1, 6.0, 100.0),
    ("p1", "t2", 2020, "cn_p1_2020", 1, 1.0, 1, 1, 1, 6.0, 200.0),
    ("p1", "t3", 2020, "cn_p1_2020", 1, 1.0, 1, 1, 2, 6.0, 300.0),
    # plot p2: one live tree, half-forested condition
    ("p2", "t4", 2020, "cn_p2_2020", 1, 0.5, 1, 1, 1, 6.0, 400.0),
    # plot p3: non-forested condition (aDI = 0)
    ("p3", "t5", 2020, "cn_p3_2020", 1, 1.0, 2, 1, 1, 6.0, 500.0),
]

AREA = 9000.0
# ROWS under the simplified design: EXPNS = 9000 / 3 plots = 3000
#   tons: live trees on forested land (t1, t2, t4) = 700 * 6 * 3000 / 2000
#   area: p1 1.0 * 3000 + p2 0.5 * 3000 (p3 is non-forested)
TONS, ACRES = 6300.0, 4500.0

MODES = ("simple", "stratified")


@pytest.fixture(scope="module")
def panel(spark):
    return spark.createDataFrame(ROWS, PANEL_SCHEMA)


def _hand_design(spark, rows):
    """One stratum per YEAR, ``EXPNS = AREA / n_plots``, ``ADJ = 1``, built
    from the rows in Python."""
    plots: dict[int, set[str]] = {}
    cns: dict[int, set[str]] = {}
    for r in rows:
        plots.setdefault(r[2], set()).add(r[0])
        cns.setdefault(r[2], set()).add(r[3])
    assgn = spark.createDataFrame(
        [(cn, f"S{yr}") for yr in cns for cn in sorted(cns[yr])],
        "PLT_CN string, STRATUM_CN string",
    )
    stratum = spark.createDataFrame(
        [(f"S{yr}", AREA / len(p), 1.0) for yr, p in plots.items()],
        "CN string, EXPNS double, ADJ_FACTOR_SUBP double",
    )
    return stratum, assgn


def _estimate(spark, mode, rows):
    """Run ``mode``'s estimator over ``rows``; return {YEAR: Row}."""
    df = spark.createDataFrame(rows, PANEL_SCHEMA)
    if mode == "simple":
        out = estimate_population(df, area=AREA)
    else:
        out = estimate_population_stratified(df, *_hand_design(spark, rows))
    return {r["YEAR"]: r for r in out.collect()}


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_degenerate_strata_reduce_to_simplified_mode(spark, panel):
    stratum, assgn = _hand_design(spark, ROWS)

    derived = population._year_design(panel, AREA).collect()
    assert [tuple(r) for r in derived] == [
        (2020, r["EXPNS"], r["ADJ_FACTOR_SUBP"]) for r in stratum.collect()
    ] == [(2020, 3000.0, 1.0)]

    simple = _one(estimate_population(panel, area=AREA))
    strat = _one(estimate_population_stratified(panel, stratum, assgn))
    assert simple == strat
    assert (simple["total_tons"], simple["total_area"]) == (TONS, ACRES)


def test_multi_stratum_expansion_hand_computed(spark, panel):
    # p1 in stratum A (EXPNS 1000, ADJ 1.0); p2, p3 in B (EXPNS 2000, ADJ 1.1)
    assgn = spark.createDataFrame(
        [("cn_p1_2020", "A"), ("cn_p2_2020", "B"), ("cn_p3_2020", "B")],
        "PLT_CN string, STRATUM_CN string",
    )
    stratum = spark.createDataFrame(
        [("A", 1000.0, 1.0), ("B", 2000.0, 1.1)],
        "CN string, EXPNS double, ADJ_FACTOR_SUBP double",
    )
    got = _one(estimate_population_stratified(panel, stratum, assgn))

    # tree totals (live trees on forested land only):
    #   p1: (100 + 200) * 6 * 1.0 * 1000 / 2000 = 900.0 tons
    #   p2: 400 * 6 * 1.1 * 2000 / 2000        = 2640.0 tons
    #   p3: aDI = 0                             = 0
    assert got["total_tons"] == pytest.approx(900.0 + 2640.0, rel=1e-12)
    # area totals over distinct conditions:
    #   p1: 1.0 * 1.0 * 1000 = 1000 ;  p2: 0.5 * 1.1 * 2000 = 1100 ;  p3: 0
    assert got["total_area"] == pytest.approx(2100.0, rel=1e-12)
    assert got["tons_per_acre"] == pytest.approx(3540.0 / 2100.0, rel=1e-12)


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_value_contributes_zero(spark, mode, bad):
    # a fourth live tree on p1 whose estimate is NaN / +Inf / -Inf
    rows = ROWS + [("p1", "t6", 2020, "cn_p1_2020", 1, 1.0, 1, 1, 1, 6.0, bad)]
    got = _estimate(spark, mode, rows)[2020]
    assert (got["total_tons"], got["total_area"]) == (TONS, ACRES)


@pytest.mark.parametrize("mode", MODES)
def test_null_condprop_contributes_zero_area(spark, mode):
    rows = [r[:5] + (None,) + r[6:] if r[0] == "p2" else r for r in ROWS]
    got = _estimate(spark, mode, rows)[2020]
    # p2's half-forested 0.5 * 3000 acres drop out; its tree still counts
    assert (got["total_tons"], got["total_area"]) == (TONS, ACRES - 1500.0)


@pytest.mark.parametrize("mode", MODES)
def test_zero_area_year_gives_null_ratio(spark, mode):
    # 2021: p1 remeasured, its only condition non-sampled
    rows = ROWS + [("p1", "t1", 2021, "cn_p1_2021", 1, 1.0, 2, 1, 1, 6.0, 100.0)]
    got = _estimate(spark, mode, rows)
    assert got[2021]["total_area"] == 0.0
    assert got[2021]["total_tons"] == 0.0
    assert got[2021]["tons_per_acre"] is None
    assert got[2020]["tons_per_acre"] == TONS / ACRES


def test_unassigned_plot_contributes_zero(spark, panel):
    # p2 has no stratum assignment: neither its tree nor its area counts
    assgn = spark.createDataFrame(
        [("cn_p1_2020", "A"), ("cn_p3_2020", "A")],
        "PLT_CN string, STRATUM_CN string",
    )
    stratum = spark.createDataFrame(
        [("A", 1000.0, 1.0)], "CN string, EXPNS double, ADJ_FACTOR_SUBP double"
    )
    got = _one(estimate_population_stratified(panel, stratum, assgn))
    # p1 only: (100 + 200) * 6 * 1000 / 2000 tons over 1.0 * 1000 acres
    assert (got["total_tons"], got["total_area"]) == (900.0, 1000.0)

