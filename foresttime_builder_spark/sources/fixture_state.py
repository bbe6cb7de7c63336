"""Deterministic FIA-shaped mini-state ("state 44"): raw-table fixtures.

One named tree per reference test scenario (the scenario matrix of the
reference's ``tests/testthat/test-interpolate_data.R`` and
``test-adjust_mortality.R``; see FIXTURES.md §2), shaped like the DE sample
CSVs the reference ships (``inst/exdata/DE_*.csv``, FIXTURES.md §1).

Three consumers share this single source of truth:

- ``tests/fia_fixtures.spark_db`` — in-memory DataFrames for pytest;
- :func:`write_csvs` — ``44_{TABLE}.csv`` files with ``NA`` nulls, driven
  through the real CSV source layer (``sources.fia.fia_load``) by the
  end-to-end state-pipeline gate (q51);
- :func:`values_sql` — the same rows as DuckDB ``VALUES`` CTEs so the q51
  oracle runs the SQL twin of the whole pipeline on identical input.

Surveys at 2002 / 2007 / 2012; plots 1-3 (plot 3 empty); DESIGNCD 1.
Species: 316/318 (hardwood), 131 (softwood), 475 (woodland, JENKINS 10).
"""

from __future__ import annotations

import csv
import os

from foresttime_builder_spark.sources.fia import FIA_TYPES

STATE = "44"
YEARS = [2002, 2007, 2012]

TREE_COLS = [
    "CN", "PLT_CN", "STATECD", "UNITCD", "COUNTYCD", "PLOT", "SUBP", "TREE",
    "INVYR", "CONDID", "MORTYR", "STATUSCD", "RECONCILECD", "DECAYCD",
    "STANDING_DEAD_CD", "DIA", "CR", "HT", "ACTUALHT", "CULL", "SPCD",
]
PLOT_COLS = [
    "CN", "INVYR", "STATECD", "UNITCD", "COUNTYCD", "PLOT", "DESIGNCD",
    "INTENSITY",
]
COND_COLS = [
    "PLT_CN", "INVYR", "STATECD", "UNITCD", "COUNTYCD", "PLOT", "CONDID",
    "CONDPROP_UNADJ", "PROP_BASIS", "COND_STATUS_CD", "STDORGCD",
]
GEOM_COLS = ["CN", "INVYR", "ECOSUBCD"]


def _plt_cn(plot: int, year: int) -> str:
    return f"{plot:03d}{year}0000000001"


def _tree_rows(plot, tree, records):
    """records: list of (year, dict of overrides); None value → NA."""
    rows = []
    for year, over in records:
        row = {
            "CN": f"{plot:03d}{tree:03d}{year}",
            "PLT_CN": _plt_cn(plot, year),
            "STATECD": 44, "UNITCD": 1, "COUNTYCD": 1, "PLOT": plot,
            "SUBP": 1, "TREE": tree, "INVYR": year, "CONDID": 1,
            "MORTYR": None, "STATUSCD": 1, "RECONCILECD": None,
            "DECAYCD": None, "STANDING_DEAD_CD": None,
            "DIA": 8.0, "CR": 30.0, "HT": 50.0, "ACTUALHT": None,
            "CULL": 0.0, "SPCD": 316,
        }
        row.update(over)
        rows.append(row)
    return rows


def build_rows() -> dict[str, tuple[list[str], list[dict]]]:
    """{table: (columns, row dicts)} for TREE / PLOT / COND / PLOTGEOM."""
    trees = []
    # 1: steady growth, alive throughout
    trees += _tree_rows(1, 1, [
        (2002, {"DIA": 6.0, "HT": 40.0}),
        (2007, {"DIA": 7.0, "HT": 45.0}),
        (2012, {"DIA": 8.0, "HT": 50.0}),
    ])
    # 2: dies then falls: alive 2002, dead+fallen 2007 with no measurements
    trees += _tree_rows(1, 2, [
        (2002, {"DIA": 8.0, "HT": 50.0}),
        (2007, {"STATUSCD": 2, "STANDING_DEAD_CD": 0, "DIA": None, "HT": None,
                "CR": None, "CULL": None}),
    ])
    # 3: shrinking height → extrapolates below 4.5 ft threshold
    trees += _tree_rows(1, 3, [
        (2002, {"DIA": 2.0, "HT": 12.0}),
        (2007, {"DIA": 1.8, "HT": 7.0}),
        (2012, {"DIA": 1.6, "HT": 5.0}),
    ])
    # 4: woodland species (1 ft threshold, excluded from carbon)
    trees += _tree_rows(1, 4, [
        (2002, {"SPCD": 475, "DIA": 3.0, "HT": 3.0}),
        (2007, {"SPCD": 475, "DIA": 3.5, "HT": 2.0}),
    ])
    # 5: sapling CULL: DIA crosses 5.0 between surveys
    trees += _tree_rows(1, 5, [
        (2002, {"DIA": 4.0, "HT": 20.0, "CULL": None}),
        (2007, {"DIA": 6.0, "HT": 30.0, "CULL": 10.0}),
    ])
    # 6: moves to a non-sampled condition
    trees += _tree_rows(2, 6, [
        (2002, {"CONDID": 1}),
        (2007, {"CONDID": 2}),
    ])
    # 7: MORTYR 2003 recorded before the interpolated midpoint (2005);
    #    tree is interpolated-alive in 2003 so effective death = 2004
    trees += _tree_rows(2, 7, [
        (2002, {"MORTYR": None}),
        (2007, {"STATUSCD": 2, "STANDING_DEAD_CD": 1, "DECAYCD": 2,
                "MORTYR": 2003, "DIA": None, "HT": None}),
    ])
    # 8: alive in its recorded MORTYR (2007) → effective death 2008
    trees += _tree_rows(2, 8, [
        (2002, {}),
        (2007, {"MORTYR": 2007}),
        (2012, {"STATUSCD": 2, "STANDING_DEAD_CD": 1, "DECAYCD": 3,
                "MORTYR": 2007, "DIA": None, "HT": None}),
    ])
    # 9: single measurement, carried forward only
    trees += _tree_rows(2, 9, [
        (2007, {"DIA": 9.0, "HT": 55.0}),
    ])
    # 10: species change: last SPCD wins
    trees += _tree_rows(2, 10, [
        (2002, {"SPCD": 316}),
        (2007, {"SPCD": 318}),
    ])
    # 12: 1 → 2 → 0 with RECONCILECD 5 (left sample)
    trees += _tree_rows(2, 12, [
        (2002, {}),
        (2007, {"STATUSCD": 2, "STANDING_DEAD_CD": 1, "DECAYCD": 1,
                "DIA": None, "HT": None}),
        (2012, {"STATUSCD": 0, "RECONCILECD": 5, "DIA": None, "HT": None,
                "CR": None}),
    ])
    # 13-16: the full RECONCILECD branch matrix for the non-sampled mask
    # (R/adjust_mortality.R:121 — STATUSCD 0 nulls measurements ONLY for
    # RECONCILECD 5/6/9; other codes and NULL keep them, R %in% NA = FALSE).
    # Trees stay alive then leave the sample, with real values at the 0
    # survey so keep-vs-null is observable per code.
    for tree, rec in ((13, 6), (14, 9), (15, 3), (16, None)):
        trees += _tree_rows(2, tree, [
            (2002, {"DIA": 6.0, "HT": 40.0}),
            (2007, {"DIA": 7.0, "HT": 45.0}),
            (2012, {"STATUSCD": 0, "RECONCILECD": rec,
                    "DIA": 8.0, "HT": 50.0}),
        ])

    plots, conds, geoms = [], [], []
    for plot in (1, 2, 3):  # plot 3 = empty plot (no trees)
        for year in YEARS:
            plots.append({
                "CN": _plt_cn(plot, year), "INVYR": year, "STATECD": 44,
                "UNITCD": 1, "COUNTYCD": 1, "PLOT": plot, "DESIGNCD": 1,
                "INTENSITY": 1,
            })
            geoms.append({
                "CN": _plt_cn(plot, year), "INVYR": year,
                "ECOSUBCD": "232Aa" if plot != 2 else "M221Dc",
            })
            conds.append({
                "PLT_CN": _plt_cn(plot, year), "INVYR": year, "STATECD": 44,
                "UNITCD": 1, "COUNTYCD": 1, "PLOT": plot, "CONDID": 1,
                "CONDPROP_UNADJ": 1.0, "PROP_BASIS": "SUBP",
                "COND_STATUS_CD": 1, "STDORGCD": 0,
            })
            if plot == 2:  # second, non-sampled condition
                conds.append({
                    "PLT_CN": _plt_cn(plot, year), "INVYR": year, "STATECD": 44,
                    "UNITCD": 1, "COUNTYCD": 1, "PLOT": plot, "CONDID": 2,
                    "CONDPROP_UNADJ": 0.0, "PROP_BASIS": "SUBP",
                    "COND_STATUS_CD": 2, "STDORGCD": None,
                })
    return {
        "TREE": (TREE_COLS, trees),
        "PLOT": (PLOT_COLS, plots),
        "COND": (COND_COLS, conds),
        "PLOTGEOM": (GEOM_COLS, geoms),
    }


#: the fixture tables' ``"NAME type, ..."`` schemas, a view of the CSV
#: layer's declared contract (``sources.fia.FIA_TYPES``): undeclared
#: columns, the leading-zero CN columns included, are strings
SCHEMAS = {
    table: ", ".join(f"{c} {FIA_TYPES[table].get(c, 'string')}" for c in cols)
    for table, cols in (
        ("TREE", TREE_COLS),
        ("PLOT", PLOT_COLS),
        ("COND", COND_COLS),
        ("PLOTGEOM", GEOM_COLS),
    )
}

#: species → JENKINS_SPGRPCD for the fixture species, as a SQL CASE for the
#: oracle chain (the Spark side joins REF_SPECIES; values verified against
#: resources/REF_SPECIES.csv)
JCASE = (
    "CASE WHEN SPCD = 475 THEN 10 WHEN SPCD = 131 THEN 4 "
    "WHEN SPCD = 318 THEN 9 ELSE 7 END"
)


def _csv_cell(v) -> str:
    if v is None:
        return "NA"
    return str(v)


def write_csvs(out_dir: str) -> list[str]:
    """Emit ``44_{TABLE}.csv`` files in the DataMart CSV shape consumed by
    ``sources.fia.fia_load`` (``NA`` nulls, CN strings with leading zeros)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for table, (cols, rows) in build_rows().items():
        path = os.path.join(out_dir, f"{STATE}_{table}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            for r in rows:
                w.writerow([_csv_cell(r[c]) for c in cols])
        paths.append(path)
    return paths


def _sql_cell(v, declared: bool) -> str:
    if v is None:
        return "NULL"
    if not declared:  # an undeclared column is a string column
        return f"'{v}'"
    return repr(v)


def _values_cte(table: str, cols: list[str], rows: list[dict]) -> str:
    types = FIA_TYPES[table]
    tuples = ",\n    ".join(
        "(" + ", ".join(_sql_cell(r[c], c in types) for c in cols) + ")"
        for r in rows
    )
    collist = ", ".join(cols)
    name = f"f{table.lower()}"
    return f"{name} AS (SELECT * FROM (VALUES\n    {tuples}\n) t({collist}))"


def values_sql() -> dict[str, str]:
    """DuckDB ``name AS (VALUES ...)`` CTE per table — the oracle-side twin
    of :func:`write_csvs` (same rows, same types, same null positions)."""
    return {
        table: _values_cte(table, cols, rows)
        for table, (cols, rows) in build_rows().items()
    }
