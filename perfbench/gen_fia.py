"""Seeded FIA-state generator: DataMart-shaped CSVs for one state.

Writes ``{STATE}_{TABLE}.csv`` for TREE / PLOT / COND / PLOTGEOM (the
tables ``sources.fia.fia_load`` feeds to ``run_states``) plus
POP_STRATUM / POP_PLOT_STRATUM_ASSGN (the design tables the stratified
population estimate joins).  The output is a pure function of
``(seed, n_plots, trees_per_plot)``.

Shape of the state:

- plots start in 2000-2004 (staggered panels) and are remeasured every
  5 years through 2023; a tenth of the plots also carry a 1990s survey
  that the INVYR >= 2000 filter must drop;
- trees grow between surveys, new saplings appear (ingrowth), and trees
  die: standing dead (STANDING_DEAD_CD 1, with DECAYCD, sometimes a
  recorded MORTYR) or fallen (STANDING_DEAD_CD 0, no measurements);
- some trees leave the sample (STATUSCD 0 with a RECONCILECD code), and
  some plots carry a second, non-sampled condition that trees can move
  into;
- species are the fixture species only (316/318/131/475), so
  ``sources.fixture_state.JCASE`` maps them to Jenkins groups.
"""

from __future__ import annotations

import csv
import os
import random

from foresttime_builder_spark.sources.fixture_state import (
    COND_COLS,
    GEOM_COLS,
    PLOT_COLS,
    TREE_COLS,
)

STATE = "44"
LAST_YEAR = 2023
CYCLE = 5
ECOSUBCDS = ("232Aa", "M221Dc")
#: species and their draw weights (475 is the woodland species)
SPECIES = ((316, 5), (318, 3), (131, 3), (475, 1))
N_STRATA = 4
#: acres the state covers; the stratum expansion factors divide it
STATE_AREA = 1_000_000.0

STRATUM_COLS = ["CN", "EVALID", "STRATUMCD", "EXPNS", "ADJ_FACTOR_SUBP"]
ASSGN_COLS = ["PLT_CN", "STRATUM_CN", "INVYR"]


def _plt_cn(plot: int, year: int) -> str:
    # leading zeros: the CSV layer must keep control numbers as strings
    return f"0{plot:05d}{year}00001"


def _species(rng: random.Random) -> int:
    codes, weights = zip(*SPECIES)
    return rng.choices(codes, weights)[0]


def _live(rng: random.Random, dia: float, ht: float, cr: float) -> dict:
    return {
        "STATUSCD": 1,
        "DIA": round(dia, 1),
        "HT": round(ht, 1),
        "CR": round(cr, 1),
        # CULL is only recorded on trees of 5 in DIA and up
        "CULL": float(rng.randrange(0, 10)) if dia >= 5 else None,
        "ACTUALHT": round(ht * 0.8, 1) if rng.random() < 0.05 else None,
    }


def _tree_history(rng, years, plot_has_cond2):
    """Per-survey override dicts for one tree entering at ``years[0]``."""
    spcd = _species(rng)
    dia = rng.uniform(1.0, 4.0) if rng.random() < 0.3 else rng.uniform(5.0, 20.0)
    ht = 6.0 + dia * rng.uniform(2.5, 4.0)
    if spcd == 475:
        ht = 2.0 + dia * 0.8
    cr = rng.uniform(20.0, 60.0)
    condid = 1
    out = []
    for i, year in enumerate(years):
        if i:
            dia += CYCLE * rng.uniform(0.05, 0.35)
            ht += CYCLE * rng.uniform(0.2, 1.2)
            cr = min(90.0, max(5.0, cr + rng.uniform(-5.0, 5.0)))
            if plot_has_cond2 and condid == 1 and rng.random() < 0.1:
                condid = 2  # moves into the non-sampled condition
        rec = {"SPCD": spcd, "CONDID": condid}
        u = rng.random()
        if i and u < 0.06:
            # death this interval: standing or fallen, then out of sample
            if rng.random() < 0.6:
                rec.update({
                    "STATUSCD": 2, "STANDING_DEAD_CD": 1,
                    "DECAYCD": rng.randint(1, 5),
                    "DIA": round(dia, 1), "HT": round(ht * 0.9, 1),
                    "CR": None, "CULL": None,
                    "MORTYR": (year - rng.randint(0, CYCLE - 1)
                               if rng.random() < 0.4 else None),
                })
                out.append(rec)
                if i + 1 < len(years) and rng.random() < 0.5:
                    out.append({"SPCD": spcd, "CONDID": condid,
                                "STATUSCD": 2, "STANDING_DEAD_CD": 0,
                                "DIA": None, "HT": None, "CR": None,
                                "CULL": None})
            else:
                rec.update({
                    "STATUSCD": 2, "STANDING_DEAD_CD": 0,
                    "DIA": None, "HT": None, "CR": None, "CULL": None,
                })
                out.append(rec)
            return out
        if i and u < 0.09:
            # leaves the sample; RECONCILECD 5/6/9 masks its measurements
            rec.update(_live(rng, dia, ht, cr))
            rec.update({"STATUSCD": 0,
                        "RECONCILECD": rng.choice((5, 6, 9, 3, None))})
            out.append(rec)
            return out
        rec.update(_live(rng, dia, ht, cr))
        out.append(rec)
    return out


def build_rows(seed: int, n_plots: int, trees_per_plot: int) -> dict:
    """{table: (columns, row dicts)} for the six generated tables."""
    rng = random.Random(seed)
    trees, plots, conds, geoms = [], [], [], []
    strata: dict[tuple[int, int], str] = {}
    counts: dict[tuple[int, int], int] = {}
    assgn = []
    for plot in range(1, n_plots + 1):
        county = 1 + plot % 5
        start = 2000 + rng.randrange(CYCLE)
        years = list(range(start, LAST_YEAR + 1, CYCLE))
        survey_years = ([start - 2 * CYCLE] if rng.random() < 0.1 else []) + years
        has_cond2 = rng.random() < 0.15
        ecosub = rng.choice(ECOSUBCDS)
        stratumcd = 1 + rng.randrange(N_STRATA)
        ids = {"STATECD": int(STATE), "UNITCD": 1, "COUNTYCD": county,
               "PLOT": plot}
        for year in survey_years:
            cn = _plt_cn(plot, year)
            plots.append({"CN": cn, "INVYR": year, "DESIGNCD": 1,
                          "INTENSITY": 1, **ids})
            geoms.append({"CN": cn, "INVYR": year, "ECOSUBCD": ecosub})
            conds.append({
                "PLT_CN": cn, "INVYR": year, **ids, "CONDID": 1,
                "CONDPROP_UNADJ": 0.8 if has_cond2 else 1.0,
                "PROP_BASIS": "SUBP", "COND_STATUS_CD": 1, "STDORGCD": 0,
            })
            if has_cond2:
                conds.append({
                    "PLT_CN": cn, "INVYR": year, **ids, "CONDID": 2,
                    "CONDPROP_UNADJ": 0.2, "PROP_BASIS": "SUBP",
                    "COND_STATUS_CD": 2, "STDORGCD": None,
                })
            # one evaluation per 5-year panel group
            evalid = int(STATE) * 10000 + (year - year % CYCLE)
            key = (evalid, stratumcd)
            if key not in strata:
                strata[key] = f"0{evalid}{stratumcd:02d}"
            counts[key] = counts.get(key, 0) + 1
            assgn.append({"PLT_CN": cn, "STRATUM_CN": strata[key],
                          "INVYR": year})

        # the original cohort, then ingrowth entering at later surveys
        entries = [(0, t) for t in range(1, trees_per_plot + 1)]
        next_tree = trees_per_plot + 1
        for i in range(1, len(years)):
            for _ in range(rng.randrange(0, max(2, trees_per_plot // 4))):
                entries.append((i, next_tree))
                next_tree += 1
        for first, tree in entries:
            hist = _tree_history(rng, years[first:], has_cond2)
            for year, rec in zip(years[first:], hist):
                row = {c: None for c in TREE_COLS}
                row.update(ids)
                row.update({
                    "CN": f"{_plt_cn(plot, year)}{tree:04d}",
                    "PLT_CN": _plt_cn(plot, year), "SUBP": 1 + tree % 4,
                    "TREE": tree, "INVYR": year,
                })
                row.update(rec)
                trees.append(row)
        if survey_years[0] < 2000:
            # a pre-2000 record the INVYR filter must drop
            year = survey_years[0]
            row = {c: None for c in TREE_COLS}
            row.update(ids)
            row.update({"CN": f"{_plt_cn(plot, year)}0001",
                        "PLT_CN": _plt_cn(plot, year), "SUBP": 1, "TREE": 1,
                        "INVYR": year, "CONDID": 1, "STATUSCD": 1,
                        "DIA": 3.0, "HT": 20.0, "CR": 30.0, "SPCD": 316})
            trees.append(row)

    stratum_rows = [
        {"CN": cn, "EVALID": key[0], "STRATUMCD": key[1],
         "EXPNS": round(STATE_AREA / N_STRATA / counts[key], 6),
         "ADJ_FACTOR_SUBP": round(1.0 + 0.05 * (key[1] - 1), 2)}
        for key, cn in sorted(strata.items())
    ]
    return {
        "TREE": (TREE_COLS, trees),
        "PLOT": (PLOT_COLS, plots),
        "COND": (COND_COLS, conds),
        "PLOTGEOM": (GEOM_COLS, geoms),
        "POP_STRATUM": (STRATUM_COLS, stratum_rows),
        "POP_PLOT_STRATUM_ASSGN": (ASSGN_COLS, assgn),
    }


def _cell(v) -> str:
    return "NA" if v is None else str(v)


def write_state(out_dir: str, seed: int, n_plots: int,
                trees_per_plot: int) -> dict[str, int]:
    """Write the CSVs into ``out_dir``; returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for table, (cols, rows) in build_rows(seed, n_plots, trees_per_plot).items():
        with open(os.path.join(out_dir, f"{STATE}_{table}.csv"), "w",
                  newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            for r in rows:
                w.writerow([_cell(r[c]) for c in cols])
        sizes[table] = len(rows)
    return sizes
