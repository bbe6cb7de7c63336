"""NSVB (National Scale Volume & Biomass) estimation primitives, Spark-first.

The reference evaluates the NSVB equation system (Westfall et al. 2024) with
per-equation ``eval(parse())`` over row splits and ~14 merge-by-ID passes
(reference ``R/predictCRM2.R``).  Here the same math is generated as SQL
text that ``plans/carbon.py`` folds into one ``apply_layers`` statement, so
the whole stage compiles into one WholeStageCodegen span:

- coefficient resolution (reference ``applyAllLevels``/``combineLevels2``,
  ``R/predictCRM2.R:628-721``): :func:`join_coef_dims` — three broadcast
  left joins (SPCD_DIVISION → SPCD → JENKINS_SPGRPCD) — then the
  matched-level pick of :func:`coef_pick_layer`, instead of row-splitting
  and rbind;
- equation forms (``data-raw/equation_forms_and_calls.csv`` + the two forms
  appended in ``R/estimate_carbon.R:64-72``): :func:`equation_sql`, one
  ``CASE`` on the equation id — no runtime eval;
- ``findVol`` (``R/predictCRM2.R:767-785``): :func:`find_vol_sql`,
  closed-form column algebra;
- ``findHT`` (``R/predictCRM2.R:729-765``): the reference runs a per-row
  ``stats::optimise``; here :func:`find_ht_sql` calls a 48-iteration
  vectorized bisection in an Arrow-batched pandas UDF (the profile
  ``pd(h)`` decreases monotonically in ``h`` for the NSVB rcum coefficient
  ranges — alpha > 1, beta < 1 — so the bisection converges to the same
  root, to ~1e-12 ft instead of optimise's ~1e-4 tolerance).

Scale notes: every coefficient table is tiny (≤ 424 rows) and explicitly
broadcast, so resolution adds no shuffle at any data scale; the single
pandas UDF is applied only to the merchantability subset (DBH >= 5) and is
the one deliberate exit from codegen in the whole carbon stage.
"""

from __future__ import annotations

import csv
import os
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from foresttime_builder_spark.sources import ref_tables

#: all coefficient columns that may appear in a coef table
#: (reference ``applyAllLevels``'s ``ccs``, ``R/predictCRM2.R:633-646``)
COEF_COLS = ("a", "a0", "a1", "alpha", "beta", "b", "b0", "b1", "b2", "c", "c1", "equation")

#: resolution precedence, finest first (``R/predictCRM2.R:38``)
LEVELS = ("SPCD_DIVISION", "SPCD", "JENKINS_SPGRPCD")

BISECT_ITERS = 48


# ---------------------------------------------------------------------------
# driver-side coefficient-dimension build
# ---------------------------------------------------------------------------
#
# The coefficient tables are static package CSVs (≤ 424 rows).  Slicing and
# pre-merging them per precedence level is pure dimension preparation, so it
# runs driver-side in plain python:
#
# - one broadcast join per level, against a pre-merged level dim;
# - the reference's (rcumob ⋈ volob) pair for HT4/HTSAW (``myMerge``,
#   ``R/predictCRM2.R:723-727``) becomes a python dict merge;
# - resolution no longer needs a distinct-key-space subplan, which at
#   execution time re-ran the entire upstream pipeline to feed the broadcast.
#
# Each level dim carries, per coef source, a ``_has`` presence flag: a key
# can match (say) volib at SPCD_DIVISION level but bark_biomass only at the
# JENKINS level, so finest-level-wins must be decided per source, per row.

#: prefix → the coef table(s) backing it; pairs are inner-merged per level
COEF_SOURCES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("vib", ("volib",)),
    ("vbk", ("volbk",)),
    ("mh", ("rcumob", "volob")),
    ("rib", ("rcumib",)),
    ("tb", ("total_biomass",)),
    ("bb", ("bark_biomass",)),
    ("br", ("branch_biomass",)),
    ("fo", ("foliage",)),
)

_COEF_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "resources", "coefs"
)


@lru_cache(maxsize=None)
def _coef_table_py(name: str) -> tuple[tuple[str, ...], dict[str, dict]]:
    """One coef CSV parsed to ``(coef_cols, {level: {key: values_tuple}})``."""
    with open(os.path.join(_COEF_DIR, f"{name}_coefs.csv"), newline="") as f:
        rows = list(csv.DictReader(f))
    cols = tuple(c for c in COEF_COLS if c in rows[0])
    levels: dict[str, dict] = {}
    for lv in LEVELS:
        m: dict = {}
        for r in rows:
            k = r.get(lv)
            if k in (None, "", "NA"):
                continue
            if lv == "JENKINS_SPGRPCD":
                k = int(float(k))
            m[k] = tuple(
                None if r[c] in ("", "NA") else float(r[c]) for c in cols
            )
        levels[lv] = m
    return cols, levels


@lru_cache(maxsize=None)
def _source_slice(names: tuple[str, ...], lv: str) -> tuple[tuple[str, ...], dict]:
    """The level-``lv`` slice of one coef source; pairs are inner-joined on
    the level key with the second table's novel columns appended."""
    if len(names) == 1:
        cols, levels = _coef_table_py(names[0])
        return cols, levels[lv]
    c1, l1 = _coef_table_py(names[0])
    c2, l2 = _coef_table_py(names[1])
    extra = tuple(c for c in c2 if c not in c1)
    idx = [c2.index(c) for c in extra]
    merged = {
        k: v1 + tuple(l2[lv][k][i] for i in idx)
        for k, v1 in l1[lv].items()
        if k in l2[lv]
    }
    return c1 + extra, merged


def prefix_cols() -> dict[str, tuple[str, ...]]:
    """Coefficient columns attached per prefix."""
    return {p: _source_slice(names, LEVELS[0])[0] for p, names in COEF_SOURCES}


def level_dims(spark) -> list[DataFrame]:
    """The three per-level coefficient dims as broadcastable DataFrames,
    memoized per session (columns ``_l{i}_key``, ``_l{i}_{prefix}_has``,
    ``_l{i}_{prefix}_{coef}``)."""

    def build() -> list[DataFrame]:
        dims = []
        for i, lv in enumerate(LEVELS, start=1):
            slices = [
                (p, *_source_slice(names, lv)) for p, names in COEF_SOURCES
            ]
            keys = sorted({k for _, _, m in slices for k in m})
            rows = []
            for k in keys:
                row: list = [k]
                for _, cols, m in slices:
                    v = m.get(k)
                    row.append(v is not None)
                    row.extend(v if v is not None else (None,) * len(cols))
                rows.append(tuple(row))
            spec = [
                (f"_l{i}_key", "int" if lv == "JENKINS_SPGRPCD" else "string")
            ]
            for p, cols, _ in slices:
                spec.append((f"_l{i}_{p}_has", "boolean"))
                spec.extend((f"_l{i}_{p}_{c}", "double") for c in cols)
            dims.append(ref_tables.values_df(spark, rows, tuple(spec)))
        return dims

    return ref_tables.cached(spark, "_nsvb_level_dims", build)


def join_coef_dims(d: DataFrame) -> DataFrame:
    """Three broadcast left joins attaching the raw per-level dim columns
    (``_l{i}_*``); :func:`coef_pick_layer` then picks finest-level-wins."""
    dims = level_dims(d.sparkSession)
    for i, (lv, dim) in enumerate(zip(LEVELS, dims), start=1):
        key = F.col(lv).cast("int" if lv == "JENKINS_SPGRPCD" else "string")
        d = d.join(F.broadcast(dim), key == F.col(f"_l{i}_key"), "left")
    return d


def coef_pick_layer() -> tuple[dict[str, str], list[str]]:
    """The finest-level-wins resolution as one SQL projection layer
    (reference ``applyAllLevels``/``combineLevels2``,
    ``R/predictCRM2.R:628-721``): returns ``({name: sql_expr}, drop_list)``
    where the drop list removes every raw ``_l{i}_*`` column.
    ``{prefix}_level`` is null when no level matched; the reference *drops*
    such rows via its inner merge-by-ID, which is equivalent because every
    downstream value derives from the resolved coefficients and nulls
    propagate."""
    new_cols: dict[str, str] = {}
    drops: list[str] = [f"_l{i}_key" for i in (1, 2, 3)]
    for p, cols in prefix_cols().items():
        has = [f"_l{i}_{p}_has" for i in (1, 2, 3)]
        drops += has
        new_cols[f"{p}_level"] = (
            f"CASE WHEN {has[0]} THEN 1 WHEN {has[1]} THEN 2 "
            f"WHEN {has[2]} THEN 3 END"
        )
        for c in cols:
            branches = " ".join(
                f"WHEN {has[i - 1]} THEN _l{i}_{p}_{c}" for i in (1, 2, 3)
            )
            new_cols[f"{p}_{c}"] = f"CASE {branches} END"
            drops += [f"_l{i}_{p}_{c}" for i in (1, 2, 3)]
    return new_cols, drops


#: coefficient columns each equation form reads (dispatch branches are only
#: emitted when the table actually carries them)
EQUATION_REQUIRES: dict[float, frozenset[str]] = {
    3: frozenset({"a", "b", "c"}),
    4: frozenset({"a0", "b0", "b1", "c"}),
    5: frozenset({"a", "a1", "b1", "c1", "c"}),
    50: frozenset({"a", "b", "c", "b2"}),
    3.1: frozenset({"a", "b", "c"}),
}


def rif_sql(cond: str, yes: str, no: str) -> str:
    """dplyr ``if_else`` with its NA-condition branch: a null ``cond``
    yields NULL, where a plain ``CASE WHEN cond`` would take the
    ``ELSE``."""
    return (
        f"CASE WHEN ({cond}) IS NULL THEN NULL "
        f"WHEN {cond} THEN {yes} ELSE {no} END"
    )


def equation_sql(
    prefix: str,
    equation: str | None = None,
    available: frozenset[str] | None = None,
) -> str:
    """The allometric prediction for one response as one CASE expression
    over the ``DBH``, ``THT``, ``WDSG`` and ``k`` columns:
    dispatch over equation ids 3 / 4 / 5 / 50 / 3.1 (forms from
    ``data-raw/equation_forms_and_calls.csv`` + ``R/estimate_carbon.R:64-72``;
    ids 7-14 and 6.1 are handled by :func:`find_ht_sql` /
    :func:`find_vol_sql` / the HT_RAT_ADJ algebra instead).

    ``available`` restricts the dispatch to forms whose coefficients the
    table actually carries (e.g. bark_biomass has no eq-5 columns).  Text
    rather than Column objects: the NSVB DAG has 6 responses over ~150
    derived columns, and each Column call is a JVM round trip."""
    a, a0, a1 = f"{prefix}_a", f"{prefix}_a0", f"{prefix}_a1"
    b, b0, b1 = f"{prefix}_b", f"{prefix}_b0", f"{prefix}_b1"
    b2, c, c1 = f"{prefix}_b2", f"{prefix}_c", f"{prefix}_c1"
    eq = equation if equation is not None else f"{prefix}_equation"
    dbh, tht, wdsg, k = "DBH", "THT", "WDSG", "k"

    forms = (
        (3, f"{a} * pow({dbh}, {b}) * pow({tht}, {c})"),
        (
            4,
            rif_sql(
                f"{dbh} < {k}",
                f"{a0} * pow({dbh}, {b0}) * pow({tht}, {c})",
                f"{a0} * pow({k}, {b0} - {b1}) * pow({dbh}, {b1}) * pow({tht}, {c})",
            ),
        ),
        (
            5,
            f"{a} * pow({dbh}, {a1} * pow(1 - exp(-({b1}) * {dbh}), {c1}))"
            f" * pow({tht}, {c})",
        ),
        (50, f"{a} * pow({dbh}, {b}) * pow({tht}, {c}) * exp(-({b2} * {dbh}))"),
        (3.1, f"{a} * pow({dbh}, {b}) * pow({tht}, {c}) * {wdsg}"),
    )
    branches = " ".join(
        f"WHEN ({eq}) = {eid}D THEN {form}"
        for eid, form in forms
        if available is None or EQUATION_REQUIRES[eid] <= available
    )
    return f"CASE {branches} END"


def find_vol_sql(alpha: str, beta: str, tht: str, hl: str, hu: str, vtot: str) -> str:
    """Stem-section volume between heights ``hl`` and ``hu`` via the
    cumulative-volume ratio ``(1-(1-h/H)^alpha)^beta`` (reference ``findVol``,
    ``R/predictCRM2.R:767-785``).  Association kept exactly as the reference
    (each ratio multiplied by the total before subtracting) for bit-parity
    with the SQL oracle."""
    vl = f"pow(1 - pow(1 - {hl} / {tht}, {alpha}), {beta}) * {vtot}"
    vu = f"pow(1 - pow(1 - {hu} / {tht}, {alpha}), {beta}) * {vtot}"
    return f"({vu}) - ({vl})"


def register_udfs(spark) -> None:
    """Register the bisection pandas UDF once per session so SQL-text plans
    can call it by name."""

    def build():
        spark.udf.register("nsvb_bisect_ht", _bisect_ht)
        return True

    ref_tables.cached(spark, "_nsvb_udfs", build)


def find_ht_sql(dlim: str) -> str:
    """Merchantable-height root find as SQL text: the height where the stem
    tapers to ``dlim`` inches, by the Arrow-batched numpy bisection
    :func:`_bisect_ht` (call :func:`register_udfs` first).  Numpy evaluates
    the 48 pow-heavy iterations vectorized, where a JVM ``aggregate`` fold
    is interpreted per element: measured q26 sf10 57-67 s vs 80 s."""
    args = ", ".join(
        f"CAST({x} AS DOUBLE)"
        for x in ("DBH", "THT", dlim, "mh_a", "mh_b", "mh_c", "mh_alpha", "mh_beta")
    )
    return f"nsvb_bisect_ht({args})"


@pandas_udf(DoubleType())
def _bisect_ht(
    dbh: pd.Series,
    tht: pd.Series,
    dlim: pd.Series,
    a: pd.Series,
    b: pd.Series,
    c: pd.Series,
    alpha: pd.Series,
    beta: pd.Series,
) -> pd.Series:
    """Height where stem diameter tapers to ``dlim`` inches: 48-iteration
    vectorized bisection of the NSVB diameter profile
    ``pd(h)^2 = K * (1-h/H)^(alpha-1) * (1-(1-h/H)^alpha)^(beta-1)`` with
    ``K = a*D^b*H^c / 0.005454154 / H * alpha * beta`` (reference ``findHT``'s
    objective, ``R/predictCRM2.R:737-751``).  ``pd`` falls from +inf at the
    butt to 0 at the tip, so the crossing is unique.  Saplings (D < 5) and
    rows with missing coefficients return null (reference :735)."""
    import numpy as np

    D = dbh.to_numpy(dtype="float64", na_value=np.nan)
    H = tht.to_numpy(dtype="float64", na_value=np.nan)
    d = dlim.to_numpy(dtype="float64", na_value=np.nan)
    A = a.to_numpy(dtype="float64", na_value=np.nan)
    B = b.to_numpy(dtype="float64", na_value=np.nan)
    C = c.to_numpy(dtype="float64", na_value=np.nan)
    AL = alpha.to_numpy(dtype="float64", na_value=np.nan)
    BE = beta.to_numpy(dtype="float64", na_value=np.nan)

    with np.errstate(all="ignore"):
        K = A * D**B * H**C / 0.005454154 / H * AL * BE
        d2 = d * d
        lo = np.zeros_like(H)
        hi = np.where(np.isnan(H), 0.0, H)
        for _ in range(BISECT_ITERS):
            mid = (lo + hi) * 0.5
            x = mid / H
            q = K * (1 - x) ** (AL - 1) * (1 - (1 - x) ** AL) ** (BE - 1)
            up = q > d2
            lo = np.where(up, mid, lo)
            hi = np.where(up, hi, mid)
        res = (lo + hi) * 0.5
        bad = (
            np.isnan(D)
            | (D < 5.0)
            | np.isnan(H)
            | np.isnan(d)
            | np.isnan(K)
        )
        res = np.where(bad, np.nan, res)
    return pd.Series(res)

