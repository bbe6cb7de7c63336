"""DuckDB twin of the NSVB carbon estimation over a synthetic tree panel.

Extends the annualization twin (:mod:`.fia_on_synthetic`) with the SQL twin
of the full carbon chain (:mod:`.carbon`: ``prep_carbon → estimate_carbon →
predict_crm2``); the Spark sides of q26/q27/q28/q52 live in
:mod:`.queries.fia` and this module imports none of the code it checks.
The synthetic panel deliberately exercises:

- all three coefficient-resolution levels: SPCD 316 ("316 230" division
  rows), 131 (SPCD-level rows + the planted "1_131" override when
  STDORGCD = 1), 6135 (JENKINS-level fallback only);
- the woodland exclusion (SPCD 475, JENKINS_SPGRPCD = 10);
- ecoregion decode + crown-proportion fallback: ECOSUBCD '232Aa' (province
  232, in median_crprop), 'M221Ab' (M221), and '999A' (province 999 →
  UNDEFINED fallback, and SPCD_DIVISION "xxx 990" → coef fallback levels);
- broken tops (ACTUALHT < HT), saplings (DIA < 5), standing/fallen dead,
  sawlog DBH thresholds (softwood 131 at 9", hardwoods at 11").

The DuckDB oracle replicates every stage in generated SQL — including the
three-level coefficient precedence joins and a 48-iteration bisection for
HT4/HTSAW that is arithmetic-identical to the engine's vectorized pandas-UDF
bisection — so the whole NSVB DAG is value-hash-gated against an independent
engine.
"""

from __future__ import annotations

import csv
import os

from foresttime_builder_spark.functions.encoding import fixed_sql
from foresttime_builder_spark.functions.nsvb import BISECT_ITERS
from foresttime_builder_spark.plans.fia_on_synthetic import (
    PANEL_TEMPLATE,
    annualize_cte,
)
from foresttime_builder_spark.sources.ref_tables import COEF_NAMES

_RES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "resources"
)

# ---------------------------------------------------------------------------
# panel: the annualize twin's template with the carbon species/ecoregion mix
# ---------------------------------------------------------------------------

_CPANEL_SQL = PANEL_TEMPLATE.format(
    dia_div=60000,
    ht_div=9000,
    stdorgcd="CAST(CASE WHEN ck % 13 = 0 THEN 1 ELSE 0 END AS INT)",
    spcd="""CASE WHEN ck % 5 = 0 THEN 475
           WHEN ck % 5 = 1 THEN 131
           WHEN ck % 5 = 2 THEN 6135
           ELSE 316 END""",
    ecosubcd="""CASE WHEN ck % 4 = 0 THEN 'M221Ab'
           WHEN ck % 9 = 0 THEN '999A'
           ELSE '232Aa' END""",
)

_JCASE = (
    "CASE WHEN SPCD = 475 THEN 10 WHEN SPCD = 6135 THEN 8 "
    "WHEN SPCD = 131 THEN 4 ELSE 7 END"
)

# ---------------------------------------------------------------------------
# DuckDB oracle generation
# ---------------------------------------------------------------------------


def _rif(cond: str, yes: str, no: str) -> str:
    """R if_else / base ifelse: null condition yields null."""
    return f"CASE WHEN {cond} THEN {yes} WHEN NOT ({cond}) THEN {no} ELSE NULL END"


def _read_csv(path: str, types: dict[str, str] | None = None) -> str:
    """DuckDB read_csv with explicit key types: the sniffer would otherwise
    read the planted-pine key "1_131" as BIGINT 1131 (underscore digit
    separator)."""
    t = ""
    if types:
        spec = ", ".join(f"'{k}': '{v}'" for k, v in types.items())
        t = f", types={{{spec}}}"
    return f"read_csv('{path}', header=true, nullstr=['NA', '']{t})"


_KEY_TYPES = {"SPCD_DIVISION": "VARCHAR", "SPCD": "VARCHAR", "JENKINS_SPGRPCD": "INTEGER"}


def _coef_cols(table: str) -> list[str]:
    with open(os.path.join(_RES, "coefs", f"{table}_coefs.csv")) as f:
        head = next(csv.reader(f))
    return [c for c in head if c not in ("SPCD_DIVISION", "SPCD", "JENKINS_SPGRPCD")]


def _coef_level_ctes(table: str, p: str) -> tuple[str, list[str]]:
    """CTEs ``{p}_l1/2/3``: one coef table sliced per resolution level with
    explicit casts (mirrors one level of ``nsvb.level_dims``)."""
    cols = _coef_cols(table)
    path = os.path.join(_RES, "coefs", f"{table}_coefs.csv")
    casts = ", ".join(f"CAST({c} AS DOUBLE) AS {c}" for c in cols)
    ctes = []
    for i, (lv, keycast) in enumerate(
        [("SPCD_DIVISION", "VARCHAR"), ("SPCD", "VARCHAR"), ("JENKINS_SPGRPCD", "INT")],
        start=1,
    ):
        ctes.append(
            f"{p}_l{i} AS (SELECT CAST({lv} AS {keycast}) AS key, {casts}\n"
            f"  FROM {_read_csv(path, _KEY_TYPES)} WHERE {lv} IS NOT NULL)"
        )
    return ",\n".join(ctes), cols


def _pair_level_ctes(t1: str, t2: str, p: str) -> tuple[str, list[str]]:
    """Per-level inner join of two coef tables (the pair merge inside
    ``nsvb.level_dims``)."""
    c1, cols1 = _coef_level_ctes(t1, f"{p}a")
    c2, cols2 = _coef_level_ctes(t2, f"{p}b")
    cols2_only = [c for c in cols2 if c not in cols1 or True]
    keep2 = [c for c in cols2 if c not in cols1]
    merged = []
    for i in (1, 2, 3):
        sel2 = "".join(f", b.{c}" for c in keep2)
        merged.append(
            f"{p}_l{i} AS (SELECT a.*{sel2} FROM {p}a_l{i} a "
            f"JOIN {p}b_l{i} b USING (key))"
        )
    all_cols = cols1 + keep2
    return c1 + ",\n" + c2 + ",\n" + ",\n".join(merged), all_cols


def _resolve_cte(p: str, cols: list[str], src: str, out: str) -> str:
    """Three-level precedence join (``nsvb.join_coef_dims`` +
    ``nsvb.coef_pick_layer``): adds
    ``{p}_level`` and ``{p}_{coef}`` columns."""
    picks = [
        "CASE WHEN l1.key IS NOT NULL THEN 1 WHEN l2.key IS NOT NULL THEN 2 "
        f"WHEN l3.key IS NOT NULL THEN 3 END AS {p}_level"
    ]
    for c in cols:
        picks.append(
            f"CASE WHEN l1.key IS NOT NULL THEN l1.{c} "
            f"WHEN l2.key IS NOT NULL THEN l2.{c} "
            f"WHEN l3.key IS NOT NULL THEN l3.{c} END AS {p}_{c}"
        )
    sel = ",\n    ".join(picks)
    return f"""{out} AS (
  SELECT d.*,
    {sel}
  FROM {src} d
  LEFT JOIN {p}_l1 l1 ON d.SPCD_DIVISION = l1.key
  LEFT JOIN {p}_l2 l2 ON d.SPCD = l2.key
  LEFT JOIN {p}_l3 l3 ON d.JENKINS_SPGRPCD = l3.key
)"""


_EQ_REQUIRES = {
    "3": {"a", "b", "c"},
    "4": {"a0", "b0", "b1", "c"},
    "5": {"a", "a1", "b1", "c1", "c"},
    "50": {"a", "b", "c", "b2"},
    "3.1": {"a", "b", "c"},
}


def _eq_dispatch(p: str, cols: list[str], eq: str | None = None) -> str:
    """Equation-form dispatch (mirrors ``nsvb.equation_sql``); branches are
    emitted only for forms whose coefficients the table carries."""
    eq = eq or f"{p}_equation"
    a, a0, a1 = f"{p}_a", f"{p}_a0", f"{p}_a1"
    b, b0, b1, b2 = f"{p}_b", f"{p}_b0", f"{p}_b1", f"{p}_b2"
    c, c1 = f"{p}_c", f"{p}_c1"
    e4 = _rif(
        "DBH < k",
        f"{a0} * pow(DBH, {b0}) * pow(THT, {c})",
        f"{a0} * pow(k, {b0} - {b1}) * pow(DBH, {b1}) * pow(THT, {c})",
    )
    bodies = {
        "3": f"{a} * pow(DBH, {b}) * pow(THT, {c})",
        "4": e4,
        "5": f"{a} * pow(DBH, {a1} * pow(1 - exp(-{b1} * DBH), {c1})) * pow(THT, {c})",
        "50": f"{a} * pow(DBH, {b}) * pow(THT, {c}) * exp(-({b2} * DBH))",
        "3.1": f"{a} * pow(DBH, {b}) * pow(THT, {c}) * WDSG",
    }
    avail = set(cols)
    branches = "\n    ".join(
        f"WHEN {eq} = {eid} THEN {body}"
        for eid, body in bodies.items()
        if _EQ_REQUIRES[eid] <= avail
    )
    return f"""CASE
    {branches}
  END"""


def _find_vol(hl: str, hu: str, vtot: str) -> str:
    """``nsvb.find_vol_sql`` with identical association."""
    return (
        f"pow(1 - pow(1 - {hu} / THT, rib_alpha), rib_beta) * {vtot}"
        f" - pow(1 - pow(1 - {hl} / THT, rib_alpha), rib_beta) * {vtot}"
    )


def _bisect_ctes(src: str, out: str) -> str:
    """48-iteration bisection for HT4 (dlim 4) and HTSAW (dlim saw),
    arithmetic-identical to ``nsvb._bisect_ht``."""
    parts = [
        f"""bz0 AS (
  SELECT *,
    mh_a * pow(DBH, mh_b) * pow(THT, mh_c) / 0.005454154 / THT * mh_alpha * mh_beta AS bK,
    4.0 * 4.0 AS bd4, saw * saw AS bdS,
    CAST(0.0 AS DOUBLE) AS lo4, coalesce(THT, 0.0) AS hi4,
    CAST(0.0 AS DOUBLE) AS loS, coalesce(THT, 0.0) AS hiS
  FROM {src}
)"""
    ]
    q = (
        "bK * pow(1 - {m} / THT, mh_alpha - 1)"
        " * pow(1 - pow(1 - {m} / THT, mh_alpha), mh_beta - 1)"
    )
    for i in range(1, BISECT_ITERS + 1):
        parts.append(
            f"""bm{i} AS (
  SELECT *, (lo4 + hi4) * 0.5 AS m4, (loS + hiS) * 0.5 AS mS,
    {q.format(m='((lo4 + hi4) * 0.5)')} AS q4,
    {q.format(m='((loS + hiS) * 0.5)')} AS qS
  FROM bz{i - 1}
),
bz{i} AS (
  SELECT * EXCLUDE (lo4, hi4, loS, hiS, m4, mS, q4, qS),
    CASE WHEN q4 > bd4 THEN m4 ELSE lo4 END AS lo4,
    CASE WHEN q4 > bd4 THEN hi4 ELSE m4 END AS hi4,
    CASE WHEN qS > bdS THEN mS ELSE loS END AS loS,
    CASE WHEN qS > bdS THEN hiS ELSE mS END AS hiS
  FROM bm{i}
)"""
        )
    n = BISECT_ITERS
    guard = "DBH IS NULL OR DBH < 5.0 OR THT IS NULL OR bK IS NULL"
    parts.append(
        f"""{out} AS (
  SELECT * EXCLUDE (lo4, hi4, loS, hiS, bK, bd4, bdS),
    CASE WHEN {guard} THEN NULL
         ELSE greatest((lo4 + hi4) * 0.5, 5.0) END AS HT4,
    CASE WHEN {guard} THEN NULL
         ELSE greatest((loS + hiS) * 0.5, 5.0) END AS HTSAW
  FROM bz{n}
)"""
    )
    return ",\n".join(parts)


def carbon_cte(
    panel_sql: str | None = None,
    jcase: str | None = None,
    use_mortyr: bool = True,
) -> str:
    """The full panel → annualize → NSVB-estimate oracle chain as a CTE
    string ending with ``carbonout`` (keyed plot_ID/tree_ID/YEAR with every
    estimated response) — reused by the population-scaling oracles and the
    end-to-end state-pipeline gate (q51), which passes its own panel SQL,
    species→Jenkins mapping, and mortality variant."""
    return _chain(panel_sql, jcase, use_mortyr)


def _oracle() -> str:
    return "WITH " + _chain() + "\n" + _final_select()


def _chain(
    panel_sql: str | None = None,
    jcase: str | None = None,
    use_mortyr: bool = True,
) -> str:
    ann = annualize_cte(
        panel_sql if panel_sql is not None else _CPANEL_SQL,
        jcase if jcase is not None else _JCASE,
        use_mortyr=use_mortyr,
    )

    refsp = f"""refsp AS (
  SELECT CAST(SPCD AS INT) AS SPCD, CAST(JENKINS_SPGRPCD AS INT) AS JENKINS_SPGRPCD,
         SFTWD_HRDWD, CAST(CARBON_RATIO_LIVE AS DOUBLE) AS CARBON_RATIO_LIVE,
         CAST(WOOD_SPGR_GREENVOL_DRYWT AS DOUBLE) AS WDSG
  FROM {_read_csv(os.path.join(_RES, 'REF_SPECIES.csv'))}
),
decayp AS (
  SELECT SFTWD_HRDWD, CAST(DECAYCD AS INT) AS DECAYCD,
         CAST(DENSITY_PROP AS DOUBLE) AS DENSITY_PROP,
         CAST(BARK_LOSS_PROP AS DOUBLE) AS BARK_LOSS_PROP,
         CAST(BRANCH_LOSS_PROP AS DOUBLE) AS BRANCH_LOSS_PROP
  FROM {_read_csv(os.path.join(_RES, 'REF_TREE_DECAY_PROP.csv'))}
),
cullr AS (
  SELECT SFTWD_HRDWD, DENSITY_PROP AS CULL_DECAY_RATIO0 FROM decayp WHERE DECAYCD = 3
),
cdr AS (
  SELECT SFTWD_HRDWD, CAST(DECAYCD AS INT) AS DECAYCD,
         CAST(CARBON_RATIO AS DOUBLE) AS CARBON_RATIO
  FROM {_read_csv(os.path.join(_RES, 'REF_TREE_CARBON_RATIO_DEAD.csv'))}
),
crp AS (
  SELECT Province, CASE WHEN hwd_yn = 'N' THEN 'S' ELSE 'H' END AS SFTWD_HRDWD,
         CAST(CRmn AS DOUBLE) AS CRmn
  FROM {_read_csv(os.path.join(_RES, 'median_crprop.csv'))}
)"""

    live = "STATUSCD = 1"
    prov = (
        "CASE WHEN length(trim(ECOSUBCD)) = 0 THEN '' "
        "WHEN length(trim(ECOSUBCD)) = 4 THEN substr(trim(ECOSUBCD), 1, 3) "
        "WHEN length(trim(ECOSUBCD)) = 7 THEN substr(trim(ECOSUBCD), 1, length(trim(ECOSUBCD)) - 3) "
        "ELSE substr(trim(ECOSUBCD), 1, length(trim(ECOSUBCD)) - 2) END"
    )
    prep = f"""prep0 AS (
  SELECT f.*, r.JENKINS_SPGRPCD, r.SFTWD_HRDWD, r.CARBON_RATIO_LIVE, r.WDSG,
         cr.CULL_DECAY_RATIO0, dp.DENSITY_PROP, dp.BARK_LOSS_PROP,
         dp.BRANCH_LOSS_PROP, cd.CARBON_RATIO
  FROM final f
  LEFT JOIN refsp r ON f.SPCD = r.SPCD
  LEFT JOIN cullr cr ON r.SFTWD_HRDWD = cr.SFTWD_HRDWD
  LEFT JOIN decayp dp ON f.DECAYCD = dp.DECAYCD AND r.SFTWD_HRDWD = dp.SFTWD_HRDWD
  LEFT JOIN cdr cd ON f.DECAYCD = cd.DECAYCD AND r.SFTWD_HRDWD = cd.SFTWD_HRDWD
),
prep1 AS (
  SELECT *,
    {_rif(live, 'CULL_DECAY_RATIO0', '1.0')} AS CULL_DECAY_RATIO,
    {_rif(live, '1.0', 'DENSITY_PROP')} AS DECAY_WD,
    {_rif(live, '1.0', 'BARK_LOSS_PROP')} AS DECAY_BK,
    {_rif(live, '1.0', 'BRANCH_LOSS_PROP')} AS DECAY_BR,
    {_rif(live, 'CARBON_RATIO_LIVE * 100', 'CARBON_RATIO * 100')} AS C_FRAC,
    {prov} AS PROVINCE
  FROM prep0
),
prep AS (
  SELECT * REPLACE (
    {_rif(live, '0', 'STANDING_DEAD_CD')} AS STANDING_DEAD_CD,
    {_rif(live, '0', 'DECAYCD')} AS DECAYCD,
    coalesce(CULL, 0.0) AS CULL),
    CASE WHEN length(PROVINCE) != 0
         THEN substr(PROVINCE, 1, length(PROVINCE) - 1) || '0' ELSE '' END
      AS DIVISION
  FROM prep1
)"""

    elig = f"""elig0 AS (
  SELECT p.*,
    coalesce(c.CRmn,
      CASE WHEN p.SFTWD_HRDWD = 'S'
           THEN (SELECT CRmn FROM crp WHERE Province = 'UNDEFINED' AND SFTWD_HRDWD = 'S')
           WHEN p.SFTWD_HRDWD = 'H'
           THEN (SELECT CRmn FROM crp WHERE Province = 'UNDEFINED' AND SFTWD_HRDWD = 'H')
      END) AS CRmn,
    NOT (p.HT = p.ACTUALHT) AS BROKEN_TOP
  FROM prep p
  LEFT JOIN crp c ON p.SFTWD_HRDWD = c.SFTWD_HRDWD AND p.PROVINCE = c.Province
  WHERE p.JENKINS_SPGRPCD < 10 AND p.HT IS NOT NULL
),
elig1 AS (
  SELECT * REPLACE (
    {_rif('CR IS NULL AND STATUSCD = 1', '0.0', 'CR')} AS CR,
    coalesce(STDORGCD, 0) AS STDORGCD)
  FROM elig0
),
elig2 AS (
  SELECT * REPLACE (
    CASE WHEN SPCD IN (111, 131) AND STDORGCD = 1
         THEN '1_' || CAST(SPCD AS STRING) ELSE CAST(SPCD AS STRING) END AS SPCD,
    coalesce(CULL, 0.0) AS CULL)
  FROM elig1
),
elig AS (
  SELECT *,
    SPCD || ' ' || DIVISION AS SPCD_DIVISION,
    CAST(regexp_replace(SPCD, '^1_', '') AS DOUBLE) AS SPCD_NUMERIC,
    CASE WHEN CAST(regexp_replace(SPCD, '^1_', '') AS DOUBLE) < 300
         THEN 9.0 ELSE 11.0 END AS k,
    CASE WHEN CAST(regexp_replace(SPCD, '^1_', '') AS DOUBLE) < 300
         THEN 7.0 ELSE 9.0 END AS saw,
    DIA AS DBH, HT AS THT
  FROM elig2
)"""

    # coefficient tables + resolutions
    coef_ctes, resolves = [], []
    cols_by: dict[str, list[str]] = {}
    src = "elig"
    for table, p in (("volib", "vib"), ("volbk", "vbk")):
        cte, cols = _coef_level_ctes(table, p)
        coef_ctes.append(cte)
        cols_by[p] = cols
        out = f"r_{p}"
        resolves.append(_resolve_cte(p, cols, src, out))
        src = out
    pair_cte, pair_cols = _pair_level_ctes("rcumob", "volob", "mh")
    coef_ctes.append(pair_cte)
    cols_by["mh"] = pair_cols
    resolves.append(_resolve_cte("mh", pair_cols, src, "r_mh"))
    src = "r_mh"
    cte, cols = _coef_level_ctes("rcumib", "rib")
    coef_ctes.append(cte)
    cols_by["rib"] = cols
    resolves.append(_resolve_cte("rib", cols, src, "r_rib"))
    src = "r_rib"
    for table, p in (
        ("total_biomass", "tb"),
        ("bark_biomass", "bb"),
        ("branch_biomass", "br"),
        ("foliage", "fo"),
    ):
        cte, cols = _coef_level_ctes(table, p)
        coef_ctes.append(cte)
        cols_by[p] = cols
        out = f"r_{p}"
        resolves.append(_resolve_cte(p, cols, src, out))
        src = out

    gross = f"""gross0 AS (
  SELECT *,
    {_eq_dispatch('vib', cols_by['vib'])} AS VTOTIB_GROSS,
    {_eq_dispatch('vbk', cols_by['vbk'])} AS VTOTBK_GROSS
  FROM {src}
),
gross AS (
  SELECT *, VTOTIB_GROSS + VTOTBK_GROSS AS VTOTOB_GROSS FROM gross0
)"""

    bisect = _bisect_ctes("gross", "heights")

    vol1 = f"""vol0 AS (
  SELECT *,
    {_find_vol('1.0', 'HT4', 'VTOTIB_GROSS')} AS VMERIB_GROSS,
    {_find_vol('1.0', 'HT4', 'VTOTOB_GROSS')} AS VMEROB_GROSS,
    CASE WHEN DIA < 5.0 THEN NULL
         ELSE {_find_vol('0.0', '1.0', 'VTOTIB_GROSS')} END AS VSTPIB_GROSS,
    CASE WHEN DIA < 5.0 THEN NULL
         ELSE {_find_vol('0.0', '1.0', 'VTOTOB_GROSS')} END AS VSTPOB_GROSS,
    {_find_vol('1.0', 'HTSAW', 'VTOTIB_GROSS')} AS VSAWIB_GROSS,
    {_find_vol('1.0', 'HTSAW', 'VTOTOB_GROSS')} AS VSAWOB_GROSS,
    {_rif('ACTUALHT < THT',
          'pow(1 - pow(1 - ACTUALHT / THT, rib_alpha), rib_beta)', '1.0')}
      AS HT_RAT_ADJ
  FROM heights
),
vol1 AS (
  SELECT *,
    VMEROB_GROSS - VMERIB_GROSS AS VMERBK_GROSS,
    VSTPOB_GROSS - VSTPIB_GROSS AS VSTPBK_GROSS,
    VTOTIB_GROSS - VMERIB_GROSS - VSTPIB_GROSS AS VTOPIB_GROSS,
    VTOTOB_GROSS - VMEROB_GROSS - VSTPOB_GROSS AS VTOPOB_GROSS,
    VSAWOB_GROSS - VSAWIB_GROSS AS VSAWBK_GROSS
  FROM vol0
),
vol2 AS (
  SELECT *, VTOPOB_GROSS - VTOPIB_GROSS AS VTOPBK_GROSS FROM vol1
)"""

    present = f"""pres0 AS (
  SELECT *,
    VTOTIB_GROSS * HT_RAT_ADJ AS VTOTIB_PRESENT,
    VTOTBK_GROSS * HT_RAT_ADJ AS VTOTBK_PRESENT,
    {_rif('ACTUALHT < HT4',
          'VTOTIB_GROSS * HT_RAT_ADJ - VSTPIB_GROSS', 'VMERIB_GROSS')}
      AS VMERIB_PRESENT,
    {_rif('ACTUALHT < HT4',
          'VTOTBK_GROSS * HT_RAT_ADJ - VSTPBK_GROSS', 'VMERBK_GROSS')}
      AS VMERBK_PRESENT,
    {_rif('ACTUALHT < HTSAW',
          'VTOTIB_GROSS * HT_RAT_ADJ - VSTPIB_GROSS', 'VSAWIB_GROSS')}
      AS VSAWIB_PRESENT,
    {_rif('ACTUALHT < HTSAW',
          'VTOTBK_GROSS * HT_RAT_ADJ - VSTPBK_GROSS', 'VSAWBK_GROSS')}
      AS VSAWBK_PRESENT,
    VSTPIB_GROSS AS VSTPIB_PRESENT,
    VSTPBK_GROSS AS VSTPBK_PRESENT,
    VSTPOB_GROSS AS VSTPOB_PRESENT
  FROM vol2
),
pres1 AS (
  SELECT *,
    VTOTIB_PRESENT + VTOTBK_PRESENT AS VTOTOB_PRESENT,
    VMERIB_PRESENT + VMERBK_PRESENT AS VMEROB_PRESENT,
    VSAWIB_PRESENT + VSAWBK_PRESENT AS VSAWOB_PRESENT,
    CASE WHEN ACTUALHT < HT4 AND HT4 IS NOT NULL THEN 0.0
         ELSE VTOTIB_PRESENT - VMERIB_PRESENT - VSTPIB_PRESENT END
      AS VTOPIB_PRESENT,
    CASE WHEN ACTUALHT < HT4 AND HT4 IS NOT NULL THEN 0.0
         ELSE VTOTBK_PRESENT - VMERBK_PRESENT - VSTPBK_PRESENT END
      AS VTOPBK_PRESENT
  FROM pres0
),
pres AS (
  SELECT *,
    CASE WHEN ACTUALHT < HT4 AND HT4 IS NOT NULL THEN 0.0
         ELSE VTOPIB_PRESENT + VTOPBK_PRESENT END AS VTOPOB_PRESENT,
    {_rif('CULL < 99', '1 - CULL / 100', '0.0')} AS SND_WOOD_DECAY
  FROM pres1
)"""

    snd_cols = []
    for sec in ("VTOT", "VMER", "VSTP", "VTOP", "VSAW"):
        snd_cols.append(f"{sec}IB_PRESENT * SND_WOOD_DECAY AS {sec}IB_SOUND")
        snd_cols.append(f"{sec}BK_PRESENT * DECAY_BK AS {sec}BK_SOUND")
    snd_ob = ",\n    ".join(
        f"{sec}IB_SOUND + {sec}BK_SOUND AS {sec}OB_SOUND"
        for sec in ("VTOT", "VMER", "VSTP", "VTOP", "VSAW")
    )
    below_saw = (
        "((SFTWD_HRDWD = 'S' AND DBH < 9.0) OR (SFTWD_HRDWD = 'H' AND DBH < 11.0))"
        " AND DBH IS NOT NULL"
    )
    saw_nulls = ",\n    ".join(
        f"CASE WHEN {below_saw} THEN NULL ELSE VSAW{x}_{y} END AS VSAW{x}_{y}"
        for x in ("IB", "OB", "BK")
        for y in ("GROSS", "PRESENT", "SOUND")
    )
    saw_repl = ",\n    ".join(
        f"CASE WHEN {below_saw} THEN NULL ELSE VSAW{x}_{y} END AS VSAW{x}_{y}"
        for x in ("IB", "OB", "BK")
        for y in ("GROSS", "PRESENT", "SOUND")
    )
    snd_sel = ",\n    ".join(snd_cols)
    sound = f"""snd0 AS (
  SELECT *,
    {snd_sel}
  FROM pres
),
snd1 AS (
  SELECT *,
    {snd_ob}
  FROM snd0
),
snd AS (
  SELECT * REPLACE (
    {saw_repl}
  ) FROM snd1
)"""

    tb_eq = f"CASE WHEN tb_level = 3 THEN 3.1 ELSE tb_equation END"
    br_eq = f"CASE WHEN br_level = 3 THEN 3.1 ELSE br_equation END"
    biomass = f"""bio0 AS (
  SELECT *,
    {_eq_dispatch('tb', cols_by['tb'], tb_eq)} AS Total,
    {_eq_dispatch('bb', cols_by['bb'])} AS Bark,
    {_eq_dispatch('br', cols_by['br'], br_eq)} AS Branch,
    {_eq_dispatch('fo', cols_by['fo'])} AS FOLIAGE_PRED,
    VTOTIB_GROSS * WDSG * 62.4 AS Wood
  FROM snd
)"""

    reductions = f"""red0 AS (
  SELECT *,
    {_rif('STANDING_DEAD_CD < 1',
          '1 - (1 - CULL_DECAY_RATIO) * CULL / 100', '1.0')} AS CULL_REDUCTION,
    CASE WHEN CR IS NULL THEN NULL ELSE greatest(CR, 1.0) END AS CRX
  FROM bio0
),
red1 AS (
  SELECT *,
    HT_RAT_ADJ * CULL_REDUCTION * DECAY_WD AS WOOD_REDUCTION,
    HT_RAT_ADJ * DECAY_BK * DECAY_WD AS BARK_REDUCTION,
    {_rif('STANDING_DEAD_CD = 1', 'CRmn / 100',
          '1 - ACTUALHT / THT * (1 - CRX / 100)')} AS CRprop_HT
  FROM red0
),
red2 AS (
  SELECT *,
    CASE WHEN (ACTUALHT - (1 - CRprop_HT) * THT) / nullif(CRprop_HT * THT, 0.0)
              IS NULL THEN NULL
         ELSE greatest((ACTUALHT - (1 - CRprop_HT) * THT)
                       / nullif(CRprop_HT * THT, 0.0), 0.0) END AS bcp0
  FROM red1
),
red3 AS (
  SELECT *,
    CASE WHEN NOT BROKEN_TOP THEN 1.0
         ELSE {_rif('bcp0 < 0.01', '0.0', 'bcp0')} END AS broken_crn_prop
  FROM red2
),
red AS (
  SELECT *,
    broken_crn_prop * DECAY_BR * DECAY_WD AS BRANCH_REDUCTION,
    {_rif('STANDING_DEAD_CD = 1', '0.0', 'broken_crn_prop')} AS FOLIAGE_REDUCTION
  FROM red3
)"""

    harmonize = f"""harm0 AS (
  SELECT *,
    Wood * WOOD_REDUCTION AS Wood_Reduced,
    Bark * BARK_REDUCTION AS Bark_Reduced,
    Branch * BRANCH_REDUCTION AS Branch_Reduced,
    FOLIAGE_PRED * FOLIAGE_REDUCTION AS Foliage_Reduced
  FROM red
),
harm1 AS (
  SELECT *,
    (Wood_Reduced + Bark_Reduced + Branch_Reduced)
      / nullif(Wood + Bark + Branch, 0.0) AS AGB_Reduction_Factor,
    Wood_Reduced + Bark_Reduced + Branch_Reduced AS TotalC
  FROM harm0
),
harm2 AS (
  SELECT *,
    Total * AGB_Reduction_Factor AS Total_Reduced
  FROM harm1
),
harm3 AS (
  SELECT *,
    Total_Reduced - TotalC AS Diff,
    Wood_Reduced / nullif(TotalC, 0.0) AS WoodR,
    Bark_Reduced / nullif(TotalC, 0.0) AS BarkR,
    Branch_Reduced / nullif(TotalC, 0.0) AS BranchR
  FROM harm2
),
harm AS (
  SELECT *,
    Diff * WoodR + Wood_Reduced AS WoodF,
    Diff * BarkR + Bark_Reduced AS BarkF,
    Diff * BranchR + Branch_Reduced AS BranchF
  FROM harm3
)"""

    weights = f"""wt0 AS (
  SELECT *,
    WoodF / nullif(VTOTIB_PRESENT, 0.0) / 62.4 AS WDSGAdj,
    BarkF / nullif(VTOTBK_PRESENT, 0.0) / 62.4 AS BKSGAdj
  FROM harm
),
wt1 AS (
  SELECT *,
    VMERIB_PRESENT * WDSGAdj * 62.4 AS WMERIB,
    VMERBK_PRESENT * BKSGAdj * 62.4 AS WMERBK,
    VSTPIB_PRESENT * WDSGAdj * 62.4 AS WSTPIB,
    VSTPBK_PRESENT * BKSGAdj * 62.4 AS WSTPBK,
    VTOPIB_PRESENT * WDSGAdj * 62.4 AS WTOPIB,
    VTOPBK_PRESENT * BKSGAdj * 62.4 AS WTOPBK,
    VSAWIB_PRESENT * WDSGAdj * 62.4 AS WSAWIB,
    VSAWBK_PRESENT * BKSGAdj * 62.4 AS WSAWBK,
    WoodF AS WTOTIB, BarkF AS WTOTBK, WoodF + BarkF AS WTOTOB,
    BranchF AS WTOTBCH,
    Foliage_Reduced AS FOLIAGE,
    Total_Reduced AS BIOMASS
  FROM wt0
),
wt AS (
  SELECT *,
    WMERIB + WMERBK AS WMEROB,
    WTOPIB + WTOPBK AS WTOPOB,
    BIOMASS * (C_FRAC / 100) AS CARBON
  FROM wt1
),
est AS (
  SELECT *,
    WTOTBCH + WTOPOB AS WMERBCH,
    BIOMASS + FOLIAGE AS AGB,
    CASE WHEN DBH < 5 THEN NULL ELSE VMERIB_SOUND END AS VMERIB_SOUND_F,
    CASE WHEN DBH < 5 THEN NULL ELSE VSAWIB_SOUND END AS VSAWIB_SOUND_F
  FROM wt
)"""

    out_sel = """carbonout AS (
  SELECT plot_ID, tree_ID, YEAR, SPCD AS spcd_est,
         HT4, HTSAW, VTOTIB_SOUND, VMEROB_SOUND, VSAWIB_SOUND_F AS VSAWIB_SOUND,
         WTOTIB, WMERBCH, FOLIAGE, AGB, BIOMASS, CARBON
  FROM est
)"""

    pieces = [
        ann, refsp, prep, elig,
        ",\n".join(coef_ctes), ",\n".join(resolves),
        gross, bisect, vol1, present, sound, biomass,
        reductions, harmonize, weights, out_sel,
    ]
    return ",\n".join(pieces)


def _final_select() -> str:
    return f"""SELECT f.tree_ID, f.YEAR,
  CAST(f.STATUSCD AS INT) AS statuscd,
  c.spcd_est AS spcd,
  {fixed_sql('f.DIA', 4)} AS dia_e4,
  {fixed_sql('f.HT', 4)} AS ht_e4,
  {fixed_sql('c.HT4', 4)} AS ht4_e4,
  {fixed_sql('c.HTSAW', 4)} AS htsaw_e4,
  {fixed_sql('c.VTOTIB_SOUND', 4)} AS vtotib_sound_e4,
  {fixed_sql('c.VMEROB_SOUND', 4)} AS vmerob_sound_e4,
  {fixed_sql('c.VSAWIB_SOUND', 4)} AS vsawib_sound_e4,
  {fixed_sql('c.WTOTIB', 4)} AS wtotib_e4,
  {fixed_sql('c.WMERBCH', 4)} AS wmerbch_e4,
  {fixed_sql('c.FOLIAGE', 4)} AS foliage_e4,
  {fixed_sql('c.AGB', 4)} AS agb_e4,
  {fixed_sql('c.BIOMASS', 4)} AS drybio_ag_e4,
  {fixed_sql('c.CARBON', 4)} AS carbon_ag_e4
FROM final f
LEFT JOIN carbonout c
  ON f.plot_ID = c.plot_ID AND f.tree_ID = c.tree_ID AND f.YEAR = c.YEAR"""


ORACLE_CARBON = _oracle()


# ---------------------------------------------------------------------------
# population scaling over the estimated panel (SURVEY §3.3) — q27/q28
# ---------------------------------------------------------------------------

_POP_AREA = 1_000_000.0


ORACLE_POPULATION_STRATIFIED = f"""WITH {_chain()},
annest AS (
  SELECT f.*, c.CARBON AS CARBON_AG
  FROM final f
  LEFT JOIN carbonout c
    ON f.plot_ID = c.plot_ID AND f.tree_ID = c.tree_ID AND f.YEAR = c.YEAR
),
plt AS (SELECT DISTINCT PLT_CN FROM annest),
assgn AS (
  SELECT PLT_CN,
    concat(split_part(PLT_CN, '_', 2), '_',
           CAST(CAST(split_part(PLT_CN, '_', 1) AS BIGINT) % 3 AS INT)) AS STRATUM_CN,
    CAST(CAST(split_part(PLT_CN, '_', 1) AS BIGINT) % 3 AS INT) AS h
  FROM plt
),
stratum AS (
  SELECT DISTINCT STRATUM_CN AS CN, 1000.0 * (1 + h) AS EXPNS,
         1.0 + h * 0.1 AS ADJ_FACTOR_SUBP
  FROM assgn
),
popdim AS (
  SELECT a.PLT_CN, s.EXPNS, s.ADJ_FACTOR_SUBP
  FROM assgn a JOIN stratum s ON a.STRATUM_CN = s.CN
),
d AS (
  SELECT a.*, m.EXPNS, m.ADJ_FACTOR_SUBP,
    CASE WHEN a.COND_STATUS_CD = 1 AND a.INTENSITY = 1 THEN 1.0 ELSE 0.0 END AS aDI,
    (CASE WHEN a.STATUSCD = 1 THEN 1.0 ELSE 0.0 END)
      * (CASE WHEN a.COND_STATUS_CD = 1 AND a.INTENSITY = 1 THEN 1.0 ELSE 0.0 END)
      AS tDI
  FROM annest a LEFT JOIN popdim m ON a.PLT_CN = m.PLT_CN
),
tree_tot AS (
  SELECT plot_ID, YEAR,
    sum(CASE WHEN isfinite(CARBON_AG) THEN CARBON_AG ELSE 0.0 END * coalesce(TPA_UNADJ, 0.0)
        * coalesce(ADJ_FACTOR_SUBP, 0.0) * coalesce(EXPNS, 0.0) * tDI / 2000.0)
      AS _plot_tons
  FROM d GROUP BY 1, 2
),
conds AS (
  SELECT DISTINCT plot_ID, YEAR, CONDID, CONDPROP_UNADJ, EXPNS,
         ADJ_FACTOR_SUBP, aDI
  FROM d
),
area_tot AS (
  SELECT plot_ID, YEAR,
    sum(coalesce(CONDPROP_UNADJ, 0.0) * coalesce(ADJ_FACTOR_SUBP, 0.0)
        * coalesce(EXPNS, 0.0) * aDI) AS _plot_area
  FROM conds GROUP BY 1, 2
),
yearly AS (
  SELECT t.YEAR, sum(t._plot_tons) AS total_tons, sum(a._plot_area) AS total_area
  FROM tree_tot t JOIN area_tot a ON t.plot_ID = a.plot_ID AND t.YEAR = a.YEAR
  GROUP BY 1
)
SELECT YEAR,
  {fixed_sql('total_tons', 2)} AS total_tons_e2,
  {fixed_sql('total_area', 2)} AS total_area_e2,
  {fixed_sql('total_tons / nullif(total_area, 0)', 6)}
    AS tons_per_acre_e6
FROM yearly
"""


ORACLE_POPULATION = f"""WITH {_chain()},
annest AS (
  SELECT f.*, c.CARBON AS CARBON_AG
  FROM final f
  LEFT JOIN carbonout c
    ON f.plot_ID = c.plot_ID AND f.tree_ID = c.tree_ID AND f.YEAR = c.YEAR
),
expns AS (
  SELECT YEAR, {_POP_AREA} / count(DISTINCT plot_ID) AS EXPNS
  FROM annest GROUP BY YEAR
),
d AS (
  SELECT a.*, e.EXPNS,
    CASE WHEN a.COND_STATUS_CD = 1 AND a.INTENSITY = 1 THEN 1.0 ELSE 0.0 END AS aDI,
    (CASE WHEN a.STATUSCD = 1 THEN 1.0 ELSE 0.0 END)
      * (CASE WHEN a.COND_STATUS_CD = 1 AND a.INTENSITY = 1 THEN 1.0 ELSE 0.0 END)
      AS tDI
  FROM annest a LEFT JOIN expns e ON a.YEAR = e.YEAR
),
tree_tot AS (
  SELECT plot_ID, YEAR,
    sum(CASE WHEN isfinite(CARBON_AG) THEN CARBON_AG ELSE 0.0 END * coalesce(TPA_UNADJ, 0.0) * EXPNS * tDI / 2000.0)
      AS _plot_tons
  FROM d GROUP BY 1, 2
),
conds AS (
  SELECT DISTINCT plot_ID, YEAR, CONDID, CONDPROP_UNADJ, EXPNS, aDI FROM d
),
area_tot AS (
  SELECT plot_ID, YEAR,
    sum(coalesce(CONDPROP_UNADJ, 0.0) * EXPNS * aDI) AS _plot_area
  FROM conds GROUP BY 1, 2
),
yearly AS (
  SELECT t.YEAR, sum(t._plot_tons) AS total_tons, sum(a._plot_area) AS total_area
  FROM tree_tot t JOIN area_tot a ON t.plot_ID = a.plot_ID AND t.YEAR = a.YEAR
  GROUP BY 1
)
SELECT YEAR,
  {fixed_sql('total_tons', 2)} AS total_tons_e2,
  {fixed_sql('total_area', 2)} AS total_area_e2,
  {fixed_sql('total_tons / nullif(total_area, 0)', 6)}
    AS tons_per_acre_e6
FROM yearly
"""


ORACLE_GRAIN_SWEEP = f"""WITH {_chain()},
annest AS (
  SELECT f.*, c.CARBON AS CARBON_AG
  FROM final f
  LEFT JOIN carbonout c
    ON f.plot_ID = c.plot_ID AND f.tree_ID = c.tree_ID AND f.YEAR = c.YEAR
),
d AS (
  SELECT *, CASE WHEN isfinite(CARBON_AG) THEN CARBON_AG ELSE 0.0 END * coalesce(TPA_UNADJ, 0.0) AS _wv
  FROM annest
)
SELECT CAST(SPCD AS INT) AS spcd, CAST(YEAR AS INT) AS year,
  concat_ws('|', CASE WHEN grouping(SPCD) = 0 THEN 'SPCD' END,
                 CASE WHEN grouping(YEAR) = 0 THEN 'YEAR' END) AS grain,
  {fixed_sql('sum(_wv)', 2)} AS weighted_value_e2,
  count(*) AS n_rows
FROM d
GROUP BY GROUPING SETS ((SPCD), (YEAR), (SPCD, YEAR), ())
"""
