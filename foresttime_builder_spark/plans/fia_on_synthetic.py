"""DuckDB twin of the annualization pipeline over a synthetic tree panel.

Holds the synthetic panel's SQL text (:data:`PANEL_TEMPLATE`, which the
Spark side in :mod:`..queries.fia` runs too) and the generated SQL twin of
every stage of :mod:`foresttime_builder_spark.plans.fia`'s
``expand_data → interpolate_data → adjust_mortality``: sentinel swap,
dense-grid expansion, linear interpolation with extrapolation,
midpoint-switch interpolation, TPA band join, below-threshold ⇒
fallen-dead, and the full mortality-mask algebra — so the pipeline itself
is value-hash-gated, not just its component operators.  The module imports
none of the Spark code it checks.
"""

from __future__ import annotations

from foresttime_builder_spark.functions.encoding import fixed_sql

#: The synthetic panel both FIA twins read, derived from ``orders`` (tree =
#: customer, survey year = order year with punched gaps).  One text runs on
#: Spark (``spark.sql``) and inlines into the DuckDB oracle; the two panels
#: differ only in the five fields: DIA and HT divisors, STDORGCD, SPCD and
#: ECOSUBCD.
PANEL_TEMPLATE = """
  SELECT * FROM (
    WITH per AS (
      SELECT o_custkey AS ck, year(o_orderdate) AS yr,
             -- least(): bound the synthetic panel's physical domain.
             -- Clean-data base maxes at ~2.8e6 at every SF (measured), so
             -- 1e7 never touches real values; junk magnitudes (the fuzz
             -- corpus injects 1e8 prices) would otherwise drive DIA into
             -- the thousands of inches and the NSVB power laws to 1e100+,
             -- where Spark's floor->long SATURATES silently but DuckDB's
             -- CAST raises — a real cross-engine divergence this clamp
             -- keeps out of the equations' domain
             -- NULL-guarded: least() SKIPS NULL args in BOTH engines,
             -- so an all-NULL-price group's base would silently become
             -- the clamp maximum (a fake max-magnitude tree) instead of
             -- staying missing
             CASE WHEN sum(o_totalprice) IS NULL THEN NULL
                  ELSE least(floor(sum(o_totalprice) * 10000 + 0.5) / 10000,
                             10000000.0) END AS base
      -- Spark-only REPARTITION hint (comment to DuckDB): hash by ck
      -- before the aggregate so HashPartitioning(o_custkey) satisfies the
      -- (ck, yr) clustering AND the mx window's ck partitioning — the
      -- whole panel rides ONE exchange instead of two, and the post-agg
      -- stage keeps a healthy task count (r15 guide §2.4)
      FROM (SELECT /*+ REPARTITION(o_custkey) */ * FROM orders) orders
      GROUP BY 1, 2
      HAVING ((o_custkey + year(o_orderdate)) % 3) != 0
    ),
    mx AS (SELECT *, max(yr) OVER (PARTITION BY ck) AS max_yr FROM per)
    SELECT
      CAST(ck % 50 AS STRING) AS plot_ID,
      CAST(ck AS STRING) AS tree_ID,
      yr AS INVYR,
      concat(ck, '_', yr) AS PLT_CN,
      floor(base / {dia_div} * 10000 + 0.5) / 10000 AS DIA,
      floor(base / {ht_div} * 10000 + 0.5) / 10000 AS HT,
      CASE WHEN ck % 6 = 0 THEN floor(base / {ht_div} * 0.9 * 10000 + 0.5) / 10000
           ELSE floor(base / {ht_div} * 10000 + 0.5) / 10000 END AS ACTUALHT,
      CASE WHEN (ck + yr) % 5 = 0 THEN NULL
           ELSE CAST((ck * 7 + yr) % 80 AS DOUBLE) END AS CR,
      CASE WHEN (ck + yr) % 4 = 0 THEN NULL
           ELSE CAST((ck + yr) % 30 AS DOUBLE) END AS CULL,
      CASE WHEN ck % 7 = 0 AND yr = max_yr THEN 2 ELSE 1 END AS STATUSCD,
      CASE WHEN ck % 7 = 0 AND yr = max_yr THEN CAST(ck % 2 AS INT)
           ELSE NULL END AS STANDING_DEAD_CD,
      CASE WHEN ck % 7 = 0 AND yr = max_yr AND ck % 2 = 1
           THEN CAST(1 + ck % 5 AS INT) ELSE NULL END AS DECAYCD,
      CASE WHEN (ck + yr) % 17 = 0 THEN 5 ELSE NULL END AS RECONCILECD,
      {stdorgcd} AS STDORGCD,
      1 AS CONDID,
      CASE WHEN ck % 11 = 0 AND yr = max_yr THEN 2 ELSE 1 END
        AS COND_STATUS_CD,
      CASE WHEN ck % 7 = 0 AND ck % 3 = 1 THEN max_yr - 1 ELSE NULL END
        AS MORTYR,
      {spcd} AS SPCD,
      1 AS DESIGNCD,
      1 AS INTENSITY,
      {ecosubcd} AS ECOSUBCD,
      'SUBP' AS PROP_BASIS,
      1.0 AS CONDPROP_UNADJ
    FROM mx
  )
"""

_PANEL_SQL = PANEL_TEMPLATE.format(
    dia_div=100000,
    ht_div=20000,
    stdorgcd="0",
    spcd="CASE WHEN ck % 5 = 0 THEN 475 ELSE 316 END",
    ecosubcd="'232Aa'",
)


_LIN_COLS = ["DIA", "HT", "ACTUALHT", "CULL", "CR", "CONDPROP_UNADJ"]
_STEP_COLS = [
    "PLT_CN",
    "STATUSCD",
    "RECONCILECD",
    "DECAYCD",
    "STANDING_DEAD_CD",
    "STDORGCD",
    "CONDID",
    "COND_STATUS_CD",
]
_SENTINEL = [
    "STATUSCD",
    "RECONCILECD",
    "DECAYCD",
    "STANDING_DEAD_CD",
    "STDORGCD",
    "CONDID",
    "COND_STATUS_CD",
]
_INVARIANT = ["INTENSITY", "SPCD", "ECOSUBCD", "DESIGNCD", "PROP_BASIS", "MORTYR"]


_DEFAULT_JCASE = "CASE WHEN SPCD = 475 THEN 10 ELSE 7 END"


def annualize_cte(
    panel_sql: str, jcase: str = _DEFAULT_JCASE, use_mortyr: bool = True
) -> str:
    """Generate the stage-by-stage SQL twin of the annualization pipeline as
    a CTE chain ``panel AS (...) ... final AS (...)`` (no leading WITH, no
    final SELECT) so downstream oracles (the NSVB carbon chain) can extend
    it.  ``jcase`` is the SQL expression giving JENKINS_SPGRPCD for the
    panel's species (the Spark side joins REF_SPECIES instead).
    ``use_mortyr=False`` mirrors ``adjust_mortality(use_mortyr=False)`` —
    the MORTYR-override and DECAYCD/STANDING_DEAD_CD up-fill stages are
    skipped entirely (the reference's midpt variant,
    ``scripts/state-parquet.R:29-33``)."""
    pg = "PARTITION BY plot_ID, tree_ID"
    before = f"{pg} ORDER BY YEAR ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    after = f"{pg} ORDER BY YEAR ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
    full = f"{pg} ORDER BY YEAR ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"

    # stage s0: sentinels + CULL→0 on original rows
    sent = ",\n      ".join(
        f"CASE WHEN {c} IS NULL THEN 999 ELSE {c} END AS {c}" for c in _SENTINEL
    )
    # stage grid: dense year grid + left join
    inv_fill = ",\n      ".join(
        f"coalesce(last_value({c} IGNORE NULLS) OVER ({before}),"
        f" first_value({c} IGNORE NULLS) OVER ({after})) AS {c}"
        for c in _INVARIANT
    )
    # linear interpolation pass 1: neighbors + boundary constants
    p1_lin = ",\n      ".join(
        f"""count({c}) OVER ({pg}) AS n_{c},
      last_value({c} IGNORE NULLS) OVER ({before}) AS pv_{c},
      last_value(CASE WHEN {c} IS NOT NULL THEN YEAR END IGNORE NULLS)
        OVER ({before}) AS px_{c},
      first_value({c} IGNORE NULLS) OVER ({after}) AS nv_{c},
      first_value(CASE WHEN {c} IS NOT NULL THEN YEAR END IGNORE NULLS)
        OVER ({after}) AS nx_{c},
      last_value({c} IGNORE NULLS) OVER ({full}) AS ly_{c},
      last_value(CASE WHEN {c} IS NOT NULL THEN YEAR END IGNORE NULLS)
        OVER ({full}) AS lx_{c},
      first_value({c} IGNORE NULLS) OVER ({full}) AS fy_{c},
      first_value(CASE WHEN {c} IS NOT NULL THEN YEAR END IGNORE NULLS)
        OVER ({full}) AS fx_{c}"""
        for c in _LIN_COLS
    )
    # step interpolation pass 1 (positional)
    p1_step = ",\n      ".join(
        f"""last_value({c} IGNORE NULLS) OVER
        ({pg} ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spv_{c},
      last_value(CASE WHEN {c} IS NOT NULL THEN i END IGNORE NULLS) OVER
        ({pg} ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spi_{c},
      first_value({c} IGNORE NULLS) OVER
        ({pg} ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS snv_{c},
      first_value(CASE WHEN {c} IS NOT NULL THEN i END IGNORE NULLS) OVER
        ({pg} ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sni_{c}"""
        for c in _STEP_COLS
    )
    # pass 2: second-nearest boundary points (mask against group constants)
    p2_lin = ",\n      ".join(
        f"""last_value(CASE WHEN {c} IS NOT NULL AND YEAR < lx_{c} THEN {c} END
        IGNORE NULLS) OVER ({full}) AS l2y_{c},
      last_value(CASE WHEN {c} IS NOT NULL AND YEAR < lx_{c} THEN YEAR END
        IGNORE NULLS) OVER ({full}) AS l2x_{c},
      first_value(CASE WHEN {c} IS NOT NULL AND YEAR > fx_{c} THEN {c} END
        IGNORE NULLS) OVER ({full}) AS f2y_{c},
      first_value(CASE WHEN {c} IS NOT NULL AND YEAR > fx_{c} THEN YEAR END
        IGNORE NULLS) OVER ({full}) AS f2x_{c}"""
        for c in _LIN_COLS
    )
    lin_out = ",\n      ".join(
        f"""CASE WHEN {c} IS NOT NULL THEN {c}
           WHEN n_{c} = 0 THEN NULL
           WHEN n_{c} = 1 THEN pv_{c}
           WHEN px_{c} = nx_{c} THEN pv_{c}
           WHEN pv_{c} IS NOT NULL AND nv_{c} IS NOT NULL
             THEN pv_{c} + (nv_{c} - pv_{c}) / (nx_{c} - px_{c}) * (YEAR - px_{c})
           WHEN YEAR > lx_{c}
             THEN ly_{c} + (ly_{c} - l2y_{c}) / (lx_{c} - l2x_{c}) * (YEAR - lx_{c})
           ELSE fy_{c} + (fy_{c} - f2y_{c}) / (fx_{c} - f2x_{c}) * (YEAR - fx_{c})
      END AS {c}"""
        for c in _LIN_COLS
    )
    step_out = ",\n      ".join(
        f"""CASE WHEN {c} IS NOT NULL THEN {c}
           WHEN spv_{c} IS NULL THEN NULL
           WHEN snv_{c} IS NULL THEN spv_{c}
           WHEN i < spi_{c} + ceil((sni_{c} - spi_{c}) / 2.0) THEN spv_{c}
           ELSE snv_{c} END AS {c}"""
        for c in _STEP_COLS
    )
    desent = ",\n      ".join(
        f"CASE WHEN {c} = 999 THEN NULL ELSE {c} END AS {c}" for c in _SENTINEL
    )

    if use_mortyr:
        masks_src = "backfill"
        mort_stages = """eff AS (
  SELECT *,
    CASE WHEN YEAR = MORTYR AND STATUSCD = 1 THEN MORTYR + 1
         WHEN NOT (YEAR = MORTYR AND STATUSCD = 1) THEN MORTYR
         ELSE NULL END AS _eff
  FROM fallen
),
eff2 AS (
  SELECT *,
    CASE WHEN sum(CASE WHEN _eff IS NULL THEN 1 ELSE 0 END)
              OVER (PARTITION BY tree_ID) > 0 THEN NULL
         ELSE max(_eff) OVER (PARTITION BY tree_ID) END AS MORTYR_eff,
    min(CASE WHEN STATUSCD = 2 THEN YEAR END)
      OVER (PARTITION BY tree_ID) AS first_dead
  FROM eff
),
mort AS (
  SELECT * REPLACE (
    CASE WHEN MORTYR_eff IS NULL THEN STATUSCD
         WHEN MORTYR_eff = first_dead THEN STATUSCD
         WHEN MORTYR_eff < first_dead AND YEAR >= MORTYR_eff
              AND YEAR < first_dead THEN 2
         WHEN MORTYR_eff > first_dead AND YEAR < MORTYR_eff
              AND YEAR >= first_dead THEN 1
         ELSE STATUSCD END AS STATUSCD)
  FROM eff2
),
backfill AS (
  SELECT * REPLACE (
    first_value(DECAYCD IGNORE NULLS) OVER
      (PARTITION BY tree_ID ORDER BY YEAR
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DECAYCD,
    first_value(STANDING_DEAD_CD IGNORE NULLS) OVER
      (PARTITION BY tree_ID ORDER BY YEAR
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS STANDING_DEAD_CD)
  FROM mort
),"""
    else:
        masks_src = "fallen"
        mort_stages = ""

    return f"""
panel AS ({panel_sql}),
s0 AS (
  SELECT plot_ID, tree_ID, INVYR, PLT_CN, DIA, HT, ACTUALHT, CR,
      coalesce(CULL, 0.0) AS CULL,
      {sent},
      MORTYR, SPCD, DESIGNCD, INTENSITY, ECOSUBCD, PROP_BASIS, CONDPROP_UNADJ
  FROM panel
),
bounds AS (
  SELECT plot_ID, tree_ID, min(INVYR) lo, max(INVYR) hi FROM s0 GROUP BY 1, 2
),
grid AS (
  SELECT plot_ID, tree_ID, unnest(generate_series(lo, hi)) AS YEAR FROM bounds
),
joined AS (
  SELECT g.plot_ID, g.tree_ID, g.YEAR, s0.PLT_CN, s0.DIA, s0.HT, s0.ACTUALHT,
         s0.CR, s0.CULL, s0.STATUSCD, s0.RECONCILECD, s0.DECAYCD,
         s0.STANDING_DEAD_CD, s0.STDORGCD, s0.CONDID, s0.COND_STATUS_CD,
         s0.MORTYR, s0.SPCD, s0.DESIGNCD, s0.INTENSITY, s0.ECOSUBCD,
         s0.PROP_BASIS, s0.CONDPROP_UNADJ,
         s0.tree_ID IS NULL AS interpolated
  FROM grid g LEFT JOIN s0
    ON g.plot_ID = s0.plot_ID AND g.tree_ID = s0.tree_ID AND g.YEAR = s0.INVYR
),
filled AS (
  SELECT plot_ID, tree_ID, YEAR, interpolated, PLT_CN, DIA, HT, ACTUALHT, CR,
      CULL, STATUSCD, RECONCILECD, DECAYCD, STANDING_DEAD_CD, STDORGCD,
      CONDID, COND_STATUS_CD, CONDPROP_UNADJ,
      {inv_fill}
  FROM joined
),
idx AS (
  SELECT *, row_number() OVER ({pg} ORDER BY YEAR) AS i FROM filled
),
w1 AS (
  SELECT *,
      {p1_lin},
      {p1_step}
  FROM idx
),
w2 AS (
  SELECT *,
      {p2_lin}
  FROM w1
),
interp AS (
  SELECT plot_ID, tree_ID, YEAR, interpolated, i, MORTYR, SPCD, DESIGNCD,
      INTENSITY, ECOSUBCD, PROP_BASIS,
      {lin_out},
      {step_out}
  FROM w2
),
desent AS (
  SELECT plot_ID, tree_ID, YEAR, interpolated, MORTYR, SPCD, DESIGNCD,
      INTENSITY, ECOSUBCD, PROP_BASIS, PLT_CN, DIA, HT, ACTUALHT, CR, CULL,
      CONDPROP_UNADJ,
      {desent}
  FROM interp
),
cullrule AS (
  SELECT * REPLACE (
    CASE WHEN DIA IS NULL THEN NULL
         WHEN DIA < 5 THEN NULL ELSE CULL END AS CULL)
  FROM desent
),
tpa AS (
  SELECT c.*, r.TPA_UNADJ
  FROM cullrule c
  LEFT JOIN (VALUES (1, 5.0, CAST('inf' AS DOUBLE), 6.018046),
                    (1, 1.0, 5.0, 74.965282)) r(DESIGNCD, min_DIA, max_DIA, TPA_UNADJ)
    ON c.DESIGNCD = r.DESIGNCD AND c.DIA >= r.min_DIA AND c.DIA < r.max_DIA
),
thresh AS (
  SELECT *,
    ({jcase}) AS J,
    ({jcase}) < 10
      AND (DIA < 1 OR HT < 4.5 OR ACTUALHT < 4.5) AS below_n,
    ({jcase}) = 10
      AND (DIA < 1 OR HT < 1 OR ACTUALHT < 1) AS below_w
  FROM tpa
),
fallen AS (
  SELECT * REPLACE (
    CASE WHEN below_n OR below_w THEN 2 ELSE STATUSCD END AS STATUSCD,
    CASE WHEN below_n OR below_w THEN 0 ELSE STANDING_DEAD_CD END
      AS STANDING_DEAD_CD)
  FROM thresh
),
{mort_stages}
masks1 AS (
  SELECT * REPLACE (
    CASE WHEN STATUSCD = 2 THEN STANDING_DEAD_CD ELSE NULL END
      AS STANDING_DEAD_CD)
  FROM {masks_src}
),
masks2 AS (
  SELECT * REPLACE (
    CASE WHEN STANDING_DEAD_CD = 1 THEN DECAYCD ELSE NULL END AS DECAYCD)
  FROM masks1
),
masks3 AS (
  SELECT *,
    STANDING_DEAD_CD = 0 AS is_fallen,
    (STATUSCD = 0 AND coalesce(RECONCILECD IN (5, 6, 9), FALSE))
      OR (COND_STATUS_CD != 1) AS is_nonsampled
  FROM masks2
),
final AS (
  SELECT * REPLACE (
    CASE WHEN is_nonsampled THEN NULL
         WHEN is_fallen THEN NULL ELSE DIA END AS DIA,
    CASE WHEN is_nonsampled THEN NULL
         WHEN is_fallen THEN NULL ELSE HT END AS HT,
    CASE WHEN is_nonsampled THEN NULL
         WHEN is_fallen THEN NULL ELSE ACTUALHT END AS ACTUALHT,
    CASE WHEN is_nonsampled THEN NULL
         WHEN is_fallen THEN NULL ELSE CULL END AS CULL,
    CASE WHEN is_nonsampled THEN NULL
         WHEN is_fallen THEN NULL ELSE CR END AS CR)
  FROM masks3
)"""


def _oracle() -> str:
    return f"""
WITH {annualize_cte(_PANEL_SQL)}
SELECT tree_ID, YEAR, interpolated,
       {fixed_sql('DIA', 4)} AS dia_e4,
       {fixed_sql('HT', 4)} AS ht_e4,
       {fixed_sql('ACTUALHT', 4)} AS actualht_e4,
       {fixed_sql('CULL', 4)} AS cull_e4,
       {fixed_sql('CR', 4)} AS cr_e4,
       CAST(STATUSCD AS INT) AS statuscd,
       CAST(STANDING_DEAD_CD AS INT) AS standing_dead_cd,
       CAST(DECAYCD AS INT) AS decaycd,
       CAST(RECONCILECD AS INT) AS reconcilecd,
       CAST(COND_STATUS_CD AS INT) AS cond_status_cd,
       {fixed_sql('TPA_UNADJ', 4)} AS tpa_unadj_e4,
       PLT_CN
FROM final
"""


ORACLE_ANNUALIZE = _oracle()
