"""DuckDB twin of the end-to-end state-pipeline gate (q51): CSV → parquet.

The full production path of the reference's per-state job
(``scripts/state-parquet.R:10-49``): raw FIA-shaped CSVs → CSV source layer
(declared type contract, ``sources/fia.py``) → ``fia_tidy`` → ``expand_data`` →
``interpolate_data`` → ``adjust_mortality`` in BOTH variants →
``estimate_carbon`` → parquet sink → read back.  Everything between the CSV
bytes and the parquet bytes is inside the gate — the component queries
(q25/q26) gate the pipeline stages on a large synthetic panel; this gate
proves the assembled product (including the source layer and the sink) on
the scenario fixture (one named tree per reference test scenario,
FIXTURES.md §2).

The Spark side is ``queries.fia.q51_state_pipeline``; this module holds
its twin and imports none of the code the twin checks.  The DuckDB oracle
rebuilds the identical input as VALUES CTEs
(``sources.fixture_state.values_sql``) and runs the SQL twin of the whole
chain: a tidy-join twin (this module) + the annualize chain
(``fia_on_synthetic.annualize_cte``, per mortality variant) + the NSVB
chain (``carbon_on_synthetic.carbon_cte``).

Note on the empty-plot grid: ``expand_grid`` re-joins original rows on
(plot_ID, tree_ID, YEAR); a NULL tree_ID never equals itself, so an empty
plot's rows come back all-NULL with ``interpolated = true`` in every year —
identically in Spark and the SQL twin (both engines treat NULL join keys as
non-matching).
"""

from __future__ import annotations

import functools

from foresttime_builder_spark.functions.encoding import fixed_sql
from foresttime_builder_spark.plans.carbon_on_synthetic import carbon_cte
from foresttime_builder_spark.sources import fixture_state

#: fia_tidy twin (R/fia_tidy.R:19-142 semantics as implemented in
#: plans/fia.py): prune+filter+composite-ids, the three left joins, the
#: MORTYR/SPCD windows, ACTUALHT coalesce.  The empty-plot full-outer
#: re-join is a no-op (the snapshot IS the plot relation and every plot row
#: survives the left joins — see plans/fia.py:fia_tidy) so the twin omits
#: it.
_TIDY_CTES = """
tplot AS (
  SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
         CN AS PLT_CN, INVYR, DESIGNCD, INTENSITY
  FROM fplot WHERE INVYR >= 2000
),
tgeom AS (SELECT CN AS PLT_CN, INVYR, ECOSUBCD FROM fplotgeom WHERE INVYR >= 2000),
tcond AS (
  SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
         PLT_CN, INVYR, CONDID, CONDPROP_UNADJ, PROP_BASIS, COND_STATUS_CD,
         STDORGCD
  FROM fcond WHERE INVYR >= 2000
),
ttree AS (
  SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
         concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT, SUBP, TREE) AS tree_ID,
         INVYR, PLT_CN, CONDID, MORTYR, STATUSCD, RECONCILECD, DECAYCD,
         STANDING_DEAD_CD, DIA, CR, HT, ACTUALHT, CULL, SPCD
  FROM ftree WHERE INVYR >= 2000
),
tjoined AS (
  SELECT p.plot_ID, p.PLT_CN, p.INVYR, p.DESIGNCD, p.INTENSITY,
         t.tree_ID, t.CONDID, t.MORTYR, t.STATUSCD, t.RECONCILECD, t.DECAYCD,
         t.STANDING_DEAD_CD, t.DIA, t.CR, t.HT, t.ACTUALHT, t.CULL, t.SPCD,
         g.ECOSUBCD, c.CONDPROP_UNADJ, c.PROP_BASIS, c.COND_STATUS_CD,
         c.STDORGCD
  FROM tplot p
  LEFT JOIN ttree t
    ON t.plot_ID = p.plot_ID AND t.PLT_CN = p.PLT_CN AND t.INVYR = p.INVYR
  LEFT JOIN tgeom g ON g.INVYR = p.INVYR AND g.PLT_CN = p.PLT_CN
  LEFT JOIN tcond c
    ON c.plot_ID = p.plot_ID AND c.INVYR = p.INVYR AND c.PLT_CN = p.PLT_CN
   AND c.CONDID = t.CONDID
),
tidyw AS (
  SELECT *,
    max(MORTYR) OVER (PARTITION BY plot_ID, tree_ID) AS _mortyr,
    last_value(SPCD IGNORE NULLS) OVER (
      PARTITION BY plot_ID, tree_ID ORDER BY INVYR
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS _spcd
  FROM tjoined
),
tidy AS (
  SELECT plot_ID, tree_ID, INVYR, PLT_CN, _mortyr AS MORTYR, _spcd AS SPCD,
         STATUSCD, RECONCILECD, DECAYCD, STANDING_DEAD_CD, DIA, CR, HT,
         coalesce(ACTUALHT, HT) AS ACTUALHT, CULL, CONDID, COND_STATUS_CD,
         STDORGCD, CONDPROP_UNADJ, PROP_BASIS, DESIGNCD, INTENSITY, ECOSUBCD
  FROM tidyw
)"""

_OUT_DOUBLES = ("DIA", "HT", "ACTUALHT", "CULL", "CR", "TPA_UNADJ")
_OUT_INTS = ("STATUSCD", "STANDING_DEAD_CD", "DECAYCD")


#: The gate's 4-decimal SQL emission; perfbench/checks.py builds its DuckDB
#: twin checksums with it.
_sql_e4 = functools.partial(fixed_sql, n=4)


def _variant_sql(use_mortyr: bool) -> str:
    values = ",\n".join(fixture_state.values_sql().values())
    panel_sql = f"WITH {values},{_TIDY_CTES} SELECT * FROM tidy"
    chain = carbon_cte(
        panel_sql=panel_sql, jcase=fixture_state.JCASE, use_mortyr=use_mortyr
    )
    # columns come from the chain's `prep` stage, not `final`: the pipeline's
    # parquet carries prep_carbon's view of the panel (live trees get
    # STANDING_DEAD_CD/DECAYCD = 0, CULL nulls coalesced to 0 —
    # R/prep_carbon.R:62-90), exactly like the reference's
    # left_join(data_prepped, estimates) output contract
    doubles = ",\n  ".join(
        f"{fixed_sql('f.' + c, 4)} AS {c.lower()}_e4" for c in _OUT_DOUBLES
    )
    ints = ",\n  ".join(f"CAST(f.{c} AS INT) AS {c.lower()}" for c in _OUT_INTS)
    variant = "mortyr" if use_mortyr else "midpt"
    return f"""SELECT '{variant}' AS variant, sub.* FROM (
WITH {chain}
SELECT f.plot_ID, f.tree_ID, CAST(f.YEAR AS INT) AS year, f.interpolated,
  {doubles},
  {ints},
  {fixed_sql('c.BIOMASS', 4)} AS drybio_ag_e4,
  {fixed_sql('c.CARBON', 4)} AS carbon_ag_e4
FROM prep f
LEFT JOIN carbonout c
  ON f.plot_ID = c.plot_ID AND f.tree_ID = c.tree_ID AND f.YEAR = c.YEAR
) sub"""


ORACLE_STATE_PIPELINE = (
    _variant_sql(use_mortyr=False)
    + "\nUNION ALL\n"
    + _variant_sql(use_mortyr=True)
)
