"""fia benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.sources import load_table

from foresttime_builder_spark.plans.queries._shared import (  # noqa: F401
    QuerySpec,
    _PANEL_SQL,
)


def q25_fia_annualize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end pipeline: panel → dense grid → linear +
    midpoint-switch interpolation → TPA band join → mortality masks
    (SURVEY §3.1 — the full ``fia_annualize`` chain), value-hash-gated
    stage-for-stage against a DuckDB SQL twin."""
    from foresttime_builder_spark.plans.fia_on_synthetic import annualize_panel

    return annualize_panel(spark, sf_dir)

def _annualize_oracle() -> str:
    from foresttime_builder_spark.plans.fia_on_synthetic import ORACLE_ANNUALIZE

    return ORACLE_ANNUALIZE

def q26_nsvb_carbon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full NSVB carbon/biomass estimation chain on the annualized synthetic
    panel (SURVEY §2.8 / §3.2): three-level coefficient resolution, equation
    dispatch, bisection merch heights, volume deduction + harmonization —
    value-hash-gated against a generated stage-by-stage DuckDB twin."""
    from foresttime_builder_spark.plans.carbon_on_synthetic import estimate_panel

    return estimate_panel(spark, sf_dir)

def _carbon_oracle() -> str:
    from foresttime_builder_spark.plans.carbon_on_synthetic import ORACLE_CARBON

    return ORACLE_CARBON

def q27_population_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population/area scaling over the estimated panel: EXPNS, domain
    indicators, plot totals, per-year ratio (SURVEY §3.3, §2.4 A2-A5)."""
    from foresttime_builder_spark.plans.carbon_on_synthetic import population_panel

    return population_panel(spark, sf_dir)

def q28_grain_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain aggregation sweep via one GROUPING SETS pass
    (SURVEY §2.4 A7)."""
    from foresttime_builder_spark.plans.carbon_on_synthetic import grain_sweep_panel

    return grain_sweep_panel(spark, sf_dir)

def _pop_oracle() -> str:
    from foresttime_builder_spark.plans.carbon_on_synthetic import (
        ORACLE_POPULATION,
        carbon_cte,
    )

    return ORACLE_POPULATION.format(chain=carbon_cte())

def q52_population_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design-based (POP_STRATUM / POP_PLOT_STRATUM_ASSGN) population
    scaling: each plot inherits its stratum's EXPNS and ADJ_FACTOR_SUBP —
    the rFIA/EVALIDator-style estimator the simplified per-year EXPNS
    (q27) approximates (SURVEY §3.3; vignettes/pop_scaling.qmd:36-44)."""
    from foresttime_builder_spark.plans.carbon_on_synthetic import (
        population_stratified_panel,
    )

    return population_stratified_panel(spark, sf_dir)

def _pop_stratified_oracle() -> str:
    from foresttime_builder_spark.plans.carbon_on_synthetic import (
        ORACLE_POPULATION_STRATIFIED,
        carbon_cte,
    )

    return ORACLE_POPULATION_STRATIFIED.format(chain=carbon_cte())

def q38_sapling_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sapling state machine over the annualized panel: lag/lead year-over-
    year transitions + per-from-state proportions (SURVEY §2.5 W9, the
    reference's ``scripts/05-check_saplings.R`` transition matrix)."""
    from foresttime_builder_spark.plans import fia
    from foresttime_builder_spark.plans.fia_on_synthetic import (
        _PANEL_SQL,
        synthetic_tree_panel,
    )

    panel = synthetic_tree_panel(spark, sf_dir)
    ann = fia.adjust_mortality(
        fia.interpolate_data(fia.expand_data(panel)), use_mortyr=True
    )
    state = (
        F.when(F.col("STATUSCD").isNull(), "unknown")
        .when(F.col("STATUSCD") == 2, "dead")
        .when(F.col("STATUSCD") == 0, "gone")
        .when(F.col("DIA") < 5.0, "sapling")
        .when(F.col("DIA") >= 5.0, "tree")
        .otherwise("unknown")
    )
    # full tree key (value-identical: a tree lives in one plot) so the lag
    # window reuses the annualize chain's (plot_ID, tree_ID) partitioning
    # instead of forcing a private tree_ID-only exchange
    w = W.partitionBy("plot_ID", "tree_ID").orderBy("YEAR")
    d = (
        ann.withColumn("state", state)
        .withColumn("prev_state", F.lag("state", 1).over(w))
        .filter(F.col("prev_state").isNotNull())
    )
    counts = d.groupBy("prev_state", "state").agg(F.count(F.lit(1)).alias("n"))
    tot = W.partitionBy("prev_state")
    return counts.select(
        "prev_state",
        "state",
        "n",
        fixed(F.col("n") / F.sum("n").over(tot), 4).alias("prop_e4"),
    )

def _sapling_oracle() -> str:
    from foresttime_builder_spark.plans.fia_on_synthetic import (
        _PANEL_SQL,
        annualize_cte,
    )

    return f"""
WITH {annualize_cte(_PANEL_SQL)},
st AS (
  SELECT tree_ID, YEAR,
    CASE WHEN STATUSCD IS NULL THEN 'unknown'
         WHEN STATUSCD = 2 THEN 'dead'
         WHEN STATUSCD = 0 THEN 'gone'
         WHEN DIA < 5.0 THEN 'sapling'
         WHEN DIA >= 5.0 THEN 'tree'
         ELSE 'unknown' END AS state
  FROM final
),
tr AS (
  SELECT state, lag(state) OVER (PARTITION BY tree_ID ORDER BY YEAR)
           AS prev_state
  FROM st
),
counts AS (
  SELECT prev_state, state, count(*) AS n FROM tr
  WHERE prev_state IS NOT NULL GROUP BY 1, 2
)
SELECT prev_state, state, n,
       {fixed_sql('n / (sum(n) OVER (PARTITION BY prev_state))', 4)} AS prop_e4
FROM counts
"""

def q39_id_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key build + split roundtrip (SURVEY §2.6 O6 / §1.2:
    underscore-joined plot/tree IDs and their inverse)."""
    from foresttime_builder_spark.plans.fia import (
        add_composite_ids,
        split_composite_ids,
    )

    c = load_table(spark, sf_dir, "customer")
    synth = c.select(
        (F.col("c_nationkey") + 1).alias("STATECD"),
        F.lit(1).alias("UNITCD"),
        (F.col("c_custkey") % 100).alias("COUNTYCD"),
        F.col("c_custkey").alias("PLOT"),
        (F.col("c_custkey") % 4 + 1).alias("SUBP"),
        (F.col("c_custkey") % 9 + 1).alias("TREE"),
    )
    built = add_composite_ids(synth)
    parsed = split_composite_ids(
        built.select("tree_ID", "plot_ID"), id_col="tree_ID"
    )
    return parsed.select(
        "tree_ID",
        "plot_ID",
        F.col("STATECD").cast("int").alias("statecd"),
        F.col("COUNTYCD").cast("int").alias("countycd"),
        F.col("SUBP").cast("int").alias("subp"),
        F.col("TREE").cast("int").alias("tree"),
    )

ORACLE_Q39 = """
WITH synth AS (
  SELECT c_nationkey + 1 AS STATECD, 1 AS UNITCD, c_custkey % 100 AS COUNTYCD,
         c_custkey AS PLOT, c_custkey % 4 + 1 AS SUBP, c_custkey % 9 + 1 AS TREE
  FROM customer
),
built AS (
  SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
         concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT, SUBP, TREE) AS tree_ID
  FROM synth
)
SELECT tree_ID, plot_ID,
       CAST(string_split(tree_ID, '_')[1] AS INT) AS statecd,
       CAST(string_split(tree_ID, '_')[3] AS INT) AS countycd,
       CAST(string_split(tree_ID, '_')[5] AS INT) AS subp,
       CAST(string_split(tree_ID, '_')[6] AS INT) AS tree
FROM built
"""

def q51_state_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end per-state production job on the scenario fixture: FIA CSVs
    → CSV source layer → tidy → annualize (BOTH mortality variants) → NSVB
    estimate → parquet sink → read-back (``scripts/state-parquet.R:10-49``).
    The oracle rebuilds the identical CSV rows as VALUES and runs the SQL
    twin of every stage (plans.state_on_fixture)."""
    from foresttime_builder_spark.plans.state_on_fixture import (
        state_pipeline_roundtrip,
    )

    return state_pipeline_roundtrip(spark, sf_dir)

def _state_pipeline_oracle() -> str:
    from foresttime_builder_spark.plans.state_on_fixture import oracle_sql

    return oracle_sql()

def _grain_oracle() -> str:
    from foresttime_builder_spark.plans.carbon_on_synthetic import (
        ORACLE_GRAIN_SWEEP,
        carbon_cte,
    )

    return ORACLE_GRAIN_SWEEP.format(chain=carbon_cte())


QUERIES: dict[str, QuerySpec] = {
    "q25_fia_annualize": QuerySpec(q25_fia_annualize, _annualize_oracle()),
    "q26_nsvb_carbon": QuerySpec(q26_nsvb_carbon, _carbon_oracle()),
    "q27_population_scaling": QuerySpec(q27_population_scaling, _pop_oracle()),
    "q28_grain_sweep": QuerySpec(q28_grain_sweep, _grain_oracle()),
    "q38_sapling_transitions": QuerySpec(q38_sapling_transitions, _sapling_oracle()),
    "q39_id_roundtrip": QuerySpec(q39_id_roundtrip, ORACLE_Q39),
    "q51_state_pipeline": QuerySpec(q51_state_pipeline, _state_pipeline_oracle()),
    "q52_population_stratified": QuerySpec(
        q52_population_stratified, _pop_stratified_oracle()
    ),
}
