"""The FIA annualization pipeline, Spark-first.

Stage-for-stage capability parity with the reference pipeline
(``fia_tidy → expand_data → interpolate_data → adjust_mortality``; reference
``R/fia_tidy.R``, ``R/expand_data.R``, ``R/interpolate_data.R``,
``R/adjust_mortality.R``), re-expressed as one lazy DataFrame plan:

- the reference's per-group R vector functions become the window operators in
  :mod:`foresttime_builder_spark.operators.timeseries`;
- the TPA assignment (``R/interpolate_data.R:70-77``) is a broadcast band
  join;
- mortality masks are pure column algebra with R NA semantics via
  :mod:`foresttime_builder_spark.functions.helpers`.

Scale notes: after :func:`fia_tidy` everything partitions by
``(plot_ID, tree_ID)``; one exchange covers every window in expand /
interpolate / adjust (Catalyst collapses same-partitioning Window nodes).
The only other shuffles are the three tidy joins. Reference tables are all
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from foresttime_builder_spark.functions.helpers import apply_layers
from foresttime_builder_spark.operators import expand_grid, fill_gaps
from foresttime_builder_spark.operators.timeseries import (
    fill_gaps_layers,
    linear_interpolate_layers,
    step_interpolate_layers,
)
from foresttime_builder_spark.sources import ref_tables

GROUP = ["plot_ID", "tree_ID"]

# categorical columns that temporarily hold 999 instead of NA so the
# midpoint-switch interpolation treats "measured as NA" as a real level
# (reference R/expand_data.R:25-39)
SENTINEL_COLS = (
    "STATUSCD",
    "RECONCILECD",
    "DECAYCD",
    "STANDING_DEAD_CD",
    "STDORGCD",
    "CONDID",
    "COND_STATUS_CD",
)

LINEAR_COLS = ("ACTUALHT", "DIA", "HT", "CULL", "CR", "CONDPROP_UNADJ")
STEP_COLS = ("PLT_CN",) + SENTINEL_COLS
INVARIANT_COLS = (
    "INTENSITY",
    "SPCD",
    "ECOSUBCD",
    "DESIGNCD",
    "PROP_BASIS",
    "MORTYR",
)


def add_composite_ids(df: DataFrame) -> DataFrame:
    """plot_ID / tree_ID as underscore-joined composite keys
    (reference ``R/fia_ids.R:24-26``)."""
    cols = set(df.columns)
    out = df
    if {"STATECD", "UNITCD", "COUNTYCD", "PLOT"} <= cols:
        out = out.withColumn(
            "plot_ID", F.concat_ws("_", "STATECD", "UNITCD", "COUNTYCD", "PLOT")
        )
    if {"SUBP", "TREE"} <= cols:
        out = out.withColumn(
            "tree_ID",
            F.concat_ws("_", "STATECD", "UNITCD", "COUNTYCD", "PLOT", "SUBP", "TREE"),
        )
    return out


def split_composite_ids(df: DataFrame, id_col: str = "tree_ID") -> DataFrame:
    """Inverse of :func:`add_composite_ids` (reference ``R/fia_ids.R:59-77``).

    ``F.get`` (NULL past the end), not ``getItem`` (ANSI
    INVALID_ARRAY_INDEX): a malformed id with missing segments — e.g.
    built from a NULL key, which concat_ws silently skips — must parse
    to NULL fields like DuckDB's out-of-range list index, not kill the
    stage."""
    parts = ["STATECD", "UNITCD", "COUNTYCD", "PLOT"]
    if id_col == "tree_ID":
        parts += ["SUBP", "TREE"]
    split = F.split(F.col(id_col), "_")
    out = df
    for i, name in enumerate(parts):
        out = out.withColumn(name, F.get(split, i))
    return out


def fia_tidy(db: dict[str, DataFrame]) -> DataFrame:
    """Join PLOT ⋈ TREE ⋈ PLOTGEOM ⋈ COND into the tree-panel table
    (reference ``R/fia_tidy.R:19-142``): prune to the column contract,
    filter INVYR >= 2000, composite IDs, MORTYR fill / last-SPCD windows,
    re-attach empty plots."""
    plotgeom = (
        db["PLOTGEOM"]
        .filter(F.col("INVYR") >= 2000)
        .select(F.col("CN").alias("PLT_CN"), "INVYR", "ECOSUBCD")
    )
    plot = (
        add_composite_ids(db["PLOT"].filter(F.col("INVYR") >= 2000))
        .select(
            "plot_ID",
            F.col("CN").alias("PLT_CN"),
            "INVYR",
            "DESIGNCD",
            "INTENSITY",
        )
    )
    cond = (
        add_composite_ids(db["COND"].filter(F.col("INVYR") >= 2000))
        .select(
            "plot_ID",
            "PLT_CN",
            "INVYR",
            "CONDID",
            "CONDPROP_UNADJ",
            "PROP_BASIS",
            "COND_STATUS_CD",
            "STDORGCD",
        )
    )
    tree = (
        add_composite_ids(db["TREE"].filter(F.col("INVYR") >= 2000))
        .select(
            "plot_ID",
            "tree_ID",
            "INVYR",
            "PLT_CN",
            "CONDID",
            "MORTYR",
            "STATUSCD",
            "RECONCILECD",
            "DECAYCD",
            "STANDING_DEAD_CD",
            "DIA",
            "CR",
            "HT",
            "ACTUALHT",
            "CULL",
            "SPCD",
        )
    )

    data = (
        plot.join(tree, on=["plot_ID", "PLT_CN", "INVYR"], how="left")
        .join(plotgeom, on=["INVYR", "PLT_CN"], how="left")
        .join(cond, on=["plot_ID", "INVYR", "PLT_CN", "CONDID"], how="left")
    )

    # MORTYR becomes a tree property; SPCD pinned to the most recent record.
    # The reference groups by tree_ID alone (R/fia_tidy.R:97); partitioning
    # by (plot_ID, tree_ID) is value-identical — every windowed column is
    # NULL on the NULL-tree_ID empty-plot rows — but shares one exchange
    # with the expand/interpolate windows AND keeps the national empty-plot
    # population from collapsing into a single NULL-key partition (skew).
    w = Window.partitionBy(*GROUP).orderBy("INVYR")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # both over the SAME ordered unbounded spec (max over the full frame ==
    # whole-partition max), so they share one Window node and one projection
    data = data.withColumns(
        {
            "MORTYR": F.max("MORTYR").over(w_full),
            "SPCD": F.last("SPCD", ignorenulls=True).over(w_full),
        }
    )

    # snapshot of every plot-year before any row-dropping cleaning, then
    # full-join back so "empty" plots survive the pipeline.  ``data`` is
    # built from ``plot`` by LEFT joins, so its (plot_ID, INVYR) set is
    # exactly plot's — the snapshot IS the plot relation.  Deriving it from
    # ``data`` (as the reference's dataflow reads, R/fia_tidy.R:47,126)
    # would execute the whole PLOT⋈TREE⋈PLOTGEOM⋈COND subtree twice: the
    # round-1 plan carried two scan branches per source and doubled the
    # most expensive shuffle stage.
    all_plots = plot

    data = data.withColumn("ACTUALHT", F.coalesce("ACTUALHT", "HT"))

    data = data.join(
        all_plots,
        on=["plot_ID", "PLT_CN", "INVYR", "DESIGNCD", "INTENSITY"],
        how="full",
    )
    return data


def expand_data(data: DataFrame) -> DataFrame:
    """Densify each tree's INVYR axis to every year (reference
    ``R/expand_data.R:18-88``): 999-sentinel swap, CULL NA→0, per-tree year
    grid with ``interpolated`` provenance flag, downup fill of
    time-invariant columns."""
    cols = set(data.columns)
    swaps = {
        c: F.when(F.col(c).isNull(), 999).otherwise(F.col(c))
        for c in SENTINEL_COLS
        if c in cols
    }
    if "CULL" in cols:
        swaps["CULL"] = F.coalesce("CULL", F.lit(0.0))
    data = data.withColumns(swaps)

    expanded = expand_grid(
        data, GROUP, "INVYR", out_col="YEAR", flag_col="interpolated"
    )
    fill_cols = [c for c in INVARIANT_COLS if c in cols]
    return fill_gaps(expanded, GROUP, "YEAR", fill_cols, direction="downup")


def interpolate_data(data_expanded: DataFrame) -> DataFrame:
    """Fill the dense grid (reference ``R/interpolate_data.R:34-111``):
    linear interpolation/extrapolation for measurements, midpoint switch for
    categoricals, de-sentinel, CULL-only-when-measurable rule, broadcast TPA
    band join, below-threshold ⇒ fallen-dead rules."""
    spark = data_expanded.sparkSession
    cols = set(data_expanded.columns)

    # ONE generated statement for the whole interpolation stage (r16,
    # guide §1.2): linear + step interpolation and the de-sentinel
    # projection used to be six eager Dataset transforms, each a full
    # analyzer pass over the already-deep expand plan — the measured
    # ~0.9 s driver-side residue of the q51/q52 builds.  The layer forms
    # are the same SQL text the transforms compiled to; apply_layers
    # analyzes once and the ASAP packer re-stratifies the six layers to
    # their dependency depth.  De-sentinel layering is unchanged: it
    # resolves against the step-interpolated values, and the CULL rule
    # reads the linear-interpolated DIA (CULL is only measured for trees
    # with DIA >= 5; R if_else: unknown DIA → unknown CULL).
    desentinel = {
        c: f"CASE WHEN {c} = 999 THEN NULL ELSE {c} END"
        for c in SENTINEL_COLS
        if c in cols
    }
    if "CULL" in cols:
        desentinel["CULL"] = (
            "CASE WHEN (DIA < 5) IS NULL THEN NULL "
            "WHEN DIA < 5 THEN NULL ELSE CULL END"
        )
    out = apply_layers(
        data_expanded,
        linear_interpolate_layers(
            GROUP, "YEAR", [c for c in LINEAR_COLS if c in cols]
        )
        + step_interpolate_layers(
            GROUP, "YEAR", [c for c in STEP_COLS if c in cols]
        )
        + [(desentinel, [])],
    )

    # TPA assignment: DESIGNCD × DIA ∈ [min_DIA, max_DIA) band rules
    rules = ref_tables.tpa_rules(spark)
    out = out.join(
        F.broadcast(rules),
        on=(
            (out["DESIGNCD"] == rules["DESIGNCD"])
            & (out["DIA"] >= rules["min_DIA"])
            & (out["DIA"] < rules["max_DIA"])
        ),
        how="left",
    ).drop(rules["DESIGNCD"]).drop("min_DIA", "max_DIA")

    # below measurement thresholds ⇒ fallen dead (woodland species
    # JENKINS_SPGRPCD == 10 use a 1 ft height threshold instead of 4.5)
    species = ref_tables.ref_species(spark).select("SPCD", "JENKINS_SPGRPCD")
    out = out.join(F.broadcast(species), on="SPCD", how="left")
    dia, ht, aht = F.col("DIA"), F.col("HT"), F.col("ACTUALHT")
    j = F.col("JENKINS_SPGRPCD")
    below_normal = (j < 10) & ((dia < 1) | (ht < 4.5) | (aht < 4.5))
    below_woodland = (j == 10) & ((dia < 1) | (ht < 1) | (aht < 1))
    out = out.withColumns(
        {
            "STATUSCD": F.when(below_normal | below_woodland, 2).otherwise(
                F.col("STATUSCD")
            ),
            "STANDING_DEAD_CD": F.when(below_normal | below_woodland, 0).otherwise(
                F.col("STANDING_DEAD_CD")
            ),
        }
    ).drop("JENKINS_SPGRPCD")
    return out


def adjust_mortality(
    data_interpolated: DataFrame, use_mortyr: bool | str = "auto"
) -> DataFrame:
    """Mortality masks (reference ``R/adjust_mortality.R:24-130``): optional
    recorded-MORTYR override of the interpolated death midpoint, then
    applicability rules (standing-dead only for dead trees, decay only for
    standing dead, no measurements for fallen trees / non-sampled
    conditions).

    ``use_mortyr="auto"`` reproduces the reference's runtime downgrade (warn
    + skip when no MORTYR is recorded anywhere) via a probe job; pass
    ``True``/``False`` to skip the probe — the probe executes the whole
    upstream plan once, which matters when this is mid-pipeline."""
    df = data_interpolated

    if use_mortyr == "auto":
        # reference warns + downgrades when no MORTYR is recorded at all
        use_mortyr = (
            df.filter(F.col("MORTYR").isNotNull()).limit(1).count() > 0
        )

    # The whole stage is ONE generated statement (r16, guide §1.2): the
    # former five eager transforms (MORTYR_eff/first_dead windows,
    # STATUSCD override, up-fill, scratch drop, applicability masks) each
    # re-ran the analyzer over the deep chain plan.  Layer text matches
    # what the Column forms compiled to; the oracle gates pin it.
    # (plot_ID, tree_ID) partitioning for the same reason as fia_tidy:
    # value-identical to the reference's tree_ID grouping
    # (R/adjust_mortality.R:51,93), one shared exchange with the
    # interpolation windows, no NULL-key skew.
    layers: list[tuple[dict[str, str], list[str]]] = []
    if use_mortyr:
        over_all = "OVER (PARTITION BY plot_ID, tree_ID)"
        # tree alive in its recorded MORTYR → effective death the year
        # after; R max() without na.rm poisons the whole tree when any row
        # is NA (the n_null window).  _eff is inlined into both window
        # functions so the stage stays one projection.
        year_eq = "(YEAR = MORTYR) AND (STATUSCD = 1)"
        eff = (
            f"CASE WHEN ({year_eq}) IS NULL THEN NULL "
            f"WHEN {year_eq} THEN MORTYR + 1 ELSE MORTYR END"
        )
        layers.append((
            {
                "MORTYR_eff": (
                    f"CASE WHEN sum(CAST(({eff}) IS NULL AS INT)) {over_all}"
                    f" > 0 THEN NULL ELSE max({eff}) {over_all} END"
                ),
                "first_dead": (
                    f"min(CASE WHEN STATUSCD = 2 THEN YEAR END) {over_all}"
                ),
            },
            [],
        ))
        layers.append((
            {
                "STATUSCD": (
                    "CASE WHEN MORTYR_eff IS NULL THEN STATUSCD "
                    "WHEN MORTYR_eff = first_dead THEN STATUSCD "
                    "WHEN (MORTYR_eff < first_dead) AND (YEAR >= MORTYR_eff)"
                    " AND (YEAR < first_dead) THEN 2 "
                    "WHEN (MORTYR_eff > first_dead) AND (YEAR < MORTYR_eff)"
                    " AND (YEAR >= first_dead) THEN 1 "
                    "ELSE STATUSCD END"
                )
            },
            [],
        ))
        # up-fill grouped on the full tree key (value-identical: tree_ID
        # embeds plot_ID) so the window reuses the chain's one exchange
        fill_up = fill_gaps_layers(
            GROUP, "YEAR", ["DECAYCD", "STANDING_DEAD_CD"], direction="up"
        )
        layers.append((fill_up[0][0], ["first_dead", "MORTYR_eff"]))

    # One layer for the applicability masks, with the dependency chain
    # inlined: STANDING_DEAD_CD only applies to dead trees; DECAYCD only to
    # standing dead; fallen trees (new SDC == 0) and trees in non-sampled
    # conditions have no measurements (CASE WHEN with a NULL condition
    # falls through to ELSE, matching R if_else NA-condition → NA;
    # missing = keep).
    sdc = "CASE WHEN STATUSCD = 2 THEN STANDING_DEAD_CD ELSE NULL END"
    fallen = f"({sdc}) = 0"
    nonsampled = (
        "((STATUSCD = 0) AND coalesce(RECONCILECD IN (5, 6, 9), false))"
        " OR (COND_STATUS_CD != 1)"
    )
    masks = {
        "STANDING_DEAD_CD": sdc,
        "DECAYCD": f"CASE WHEN ({sdc}) = 1 THEN DECAYCD ELSE NULL END",
    }
    masks.update(
        {
            c: (
                f"CASE WHEN {nonsampled} THEN NULL "
                f"ELSE CASE WHEN {fallen} THEN NULL ELSE {c} END END"
            )
            for c in ("DIA", "HT", "ACTUALHT", "CULL", "CR")
        }
    )
    layers.append((masks, []))
    return apply_layers(df, layers)


def fia_annualize(data_tidy: DataFrame, use_mortyr: bool = True) -> DataFrame:
    """expand → interpolate → adjust_mortality (reference
    ``R/fia_annualize.R:29-34``)."""
    return adjust_mortality(
        interpolate_data(expand_data(data_tidy)), use_mortyr=use_mortyr
    )
