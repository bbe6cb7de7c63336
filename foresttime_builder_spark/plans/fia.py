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

Scale notes: everything from :func:`fia_tidy`'s MORTYR/SPCD window on
partitions by ``(plot_ID, tree_ID)``; that one exchange covers every window
in tidy / expand / interpolate / adjust (Catalyst collapses
same-partitioning Window nodes), and :func:`adjust_mortality` emits both
mortality variants from the same projection.  The three tidy joins are
broadcast at state scale, as are the reference tables.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window, functions as F

from foresttime_builder_spark.functions.helpers import _bq, apply_layers
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


def split_composite_ids(df: DataFrame) -> DataFrame:
    """Inverse of :func:`add_composite_ids` (reference ``R/fia_ids.R:59-77``).

    ``F.get`` (NULL past the end), not ``getItem`` (ANSI
    INVALID_ARRAY_INDEX): a malformed id with missing segments — e.g.
    built from a NULL key, which concat_ws silently skips — must parse
    to NULL fields like DuckDB's out-of-range list index, not kill the
    stage."""
    parts = ["STATECD", "UNITCD", "COUNTYCD", "PLOT", "SUBP", "TREE"]
    split = F.split(F.col("tree_ID"), "_")
    out = df
    for i, name in enumerate(parts):
        out = out.withColumn(name, F.get(split, i))
    return out


def fia_tidy(db: dict[str, DataFrame]) -> DataFrame:
    """Join PLOT ⋈ TREE ⋈ PLOTGEOM ⋈ COND into the tree-panel table
    (reference ``R/fia_tidy.R:19-142``): prune to the column contract,
    filter INVYR >= 2000, composite IDs, MORTYR fill / last-SPCD windows;
    an empty plot is one row with a NULL tree_ID."""
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

    # Every plot-year survives without a re-join: ``data`` is built from
    # ``plot`` by LEFT joins, so an empty plot is already one row with a
    # NULL tree_ID.  The reference re-attaches its pre-cleaning snapshot
    # with a full join (R/fia_tidy.R:47,126), a no-op here — except that a
    # plot whose DESIGNCD or INTENSITY is NULL never matches itself under
    # SQL equality and would come back twice.  Keys first, as the
    # reference's join output orders them.
    keys = ["plot_ID", "PLT_CN", "INVYR", "DESIGNCD", "INTENSITY"]
    return data.select(
        *keys,
        *[
            F.coalesce("ACTUALHT", "HT").alias(c) if c == "ACTUALHT" else c
            for c in data.columns
            if c not in keys
        ],
    )


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

    expanded = expand_grid(data, GROUP, "INVYR", out_col="YEAR")
    fill_cols = [c for c in INVARIANT_COLS if c in cols]
    return fill_gaps(expanded, GROUP, "YEAR", fill_cols)


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

    # TPA assignment: DESIGNCD × DIA ∈ [min_DIA, max_DIA) band rules, and
    # the species' Jenkins group for the thresholds below
    rules = ref_tables.tpa_rules(spark)
    species = ref_tables.ref_species(spark).select("SPCD", "JENKINS_SPGRPCD")
    joined = out.join(
        F.broadcast(rules),
        on=(
            (out["DESIGNCD"] == rules["DESIGNCD"])
            & (out["DIA"] >= rules["min_DIA"])
            & (out["DIA"] < rules["max_DIA"])
        ),
        how="left",
    ).join(F.broadcast(species), on="SPCD", how="left")

    # below measurement thresholds ⇒ fallen dead (woodland species
    # JENKINS_SPGRPCD == 10 use a 1 ft height threshold instead of 4.5)
    dia, ht, aht = out["DIA"], out["HT"], out["ACTUALHT"]
    j = F.col("JENKINS_SPGRPCD")
    below = ((j < 10) & ((dia < 1) | (ht < 4.5) | (aht < 4.5))) | (
        (j == 10) & ((dia < 1) | (ht < 1) | (aht < 1))
    )
    fallen = {
        "STATUSCD": F.when(below, 2).otherwise(out["STATUSCD"]),
        "STANDING_DEAD_CD": F.when(below, 0).otherwise(out["STANDING_DEAD_CD"]),
    }
    # one projection: the join key first (as the USING join returns it),
    # the panel's columns, then the band's TPA
    return joined.select(
        "SPCD",
        *[
            fallen[c].alias(c) if c in fallen else out[c]
            for c in out.columns
            if c != "SPCD"
        ],
        "TPA_UNADJ",
    )


def mortyr_recorded(db: dict[str, DataFrame]) -> bool:
    """Whether :func:`fia_tidy`'s panel carries any MORTYR: a TREE row of
    INVYR >= 2000 with a MORTYR whose (plot_ID, PLT_CN, INVYR) matches a
    PLOT row.  The reference warns and skips the MORTYR override when none
    is recorded (its runtime downgrade); this decides it from the source
    tables in one small semi-join job that reads none of the panel."""
    ids = ["plot_ID", "PLT_CN", "INVYR"]
    tree = add_composite_ids(
        db["TREE"].filter((F.col("INVYR") >= 2000) & F.col("MORTYR").isNotNull())
    ).select(*ids)
    plot = add_composite_ids(db["PLOT"].filter(F.col("INVYR") >= 2000)).select(
        "plot_ID", F.col("CN").alias("PLT_CN"), "INVYR"
    )
    return tree.join(plot, on=ids, how="left_semi").limit(1).count() > 0


#: the columns whose values differ between mortality variants; every
#: other column of the panel passes through unchanged
MASKED_COLS = (
    "STATUSCD",
    "STANDING_DEAD_CD",
    "DECAYCD",
    "DIA",
    "HT",
    "ACTUALHT",
    "CULL",
    "CR",
)


def _mortality_layers(
    use_mortyr: bool, prefix: str
) -> list[tuple[dict[str, str], list[str]]]:
    """One variant's mortality stage as ``apply_layers`` layers.  It writes
    every :data:`MASKED_COLS` column as ``prefix + name`` and reads the
    panel's own columns, so with ``prefix=""`` the masks rewrite the panel
    in place and with distinct prefixes several variants compute side by
    side in one statement."""
    # (plot_ID, tree_ID) partitioning for the same reason as fia_tidy:
    # value-identical to the reference's tree_ID grouping
    # (R/adjust_mortality.R:51,93), one shared exchange with the
    # interpolation windows, no NULL-key skew.
    layers: list[tuple[dict[str, str], list[str]]] = []
    src = {c: c for c in ("STATUSCD", "STANDING_DEAD_CD", "DECAYCD")}
    if use_mortyr:
        over_all = "OVER (PARTITION BY plot_ID, tree_ID)"
        eff_col, dead_col = f"{prefix}MORTYR_eff", f"{prefix}first_dead"
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
                eff_col: (
                    f"CASE WHEN sum(CAST(({eff}) IS NULL AS INT)) {over_all}"
                    f" > 0 THEN NULL ELSE max({eff}) {over_all} END"
                ),
                dead_col: f"min(CASE WHEN STATUSCD = 2 THEN YEAR END) {over_all}",
            },
            [],
        ))
        # the STATUSCD override, and the up-fill of the decay codes grouped
        # on the full tree key (value-identical: tree_ID embeds plot_ID) so
        # the window reuses the chain's one exchange
        fill_up = fill_gaps_layers(
            GROUP, "YEAR", ["DECAYCD", "STANDING_DEAD_CD"], direction="up"
        )[0][0]
        layers.append((
            {
                f"{prefix}STATUSCD": (
                    f"CASE WHEN {eff_col} IS NULL THEN STATUSCD "
                    f"WHEN {eff_col} = {dead_col} THEN STATUSCD "
                    f"WHEN ({eff_col} < {dead_col}) AND (YEAR >= {eff_col})"
                    f" AND (YEAR < {dead_col}) THEN 2 "
                    f"WHEN ({eff_col} > {dead_col}) AND (YEAR < {eff_col})"
                    f" AND (YEAR >= {dead_col}) THEN 1 "
                    "ELSE STATUSCD END"
                ),
                **{f"{prefix}{c}": e for c, e in fill_up.items()},
            },
            [eff_col, dead_col],
        ))
        src = {c: f"{prefix}{c}" for c in src}

    # One layer for the applicability masks, with the dependency chain
    # inlined: STANDING_DEAD_CD only applies to dead trees; DECAYCD only to
    # standing dead; fallen trees (new SDC == 0) and trees in non-sampled
    # conditions have no measurements (CASE WHEN with a NULL condition
    # falls through to ELSE, matching R if_else NA-condition → NA;
    # missing = keep).
    status = src["STATUSCD"]
    sdc = (
        f"CASE WHEN {status} = 2 THEN {src['STANDING_DEAD_CD']} ELSE NULL END"
    )
    fallen = f"({sdc}) = 0"
    nonsampled = (
        f"(({status} = 0) AND coalesce(RECONCILECD IN (5, 6, 9), false))"
        " OR (COND_STATUS_CD != 1)"
    )
    masks = {
        f"{prefix}STATUSCD": status,
        f"{prefix}STANDING_DEAD_CD": sdc,
        f"{prefix}DECAYCD": (
            f"CASE WHEN ({sdc}) = 1 THEN {src['DECAYCD']} ELSE NULL END"
        ),
    }
    masks.update(
        {
            f"{prefix}{c}": (
                f"CASE WHEN {nonsampled} THEN NULL "
                f"ELSE CASE WHEN {fallen} THEN NULL ELSE {c} END END"
            )
            for c in ("DIA", "HT", "ACTUALHT", "CULL", "CR")
        }
    )
    layers.append((masks, []))
    return layers


def adjust_mortality(
    data_interpolated: DataFrame, use_mortyr: bool | Mapping[str, bool] = True
) -> DataFrame:
    """Mortality masks (reference ``R/adjust_mortality.R:24-130``): optional
    recorded-MORTYR override of the interpolated death midpoint, then
    applicability rules (standing-dead only for dead trees, decay only for
    standing dead, no measurements for fallen trees / non-sampled
    conditions).

    ``use_mortyr`` is one variant's flag, or ``{variant name: flag}`` for
    several variants at once: every variant's masks are computed side by
    side in one generated statement over one read of the panel, and each
    panel row comes out once per variant, tagged in a ``variant`` column.
    The reference's runtime downgrade (no MORTYR recorded anywhere) is
    decided from the source tables by :func:`mortyr_recorded`.

    The whole stage is ONE generated statement (r16, guide §1.2): the
    former five eager transforms each re-ran the analyzer over the deep
    chain plan.  Layer text matches what the Column forms compiled to; the
    oracle gates pin it."""
    df = data_interpolated
    if not isinstance(use_mortyr, Mapping):
        return apply_layers(df, _mortality_layers(use_mortyr, ""))

    prefixes = {name: f"_v{i}_" for i, name in enumerate(use_mortyr)}
    masked = apply_layers(
        df,
        [
            layer
            for name, flag in use_mortyr.items()
            for layer in _mortality_layers(flag, prefixes[name])
        ],
    )
    # the rows of every variant from one projection: one struct per
    # variant in the panel's column order, then `variant`
    structs = []
    for name, p in prefixes.items():
        fields = [
            f"'{c}', {_bq(p + c if c in MASKED_COLS else c)}"
            for c in df.columns
        ]
        structs.append(f"named_struct({', '.join(fields)}, 'variant', '{name}')")
    return masked.selectExpr(f"inline(array({', '.join(structs)}))")


def fia_annualize(data_tidy: DataFrame) -> DataFrame:
    """expand → interpolate → adjust_mortality (reference
    ``R/fia_annualize.R:29-34``)."""
    return adjust_mortality(interpolate_data(expand_data(data_tidy)))
