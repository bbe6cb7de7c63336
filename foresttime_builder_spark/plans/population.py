"""Population / area scaling of per-tree estimates, Spark-first.

The reference documents this as the canonical downstream analytic query over
the annualized + estimated table (``vignettes/pop_scaling.qmd:100-166``) and
a legacy multi-grain aggregation sweep (``carbon_code/R/07_aggregateFIADB.R``,
SURVEY §2.4 A7).  Both are textbook shuffle aggregations:

- one post-stratified estimator (Bechtold & Patterson 2005, USDA GTR
  SRS-80), two designs: :func:`estimate_population_stratified` reads the
  design from the FIA POP tables, :func:`estimate_population` derives the
  vignette's one stratum per year (EXPNS = area / n_plots, no adjustment).
  Both run the same single grouped pass over distinct condition tuples,
  then a per-year rollup and ratio — the vignette's EXPNS / aDI / tDI
  algebra;
- :func:`multi_grain_sweep`: the reference loops one aggregation per grain
  (~14 passes over the data); here a single ``GROUPING SETS`` pass computes
  every grain in one shuffle (SURVEY §2.4 A7 mapping).

Scale notes: plot-level aggregation shuffles on (plot_ID, YEAR) — the same
key the annualization stage is already partitioned by, so AQE coalesces
rather than re-shuffles; the per-year rollup is a near-free second stage
(thousands of groups).  GROUPING SETS computes all grains with partial
(map-side) aggregation, versus N full passes in the reference.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

LB_PER_TON = 2000.0


def _finite_or_zero(col: F.Column) -> F.Column:
    """NULL / NaN / ±Inf contribute ZERO to population totals, identically
    on both engine sides (oracle: CASE WHEN isfinite(x) THEN x ELSE 0 END).
    Non-finite per-tree estimates are real at the corpus fringe — a
    negative extrapolated DIA under a power law yields NaN — and one such
    row would otherwise poison a whole year's total (where Spark then
    casts NaN->long as 0 while DuckDB's CAST raises)."""
    inf = float("inf")
    return F.when(
        col.isNotNull() & ~F.isnan(col) & (col != inf) & (col != -inf),
        col,
    ).otherwise(F.lit(0.0))


def _estimate(d: DataFrame) -> DataFrame:
    """The post-stratified estimator over ``d``, whose rows carry their
    design's ``EXPNS`` and ``ADJ_FACTOR_SUBP`` (NULL where the plot has no
    stratum: the row contributes 0).  Totals per YEAR:

        Σ CARBON_AG · TPA · ADJ_FACTOR_SUBP · EXPNS / 2000   (tree domain)
        Σ CONDPROP · ADJ_FACTOR_SUBP · EXPNS                 (area domain)

    and ``tons_per_acre`` = total_tons / total_area.  The domains are the
    vignette's: live trees on sampled forest land."""
    # domain indicators (qmd:103-104); null-safe to 0 like the R arithmetic
    adi_cond = (F.col("COND_STATUS_CD") == 1) & (F.col("INTENSITY") == 1)
    adi = F.when(adi_cond, 1.0).otherwise(0.0)
    tdi = F.when(F.col("STATUSCD") == 1, 1.0).otherwise(0.0) * adi
    d = d.withColumn("aDI", adi).withColumn("tDI", tdi)
    adj = F.coalesce(F.col("ADJ_FACTOR_SUBP"), F.lit(0.0))
    expns = F.coalesce(F.col("EXPNS"), F.lit(0.0))

    # ONE fact pass for both rollups (qmd:141-155).  The reference (and the
    # DuckDB oracle) compute tree totals per plot-year, area totals over
    # DISTINCT condition tuples, then join the two — three shuffles plus a
    # join.  Grouping the single pass by the full distinct tuple instead
    # (the area term's inputs become group keys, so one group exists per
    # row the old DISTINCT produced) makes the area term addable exactly
    # once per group at the year rollup, while the tree terms — summed over
    # a finer partition of the same rows than the old (plot, YEAR) grouping
    # — re-sum to identical year totals.  Two exchanges, no join, and the
    # per-plot intermediate the join existed to align disappears.  Note the
    # tuple deliberately includes the attribute columns, NOT just
    # (plot, YEAR, CONDID): interpolated panels can carry mixed attribute
    # values within one condition (e.g. step-interpolated PLT_CN switching
    # at different midpoints per tree, and with it the stratum's EXPNS and
    # ADJ_FACTOR_SUBP), and the distinct-tuple semantics of the reference
    # counts each combination.
    cond_grp = d.groupBy(
        "YEAR",
        "plot_ID",
        "CONDID",
        "CONDPROP_UNADJ",
        "EXPNS",
        "ADJ_FACTOR_SUBP",
        "aDI",
    ).agg(
        F.sum(
            _finite_or_zero(F.col("CARBON_AG"))
            * F.coalesce(F.col("TPA_UNADJ"), F.lit(0.0))
            * adj
            * expns
            * F.col("tDI")
            / LB_PER_TON
        ).alias("_cond_tons")
    )
    return (
        cond_grp.groupBy("YEAR")
        .agg(
            F.sum("_cond_tons").alias("total_tons"),
            F.sum(
                F.coalesce(F.col("CONDPROP_UNADJ"), F.lit(0.0))
                * adj
                * expns
                * F.col("aDI")
            ).alias("total_area"),
        )
        .withColumn(
            "tons_per_acre",
            # nullif: a zero-area year (every condition non-sampled or
            # NULL-proportioned) must yield NULL, not 0/0 -> NaN — Spark
            # silently casts NaN->long as 0 while DuckDB's CAST raises
            F.col("total_tons") / F.nullif(F.col("total_area"), F.lit(0.0))
        )
    )


def _year_design(df: DataFrame, area: float) -> DataFrame:
    """The simplified design: one stratum per YEAR with
    ``EXPNS = area / n_distinct(plot_ID)`` (qmd:119-123) and
    ``ADJ_FACTOR_SUBP = 1``."""
    return (
        df.groupBy("YEAR")
        .agg(F.countDistinct("plot_ID").alias("_nplots"))
        .select(
            "YEAR",
            (F.lit(float(area)) / F.col("_nplots")).alias("EXPNS"),
            F.lit(1.0).alias("ADJ_FACTOR_SUBP"),
        )
    )


def estimate_population(df: DataFrame, area: float) -> DataFrame:
    """Per-year population totals and per-acre ratio for ``CARBON_AG``
    (reference ``vignettes/pop_scaling.qmd:100-166``).

    Returns one row per YEAR: ``total_tons`` (Σ value·TPA·EXPNS / 2000),
    ``total_area`` (Σ CONDPROP·EXPNS over distinct conditions), and
    ``tons_per_acre``.

    This is the post-stratified estimator over :func:`_year_design`.  The
    design's ``ADJ_FACTOR_SUBP = 1`` changes no product (``x * 1.0 == x``
    in IEEE arithmetic) and, being constant, no group, so the totals are
    the vignette's own.  The one difference from spelling EXPNS out is a
    NULL ``YEAR``, which joins no design row and so sums to 0 instead of
    NULL; ``expand_grid`` never emits one.
    """
    d = df.join(F.broadcast(_year_design(df, area)), on="YEAR", how="left")
    return _estimate(d)


def estimate_population_stratified(
    df: DataFrame, pop_stratum: DataFrame, pop_assgn: DataFrame
) -> DataFrame:
    """Design-based population totals using the FIA POP tables
    (the reference downloads-but-never-reads them, ``R/fia_download.R:2-12``;
    ``vignettes/pop_scaling.qmd:36-44,112-118`` names design-based
    stratified estimation — rFIA / EVALIDator style — as the sanity band
    the simplified per-year EXPNS approximates).

    Each plot inherits its stratum's expansion: ``POP_PLOT_STRATUM_ASSGN``
    maps ``PLT_CN → STRATUM_CN`` and ``POP_STRATUM`` carries ``EXPNS``
    (acres represented per plot in the stratum) and ``ADJ_FACTOR_SUBP``
    (non-sampled-area adjustment); a ``PLT_CN`` with no assignment
    contributes 0.

    Scale notes: the POP tables are dimension-sized (one row per plot
    assignment / per stratum) and broadcast; the fact-side plan is the
    simplified mode's — same single-pass grouped sum, no extra shuffle.
    """
    strat = pop_stratum.select(
        F.col("CN").alias("STRATUM_CN"), "EXPNS", "ADJ_FACTOR_SUBP"
    )
    dim = pop_assgn.select("PLT_CN", "STRATUM_CN").join(
        F.broadcast(strat), on="STRATUM_CN"
    )
    d = df.join(F.broadcast(dim), on="PLT_CN", how="left")
    return _estimate(d)


def multi_grain_sweep(
    df: DataFrame, grains: Sequence[Sequence[str]]
) -> DataFrame:
    """The legacy per-grain aggregation sweep in ONE pass via grouping sets
    (reference runs ~14 separate summaries, ``carbon_code/R/07_aggregateFIADB.R:22-32``).

    ``grains`` is a list of column-name lists; the output carries each grain's
    columns (null outside its grain) plus a ``grain`` label, the
    ``TPA_UNADJ``-weighted sum of ``CARBON_AG`` and the row count.
    """
    all_cols = sorted({c for g in grains for c in g})
    sets_sql = ", ".join(
        "(" + ", ".join(g) + ")" if g else "()" for g in grains
    )
    w = F.coalesce(F.col("TPA_UNADJ"), F.lit(0.0))
    v = _finite_or_zero(F.col("CARBON_AG"))
    d = df.withColumn("_wv", v * w)
    d.createOrReplaceTempView("_sweep_in")
    cols = ", ".join(all_cols)
    label = (
        "concat_ws('|', "
        + ", ".join(
            f"CASE WHEN grouping({c}) = 0 THEN '{c}' END" for c in all_cols
        )
        + ")"
    )
    return d.sparkSession.sql(
        f"""
        SELECT {cols}, {label} AS grain,
               sum(_wv) AS weighted_value,
               count(*) AS n_rows
        FROM _sweep_in
        GROUP BY GROUPING SETS ({sets_sql})
        """
    )
