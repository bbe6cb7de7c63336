"""End-to-end per-state pipeline driver + Parquet sink.

Replaces the reference's CI-level fan-out (one GitHub Actions runner per
state, ``scripts/state-parquet.R:1-49`` + ``.github/workflows/
run_workflow.yml:40-48``) with one Spark job over any number of states:

- :func:`run_states` runs ``tidy → expand → interpolate`` ONCE, persists the
  interpolated intermediate, then derives BOTH mortality variants from it
  (mirroring the reuse in ``scripts/state-parquet.R:15-33``) and writes
  ``annualized_midpt`` / ``annualized_mortyr`` parquet datasets partitioned
  by STATECD.  The ``auto`` MORTYR probe and both branches of the sink
  write read the persisted panel (``InMemoryTableScan``), not the CSVs;
- a single ``repartition(plot_ID)`` after tidy makes every downstream window
  shuffle-free (tree_ID is plot-prefixed, SURVEY §3.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from foresttime_builder_spark.plans import carbon, fia


def run_states(
    spark: SparkSession,
    db: dict[str, DataFrame],
    out_dir: str,
    estimate: bool = True,
) -> dict[str, str]:
    """Write ``annualized_midpt`` and ``annualized_mortyr`` parquet datasets
    (the reference's ``{state}_midpt.parquet`` / ``{state}_mortyr.parquet``
    outputs, one partitioned dataset instead of one file per state).

    The two variants are TAGGED and UNIONED before the carbon stage, so
    the ~40-column NSVB plan (prep_carbon + estimate_carbon, purely
    row-wise — no windows or aggregates) is built, analyzed, codegen'd,
    and scheduled ONCE for both, and one write job partitioned by
    (variant, STATECD) replaces two full jobs.  Each returned path points
    below the variant partition level, so read-back schemas are identical
    to the former per-dataset layout.
    """
    tidy = fia.fia_tidy(db)
    interp = fia.interpolate_data(fia.expand_data(tidy)).persist()
    try:
        # the "auto" probe (the reference's runtime downgrade for
        # MORTYR-less states) is the first job over the persisted panel;
        # the sink's two union branches then read it from memory instead
        # of re-running CSV → interpolate each
        tagged = [
            fia.adjust_mortality(interp, use_mortyr=um).withColumn(
                "variant", F.lit(name)
            )
            for name, um in (("annualized_midpt", False),
                             ("annualized_mortyr", "auto"))
        ]
        both = tagged[0].unionByName(tagged[1])
        if estimate:
            both = carbon.estimate_carbon(carbon.prep_carbon(both))

        # recover STATECD from the composite plot key for partitioning:
        # fia_tidy projects it away and no reference table joined by
        # prep_carbon or estimate_carbon carries it
        both = both.withColumn(
            "STATECD", F.split(F.col("plot_ID"), "_").getItem(0).cast("int")
        )
        root = os.path.join(out_dir, "annualized")
        both.write.mode("overwrite").partitionBy("variant", "STATECD").parquet(root)
    finally:
        # the returned paths read the PARQUET, so nothing lazy still needs
        # the panel — release it, on error too, or a long-lived session
        # (bench loop, test suite) accumulates one panel cache per call
        interp.unpersist()
    return {
        name: os.path.join(root, f"variant={name}")
        for name in ("annualized_midpt", "annualized_mortyr")
    }
