"""End-to-end per-state pipeline driver + Parquet sink.

Replaces the reference's CI-level fan-out (one GitHub Actions runner per
state, ``scripts/state-parquet.R:1-49`` + ``.github/workflows/
run_workflow.yml:40-48``) with one Spark job over any number of states:
:func:`run_states` builds ``tidy → expand → interpolate → adjust_mortality
→ carbon → sink`` as ONE single-pass plan.  The interpolated panel is read
once: ``adjust_mortality`` computes BOTH mortality variants side by side
in one projection and emits each panel row once per variant (the reuse in
``scripts/state-parquet.R:15-33``), and one write partitioned by
(variant, STATECD) produces ``annualized_midpt`` and ``annualized_mortyr``.
The chain has one shuffle, ``fia_tidy``'s ``(plot_ID, tree_ID)`` window
exchange, which every later window reuses (tree_ID is plot-prefixed,
SURVEY §3.1); every join is broadcast.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
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

    The mortyr variant uses recorded MORTYR only when the panel carries one
    (:func:`fia.mortyr_recorded`, the reference's runtime downgrade), a
    small job over TREE and PLOT that runs while the plan is built.  Both
    variants come out of one ``adjust_mortality`` projection tagged by
    ``variant``, so the NSVB plan (prep_carbon + estimate_carbon, purely
    row-wise) is built, analyzed, codegen'd and scheduled once for both,
    and the write job is the only job over the panel.  Each returned path
    points below the variant partition level, so read-back schemas are
    identical to a per-dataset layout.
    """
    with ThreadPoolExecutor(max_workers=1) as pool:
        # the MORTYR decision is a small job of its own; it runs while this
        # thread builds the panel's plan, which needs it only at the masks
        recorded = pool.submit(
            inheritable_thread_target(spark)(fia.mortyr_recorded), db
        )
        interp = fia.interpolate_data(fia.expand_data(fia.fia_tidy(db)))
    try:
        variants = {
            "annualized_midpt": False,
            "annualized_mortyr": recorded.result(),
        }
        both = fia.adjust_mortality(interp, use_mortyr=variants)
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
        # a caller that persisted the panel (a traced run's layer probes
        # do) relies on this release, on error too; unpersisting a panel
        # nobody persisted is a no-op
        interp.unpersist()
    return {name: os.path.join(root, f"variant={name}") for name in variants}
