"""NSVB carbon/biomass estimation pipeline, Spark-first.

Stage parity with the reference chain ``prep_carbon → estimate_carbon →
predictCRM2`` (reference ``R/prep_carbon.R:11-91``,
``R/estimate_carbon.R:10-105``, ``R/predictCRM2.R:4-626``), re-expressed as
broadcast reference joins + one lazy column DAG:

- the reference's ~14 merge-by-ID passes (one per predicted response) are
  pessimizations of eager R evaluation and are **not** copied — every
  response is a column expression over the same row (SURVEY §2.3 J15/§4);
- coefficient precedence (``combineLevels2``) becomes three broadcast joins
  against pre-merged per-level dims + one CASE pick per coefficient
  (:mod:`..functions.nsvb`);
- the only non-codegen step is the vectorized bisection for HT4/HTSAW.

The ~30 dependency-ordered projection layers of the prediction DAG are
authored as SQL text and folded into one generated nested-``SELECT``
statement (:func:`..functions.helpers.apply_layers`): one ``spark.sql``
call, so the eager analyzer runs once instead of once per layer.

Division-by-zero edges (zero combined biomass or zero present volume) yield
null here — Spark/ANSI-friendly — where R would produce Inf/NaN
(``R/predictCRM2.R:485-529``); both are "no meaningful estimate" and the
oracle mirrors the null convention via ``nullif``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from foresttime_builder_spark.functions import nsvb
from foresttime_builder_spark.functions.helpers import (
    _bq,
    apply_layers,
    prune_layers,
)
from foresttime_builder_spark.functions.nsvb import rif_sql
from foresttime_builder_spark.sources import ref_tables

LB_PER_FT3 = 62.4
_LB = f"{LB_PER_FT3}D"

#: PROVINCE from ECOSUBCD (reference ``getDivision``, ``R/getDivision.R:7-33``):
#: trim, then drop the trailing 1-3 chars depending on length
#: (4 → keep 3; 7 → drop 3; else drop 2).
_T = "trim(ECOSUBCD)"
_PROVINCE_SQL = (
    f"CASE WHEN length({_T}) = 0 THEN '' "
    f"WHEN length({_T}) = 4 THEN substring({_T}, 1, 3) "
    f"WHEN length({_T}) = 7 THEN substring({_T}, 1, length({_T}) - 3) "
    f"ELSE substring({_T}, 1, length({_T}) - 2) END"
)
#: DIVISION: the province with its last character replaced by '0'.
_DIVISION_SQL = (
    "CASE WHEN length(PROVINCE) != 0 "
    "THEN concat(substring(PROVINCE, 1, length(PROVINCE) - 1), '0') "
    "ELSE '' END"
)


def prep_carbon(df: DataFrame) -> DataFrame:
    """Attach species / decay / carbon-ratio reference data and derive the
    Walker-code input columns (reference ``R/prep_carbon.R:11-91``)."""
    spark = df.sparkSession
    species = ref_tables.ref_species(spark).select(
        "SPCD",
        "JENKINS_SPGRPCD",
        "SFTWD_HRDWD",
        "CARBON_RATIO_LIVE",
        F.col("WOOD_SPGR_GREENVOL_DRYWT").alias("WDSG"),
    )
    decay = ref_tables.decay_prop(spark)
    cull_ratio = (
        decay.filter(F.col("DECAYCD") == 3)
        .select("SFTWD_HRDWD", F.col("DENSITY_PROP").alias("CULL_DECAY_RATIO"))
    )
    dead_ratio = ref_tables.carbon_ratio_dead(spark)

    out = (
        df.join(F.broadcast(species), on="SPCD", how="left")
        .join(F.broadcast(cull_ratio), on="SFTWD_HRDWD", how="left")
        .join(F.broadcast(decay), on=["DECAYCD", "SFTWD_HRDWD"], how="left")
        .join(F.broadcast(dead_ratio), on=["DECAYCD", "SFTWD_HRDWD"], how="left")
    )

    live = "STATUSCD = 1"
    return apply_layers(
        out,
        [
            (
                {
                    "CULL_DECAY_RATIO": rif_sql(live, "CULL_DECAY_RATIO", "1.0D"),
                    "STANDING_DEAD_CD": rif_sql(live, "0", "STANDING_DEAD_CD"),
                    "DECAYCD": rif_sql(live, "0", "DECAYCD"),
                    "DECAY_WD": rif_sql(live, "1.0D", "DENSITY_PROP"),
                    "DECAY_BK": rif_sql(live, "1.0D", "BARK_LOSS_PROP"),
                    "DECAY_BR": rif_sql(live, "1.0D", "BRANCH_LOSS_PROP"),
                    "C_FRAC": rif_sql(
                        live, "CARBON_RATIO_LIVE * 100", "CARBON_RATIO * 100"
                    ),
                    "PROVINCE": _PROVINCE_SQL,
                    "CULL": "coalesce(CULL, 0.0D)",
                },
                [],
            ),
            ({"DIVISION": _DIVISION_SQL}, []),
        ],
    )


#: prepped columns estimate_carbon mutates in place to feed the equations;
#: the caller-visible contract keeps the prepped originals
_MUTATED = ("CR", "STDORGCD", "SPCD", "CULL")
#: what estimate_carbon's default output reads from the NSVB DAG besides
#: the prepped columns: the stashed originals, the two estimates and the
#: eligibility inputs
ESTIMATE_READS = (
    *(f"_orig_{c}" for c in _MUTATED),
    "BIOMASS",
    "CARBON",
    "JENKINS_SPGRPCD",
    "HT",
)


def estimate_carbon(df_prepped: DataFrame, keep_all: bool = False) -> DataFrame:
    """Run the NSVB equation system and attach the estimates
    (reference ``R/estimate_carbon.R:10-105``).

    The reference filters to the estimable subset (woodland species and
    missing-height trees excluded) and LEFT-JOINS the estimates back — only
    because its array-indexing code breaks on NAs.  Here the DAG is
    null-safe, so estimates are computed IN PLACE and gated null for
    ineligible rows: same output, no self-join, and the upstream plan is
    executed once instead of twice (SURVEY §2.3 J11 "avoid entirely").

    ``keep_all=True`` returns every intermediate response column plus an
    ``_eligible`` flag (the reference's ``all.vars = TRUE``) — used by the
    differential-test harness; the default mirrors the reference's output
    contract (prepped input columns + ``DRYBIO_AG`` + ``CARBON_AG``).
    """
    spark = df_prepped.sparkSession
    crprop = ref_tables.median_crprop(spark)
    cr_dim = crprop.select(
        F.col("Province").alias("PROVINCE"), "SFTWD_HRDWD", "CRmn"
    )
    # static fallback values resolved driver-side — no collect() job per build
    undef = ref_tables.crprop_undefined()

    eligible = "(JENKINS_SPGRPCD < 10) AND (HT IS NOT NULL)"

    joined = df_prepped.join(
        F.broadcast(cr_dim), on=["SFTWD_HRDWD", "PROVINCE"], how="left"
    )
    fiadb = apply_layers(
        joined,
        [
            # stash the prepped originals before the in-place mutations
            ({f"_orig_{c}": c for c in _MUTATED}, []),
            (
                {
                    "CRmn": (
                        "coalesce(CRmn, CASE WHEN SFTWD_HRDWD = 'S' THEN "
                        f"{undef['S']}D WHEN SFTWD_HRDWD = 'H' THEN "
                        f"{undef['H']}D END)"
                    ),
                    "BROKEN_TOP": "NOT (HT = ACTUALHT)",
                    "CR": rif_sql("(CR IS NULL) AND (STATUSCD = 1)", "0.0D", "CR"),
                    "STDORGCD": "coalesce(STDORGCD, 0)",
                    "CULL": "coalesce(CULL, 0.0D)",
                },
                [],
            ),
            # planted loblolly/slash pine get the "1_" SPCD prefix
            # (R/estimate_carbon.R:48-52); numeric→string type switch here
            (
                {
                    "SPCD": (
                        "CASE WHEN SPCD IN (111, 131) AND STDORGCD = 1 "
                        "THEN concat('1_', CAST(SPCD AS STRING)) "
                        "ELSE CAST(SPCD AS STRING) END"
                    )
                },
                [],
            ),
            ({"SPCD_DIVISION": "concat_ws(' ', SPCD, DIVISION)"}, []),
        ],
    )

    if keep_all:
        return predict_crm2(fiadb).withColumn("_eligible", F.expr(eligible))

    # build only what the output reads: the sink never writes the ~100
    # other responses, the HT4/HTSAW bisection among them
    est = predict_crm2(fiadb, keep=[*df_prepped.columns, *ESTIMATE_READS])

    # the prepped columns, mutated ones restored, then the estimates
    return est.selectExpr(
        *(
            f"{_bq('_orig_' + c)} AS {_bq(c)}" if c in _MUTATED else _bq(c)
            for c in df_prepped.columns
        ),
        f"CASE WHEN {eligible} THEN BIOMASS END AS DRYBIO_AG",
        f"CASE WHEN {eligible} THEN CARBON END AS CARBON_AG",
    )


def predict_crm2(data: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """The NSVB 40-column prediction/deduction/harmonization DAG
    (reference ``R/predictCRM2.R:4-626``), as one lazy column plan:
    three broadcast dim joins, then every derived column in one
    nested-CTE SQL pyramid (single analysis pass, single codegen span
    except the bisection's ArrowEvalPython).

    With ``keep``, only the layers those columns depend on are built
    (:func:`..functions.helpers.prune_layers`); the bisection UDF is
    registered only when a built layer calls it."""
    layers = crm2_layers()
    if keep is not None:
        layers = prune_layers(layers, keep)
    if calls_bisect(layers):
        nsvb.register_udfs(data.sparkSession)
    return apply_layers(nsvb.join_coef_dims(data), layers)


def calls_bisect(layers: list[tuple[dict[str, str], list[str]]]) -> bool:
    """Whether any layer expression calls the ``nsvb_bisect_ht`` UDF."""
    return any(
        "nsvb_bisect_ht" in e for exprs, _ in layers for e in exprs.values()
    )


def crm2_layers() -> list[tuple[dict[str, str], list[str]]]:
    """:func:`predict_crm2`'s ``(exprs, drops)`` layers over the
    coefficient-joined rows (SQL text, no Spark)."""
    avail = {p: frozenset(cols) for p, cols in nsvb.prefix_cols().items()}
    fv = nsvb.find_vol_sql
    pick_exprs, pick_drops = nsvb.coef_pick_layer()

    layers: list[tuple[dict[str, str], list[str]]] = []
    layers.append(
        ({"SPCD_NUMERIC": "CAST(regexp_replace(SPCD, '^1_', '') AS DOUBLE)"}, [])
    )
    # var_names mapping (R/predictCRM2.R:29): DBH<-DIA, THT<-HT
    layers.append(
        (
            {
                "k": "CASE WHEN SPCD_NUMERIC < 300 THEN 9.0D ELSE 11.0D END",
                "saw": "CASE WHEN SPCD_NUMERIC < 300 THEN 7.0D ELSE 9.0D END",
                "DBH": "DIA",
                "THT": "HT",
            },
            [],
        )
    )
    # finest-level-wins coefficient pick (drops the raw _l{i}_* columns)
    layers.append((pick_exprs, pick_drops))

    # ---- gross volume predictions ----
    layers.append(
        (
            {
                "VTOTIB_GROSS": nsvb.equation_sql("vib", available=avail["vib"]),
                "VTOTBK_GROSS": nsvb.equation_sql("vbk", available=avail["vbk"]),
            },
            [],
        )
    )
    layers.append(({"VTOTOB_GROSS": "VTOTIB_GROSS + VTOTBK_GROSS"}, []))

    # merch/sawlog heights: (rcumob ⋈ volob) coefs + bisection, floor at 5 ft.
    # The raw roots get their own layer so each bisection is evaluated once.
    layers.append(
        (
            {
                "_ht4_raw": nsvb.find_ht_sql("4.0D"),
                "_htsaw_raw": nsvb.find_ht_sql("saw"),
            },
            [],
        )
    )
    layers.append(
        (
            {
                "HT4": (
                    "CASE WHEN _ht4_raw IS NULL THEN NULL "
                    "ELSE greatest(_ht4_raw, 5.0D) END"
                ),
                "HTSAW": (
                    "CASE WHEN _htsaw_raw IS NULL THEN NULL "
                    "ELSE greatest(_htsaw_raw, 5.0D) END"
                ),
            },
            [],
        )
    )

    # section volumes from the rcumib ratio profile
    al, be = "rib_alpha", "rib_beta"
    vib, vob = "VTOTIB_GROSS", "VTOTOB_GROSS"
    stump_ib = fv(al, be, "THT", "0.0D", "1.0D", vib)
    stump_ob = fv(al, be, "THT", "0.0D", "1.0D", vob)
    layers.append(
        (
            {
                "VMERIB_GROSS": fv(al, be, "THT", "1.0D", "HT4", vib),
                "VMEROB_GROSS": fv(al, be, "THT", "1.0D", "HT4", vob),
                # no stump volumes for saplings (R:162)
                "VSTPIB_GROSS": f"CASE WHEN DIA < 5.0D THEN NULL ELSE {stump_ib} END",
                "VSTPOB_GROSS": f"CASE WHEN DIA < 5.0D THEN NULL ELSE {stump_ob} END",
                "VSAWIB_GROSS": fv(al, be, "THT", "1.0D", "HTSAW", vib),
                "VSAWOB_GROSS": fv(al, be, "THT", "1.0D", "HTSAW", vob),
                # broken-top height ratio (equation 6.1, rcumib coefs)
                "HT_RAT_ADJ": rif_sql(
                    "ACTUALHT < THT",
                    f"pow(1 - pow(1 - ACTUALHT / THT, {al}), {be})",
                    "1.0D",
                ),
            },
            [],
        )
    )
    layers.append(
        (
            {
                "VMERBK_GROSS": "VMEROB_GROSS - VMERIB_GROSS",
                "VSTPBK_GROSS": "VSTPOB_GROSS - VSTPIB_GROSS",
                "VTOPIB_GROSS": "VTOTIB_GROSS - VMERIB_GROSS - VSTPIB_GROSS",
                "VTOPOB_GROSS": "VTOTOB_GROSS - VMEROB_GROSS - VSTPOB_GROSS",
                "VSAWBK_GROSS": "VSAWOB_GROSS - VSAWIB_GROSS",
            },
            [],
        )
    )
    layers.append(({"VTOPBK_GROSS": "VTOPOB_GROSS - VTOPIB_GROSS"}, []))

    # ---- present (broken-top adjusted) volumes (R/predictCRM2.R:244-288) ----
    layers.append(
        (
            {
                "VTOTIB_PRESENT": "VTOTIB_GROSS * HT_RAT_ADJ",
                "VTOTBK_PRESENT": "VTOTBK_GROSS * HT_RAT_ADJ",
                "VMERIB_PRESENT": rif_sql(
                    "ACTUALHT < HT4",
                    "VTOTIB_GROSS * HT_RAT_ADJ - VSTPIB_GROSS",
                    "VMERIB_GROSS",
                ),
                "VMERBK_PRESENT": rif_sql(
                    "ACTUALHT < HT4",
                    "VTOTBK_GROSS * HT_RAT_ADJ - VSTPBK_GROSS",
                    "VMERBK_GROSS",
                ),
                "VSAWIB_PRESENT": rif_sql(
                    "ACTUALHT < HTSAW",
                    "VTOTIB_GROSS * HT_RAT_ADJ - VSTPIB_GROSS",
                    "VSAWIB_GROSS",
                ),
                "VSAWBK_PRESENT": rif_sql(
                    "ACTUALHT < HTSAW",
                    "VTOTBK_GROSS * HT_RAT_ADJ - VSTPBK_GROSS",
                    "VSAWBK_GROSS",
                ),
                "VSTPIB_PRESENT": "VSTPIB_GROSS",
                "VSTPBK_PRESENT": "VSTPBK_GROSS",
                "VSTPOB_PRESENT": "VSTPOB_GROSS",
            },
            [],
        )
    )
    # broken top below bole height → zero top volumes (null-guarded as in R)
    tz = "(ACTUALHT < HT4) AND HT4 IS NOT NULL"
    layers.append(
        (
            {
                "VTOTOB_PRESENT": "VTOTIB_PRESENT + VTOTBK_PRESENT",
                "VMEROB_PRESENT": "VMERIB_PRESENT + VMERBK_PRESENT",
                "VSAWOB_PRESENT": "VSAWIB_PRESENT + VSAWBK_PRESENT",
                "VTOPIB_PRESENT": (
                    f"CASE WHEN {tz} THEN 0.0D "
                    "ELSE VTOTIB_PRESENT - VMERIB_PRESENT - VSTPIB_PRESENT END"
                ),
                "VTOPBK_PRESENT": (
                    f"CASE WHEN {tz} THEN 0.0D "
                    "ELSE VTOTBK_PRESENT - VMERBK_PRESENT - VSTPBK_PRESENT END"
                ),
            },
            [],
        )
    )
    layers.append(
        (
            {
                "VTOPOB_PRESENT": (
                    f"CASE WHEN {tz} THEN 0.0D "
                    "ELSE VTOPIB_PRESENT + VTOPBK_PRESENT END"
                ),
                # ---- sound volumes: cull/decay (R/predictCRM2.R:292-321) ----
                "SND_WOOD_DECAY": rif_sql("CULL < 99", "1 - CULL / 100", "0.0D"),
            },
            [],
        )
    )
    secs = ("VTOT", "VMER", "VSTP", "VTOP", "VSAW")
    layers.append(
        (
            {
                **{f"{s}IB_SOUND": f"{s}IB_PRESENT * SND_WOOD_DECAY" for s in secs},
                **{f"{s}BK_SOUND": f"{s}BK_PRESENT * DECAY_BK" for s in secs},
            },
            [],
        )
    )
    layers.append(
        ({f"{s}OB_SOUND": f"{s}IB_SOUND + {s}BK_SOUND" for s in secs}, [])
    )

    # sawlog DBH thresholds: 9" softwood / 11" hardwood, else null
    below_saw = (
        "(((SFTWD_HRDWD = 'S') AND (DBH < 9.0D)) "
        "OR ((SFTWD_HRDWD = 'H') AND (DBH < 11.0D))) AND DBH IS NOT NULL"
    )
    layers.append(
        (
            {
                c: f"CASE WHEN {below_saw} THEN NULL ELSE {c} END"
                for x in ("IB", "OB", "BK")
                for y in ("GROSS", "PRESENT", "SOUND")
                for c in (f"VSAW{x}_{y}",)
            },
            [],
        )
    )

    # ---- biomass predictions (R/predictCRM2.R:358-417) ----
    # Total and Branch switch to equation 3.1 at the Jenkins level
    bio = {}
    for prefix, outcol, jenkins31 in (
        ("tb", "Total", True),
        ("bb", "Bark", False),
        ("br", "Branch", True),
        ("fo", "FOLIAGE", False),
    ):
        eq = None
        if jenkins31:
            eq = f"CASE WHEN {prefix}_level = 3 THEN 3.1D ELSE {prefix}_equation END"
        bio[outcol] = nsvb.equation_sql(
            prefix, equation=eq, available=avail[prefix]
        )
    layers.append((bio, []))

    # ---- reductions (R/predictCRM2.R:425-466) ----
    layers.append(
        (
            {
                "Wood": f"VTOTIB_GROSS * WDSG * {_LB}",
                "CULL_REDUCTION": rif_sql(
                    "STANDING_DEAD_CD < 1",
                    "1 - (1 - CULL_DECAY_RATIO) * CULL / 100",
                    "1.0D",
                ),
                "BARK_REDUCTION": "HT_RAT_ADJ * DECAY_BK * DECAY_WD",
                # R pmax propagates NA; Spark greatest ignores nulls — guard
                "CR": "CASE WHEN CR IS NULL THEN NULL ELSE greatest(CR, 1.0D) END",
            },
            [],
        )
    )
    layers.append(
        (
            {
                "WOOD_REDUCTION": "HT_RAT_ADJ * CULL_REDUCTION * DECAY_WD",
                "CRprop_HT": rif_sql(
                    "STANDING_DEAD_CD = 1",
                    "CRmn / 100",
                    "1 - ACTUALHT / THT * (1 - CR / 100)",
                ),
            },
            [],
        )
    )
    layers.append(
        (
            {
                "_bcp_raw": (
                    "(ACTUALHT - (1 - CRprop_HT) * THT) "
                    "/ nullif(CRprop_HT * THT, 0.0D)"
                )
            },
            [],
        )
    )
    layers.append(
        (
            {
                "_bcp0": (
                    "CASE WHEN _bcp_raw IS NULL THEN NULL "
                    "ELSE greatest(_bcp_raw, 0.0D) END"
                )
            },
            [],
        )
    )
    layers.append(
        (
            {
                "broken_crn_prop": (
                    "CASE WHEN NOT BROKEN_TOP THEN 1.0D ELSE "
                    + rif_sql("_bcp0 < 0.01D", "0.0D", "_bcp0")
                    + " END"
                )
            },
            [],
        )
    )
    layers.append(
        (
            {
                "BRANCH_REDUCTION": "broken_crn_prop * DECAY_BR * DECAY_WD",
                "FOLIAGE_REDUCTION": rif_sql(
                    "STANDING_DEAD_CD = 1", "0.0D", "broken_crn_prop"
                ),
            },
            [],
        )
    )
    layers.append(
        (
            {
                "Wood_Reduced": "Wood * WOOD_REDUCTION",
                "Bark_Reduced": "Bark * BARK_REDUCTION",
                "Branch_Reduced": "Branch * BRANCH_REDUCTION",
                "Foliage_Reduced": "FOLIAGE * FOLIAGE_REDUCTION",
            },
            [],
        )
    )
    # ---- harmonization (R/predictCRM2.R:485-534) ----
    layers.append(
        (
            {
                "AGB_Reduction_Factor": (
                    "(Wood_Reduced + Bark_Reduced + Branch_Reduced) "
                    "/ nullif(Wood + Bark + Branch, 0.0D)"
                ),
                "TotalC": "Wood_Reduced + Bark_Reduced + Branch_Reduced",
            },
            [],
        )
    )
    layers.append(({"Total_Reduced": "Total * AGB_Reduction_Factor"}, []))
    layers.append(
        (
            {
                "Diff": "Total_Reduced - TotalC",
                **{
                    f"{comp}R": f"{comp}_Reduced / nullif(TotalC, 0.0D)"
                    for comp in ("Wood", "Bark", "Branch")
                },
            },
            [],
        )
    )
    layers.append(
        (
            {
                f"{comp}F": f"Diff * {comp}R + {comp}_Reduced"
                for comp in ("Wood", "Bark", "Branch")
            },
            [],
        )
    )
    layers.append(
        (
            {
                "WDSGAdj": f"WoodF / nullif(VTOTIB_PRESENT, 0.0D) / {_LB}",
                "BKSGAdj": f"BarkF / nullif(VTOTBK_PRESENT, 0.0D) / {_LB}",
            },
            [],
        )
    )
    wsecs = ("MER", "STP", "TOP", "SAW")
    layers.append(
        (
            {
                **{f"W{s}IB": f"V{s}IB_PRESENT * WDSGAdj * {_LB}" for s in wsecs},
                **{f"W{s}BK": f"V{s}BK_PRESENT * BKSGAdj * {_LB}" for s in wsecs},
                "WTOTIB": "WoodF",
                "WTOTBK": "BarkF",
                "WTOTOB": "WoodF + BarkF",
                "WTOTBCH": "BranchF",
                "FOLIAGE": "Foliage_Reduced",
                "BIOMASS": "Total_Reduced",
            },
            [],
        )
    )
    layers.append(
        (
            {
                **{f"W{s}OB": f"W{s}IB + W{s}BK" for s in wsecs},
                "CARBON": "BIOMASS * (C_FRAC / 100)",
            },
            [],
        )
    )
    layers.append(
        ({"WMERBCH": "WTOTBCH + WTOPOB", "AGB": "BIOMASS + FOLIAGE"}, [])
    )

    # sapling rule: merch/sawlog/stump/top details are not reported
    # (R/predictCRM2.R:548-579)
    sapling_na = (
        "VMERBK_GROSS", "VMERBK_SOUND", "VMERIB_GROSS", "VMERIB_SOUND",
        "VSAWBK_GROSS", "VSAWBK_SOUND", "VSAWIB_GROSS", "VSAWIB_SOUND",
        "VSTPBK_GROSS", "VSTPBK_SOUND", "VSTPIB_GROSS", "VSTPIB_SOUND",
        "VTOPBK_GROSS", "VTOPBK_SOUND", "VTOPIB_GROSS", "VTOPIB_SOUND",
        "WMERBK", "WMERIB", "WSTPBK", "WSTPIB", "WTOPBK", "WTOPIB",
    )
    layers.append(
        (
            {c: f"CASE WHEN DBH < 5.0D THEN NULL ELSE {c} END" for c in sapling_na},
            [],
        )
    )
    layers.append(({}, ["_ht4_raw", "_htsaw_raw", "_bcp_raw", "_bcp0"]))
    return layers
