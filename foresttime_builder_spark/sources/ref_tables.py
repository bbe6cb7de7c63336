"""Loaders for the published USFS reference/dimension tables shipped as
package resources (see ``resources/``; originally FIA DataMart / NSVB
publication data, staged by the reference's ``data-raw/prep_internal_data.R``).

All of these are tiny (10 – 2,697 rows) and are always broadcast.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

_RES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "resources")


def cached(spark: SparkSession, key: str, build) -> DataFrame:
    """Per-session memo of ``build()`` under ``key``, hung off the session
    object (it dies with the session).  The tiny broadcast dims use it —
    building them is pure driver-side work, so repeated plan builds
    (q26/q27/q28 each rebuild the whole chain) pay it once per session —
    and so does :func:`~foresttime_builder_spark.sources.readers.load_table`,
    keyed on the table's absolute path."""
    cache = getattr(spark, "_ft_ref_cache", None)
    if cache is None:
        cache = {}
        spark._ft_ref_cache = cache
    if key not in cache:
        cache[key] = build()
    return cache[key]

COEF_NAMES = (
    "volib",
    "volbk",
    "volob",
    "rcumib",
    "rcumob",
    "total_biomass",
    "bark_biomass",
    "branch_biomass",
    "foliage",
)


@lru_cache(maxsize=None)
def csv_rows(name: str, spec: tuple[tuple[str, str], ...]) -> tuple[tuple, ...]:
    """Parse one packaged reference CSV driver-side into typed python rows.

    These dims are 10 – 2,697 rows; parsing them with the csv module and
    shipping via ``createDataFrame`` costs ~1 ms, where a ``spark.read.csv``
    per plan build costs ~150 ms of JVM round trips and a file scan —
    measurable when a pipeline build touches six dims (q25-q28)."""
    import csv as _csv

    out = []
    with open(os.path.join(_RES, name), newline="") as f:
        for rec in _csv.DictReader(f):
            row = []
            for col, kind in spec:
                v = rec.get(col)
                if v in (None, "", "NA"):
                    row.append(None)
                elif kind == "int":
                    row.append(int(float(v)))
                elif kind == "double":
                    row.append(float(v))  # handles 'Inf'
                else:
                    row.append(v)
            out.append(tuple(row))
    return tuple(out)


def values_df(spark: SparkSession, rows, spec: tuple[tuple[str, str], ...]) -> DataFrame:
    """A small dimension as a ``LocalRelation`` built from a ``pyarrow.Table``.

    ``createDataFrame`` over python rows yields an ``ExistingRDD`` scan:
    every broadcast of it runs a Spark job that deserializes pickled rows.
    An Arrow table becomes a ``LocalRelation``, which broadcasts
    driver-side with no job at all, and skips the cold SQL parser that
    generated ``VALUES`` text paid (REF_SPECIES alone was 2,697 rows of
    literals; all dims cold 3.2-3.4 s → 0.9 s on 4 vCPUs, local[4]).
    Columns keep the ``VALUES`` form's nullability, so plans do not
    change: doubles are nullable, other kinds only when a NULL occurs."""
    import pyarrow as pa

    types = {"int": pa.int32(), "double": pa.float64(),
             "string": pa.string(), "boolean": pa.bool_()}
    fields, arrays = [], []
    for i, (col, kind) in enumerate(spec):
        vals = [r[i] for r in rows]
        nullable = kind == "double" or None in vals
        fields.append(pa.field(col, types[kind], nullable=nullable))
        arrays.append(pa.array(vals, types[kind]))
    table = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
    return spark.createDataFrame(table)


def _dim(spark: SparkSession, name: str, spec: tuple[tuple[str, str], ...]) -> DataFrame:
    return cached(
        spark, name, lambda: values_df(spark, csv_rows(name, spec), spec)
    )


_SPECIES_SPEC = (
    ("SPCD", "int"),
    ("JENKINS_SPGRPCD", "int"),
    ("SFTWD_HRDWD", "string"),
    ("WOODLAND", "string"),
    ("CARBON_RATIO_LIVE", "double"),
    ("WOOD_SPGR_GREENVOL_DRYWT", "double"),
)


def ref_species(spark: SparkSession) -> DataFrame:
    """SPCD-keyed species properties (subset of REF_SPECIES consumed by the
    pipeline: reference ``R/prep_carbon.R:14-22``, ``R/interpolate_data.R:85``)."""
    return _dim(spark, "REF_SPECIES.csv", _SPECIES_SPEC)


def tpa_rules(spark: SparkSession) -> DataFrame:
    """DESIGNCD × [min_DIA, max_DIA) → TPA_UNADJ band rules
    (``data-raw/DESIGNCD_TPA.csv``; 'Inf' parses to +infinity)."""
    return _dim(
        spark,
        "DESIGNCD_TPA.csv",
        (
            ("DESIGNCD", "int"),
            ("min_DIA", "double"),
            ("max_DIA", "double"),
            ("TPA_UNADJ", "double"),
        ),
    )


def decay_prop(spark: SparkSession) -> DataFrame:
    return _dim(
        spark,
        "REF_TREE_DECAY_PROP.csv",
        (
            ("DECAYCD", "int"),
            ("SFTWD_HRDWD", "string"),
            ("DENSITY_PROP", "double"),
            ("BARK_LOSS_PROP", "double"),
            ("BRANCH_LOSS_PROP", "double"),
        ),
    )


def carbon_ratio_dead(spark: SparkSession) -> DataFrame:
    return _dim(
        spark,
        "REF_TREE_CARBON_RATIO_DEAD.csv",
        (
            ("SFTWD_HRDWD", "string"),
            ("DECAYCD", "int"),
            ("CARBON_RATIO", "double"),
        ),
    )


_CRPROP_SPEC = (
    ("CARTgrp", "string"),
    ("Province", "string"),
    ("hwd_yn", "string"),
    ("CRmn", "double"),
    ("Nobs", "string"),
)


def median_crprop(spark: SparkSession) -> DataFrame:
    """Median crown proportion by province × hardwood flag, with literal
    'UNDEFINED' province fallback rows (``data-raw/median_crprop.csv``)."""

    def build() -> DataFrame:
        rows = [
            (*r, "S" if r[2] == "N" else "H")
            for r in csv_rows("median_crprop.csv", _CRPROP_SPEC)
        ]
        spec = (*_CRPROP_SPEC, ("SFTWD_HRDWD", "string"))
        return values_df(spark, rows, spec)

    return cached(spark, "median_crprop.csv", build)


def crprop_undefined() -> dict[str, float]:
    """The 'UNDEFINED'-province crown-proportion fallback values, resolved
    driver-side (no Spark job: the reference reads them with a filter+collect,
    ``R/estimate_carbon.R:27-33``)."""
    return {
        ("S" if r[2] == "N" else "H"): r[3]
        for r in csv_rows("median_crprop.csv", _CRPROP_SPEC)
        if r[1] == "UNDEFINED"
    }
