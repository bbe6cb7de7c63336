"""Shared pieces of the query family modules: the ``QuerySpec`` registry
record and the SQL/Column fragments that more than one family builds on both
engine sides."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from foresttime_builder_spark.sources import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # ANSI SQL for DuckDB; None → rows-only check

_QTY_BANDS = [("tiny", 0.0, 10.0), ("small", 10.0, 25.0), ("mid", 25.0, 40.0), ("large", 40.0, 1e9)]

_PANEL_FILTER = "((o_custkey + year(o_orderdate)) % 3) != 0"

def _orders_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # hash by custkey BEFORE the aggregate: HashPartitioning(custkey)
    # satisfies the (custkey, year) clustering requirement (subset rule),
    # so the aggregate plans with NO second exchange — and the expand/
    # interpolate windows downstream (all keyed on custkey) fuse into the
    # same single-exchange pipeline (guide §2.4: share one exchange).
    # Cost: the map-side partial aggregate is skipped; at every measured
    # SF the (custkey, year) reduction factor is only ~1.4x, so shuffling
    # raw rows is cheaper than the extra exchange + serialized stage.
    o = o.repartition("o_custkey")
    return (
        o.groupBy(
            F.col("o_custkey").alias("custkey"), F.year("o_orderdate").alias("year")
        )
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("val"),
            F.min("o_orderpriority").alias("prio"),
        )
        .filter(F.expr("((custkey + year) % 3) != 0"))
    )

_PANEL_SQL = f"""
  SELECT o_custkey AS custkey, year(o_orderdate) AS year,
         round(sum(o_totalprice), 4) AS val, min(o_orderpriority) AS prio
  FROM orders GROUP BY 1, 2
  HAVING {_PANEL_FILTER}
"""

_GRID_SQL = f"""
  panel AS ({_PANEL_SQL}),
  bounds AS (SELECT custkey, min(year) lo, max(year) hi FROM panel GROUP BY 1),
  grid AS (SELECT custkey, unnest(generate_series(lo, hi)) AS year FROM bounds),
  joined AS (
    SELECT grid.custkey, grid.year, panel.val, panel.prio,
           panel.custkey IS NULL AS interpolated
    FROM grid LEFT JOIN panel
      ON grid.custkey = panel.custkey AND grid.year = panel.year
  )
"""

_MH_N, _MH_BAND = 16, 2

_SH_BITS = 60

def _pii_suffix_spark() -> list[Column]:
    """Deterministic PII-bearing suffix appended to every document on BOTH
    engine sides — the synthetic corpus has no real emails/IPs/phones, so
    without this the scrub gate would assert nothing but zeros.  (Lazy:
    Columns cannot be built before a session exists.)"""
    return [
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    ]

_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@mail' || "
    "CAST(doc_id % 7 AS VARCHAR) || '.example.com from 10.' || "
    "CAST(doc_id % 200 AS VARCHAR) || '.0.' || "
    "CAST(doc_id % 250 AS VARCHAR) || ' call 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

def _url_spark() -> Column:
    """Deterministic per-document URL, built identically on both engine
    sides (lazy — see :func:`_pii_suffix_spark`)."""
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".example.com/p/"),
        (F.col("doc_id") % 1000).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=x&ref=y")).otherwise(
            F.lit("")
        ),
    )

_URL_SQL = (
    "'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END || "
    "'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/p/' || "
    "CAST(doc_id % 1000 AS VARCHAR) || "
    "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&ref=y' ELSE '' END"
)

_BM25_TERMS = ("spark", "hash", "window", "merge")
