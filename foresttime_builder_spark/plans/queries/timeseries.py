"""timeseries benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from foresttime_builder_spark.operators import (
    expand_grid,
    fill_gaps,
    linear_interpolate,
    step_interpolate,
)
from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.sources import load_table

from foresttime_builder_spark.plans.queries._shared import (  # noqa: F401
    QuerySpec,
    _GRID_SQL,
    _orders_panel,
)


def q07_expand_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense year-grid expansion with provenance flag (SURVEY §2.5 W10 +
    §2.3 J5 — ``expand_data``'s sequence/explode + flagged join)."""
    panel = _orders_panel(spark, sf_dir)
    return expand_grid(panel, ["custkey"], "year").select(
        "custkey",
        "year",
        fixed("val", 4).alias("val_e4"),
        "interpolated",
    )

ORACLE_Q07 = f"""
WITH {_GRID_SQL}
SELECT custkey, year,
       {fixed_sql('val', 4)} AS val_e4, interpolated
FROM joined
"""

def q08_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear interpolation over the dense grid (SURVEY §2.5 W4)."""
    panel = _orders_panel(spark, sf_dir)
    g = expand_grid(panel, ["custkey"], "year")
    out = linear_interpolate(g, ["custkey"], "year", ["val"])
    return out.select(
        "custkey",
        "year",
        fixed("val", 4).alias("val_e4"),
        "interpolated",
    )

#: The q08 oracle's interpolated value of a grid row ``j`` from its group's
#: known-point array ``k``.
_INTERP_SQL = """CASE
    WHEN j.val IS NOT NULL THEN j.val
    WHEN k IS NULL OR len(k) = 0 THEN NULL
    WHEN len(k) = 1
      THEN (list_filter(k, e -> e.x <= j.year)[-1]).y
    WHEN (list_filter(k, e -> e.x <= j.year)[-1]).x
         = (list_filter(k, e -> e.x >= j.year)[1]).x
      THEN (list_filter(k, e -> e.x <= j.year)[-1]).y
    WHEN len(list_filter(k, e -> e.x <= j.year)) > 0
     AND len(list_filter(k, e -> e.x >= j.year)) > 0
      THEN (list_filter(k, e -> e.x <= j.year)[-1]).y
           + ((list_filter(k, e -> e.x >= j.year)[1]).y
              - (list_filter(k, e -> e.x <= j.year)[-1]).y)
             / ((list_filter(k, e -> e.x >= j.year)[1]).x
                - (list_filter(k, e -> e.x <= j.year)[-1]).x)
             * (j.year - (list_filter(k, e -> e.x <= j.year)[-1]).x)
    WHEN j.year > k[-1].x
      THEN k[-1].y + (k[-1].y - k[-2].y) / (k[-1].x - k[-2].x)
           * (j.year - k[-1].x)
    ELSE k[1].y + (k[1].y - k[2].y) / (k[1].x - k[2].x)
         * (j.year - k[1].x)
    END"""

ORACLE_Q08 = f"""
WITH {_GRID_SQL},
kn AS (
  -- per-group sorted known-point array: the same formulation the Spark
  -- operator uses (collect_list of (x, y) structs), so every branch —
  -- including the EXTRAPOLATION arms the old window-only twin lacked
  -- (caught by the fuzz sweep: trailing NULL measurements never occur in
  -- the clean panel, so the gate had never exercised them) — is the
  -- identical array arithmetic
  SELECT custkey,
         list(struct_pack(x := CAST(year AS DOUBLE), y := val)
              ORDER BY year) AS k
  FROM joined WHERE val IS NOT NULL GROUP BY custkey
)
SELECT j.custkey, j.year,
  {fixed_sql(_INTERP_SQL, 4)} AS val_e4,
  j.interpolated
FROM joined j LEFT JOIN kn USING (custkey)
"""

def q09_step_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Midpoint-switch categorical interpolation (SURVEY §2.5 W5)."""
    panel = _orders_panel(spark, sf_dir)
    g = expand_grid(panel, ["custkey"], "year")
    out = step_interpolate(g, ["custkey"], "year", ["prio"])
    return out.select("custkey", "year", "prio", "interpolated")

ORACLE_Q09 = f"""
WITH {_GRID_SQL},
idx AS (
  SELECT *, row_number() OVER (PARTITION BY custkey ORDER BY year) AS i
  FROM joined
),
w AS (
  SELECT custkey, year, prio, interpolated, i,
    last_value(prio IGNORE NULLS) OVER
      (PARTITION BY custkey ORDER BY i
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN prio IS NOT NULL THEN i END IGNORE NULLS) OVER
      (PARTITION BY custkey ORDER BY i
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_i,
    first_value(prio IGNORE NULLS) OVER
      (PARTITION BY custkey ORDER BY i
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN prio IS NOT NULL THEN i END IGNORE NULLS) OVER
      (PARTITION BY custkey ORDER BY i
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_i
  FROM idx
)
SELECT custkey, year,
  CASE
    WHEN prio IS NOT NULL THEN prio
    WHEN prev_v IS NULL THEN NULL
    WHEN next_v IS NULL THEN prev_v
    WHEN i < prev_i + ceil((next_i - prev_i) / 2.0) THEN prev_v
    ELSE next_v
  END AS prio,
  interpolated
FROM w
"""

def q10_fill_downup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-then-up gap fill of group-invariant columns (SURVEY §2.5 W1/W3)."""
    panel = _orders_panel(spark, sf_dir)
    g = expand_grid(panel, ["custkey"], "year")
    out = fill_gaps(g, ["custkey"], "year", ["prio"])
    return out.select("custkey", "year", F.col("prio").alias("prio_filled"))

ORACLE_Q10 = f"""
WITH {_GRID_SQL}
SELECT custkey, year,
  coalesce(
    last_value(prio IGNORE NULLS) OVER
      (PARTITION BY custkey ORDER BY year
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    first_value(prio IGNORE NULLS) OVER
      (PARTITION BY custkey ORDER BY year
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
  ) AS prio_filled
FROM joined
"""

def q11_first_flag_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group first-year-where-condition broadcast to all rows
    (SURVEY §2.5 W6/W7 — the first-dead-year window)."""
    o = load_table(spark, sf_dir, "orders")
    w_all = W.partitionBy("o_custkey")
    first_f = F.min(
        F.when(F.col("o_orderstatus") == "F", F.year("o_orderdate"))
    ).over(w_all)
    return (
        o.withColumn("first_f_year", first_f)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.min("first_f_year").alias("first_f_year"))
    )

ORACLE_Q11 = """
SELECT o_custkey AS custkey,
       min(CASE WHEN o_orderstatus = 'F' THEN year(o_orderdate) END)
         AS first_f_year
FROM orders GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "q07_expand_grid": QuerySpec(q07_expand_grid, ORACLE_Q07),
    "q08_linear_interp": QuerySpec(q08_linear_interp, ORACLE_Q08),
    "q09_step_interp": QuerySpec(q09_step_interp, ORACLE_Q09),
    "q10_fill_downup": QuerySpec(q10_fill_downup, ORACLE_Q10),
    "q11_first_flag_year": QuerySpec(q11_first_flag_year, ORACLE_Q11),
}
