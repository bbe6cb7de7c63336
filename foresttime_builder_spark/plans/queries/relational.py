"""relational benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.sources import load_table

from foresttime_builder_spark.plans.queries._shared import (  # noqa: F401
    QuerySpec,
    _QTY_BANDS,
)


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with scalar expressions (SURVEY §2.4 A2; TPC-H Q1 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fixed(F.sum("l_quantity"), 2).alias("sum_qty_e2"),
            fixed(F.sum("l_extendedprice"), 2).alias("sum_base_price_e2"),
            fixed(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price_e2"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )

ORACLE_Q01 = f"""
SELECT l_returnflag, l_linestatus,
       {fixed_sql('sum(l_quantity)', 2)} AS sum_qty_e2,
       {fixed_sql('sum(l_extendedprice)', 2)} AS sum_base_price_e2,
       {fixed_sql('sum(l_extendedprice * (1 - l_discount))', 2)}
         AS sum_disc_price_e2,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

def q02_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way broadcast dimension join + aggregate (SURVEY §2.3 J7)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.year("o_orderdate").alias("year"))
        .agg(
            # per-row e2 quantize -> exact BIGINT sum (order-free; the
            # double-sum form diverged in its last ulp under fuzz
            # magnitudes — same fix as q43/q62)
            F.sum(
                fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
            ).cast("long").alias("revenue_e2"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )

ORACLE_Q02 = f"""
SELECT r_name AS region, year(o_orderdate) AS year,
       CAST(sum({fixed_sql('l_extendedprice * (1 - l_discount)', 2)}) AS BIGINT)
         AS revenue_e2,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, year(o_orderdate)
"""

def q03_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving unmatched left rows (SURVEY §2.3 J1-J3 shape)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            fixed(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend_e2"
            ),
        )
    )

ORACLE_Q03 = f"""
SELECT c_custkey, c_mktsegment,
       count(o_orderkey) AS n_orders,
       {fixed_sql('coalesce(sum(o_totalprice), 0.0)', 2)}
         AS total_spend_e2
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""

def q04_snapshot_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two yearly snapshots (SURVEY §2.3 J4)."""
    o = load_table(spark, sf_dir, "orders")
    y95 = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_1995"))
    )
    y96 = (
        o.filter(F.year("o_orderdate") == 1996)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_1996"))
    )
    return (
        y95.join(y96, "custkey", "full")
        .select(
            "custkey",
            F.coalesce("n_1995", F.lit(0)).alias("n_1995"),
            F.coalesce("n_1996", F.lit(0)).alias("n_1996"),
        )
    )

ORACLE_Q04 = """
SELECT coalesce(a.custkey, b.custkey) AS custkey,
       coalesce(n_1995, 0) AS n_1995,
       coalesce(n_1996, 0) AS n_1996
FROM (SELECT o_custkey AS custkey, count(*) AS n_1995 FROM orders
      WHERE year(o_orderdate) = 1995 GROUP BY 1) a
FULL OUTER JOIN
     (SELECT o_custkey AS custkey, count(*) AS n_1996 FROM orders
      WHERE year(o_orderdate) = 1996 GROUP BY 1) b
USING (custkey)
"""

def q05_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast range/band theta-join, interval [lo, hi) (SURVEY §2.3 J6 —
    the DESIGNCD×DIA TPA-rules join, re-expressed on l_quantity)."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_QTY_BANDS, "band string, lo double, hi double")
    joined = li.join(
        F.broadcast(bands),
        (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        "left",
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        fixed(F.sum("l_extendedprice"), 2).alias("band_price_e2"),
    )

ORACLE_Q05 = f"""
SELECT band, count(*) AS n,
       {fixed_sql('sum(l_extendedprice)', 2)} AS band_price_e2
FROM lineitem
LEFT JOIN (VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 25.0),
                  ('mid', 25.0, 40.0), ('large', 40.0, 1e9)) bands(band, lo, hi)
  ON l_quantity >= lo AND l_quantity < hi
GROUP BY band
"""

def q06_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks the most recent prior click's
    value (SURVEY §2.3 J13, the interval/as-of join, as a window as-of)."""
    # an event without a timestamp has no as-of position, and a NULL
    # event_id cannot break ts ties (Spark orders NULLS FIRST, DuckDB
    # NULLS LAST) — excluded identically in the oracle
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn(
            "last_click_value_e4",
            fixed(last_click, 4),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            fixed("value", 4).alias("purchase_value_e4"),
            "last_click_value_e4",
        )
    )

ORACLE_Q06 = f"""
SELECT event_id, user_id,
       {fixed_sql('value', 4)} AS purchase_value_e4,
       {fixed_sql('last_click_value', 4)} AS last_click_value_e4
FROM (
  SELECT event_id, user_id, event_type, value,
         last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_value
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
) t
WHERE event_type = 'purchase'
"""

def q18_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain aggregation sweep in one pass (SURVEY §2.4 A7 → GROUPING SETS)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            fixed(F.sum("l_quantity"), 2).alias("sum_qty_e2"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty_e2",
            "n",
        )
    )

ORACLE_Q18 = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       {fixed_sql('sum(l_quantity)', 2)} AS sum_qty_e2,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

def q19_manual_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide reshape via conditional aggregation (SURVEY §2.6 O5)."""
    li = load_table(spark, sf_dir, "lineitem")
    flag = F.col("l_returnflag")
    return li.groupBy("l_linestatus").agg(
        fixed(F.sum(F.when(flag == "A", F.col("l_quantity")).otherwise(0.0)), 2)
        .alias("qty_A_e2"),
        fixed(F.sum(F.when(flag == "N", F.col("l_quantity")).otherwise(0.0)), 2)
        .alias("qty_N_e2"),
        fixed(F.sum(F.when(flag == "R", F.col("l_quantity")).otherwise(0.0)), 2)
        .alias("qty_R_e2"),
    )

def _qty_when(flag: str) -> str:
    return f"sum(CASE WHEN l_returnflag = '{flag}' THEN l_quantity ELSE 0.0 END)"


ORACLE_Q19 = f"""
SELECT l_linestatus,
       {fixed_sql(_qty_when('A'), 2)} AS qty_A_e2,
       {fixed_sql(_qty_when('N'), 2)} AS qty_N_e2,
       {fixed_sql(_qty_when('R'), 2)} AS qty_R_e2
FROM lineitem
GROUP BY l_linestatus
"""

def q20_yearly_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup + ratio — the population-scaling query shape
    (SURVEY §3.3: per-plot totals → per-year totals → ratio; here per-customer
    totals → per-year revenue per active customer)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust_year = o.groupBy(
        F.col("o_custkey").alias("custkey"), F.year("o_orderdate").alias("year")
    ).agg(F.sum("o_totalprice").alias("cust_total"))
    return (
        per_cust_year.groupBy("year")
        .agg(
            F.round(F.sum("cust_total"), 2).alias("_tr"),
            F.countDistinct("custkey").alias("n_customers"),
        )
        .select(
            "year",
            fixed("_tr", 2).alias("total_revenue_e2"),
            "n_customers",
            fixed(F.col("_tr") / F.col("n_customers"), 4).alias(
                "revenue_per_customer_e4"
            ),
        )
    )

ORACLE_Q20 = f"""
WITH per_cust_year AS (
  SELECT o_custkey AS custkey, year(o_orderdate) AS year,
         sum(o_totalprice) AS cust_total
  FROM orders GROUP BY 1, 2
)
SELECT year,
       {fixed_sql('round(sum(cust_total), 2)', 2)}
         AS total_revenue_e2,
       count(DISTINCT custkey) AS n_customers,
       {fixed_sql('round(sum(cust_total), 2) / count(DISTINCT custkey)', 4)}
         AS revenue_per_customer_e4
FROM per_cust_year GROUP BY year
"""

def q21_monthly_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag/lead transition windows (SURVEY §2.5 W9)."""
    # a NULL ship date has no (year, month) lag position, and Spark/DuckDB
    # disagree on where NULL order keys sort — excluded identically
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    monthly = li.groupBy(
        F.col("l_suppkey").alias("suppkey"),
        F.year("l_shipdate").alias("year"),
        F.month("l_shipdate").alias("month"),
    ).agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
    w = W.partitionBy("suppkey").orderBy("year", "month")
    return monthly.select(
        "suppkey",
        "year",
        "month",
        fixed("qty", 2).alias("qty_e2"),
        fixed(F.lag("qty", 1).over(w), 2).alias("prev_qty_e2"),
        fixed(F.col("qty") - F.lag("qty", 1).over(w), 2).alias("qty_delta_e2"),
    )

ORACLE_Q21 = f"""
WITH monthly AS (
  SELECT l_suppkey AS suppkey, year(l_shipdate) AS year,
         month(l_shipdate) AS month, round(sum(l_quantity), 2) AS qty
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1, 2, 3
)
SELECT suppkey, year, month,
       {fixed_sql('qty', 2)} AS qty_e2,
       {fixed_sql('lag(qty, 1) OVER w', 2)} AS prev_qty_e2,
       {fixed_sql('qty - lag(qty, 1) OVER w', 2)}
         AS qty_delta_e2
FROM monthly
WINDOW w AS (PARTITION BY suppkey ORDER BY year, month)
"""

def q22_expns_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expansion-factor pattern: constant / countDistinct per group
    (SURVEY §2.4 A5 — EXPNS = area / n_plots)."""
    o = load_table(spark, sf_dir, "orders")
    area = 1_000_000.0
    return (
        o.groupBy(F.year("o_orderdate").alias("year"))
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .withColumn(
            "expns_e4",
            fixed(F.lit(area) / F.col("n_customers"), 4),
        )
    )

ORACLE_Q22 = f"""
SELECT year(o_orderdate) AS year,
       count(DISTINCT o_custkey) AS n_customers,
       {fixed_sql('1000000.0 / count(DISTINCT o_custkey)', 4)}
         AS expns_e4
FROM orders GROUP BY 1
"""

def q47_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic two-table as-of join (operators.asof, SURVEY §2.3 J13): each
    purchase event picks the latest click AT OR BEFORE it per user via the
    union-then-window formulation (one shuffle, no range explosion)."""
    from foresttime_builder_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )  # same no-time/no-identity exclusion as q06, mirrored in the oracle
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.col("value").alias("click_value")
    )
    j = asof_join(
        purchases,
        clicks,
        by=["user_id"],
        left_on="ts",
        right_on="ts",
        value_cols=["click_value"],
        right_order=["event_id"],
    )
    return j.select(
        "event_id",
        "user_id",
        fixed("value", 4).alias("purchase_value_e4"),
        fixed("click_value", 4).alias("asof_click_value_e4"),
    )

ORACLE_Q47 = f"""
WITH ev AS (
  SELECT * FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
),
clicks AS (SELECT * FROM ev WHERE event_type = 'click')
SELECT event_id, user_id,
       {fixed_sql('value', 4)} AS purchase_value_e4,
       {fixed_sql('click_value', 4)} AS asof_click_value_e4
FROM (
  SELECT p.event_id, p.user_id, p.value,
         (SELECT c.value FROM clicks c
          -- IS NOT DISTINCT FROM: the Spark operator's window
          -- PARTITION BY groups NULL user_ids together; a plain
          -- equality would orphan every NULL-user purchase
          WHERE c.user_id IS NOT DISTINCT FROM p.user_id
            AND c.ts <= p.ts
          ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_value
  FROM ev p WHERE p.event_type = 'purchase'
)
"""

def q48_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group: Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` both implement type-7 linear interpolation,
    so exact values gate cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D))")
    return li.groupBy("l_returnflag").agg(
        fixed(pct.getItem(0), 4).alias("p25_e4"),
        fixed(pct.getItem(1), 4).alias("p50_e4"),
        fixed(pct.getItem(2), 4).alias("p90_e4"),
        F.count(F.lit(1)).alias("n"),
    )

ORACLE_Q48 = f"""
SELECT l_returnflag,
       {fixed_sql('quantile_cont(l_extendedprice, 0.25)', 4)}
         AS p25_e4,
       {fixed_sql('quantile_cont(l_extendedprice, 0.5)', 4)}
         AS p50_e4,
       {fixed_sql('quantile_cont(l_extendedprice, 0.9)', 4)}
         AS p90_e4,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""

def q41_sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL entry through the catalog surface (temp views, SURVEY S6):
    the engine is usable from spark.sql alone."""
    from foresttime_builder_spark.sources.readers import register_views

    register_views(spark, sf_dir, names=("orders", "customer"))
    return spark.sql(
        f"""
        SELECT c_mktsegment, year(o_orderdate) AS year,
               count(*) AS n_orders,
               {fixed_sql('sum(o_totalprice)', 2)}
                 AS revenue_e2
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
        """
    )

ORACLE_Q41 = f"""
SELECT c_mktsegment, year(o_orderdate) AS year, count(*) AS n_orders,
       {fixed_sql('sum(o_totalprice)', 2)} AS revenue_e2
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""

def q62_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime semi-join reduction: broadcast the selective order
    subset's hash-bucket set to pre-filter lineitem before the (hinted
    shuffle) join — `operators/runtime_filter.semi_reduced_join`.  The
    oracle is the PLAIN join: the gate proves the reduction changes
    nothing."""
    from foresttime_builder_spark.operators.runtime_filter import (
        semi_reduced_join,
    )

    li = load_table(spark, sf_dir, "lineitem").hint("shuffle_hash")
    sel = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-03-01"))
        & (F.col("o_orderdate") < F.lit("1995-06-01"))
    )
    joined = semi_reduced_join(li, sel, "l_orderkey", "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        # per-row e2 quantize -> exact BIGINT sum: a double sum of
        # 1e8-magnitude products is summation-order-dependent in its last
        # ulp, which e2 flooring then exposes as off-by-one cross-engine
        F.sum(
            fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        ).cast("long").alias("revenue_e2"),
    )

ORACLE_Q62 = f"""
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum({fixed_sql('l_extendedprice * (1 - l_discount)', 2)}) AS BIGINT)
         AS revenue_e2
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= '1995-03-01' AND o_orderdate < '1995-06-01'
GROUP BY o_orderpriority
"""

def q67_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month, activity
    counted by whole months since the cohort month — the canonical
    analytics query a downstream team runs on the engine (window min +
    calendar arithmetic kept to integer year*12+month so both engines
    compute identically)."""
    # NULL custkey / NULL order date carry no cohort identity or month
    # position — excluded identically in the oracle (whose USING join
    # would silently drop the NULL-key rows Spark's window groups)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    w = W.partitionBy("o_custkey")
    monthnum = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    base = o.withColumn("first_dt", F.min("o_orderdate").over(w))
    return (
        base.select(
            F.date_format("first_dt", "yyyy-MM").alias("cohort_month"),
            (monthnum(F.col("o_orderdate")) - monthnum(F.col("first_dt"))).alias(
                "months_since"
            ),
            "o_custkey",
        )
        .groupBy("cohort_month", "months_since")
        .agg(F.count_distinct("o_custkey").alias("n_active"))
    )

ORACLE_Q67 = """
WITH o AS (
  SELECT * FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
), f AS (
  SELECT o_custkey, min(o_orderdate) AS first_dt FROM o GROUP BY o_custkey
)
SELECT strftime(f.first_dt, '%Y-%m') AS cohort_month,
       (year(o.o_orderdate) - year(f.first_dt)) * 12
         + month(o.o_orderdate) - month(f.first_dt) AS months_since,
       count(DISTINCT o.o_custkey) AS n_active
FROM o JOIN f USING (o_custkey)
GROUP BY 1, 2
"""

def q73_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 7-day order revenue via a RANGE window frame
    (value-based, not row-based — the frame type none of the other window
    queries exercise).  One shuffle on the customer key."""
    o = load_table(spark, sf_dir, "orders")
    es = F.col("o_orderdate").cast("timestamp").cast("long")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(es)
        .rangeBetween(-6 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        es.alias("es"),
        fixed(F.sum("o_totalprice").over(w), 2).alias("rolling_7d_e2"),
    )

ORACLE_Q73 = f"""
WITH t AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS es
  FROM orders
)
SELECT o_orderkey, o_custkey, es,
       {fixed_sql('sum(o_totalprice) OVER w', 2)} AS rolling_7d_e2
FROM t
WINDOW w AS (PARTITION BY o_custkey ORDER BY es
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
"""

def q103_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time — the running-distinct
    analytic Spark has no native window for, decomposed as first-seen
    flag + cumulative sum: a user contributes to the running total only
    on their first day, so ``cum_distinct(d) = sum over days <= d of
    new_users``.  Per-day grain: the final cumsum window runs over a
    BOUNDED day table (one row per day), never over events."""
    e = (
        load_table(spark, sf_dir, "events")
        # a NULL ts has no day, and a NULL day row would sort to a
        # different end of the cumulative window in each engine
        .filter(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
    )
    daily = e.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("daily_active")
    )
    first_seen = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_users = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    joined = daily.join(new_users, "day", "left").select(
        "day",
        "daily_active",
        F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return joined.withColumn(
        "cum_distinct_users", F.sum("new_users").over(w).cast("long")
    )

ORACLE_Q103 = """
WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events
           WHERE ts IS NOT NULL),
daily AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS daily_active
  FROM e GROUP BY day
),
first_seen AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id),
new_users AS (
  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
  FROM first_seen GROUP BY first_day
)
SELECT d.day, d.daily_active,
       CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(n.new_users, 0)) OVER (
         ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_distinct_users
FROM daily d LEFT JOIN new_users n ON d.day = n.day
"""

def q104_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window anomaly scoring: each (event_type, day) count gets
    a z-score against its trailing 7-day window.  Variance comes from
    EXACT integer window sums (n*sumsq - sum^2 over n*(n-1)) rather than
    the engines' streaming stddev kernels (Welford vs naive would
    disagree in low bits); the sums are then widened to DOUBLE on both
    engine sides before the identical IEEE products/divisions under the
    e6 floor (int64 s1*s1 would overflow at ~3e9 events/window while
    DuckDB widens to HUGEINT).  NULL where the window has <2 rows or
    zero variance."""
    e = load_table(spark, sf_dir, "events")
    # a NULL timestamp has no day — and a NULL day would take a different
    # window POSITION in each engine (Spark sorts NULLS FIRST, DuckDB
    # NULLS LAST), shifting every trailing window by one row
    daily = e.filter(F.col("ts").isNotNull()).groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    x = F.col("n_events")
    # the window sums stay exact BIGINTs; the variance arithmetic is then
    # done in DOUBLE on BOTH engine sides (identical IEEE ops) — int64
    # s1*s1 would overflow at ~3e9 events/window while DuckDB silently
    # widens to HUGEINT, breaking parity exactly at scale
    s1 = F.sum(x).over(w).cast("double")
    s2 = F.sum(x * x).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    num = n * s2 - s1 * s1
    var = num / (n * (n - F.lit(1.0)))
    z = (x - s1 / n) / F.sqrt(var)
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.when((n >= 2) & (num > 0), F.floor(z * 1_000_000))
        .cast("long")
        .alias("z_e6"),
    )

ORACLE_Q104 = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), win AS (
  SELECT event_type, day, n_events,
         CAST(sum(n_events) OVER w AS DOUBLE) AS s1,
         CAST(sum(n_events * n_events) OVER w AS DOUBLE) AS s2,
         CAST(count(*) OVER w AS DOUBLE) AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, n_events,
       CASE WHEN n >= 2 AND n * s2 - s1 * s1 > 0 THEN
         CAST(floor((n_events - s1 / n)
                    / sqrt((n * s2 - s1 * s1) / (n * (n - 1.0)))
                    * 1000000) AS BIGINT)
       END AS z_e6
FROM win
"""

def q105_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: order totals winsorized at the exact
    interpolated p05/p95 (Spark `percentile` == DuckDB `quantile_cont`,
    both the (n-1)*p linear-interpolation definition), then clipped
    values are e2-quantized BEFORE summation so the robust mean is an
    exact integer aggregate.  The outlier-resistant profile a pipeline
    reads instead of raw means."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        fixed("o_totalprice", 2).alias("price_e2"),
    )
    pcts = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(price_e2, 0.05)").alias("_p05"),
        F.expr("percentile(price_e2, 0.95)").alias("_p95"),
    )
    clipped = o.join(F.broadcast(pcts), "o_orderpriority").select(
        "o_orderpriority",
        F.floor(
            F.least(
                F.greatest(F.col("price_e2").cast("double"), F.col("_p05")),
                F.col("_p95"),
            )
        )
        .cast("long")
        .alias("_w"),
    )
    return clipped.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("_w").cast("long").alias("winsorized_sum_e2"),
    )

ORACLE_Q105 = f"""
WITH o AS (
  SELECT o_orderpriority, {fixed_sql('o_totalprice', 2)} AS price_e2
  FROM orders
), pcts AS (
  SELECT o_orderpriority,
         quantile_cont(price_e2, 0.05) AS p05,
         quantile_cont(price_e2, 0.95) AS p95
  FROM o GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(least(greatest(CAST(price_e2 AS DOUBLE), p05),
                                 p95)) AS BIGINT)) AS BIGINT)
         AS winsorized_sum_e2
FROM o JOIN pcts USING (o_orderpriority)
GROUP BY o.o_orderpriority
"""

def q109_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape round-trip: pivot order counts to a wide (year x status)
    matrix, then `unpivot` (melt) back to long — the wide->long
    direction q19's manual pivot lacks.  The oracle computes the long
    form directly, so the gate proves pivot∘unpivot is the identity on
    non-empty cells (unpivot drops NULL cells by design —
    include_nulls=False — matching the direct GROUP BY which never had
    those rows)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("year"), "o_orderstatus"
    )
    wide = (
        o.groupBy("year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ["year"], ["F", "O", "P"], "o_orderstatus", "n_orders"
    ).filter(F.col("n_orders").isNotNull())
    return long.select(
        "year", "o_orderstatus", F.col("n_orders").cast("long").alias("n_orders")
    )

ORACLE_Q109 = """
SELECT year(o_orderdate) AS year, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderstatus IN ('F', 'O', 'P')
GROUP BY 1, 2
"""

def q113_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (`operators/asof.interval_overlap_join`):
    per-user-day activity spans overlap-joined against daily 10:00-14:00
    maintenance windows via integer bucket explode + EQUI-join + exact
    verify — the ranges-x-ranges join made hash-partitionable."""
    from foresttime_builder_spark.operators.asof import interval_overlap_join

    e = load_table(spark, sf_dir, "events")
    # ts arrives as TIMESTAMP_NTZ, which has no direct BIGINT cast; the
    # session runs in UTC so the timestamp hop matches DuckDB's epoch()
    ep = F.col("ts").cast("timestamp").cast("long")
    spans = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.min(ep).alias("s_start"),
        (F.max(ep) + 1).alias("s_end"),
    )
    windows = (
        e.select(F.to_date("ts").alias("wday"))
        .distinct()
        .select(
            "wday",
            (F.col("wday").cast("timestamp").cast("long") + 10 * 3600).alias(
                "w_start"
            ),
            (F.col("wday").cast("timestamp").cast("long") + 14 * 3600).alias(
                "w_end"
            ),
        )
    )
    out = interval_overlap_join(
        spans, windows, "s_start", "s_end", "w_start", "w_end",
        bucket_width=6 * 3600,
    )
    return out.select(
        "user_id", "day", "wday", "s_start", "s_end", "w_start", "w_end"
    )

ORACLE_Q113 = """
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         min(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS s_start,
         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) + 1 AS s_end
  FROM events GROUP BY 1, 2
),
windows AS (
  SELECT wday,
         CAST(floor(epoch(CAST(wday AS TIMESTAMP))) AS BIGINT) + 10 * 3600
           AS w_start,
         CAST(floor(epoch(CAST(wday AS TIMESTAMP))) AS BIGINT) + 14 * 3600
           AS w_end
  FROM (SELECT DISTINCT CAST(ts AS DATE) AS wday FROM events)
)
SELECT user_id, day, wday, s_start, s_end, w_start, w_end
FROM spans JOIN windows
  ON s_start < w_end AND w_start < s_end
"""


QUERIES: dict[str, QuerySpec] = {
    "q01_pricing_summary": QuerySpec(q01_pricing_summary, ORACLE_Q01),
    "q02_region_revenue": QuerySpec(q02_region_revenue, ORACLE_Q02),
    "q03_customer_order_counts": QuerySpec(q03_customer_order_counts, ORACLE_Q03),
    "q04_snapshot_full_outer": QuerySpec(q04_snapshot_full_outer, ORACLE_Q04),
    "q05_range_band_join": QuerySpec(q05_range_band_join, ORACLE_Q05),
    "q06_asof_last_click": QuerySpec(q06_asof_last_click, ORACLE_Q06),
    "q18_grouping_sets": QuerySpec(q18_grouping_sets, ORACLE_Q18),
    "q19_manual_pivot": QuerySpec(q19_manual_pivot, ORACLE_Q19),
    "q20_yearly_ratio": QuerySpec(q20_yearly_ratio, ORACLE_Q20),
    "q21_monthly_lag": QuerySpec(q21_monthly_lag, ORACLE_Q21),
    "q22_expns_per_year": QuerySpec(q22_expns_per_year, ORACLE_Q22),
    "q41_sql_over_views": QuerySpec(q41_sql_over_views, ORACLE_Q41),
    "q47_asof_join": QuerySpec(q47_asof_join, ORACLE_Q47),
    "q48_group_percentiles": QuerySpec(q48_group_percentiles, ORACLE_Q48),
    "q62_semijoin_reduction": QuerySpec(q62_semijoin_reduction, ORACLE_Q62),
    "q67_cohort_retention": QuerySpec(q67_cohort_retention, ORACLE_Q67),
    "q73_rolling_revenue": QuerySpec(q73_rolling_revenue, ORACLE_Q73),
    "q103_cumulative_distinct": QuerySpec(q103_cumulative_distinct, ORACLE_Q103),
    "q104_anomaly_zscore": QuerySpec(q104_anomaly_zscore, ORACLE_Q104),
    "q105_winsorized_stats": QuerySpec(q105_winsorized_stats, ORACLE_Q105),
    "q109_unpivot_roundtrip": QuerySpec(q109_unpivot_roundtrip, ORACLE_Q109),
    "q113_interval_overlap": QuerySpec(q113_interval_overlap, ORACLE_Q113),
}
