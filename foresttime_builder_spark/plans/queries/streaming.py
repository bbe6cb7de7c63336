"""streaming benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.sources import load_table
from foresttime_builder_spark.plans.queries._shared import QuerySpec



def q68_batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch (30-min inactivity gap) — the
    batch mirror of the streaming session windows (q30), via the
    lag + cumulative-sum islands idiom: one shuffle on user_id serves the
    lag, the session numbering, and the final per-session aggregate."""
    # no-identity/no-time exclusion (same class as q06/q104): NULL order
    # keys take different window positions per engine
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(
        F.col("ts").cast("timestamp").cast("long")
    ).over(w)
    sess = (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_sess").over(w))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(F.col("ts").cast("timestamp").cast("long"))
            - F.min(F.col("ts").cast("timestamp").cast("long"))
        ).alias(
            "duration_s"
        ),
        fixed(F.sum("value"), 4).alias("total_value_e4"),
    )

ORACLE_Q68 = f"""
WITH secs AS (
  -- per-event truncation to whole epoch seconds BEFORE any difference,
  -- mirroring Spark's cast(timestamp as long) exactly (epoch() alone keeps
  -- the sub-second fraction and differences would round differently)
  SELECT user_id, event_id, ts, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
), lagged AS (
  SELECT *, es - lag(es) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM secs
), marked AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM lagged
), numbered AS (
  SELECT *, sum(new_sess) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM marked
)
SELECT user_id, session_id, count(*) AS n_events,
       max(es) - min(es) AS duration_s,
       {fixed_sql('sum(value)', 4)} AS total_value_e4
FROM numbered GROUP BY user_id, session_id
"""

def q69_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (view → click-after-view →
    purchase-after-click) per user — the conversion query every event
    pipeline runs.  Expressed as three stacked conditional window minima
    over ONE user_id partition (each stage's column feeds the next
    stage's condition), so the whole funnel costs a single shuffle."""
    # the oracle's USING joins drop NULL-user rows; exclude identically
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    es = F.col("ts").cast("timestamp").cast("long")
    w = W.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "v", F.min(F.when(F.col("event_type") == "view", es)).over(w)
        )
        .withColumn(
            "c",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (es >= F.col("v")), es
                )
            ).over(w),
        )
        .withColumn(
            "p",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (es >= F.col("c")),
                    es,
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("v").alias("view_es"),
        F.max("c").alias("click_es"),
        F.max("p").alias("purchase_es"),
    )
    stage = (
        F.when(F.col("purchase_es").isNotNull(), 3)
        .when(F.col("click_es").isNotNull(), 2)
        .when(F.col("view_es").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.select(
        "user_id", "view_es", "click_es", "purchase_es", stage.alias("stage")
    )

ORACLE_Q69 = """
WITH es AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE user_id IS NOT NULL
), v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN es END) AS view_es
  FROM es GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.es) AS click_es
  FROM es e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.es >= v.view_es
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.es) AS purchase_es
  FROM es e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.es >= c.click_es
  GROUP BY e.user_id
)
SELECT v.user_id, v.view_es, c.click_es, p.purchase_es,
       CASE WHEN p.purchase_es IS NOT NULL THEN 3
            WHEN c.click_es IS NOT NULL THEN 2
            WHEN v.view_es IS NOT NULL THEN 1
            ELSE 0 END AS stage
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


QUERIES: dict[str, QuerySpec] = {
    "q68_batch_sessions": QuerySpec(q68_batch_sessions, ORACLE_Q68),
    "q69_event_funnel": QuerySpec(q69_event_funnel, ORACLE_Q69),
}
