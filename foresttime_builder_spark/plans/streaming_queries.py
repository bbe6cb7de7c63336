"""Correctness-gate queries for the Structured Streaming surface.

Each runs a streaming plan to completion (``availableNow`` → memory sink)
and returns the materialized result; the DuckDB oracle computes the same
analytics in batch SQL.  This gates the streaming operators end-to-end:
incremental execution must converge to the batch answer.
The module declares its own ``QUERIES`` entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.plans.queries._shared import QuerySpec
from foresttime_builder_spark.streaming import (
    purchase_attribution,
    read_event_stream,
    run_to_memory,
    running_user_totals,
    sessionized,
    windowed_rollup,
)

SESSION_GAP = "36 hours"

# The streaming operators round value sums to 4 decimals, so each oracle
# rounds the same way before the fixed-point emission.


def q29_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup, streamed to completion."""
    out = run_to_memory(
        windowed_rollup(read_event_stream(spark, sf_dir)), output_mode="complete"
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "event_type",
        "n_events",
        fixed("total_value", 4).alias("total_value_e4"),
    )


ORACLE_STREAM_ROLLUP = f"""
SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
         AS window_start,
       event_type, count(*) AS n_events,
       {fixed_sql('round(sum(value), 4)', 4)} AS total_value_e4
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


def q30_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user, streamed to completion."""
    out = run_to_memory(
        sessionized(read_event_stream(spark, sf_dir), gap=SESSION_GAP),
        output_mode="complete",
    )
    return out.select(
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        "user_id",
        "n_events",
        fixed("session_value", 4).alias("session_value_e4"),
    )


# gaps-and-islands twin of session_window: a new session starts when the gap
# to the previous event is >= the session gap (Spark merges on strict overlap)
ORACLE_STREAM_SESSIONS = f"""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
           WHERE ts IS NOT NULL),
m AS (
  -- STRICT >: Spark's session_window still merges an event arriving
  -- EXACTLY gap after the previous one (fuzz's hour-truncated
  -- timestamps produced a real 36h-exact gap that pinned this down)
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 36 HOURS
                 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
g AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts) + INTERVAL 36 HOURS)) AS BIGINT) AS session_end,
       user_id, count(*) AS n_events,
       {fixed_sql('round(sum(value), 4)', 4)} AS session_value_e4
FROM g GROUP BY user_id, sid
"""


def q31_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): final running
    per-user totals after consuming the whole stream."""
    out = run_to_memory(
        running_user_totals(read_event_stream(spark, sf_dir)),
        output_mode="update",
    )
    # last update per user (robust to multi-micro-batch splits)
    agg = out.groupBy("user_id").agg(
        F.max_by("total", "n").alias("total"), F.max("n").alias("n")
    )
    return agg.select("user_id", fixed("total", 4).alias("total_e4"), "n")


ORACLE_STREAM_STATEFUL = f"""
SELECT user_id, {fixed_sql('round(sum(coalesce(value, 0.0)), 4)', 4)} AS total_e4,
       count(*) AS n
FROM events GROUP BY 1
"""


def q53_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase ⋈ preceding clicks within the
    horizon), streamed to completion; the oracle is the equivalent batch
    interval join."""
    out = run_to_memory(
        purchase_attribution(read_event_stream(spark, sf_dir)),
        output_mode="append",
    )
    return out.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.col("click_ts").cast("long").alias("click_ts"),
        F.col("purchase_ts").cast("long").alias("purchase_ts"),
    )


ORACLE_STREAM_ATTRIBUTION = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
       CAST(floor(epoch(CAST(c.ts AS TIMESTAMP))) AS BIGINT) AS click_ts,
       CAST(floor(epoch(CAST(p.ts AS TIMESTAMP))) AS BIGINT) AS purchase_ts
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 2 DAYS
"""


def q96_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication over an at-least-once source
    (simulated by unioning the stream with itself — every event delivered
    twice, possibly across micro-batches): dropDuplicates keyed on
    event_id must converge to exactly-once, i.e. the plain batch
    projection of the events table."""
    from foresttime_builder_spark.streaming import dedup_stream

    # a NULL event_id has no dedup identity — the state store would
    # collapse every such row to ONE key (475 rows became 1 on the fuzz
    # corpus); excluded identically in the oracle
    from foresttime_builder_spark.streaming.events import run_to_parquet

    s = read_event_stream(spark, sf_dir).filter(
        F.col("event_id").isNotNull()
    )
    # parquet sink, NOT the memory sink: q96's output is row-scale (every
    # deduped event — 10M rows at sf10), and the memory sink accumulates
    # it all in the driver: measured GC-spiral + SparkContext death at
    # sf10 in rounds 10 AND 11.  run_to_parquet keeps output executor-side
    out = run_to_parquet(
        # watermark sized to the SOURCE's disorder: the union-of-two-
        # streams replay can deliver a copy several micro-batches after
        # the watermark advanced past its event time, and
        # dropDuplicatesWithinWatermark drops LATE rows outright (the
        # bounded-state property is pinned by its unit test; here the
        # horizon must cover the replay's full span to be lossless)
        dedup_stream(
            s.union(
                read_event_stream(spark, sf_dir).filter(
                    F.col("event_id").isNotNull()
                )
            ),
            watermark="45 days",
        ),
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        fixed("value", 4).alias("value_e4"),
    )


ORACLE_STREAM_DEDUP = f"""
SELECT event_id, user_id, event_type, {fixed_sql('round(value, 4)', 4)} AS value_e4
FROM events WHERE event_id IS NOT NULL
"""


def q108_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, streamed to completion:
    unmatched purchases emit NULL click columns once the watermark
    passes.  Both sides apply the identical deterministic cutoff
    (max event time - the 4-day watermark) because rows inside the final
    watermark window are not yet final when an availableNow run ends —
    that cutoff IS the operator's contract, not a test convenience."""
    from foresttime_builder_spark.sources import load_table
    from foresttime_builder_spark.streaming import purchase_attribution_outer

    out = run_to_memory(
        purchase_attribution_outer(read_event_stream(spark, sf_dir)),
        output_mode="append",
    )
    # The cutoff must mirror Spark's GLOBAL watermark, which under the
    # default multipleWatermarkPolicy=min is the MIN of the two sides'
    # max event times minus the delay — basing it on max(ts) over all
    # events would over-admit whenever the lagging side trails other
    # event types.  The extra hour covers the strictly-below-watermark
    # flush boundary (a row exactly at the watermark is not yet final
    # when an availableNow run ends).
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 97 HOURS")
        ).alias("_co")
    )
    return (
        out.crossJoin(F.broadcast(cutoff))
        .filter(F.col("purchase_ts") <= F.col("_co"))
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            F.col("click_ts").cast("long").alias("click_ts"),
            F.col("purchase_ts").cast("long").alias("purchase_ts"),
        )
    )


ORACLE_STREAM_OUTER_JOIN = """
WITH cutoff AS (
  SELECT least(
           max(CASE WHEN event_type = 'click' THEN ts END),
           max(CASE WHEN event_type = 'purchase' THEN ts END)
         ) - INTERVAL 97 HOURS AS co
  FROM events
),
purch AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id, p.user_id, c.click_id,
       CAST(floor(epoch(CAST(c.click_ts AS TIMESTAMP))) AS BIGINT)
         AS click_ts,
       CAST(floor(epoch(CAST(p.purchase_ts AS TIMESTAMP))) AS BIGINT)
         AS purchase_ts
FROM purch p
LEFT JOIN clicks c
  ON c.c_user = p.user_id
 AND c.click_ts <= p.purchase_ts
 AND c.click_ts >= p.purchase_ts - INTERVAL 2 DAYS
CROSS JOIN cutoff
WHERE p.purchase_ts <= cutoff.co
"""


QUERIES: dict[str, QuerySpec] = {
    "q29_stream_rollup": QuerySpec(q29_stream_rollup, ORACLE_STREAM_ROLLUP),
    "q30_stream_sessions": QuerySpec(q30_stream_sessions, ORACLE_STREAM_SESSIONS),
    "q31_stream_stateful": QuerySpec(q31_stream_stateful, ORACLE_STREAM_STATEFUL),
    "q53_stream_attribution": QuerySpec(
        q53_stream_attribution, ORACLE_STREAM_ATTRIBUTION
    ),
    "q96_stream_dedup": QuerySpec(q96_stream_dedup, ORACLE_STREAM_DEDUP),
    "q108_stream_outer_join": QuerySpec(
        q108_stream_outer_join, ORACLE_STREAM_OUTER_JOIN
    ),
}
