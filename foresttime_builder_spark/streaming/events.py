"""Structured Streaming operators over the event stream.

The reference is batch-only (SURVEY §2.9), so this module is part of the
engine's beyond-parity surface: the same event analytics users run in batch,
expressed as incremental streaming plans.

- :func:`read_event_stream`: file-source ``readStream`` over the events
  parquet (schema pinned; nano timestamps converted exactly as the batch
  reader does);
- :func:`windowed_rollup`: tumbling-window aggregate with a watermark for
  late data — the canonical streaming shuffle aggregation;
- :func:`sessionized`: session windows (gap-based) per user;
- :func:`running_user_totals`: custom stateful operator via
  ``applyInPandasWithState`` — running per-user totals with explicit state,
  the pattern for stateful logic Spark's built-ins can't express;
- :func:`run_to_memory`: drive any of the above to a memory sink with
  ``availableNow`` (process-everything-then-stop) and return the result as a
  DataFrame — this is how the batch-differential tests and the correctness
  harness consume streaming results.

Scale notes: watermarks bound state (windows older than the watermark are
evicted); the stateful operator keys state by user_id so it scales with
|users|, not |events|; file sources at production scale become Kafka sources
with identical downstream plans.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: logical schema of the events parquet minus ``ts``, whose physical type has
#: varied across testdata generations (INT64 TIMESTAMP(NANOS) vs timestamp[us])
_EVENTS_SCHEMA_BASE = "event_id bigint, user_id bigint, event_type string, value double"


def _events_reader(reader):
    # file-source streams take a directory; the filter selects the files
    return reader.option("pathGlobFilter", "events.parquet").option(
        "recursiveFileLookup", "true"
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet.

    readStream needs a pinned schema, but the physical type of ``ts`` depends
    on how the parquet was written: older testdata stored INT64 nanos
    (surfacing as LongType under ``nanosAsLong``), current testdata stores a
    proper ``timestamp[us]``. Probe the footer with a batch read (cheap,
    metadata-only) and mirror :func:`..sources.readers.load_table`'s guard:
    apply the nanos→timestamp conversion only when the column is physically
    a long.

    The stream reads every ``events.parquet`` file under ``sf_dir``, one
    file per micro-batch (oldest first), as files would arrive from a
    time-chunked log: the testdata's single file is one batch, and a tree
    of time-ordered chunks runs genuinely incremental.
    """
    batch_ts = _events_reader(spark.read).parquet(sf_dir).schema["ts"].dataType
    ts_is_long = isinstance(batch_ts, T.LongType)
    schema = _EVENTS_SCHEMA_BASE + (", ts bigint" if ts_is_long else ", ts timestamp")
    stream = (
        _events_reader(spark.readStream.schema(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    if ts_is_long:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


#: late-data watermark of the window and session rollups
ROLLUP_WATERMARK = "2 hours"
#: click look-back of the purchase attribution joins, and their watermark
ATTRIBUTION_HORIZON, ATTRIBUTION_WATERMARK = "2 days", "4 days"


def windowed_rollup(events: DataFrame) -> DataFrame:
    """Hourly tumbling-window per-event-type rollup with late-data
    watermark."""
    return (
        events.withWatermark("ts", ROLLUP_WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user."""
    return (
        events.withWatermark("ts", ROLLUP_WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


_STATE_SCHEMA = "total double, n bigint"
_TOTALS_OUT = "user_id bigint, total double, n bigint"


def _totals_fn(key, pdfs, state: GroupState):
    total, n = state.get if state.exists else (0.0, 0)
    for pdf in pdfs:
        total += float(pdf["value"].fillna(0.0).sum())
        n += int(len(pdf))
    state.update((total, n))
    yield pd.DataFrame({"user_id": [key[0]], "total": [round(total, 4)], "n": [n]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user value totals + event counts
    via ``applyInPandasWithState`` (state = one (total, n) pair per user)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _totals_fn,
        outputStructType=_TOTALS_OUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event dedup by event_id within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark``, NOT plain ``dropDuplicates``:
    with the event-time column absent from the dedup keys, plain
    ``dropDuplicates`` keeps one state row per event_id FOREVER — at
    100 TB/day the state store grows with the full keyspace and the job
    eventually drowns in state checkpointing.  The WithinWatermark
    variant evicts a key's state once the watermark passes its event
    time, so steady-state size is (keys arriving per watermark horizon),
    independent of stream lifetime — the bound
    ``tests/test_streaming.py::test_dedup_stream_state_is_bounded``
    asserts across a replay many horizons long.  Contract difference: a
    duplicate arriving MORE than ``watermark`` after its first delivery
    is re-emitted — at-least-once sources redeliver within seconds to
    minutes, so size the watermark to the source's redelivery horizon,
    not to zero.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase joins the clicks from the
    same user in the preceding ``ATTRIBUTION_HORIZON`` (state on both sides
    bounded by watermarks + the time-range predicate)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", ATTRIBUTION_WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", ATTRIBUTION_WATERMARK)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")
        ),
        "inner",
    ).select("purchase_id", "user_id", "click_id", "click_ts", "purchase_ts")


def purchase_attribution_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    :func:`purchase_attribution`, but purchases with NO qualifying click
    are also emitted (click columns NULL) — the semantics that needs the
    watermark to PASS before an unmatched row can be declared final.
    With an availableNow run the trailing no-data micro-batch advances
    the watermark past ``max(ts) - ATTRIBUTION_WATERMARK``, so unmatched
    purchases up to that cutoff are flushed; rows inside the final
    watermark window stay in state (consumers must apply the cutoff — the
    q108 gate does, identically on the batch oracle side)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", ATTRIBUTION_WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", ATTRIBUTION_WATERMARK)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")
        ),
        "left_outer",
    ).select("purchase_id", "user_id", "click_id", "click_ts", "purchase_ts")


def run_to_memory(
    streaming_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan to completion (``availableNow``) into a
    memory sink and return the materialized result."""
    spark = streaming_df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:10]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_to_parquet(streaming_df: DataFrame) -> DataFrame:
    """Execute a streaming plan to completion (``availableNow``) into a
    PARQUET sink and return the read-back frame.

    The memory-sink twin (:func:`run_to_memory`) materializes every
    output row in the DRIVER — a collect in disguise that scales with
    output volume: q96's 10M deduped rows GC-spiraled an 8 GB single-JVM
    session for 77 minutes before killing the SparkContext at sf10
    (measured in rounds 10 and 11).  The parquet sink keeps every output
    row executor-side; the returned frame is a lazy scan, so downstream
    consumers (gate collect at sf0.01, noop sink at sf10) pay only what
    they ask for.  Append-mode only — which is the only mode a
    row-scale-output stream should use anyway (complete mode re-emits
    the whole result per batch)."""
    spark = streaming_df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:10]}"
    # both dirs are registered for process-exit cleanup (the returned frame
    # lazily re-reads the sink, so it must outlive this call): at q96's
    # output scale (10M rows at sf10) leaked sinks accumulate in /tmp — the
    # same filesystem derive_candidate_budget sizes budgets from, so leaks
    # would silently shrink later runs' budgets
    out = tempfile.mkdtemp(prefix=f"sink_{name}_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    q = (
        streaming_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: an all-late/empty stream leaves no footer to infer
    return spark.read.schema(streaming_df.schema).parquet(out)
