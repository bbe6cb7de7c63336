"""Streaming ≡ batch differential tests (the strongest oracle available for
Structured Streaming: same data, same computation, incremental vs batch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from foresttime_builder_spark.sources import load_table
from foresttime_builder_spark.streaming import (
    read_event_stream,
    run_to_memory,
    running_user_totals,
    sessionized,
    windowed_rollup,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_table(spark, SF, "events")


def _canon(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_windowed_rollup_stream_equals_batch(spark, events_batch):
    out = run_to_memory(
        windowed_rollup(read_event_stream(spark, SF)), output_mode="complete"
    )
    batch = (
        events_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _canon(out, cols) == _canon(batch, cols)
    assert out.count() > 0


def test_sessionized_stream_equals_batch(spark, events_batch):
    out = run_to_memory(
        sessionized(read_event_stream(spark, SF)), output_mode="complete"
    )
    batch = (
        events_batch.groupBy(
            F.session_window("ts", "30 minutes").alias("s"), "user_id"
        )
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
    cols = ["session_start", "session_end", "user_id", "n_events", "session_value"]
    assert _canon(out, cols) == _canon(batch, cols)
    assert out.count() > 0


def test_stateful_running_totals_final_state_equals_batch(spark, events_batch):
    out = run_to_memory(
        running_user_totals(read_event_stream(spark, SF)), output_mode="update"
    )
    # keep the last update per user (single-batch availableNow emits once,
    # but stay robust to multi-batch splits)
    final = (
        out.groupBy("user_id")
        .agg(F.max_by("total", "n").alias("total"), F.max("n").alias("n"))
    )
    batch = events_batch.groupBy("user_id").agg(
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    cols = ["user_id", "total", "n"]
    got, want = _canon(final, cols), _canon(batch, cols)
    assert [(u, n) for u, t, n in got] == [(u, n) for u, t, n in want]
    for (u1, t1, n1), (u2, t2, n2) in zip(got, want):
        assert t1 == pytest.approx(t2, abs=1e-3)


def test_watermark_bounds_state(spark):
    """The rollup plan carries an event-time watermark (state eviction)."""
    plan = windowed_rollup(read_event_stream(spark, SF))
    assert "watermark" in plan._jdf.queryExecution().analyzed().toString().lower()


def test_dedup_stream_removes_replayed_events(spark, events_batch):
    from foresttime_builder_spark.streaming.events import dedup_stream

    s = read_event_stream(spark, SF)
    out = run_to_memory(
        dedup_stream(s.union(s)), output_mode="append"
    )
    assert out.count() == events_batch.count()
    assert out.select("event_id").distinct().count() == events_batch.count()


def test_purchase_attribution_stream_equals_batch(spark, events_batch):
    from foresttime_builder_spark.streaming.events import purchase_attribution

    out = run_to_memory(
        purchase_attribution(read_event_stream(spark, SF)), output_mode="append"
    )
    e = events_batch
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    batch = purch.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 2 days")),
    ).select("purchase_id", "user_id", "click_id", "click_ts", "purchase_ts")
    cols = ["purchase_id", "user_id", "click_id", "click_ts", "purchase_ts"]
    assert _canon(out, cols) == _canon(batch, cols)
    assert out.count() > 0


# ---------------------------------------------------------------------------
# multi-micro-batch differentials: the single-file source above executes as
# ONE availableNow batch, which cannot exercise cross-batch state (window
# merge, session stitching, stream-stream join buffers, watermark advance).
# These fixtures split events into 4 time-ordered chunk files and stream
# them with maxFilesPerTrigger=1 -> 4 incremental batches, at BOTH the
# default SF and sf0.1 (round-5 verdict task 6).
# ---------------------------------------------------------------------------

import glob as _glob
import os
import shutil

_MULTI_SFS = [
    pytest.param("/root/testdata/sf0.001", id="sf0.001"),
    pytest.param("/root/testdata/sf0.1", id="sf0.1", marks=pytest.mark.slow),
]


@pytest.fixture(scope="module", params=_MULTI_SFS)
def chunked(request, spark, tmp_path_factory):
    sf = request.param
    ev = load_table(spark, sf, "events")
    d = str(tmp_path_factory.mktemp("evchunks"))
    # ts may be TIMESTAMP_NTZ (not castable to DOUBLE directly): hop
    # through TIMESTAMP for an epoch-seconds axis
    qs = ev.selectExpr(
        "percentile(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE),"
        " array(0.25, 0.5, 0.75)) AS q"
    ).first()["q"]
    bounds = [float("-inf")] + [float(x) for x in qs] + [float("inf")]
    tsd = F.col("ts").cast("timestamp").cast("double")
    # the stream reads every events.parquet under d: here 4 chunks
    for i in range(4):
        staging = os.path.join(d, f"_stage{i}")
        (
            ev.filter((tsd >= bounds[i]) & (tsd < bounds[i + 1]))
            .coalesce(1)
            .write.parquet(staging)
        )
        part = _glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        os.makedirs(os.path.join(d, f"chunk_{i}"))
        dest = os.path.join(d, f"chunk_{i}", "events.parquet")
        shutil.move(part, dest)
        shutil.rmtree(staging)
        # the file source processes oldest-mtime-first: pin ascending mtimes
        # so micro-batches arrive in event-time order (late data stays
        # within the watermark, as it would from a time-ordered log)
        os.utime(dest, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return d, ev


def test_multibatch_rollup_equals_batch(spark, chunked):
    d, ev = chunked
    out = run_to_memory(
        windowed_rollup(read_event_stream(spark, d)), output_mode="complete"
    )
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _canon(out, cols) == _canon(batch, cols)


def test_multibatch_sessions_stitch_across_batches(spark, chunked):
    d, ev = chunked
    out = run_to_memory(
        sessionized(read_event_stream(spark, d)), output_mode="complete"
    )
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
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
    cols = ["session_start", "session_end", "user_id", "n_events", "session_value"]
    assert _canon(out, cols) == _canon(batch, cols)


def test_multibatch_stateful_totals_accumulate(spark, chunked):
    d, ev = chunked
    out = run_to_memory(
        running_user_totals(read_event_stream(spark, d)), output_mode="update"
    )
    # users active in several chunks emit one update per batch: the memory
    # sink holds the whole update history, final state = row with max n
    final = out.groupBy("user_id").agg(
        F.max_by("total", "n").alias("total"), F.max("n").alias("n")
    )
    batch = ev.groupBy("user_id").agg(
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    got = _canon(final, ["user_id", "total", "n"])
    want = _canon(batch, ["user_id", "total", "n"])
    assert [(u, n) for u, t, n in got] == [(u, n) for u, t, n in want]
    for (u1, t1, n1), (u2, t2, n2) in zip(got, want):
        assert t1 == pytest.approx(t2, abs=1e-3)
    # multi-batch really happened: some user must have >1 update row
    assert out.count() > final.count()


def test_multibatch_attribution_joins_across_batches(spark, chunked):
    from foresttime_builder_spark.streaming.events import purchase_attribution

    d, ev = chunked
    out = run_to_memory(
        purchase_attribution(read_event_stream(spark, d)), output_mode="append"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purch.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 2 days")),
    ).select("purchase_id", "user_id", "click_id", "click_ts", "purchase_ts")
    cols = ["purchase_id", "user_id", "click_id", "click_ts", "purchase_ts"]
    assert _canon(out, cols) == _canon(batch, cols)


def test_outer_join_stream_equals_batch_below_watermark(spark, events_batch):
    """Stream-stream LEFT OUTER interval join converges to the batch left
    join for purchases below the global (min-of-sides) watermark — NULL
    rows for unmatched purchases included."""
    from foresttime_builder_spark.streaming import purchase_attribution_outer

    out = run_to_memory(
        purchase_attribution_outer(read_event_stream(spark, SF)),
        output_mode="append",
    )
    clicks = events_batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events_batch.filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 2 DAYS")),
        "left_outer",
    ).select("purchase_id", "user_id", "click_id", "purchase_ts")
    cut = events_batch.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("m")
    ).collect()[0]["m"]
    import datetime

    cutoff = cut - datetime.timedelta(hours=97)
    cols = ["purchase_id", "user_id", "click_id", "purchase_ts"]
    got = _canon(out.filter(F.col("purchase_ts") <= F.lit(cutoff)), cols)
    want = _canon(batch.filter(F.col("purchase_ts") <= F.lit(cutoff)), cols)
    assert got == want
    # the contract is only meaningful if NULL-click rows actually occur
    assert any(t[2] is None for t in want)


def test_dedup_stream_state_is_bounded(spark, tmp_path):
    """Replay a stream spanning ~20 watermark horizons of UNIQUE keys in
    chronological micro-batches: dropDuplicatesWithinWatermark must evict
    keys the watermark has passed, so peak state stays near one horizon's
    keyspace instead of growing to all 4000 keys (the unbounded-state
    failure mode of plain dropDuplicates without the event-time key)."""
    import time as _time

    from foresttime_builder_spark.streaming.events import dedup_stream

    # 20 files of 200 events each, one file per 2-hour horizon, unique ids
    src = tmp_path / "stream_src"
    src.mkdir()
    for day in range(20):
        batch = spark.range(200).selectExpr(
            f"id + {200 * day} AS event_id",
            "CAST(timestamp'2024-01-01 00:00:00' AS TIMESTAMP)"
            f" + make_interval(0, 0, 0, 0, {2 * day}, 0, id / 200.0) AS ts",
            "id % 7 AS user_id",
            "'click' AS event_type",
            "CAST(id AS DOUBLE) AS value",
        )
        batch.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{day:03d}")
        )
        _time.sleep(0.02)  # ascending mtimes -> chronological file order
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = dedup_stream(stream, watermark="2 hours")
    name = "dedup_state_bound"
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    peaks = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    # all 4000 unique events pass through exactly once
    assert spark.table(name).count() == 4000
    # peak state is ~2 horizons of keys (current batch + not-yet-evicted
    # previous), FAR below the full 4000-key keyspace plain dropDuplicates
    # would retain
    assert max(peaks) <= 1200, peaks
    assert min(peaks[2:]) > 0
