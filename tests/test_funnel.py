"""Unit test pinning q69's ordered-funnel semantics."""

from __future__ import annotations

import datetime as dt

from foresttime_builder_spark.plans.queries.streaming import q69_event_funnel


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts timestamp"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_funnel_requires_order(spark, tmp_path):
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: full ordered funnel
        (1, 1, "view", 0.0, t(0)),
        (2, 1, "click", 0.0, t(5)),
        (3, 1, "purchase", 0.0, t(10)),
        # user 2: purchase BEFORE click -> stage 2, not 3
        (4, 2, "view", 0.0, t(0)),
        (5, 2, "purchase", 0.0, t(1)),
        (6, 2, "click", 0.0, t(2)),
        # user 3: click before any view -> stage 1 (click doesn't count)
        (7, 3, "click", 0.0, t(0)),
        (8, 3, "view", 0.0, t(1)),
        # user 4: no view at all -> stage 0
        (9, 4, "click", 0.0, t(0)),
        (10, 4, "purchase", 0.0, t(1)),
    ]
    # NOTE: load_table reads the whole dir; give the funnel its own dir
    sf_dir = _write_events(spark, tmp_path, rows)
    out = {r["user_id"]: r.asDict() for r in q69_event_funnel(spark, sf_dir).collect()}
    assert out[1]["stage"] == 3
    assert out[2]["stage"] == 2
    assert out[2]["purchase_es"] is None
    assert out[3]["stage"] == 1
    assert out[3]["click_es"] is None
    assert out[4]["stage"] == 0
