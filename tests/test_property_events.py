"""Property tests: the windowed funnel and sessionization formulations
must agree with sequential Python models on arbitrary event streams."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# (user, type_idx, minute) — minutes spread far enough to cross the
# 30-min session gap sometimes
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=200),
    ),
    min_size=1,
    max_size=40,
)

TYPES = ["view", "click", "purchase", "error"]


def _mk_df(spark, events):
    rows = [
        (
            i,
            u,
            TYPES[t],
            float(i),
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m),
        )
        for i, (u, t, m) in enumerate(events)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, ts timestamp",
    )


def _model_funnel(events):
    out = {}
    for u in {e[0] for e in events}:
        evs = sorted(
            [(m * 60, TYPES[t]) for (uu, t, m) in events if uu == u],
            key=lambda x: x[0],
        )
        base = int(dt.datetime(2024, 1, 1).timestamp())
        v = min((s for s, t in evs if t == "view"), default=None)
        c = (
            min((s for s, t in evs if t == "click" and s >= v), default=None)
            if v is not None
            else None
        )
        p = (
            min((s for s, t in evs if t == "purchase" and s >= c), default=None)
            if c is not None
            else None
        )
        stage = 3 if p is not None else 2 if c is not None else 1 if v is not None else 0
        out[u] = (
            None if v is None else base + v,
            None if c is None else base + c,
            None if p is None else base + p,
            stage,
        )
    return out


@settings(**_SETTINGS)
@given(events=events_strategy)
def test_funnel_matches_model(spark, tmp_path_factory, events):
    from foresttime_builder_spark.plans.queries.streaming import q69_event_funnel

    d = str(tmp_path_factory.mktemp("ev"))
    _mk_df(spark, events).coalesce(1).write.parquet(d + "/events.parquet")
    got = {
        r["user_id"]: (
            r["view_es"],
            r["click_es"],
            r["purchase_es"],
            r["stage"],
        )
        for r in q69_event_funnel(spark, d).collect()
    }
    assert got == _model_funnel(events)


def _model_sessions(events):
    """Sessions per user with 30-min gap; returns {(user, sess): n_events}."""
    out = {}
    for u in {e[0] for e in events}:
        evs = sorted(
            [(m * 60, i) for i, (uu, t, m) in enumerate(events) if uu == u]
        )
        sess, last = 0, None
        for s, _i in evs:
            if last is None or s - last > 1800:
                sess += 1
            last = s
            out[(u, sess)] = out.get((u, sess), 0) + 1
    return out


@settings(**_SETTINGS)
@given(events=events_strategy)
def test_sessions_match_model(spark, tmp_path_factory, events):
    from foresttime_builder_spark.plans.queries.streaming import q68_batch_sessions

    d = str(tmp_path_factory.mktemp("ev"))
    _mk_df(spark, events).coalesce(1).write.parquet(d + "/events.parquet")
    got = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in q68_batch_sessions(spark, d).collect()
    }
    assert got == _model_sessions(events)
