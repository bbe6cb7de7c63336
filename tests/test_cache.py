"""Cache-lifetime semantics: release_on_gc, local_checkpoint + release,
carry_cache, and plan builders that must not uncache the frame they build
on.

The operators persist() intermediate relations (tokenized corpora, mask
relations) that feed several branches of one returned plan.  The finalizer
that unpersists them must follow the OUTERMOST frame a query wrapper
returns — not the operator's intermediate frame, which is dropped the
moment the wrapper derives its final projection (ADVICE r5: the wrapper
selects silently disabled the cache they were wrapping).
"""

from __future__ import annotations

import gc

from pyspark import StorageLevel
from pyspark.sql import functions as F

from foresttime_builder_spark.functions.helpers import apply_layers
from foresttime_builder_spark.operators.cache import (
    carry_cache,
    local_checkpoint,
    owned_kinds,
    release,
    release_on_gc,
)
from foresttime_builder_spark.plans import fia
from tests.fia_fixtures import spark_db


def _cached_frame(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2).persist()
    df.count()  # materialize the cache
    return df


def _live_cached(df) -> bool:
    # NOT DataFrame.is_cached: in PySpark 4.x classic that is a plain Python
    # attribute persist()/unpersist() toggle on the *same instance*, so a
    # JVM-side unpersist via _jdf (what the finalizer does) never updates
    # it.  storageLevel is a live JVM query.
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_release_on_gc_fires_when_result_dropped(spark):
    cached = _cached_frame(spark)
    result = release_on_gc(cached.select("id"), cached)
    assert _live_cached(cached)
    del result
    gc.collect()
    assert not _live_cached(cached)


def test_carry_cache_keeps_cache_alive_past_inner_frame(spark):
    cached = _cached_frame(spark)
    inner = release_on_gc(cached.select("id", "v"), cached)
    outer = carry_cache(inner.select("id"), inner)
    # the query-wrapper pattern: the inner frame goes out of scope while the
    # returned projection is still live — the cache must survive
    del inner
    gc.collect()
    assert _live_cached(cached), "cache released before the outer plan executed"
    outer.count()  # plan still executes against the live cache
    del outer
    gc.collect()
    assert not _live_cached(cached), "outer frame dropped but cache not released"


def test_carry_cache_noop_without_metadata(spark):
    plain = spark.range(10)
    out = carry_cache(plain.select("id"), plain)
    assert out.count() == 10
    assert "_ft_cache_finalizers" not in out.__dict__


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _reads_cache(df) -> bool:
    return "InMemoryRelation" in str(
        df._jdf.queryExecution().withCachedData().toString()
    )


def test_apply_layers_keeps_persisted_base_cached(spark):
    """apply_layers must not un-persist its base, and must leave no temp
    view behind (spark.sql(text, df=...) drops its view through
    Catalog.dropTempView, which uncaches the view's plan)."""
    cached = _cached_frame(spark)
    n_rdds = _n_persisted(spark)
    views = sorted(t.name for t in spark.catalog.listTables())
    out = apply_layers(cached, [({"w": "v + 1"}, []), ({"z": "w * 2"}, ["v"])])
    assert _n_persisted(spark) == n_rdds
    assert _reads_cache(out)
    assert sorted(t.name for t in spark.catalog.listTables()) == views
    assert out.agg({"z": "sum"}).collect()[0][0] == sum(
        (2 * i + 1) * 2 for i in range(100)
    )
    cached.unpersist()


def test_adjust_mortality_reads_persisted_panel(spark):
    interp = fia.interpolate_data(
        fia.expand_data(fia.fia_tidy(spark_db(spark)))
    ).persist()
    try:
        out = fia.adjust_mortality(interp, use_mortyr=False)
        assert _reads_cache(out)
    finally:
        interp.unpersist()


def _persisted_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_local_checkpoint_is_owned_like_a_persisted_frame(spark):
    """A local checkpoint's blocks follow the same owner as a persisted
    frame's: carry_cache hands them on, dropping the owner frees them, and
    release() frees them at once."""
    before = _persisted_ids(spark)
    ckpt = local_checkpoint(spark.range(10))
    assert _persisted_ids(spark) - before
    out = carry_cache(ckpt.select("id"), ckpt)
    del ckpt
    gc.collect()
    assert out.count() == 10, "checkpoint released before the outer plan ran"
    del out
    gc.collect()
    assert _persisted_ids(spark) <= before
    ckpt = local_checkpoint(spark.range(10))
    release(ckpt)
    assert _persisted_ids(spark) <= before


def test_equal_plans_keep_their_cache_until_the_last_owner(spark):
    """Two owners of sameResult-equal persisted plans share Spark's one
    cache entry: dropping the first must leave the second's cache in
    place, and dropping the second releases it."""

    def owned():
        c = spark.range(1000).selectExpr("id", "id % 7 AS k").persist()
        return release_on_gc(c.groupBy("k").count(), c)

    def equal_is_cached():
        probe = spark.range(1000).selectExpr("id", "id % 7 AS k")
        return probe.storageLevel != StorageLevel.NONE

    a, b = owned(), owned()
    del a
    gc.collect()
    assert "InMemoryTableScan" in b._jdf.queryExecution().executedPlan().toString()
    assert equal_is_cached()
    del b
    gc.collect()
    assert not equal_is_cached()


def test_owned_kinds_names_each_owned_cache(spark):
    """What the correctness gate checks a plan reads: the kinds of cache a
    frame owns."""
    c = spark.range(10).persist()
    owner = release_on_gc(c.selectExpr("id + 1 AS id"), c)
    ckpt = local_checkpoint(spark.range(10))
    assert owned_kinds(owner) == {"persist"}
    assert owned_kinds(ckpt) == {"checkpoint"}
    assert owned_kinds(carry_cache(owner.select("id"), owner)) == {"persist"}
    assert owned_kinds(spark.range(1)) == set()
