"""Cache-lifetime helper shared by operators that persist() intermediates."""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame


def release_on_gc(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Unpersist ``cached`` frames when ``result`` is garbage-collected.

    Operators persist() intermediate relations that feed several plan
    branches; the cache must outlive the *returned* lazy plan, so it cannot
    be released inside the builder.  Tying release to the result's lifetime
    means a long-lived session looping many invocations (the correctness
    gate, a service) frees each query's storage blocks as soon as its result
    is dropped, instead of accumulating until executor storage is exhausted.
    If the result is dropped before execution the plan merely recomputes — a
    perf hiccup, never a correctness issue.
    """
    return _attach(result, [c._jdf for c in cached])


def _attach(owner: DataFrame, jdfs: list) -> DataFrame:
    """Unpersist ``jdfs`` when ``owner`` is garbage-collected, recording
    the finalizer and the relations on ``owner`` so :func:`carry_cache`
    can transfer ownership to an enclosing frame: callers that derive a
    new DataFrame from ``owner`` (a select, a filter) drop its refcount to
    zero the moment they return, which would fire the finalizer and
    unpersist the cache before the derived plan ever executes."""

    def _release(jdfs=jdfs):
        for j in jdfs:
            try:
                j.unpersist(False)
            except Exception:
                pass  # session already stopped / JVM gone

    fin = weakref.finalize(owner, _release)
    owner.__dict__.setdefault("_ft_cache_finalizers", []).append(fin)
    owner.__dict__.setdefault("_ft_cache_jdfs", []).extend(jdfs)
    return owner


def carry_cache(outer: DataFrame, *inners: DataFrame) -> DataFrame:
    """Move cache-release ownership from ``inners`` onto ``outer``.

    Query wrappers that post-project an operator result (``op(...).select(
    ...)``) must call this on the frame they actually return, otherwise the
    operator's persisted intermediates are unpersisted as soon as the inner
    frame is garbage-collected — before execution — and the cache the
    operator exists to provide is silently disabled (re-tokenizing the
    corpus once per plan branch).  Inner finalizers are detached (they never
    fire) and a single new finalizer owning all their cached relations is
    attached to ``outer``.  Safe to call on frames without cache metadata —
    it is then a no-op.
    """
    jdfs: list = []
    for inner in inners:
        for fin in inner.__dict__.pop("_ft_cache_finalizers", []):
            fin.detach()
        jdfs.extend(inner.__dict__.pop("_ft_cache_jdfs", []))
    if not jdfs:
        return outer
    return _attach(outer, jdfs)
