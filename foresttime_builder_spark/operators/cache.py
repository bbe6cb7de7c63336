"""Cache lifetimes for operators that persist() or localCheckpoint()
intermediates: the one owner of every cache an operator hands back.

A frame owns a cache when a finalizer on it releases the cache as soon as
the frame is garbage-collected.  Two kinds of cache are owned the same way:

- a persisted frame (:func:`release_on_gc`), released by ``unpersist``;
- a local checkpoint (:func:`local_checkpoint`), released through the
  RDD under its ``LogicalRDD`` root — ``Dataset.unpersist`` never reaches
  those blocks, which otherwise live until the JVM's ContextCleaner runs.

Spark keeps ONE cache entry for all ``sameResult``-equal plans, and an
``unpersist`` of any of them drops it.  So an owned persisted frame is
released with the last live owner of an equal plan, not the first.

The rule for callers: **derive from an owned frame ⇒** :func:`carry_cache`.
A select, filter or join over an owned frame returns a new frame, and the
owned one is dropped the moment the caller returns; without the hand-off
its finalizer fires before the derived plan executes.  A dropped persisted
cache merely recomputes, but a dropped checkpoint fails the read — Spark
does not recompute a local checkpoint.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

#: live owners per persisted plan, keyed by the plan's semantic hash
_owners: dict[int, int] = {}
_owners_lock = threading.Lock()


class _Persisted:
    """A persisted JVM Dataset counted among the owners of its plan's
    cache entry; ``unpersist`` releases the entry when the last owner
    goes."""

    def __init__(self, jdf):
        self.jdf = jdf
        self.key = jdf.queryExecution().analyzed().semanticHash()
        with _owners_lock:
            _owners[self.key] = _owners.get(self.key, 0) + 1

    def unpersist(self, blocking: bool) -> None:
        with _owners_lock:
            _owners[self.key] -= 1
            last = not _owners[self.key]
            if last:
                del _owners[self.key]
        if last:
            self.jdf.unpersist(blocking)


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
    return _attach(result, [_Persisted(c._jdf) for c in cached])


def local_checkpoint(df: DataFrame, **kwargs) -> DataFrame:
    """``df.localCheckpoint(**kwargs)`` that owns its blocks.

    The checkpointed plan root is a ``LogicalRDD``; its RDD is what the
    finalizer unpersists (verified against the Spark 4.1 runtime; guarded
    so an internals change degrades to ContextCleaner timing, never an
    error).  :func:`release` frees the blocks at once."""
    ckpt = df.localCheckpoint(**kwargs)
    try:
        return _attach(ckpt, [ckpt._jdf.queryExecution().analyzed().rdd()])
    except Exception:
        return ckpt


def release(df: DataFrame) -> None:
    """Release every cache ``df`` owns now.  ONLY call on frames that will
    never be read again: a freed checkpoint fails the read."""
    for fin in df.__dict__.pop("_ft_cache_finalizers", []):
        fin()


def owned_kinds(df: DataFrame) -> set[str]:
    """What ``df`` owns: ``"persist"`` for a persisted frame,
    ``"checkpoint"`` for a local checkpoint."""
    kinds = set()
    for fin in df.__dict__.get("_ft_cache_finalizers", []):
        info = fin.peek()
        for h in info[2][0] if info else ():
            kinds.add("persist" if isinstance(h, _Persisted) else "checkpoint")
    return kinds


def _unpersist(handles: list) -> None:
    for h in handles:
        try:
            h.unpersist(False)
        except Exception:
            pass  # session already stopped / JVM gone


def _attach(owner: DataFrame, handles: list) -> DataFrame:
    """Release ``handles`` — persisted JVM Datasets or checkpoint RDDs, both
    freed by ``unpersist`` — when ``owner`` is garbage-collected.  The
    finalizer is recorded on ``owner`` so :func:`carry_cache` can detach it
    and hand its handles to an enclosing frame."""
    fin = weakref.finalize(owner, _unpersist, handles)
    owner.__dict__.setdefault("_ft_cache_finalizers", []).append(fin)
    return owner


def carry_cache(outer: DataFrame, *inners: DataFrame) -> DataFrame:
    """Move cache-release ownership from ``inners`` onto ``outer``.

    Query wrappers that post-project an operator result (``op(...).select(
    ...)``) must call this on the frame they actually return, otherwise the
    operator's caches are released as soon as the inner frame is
    garbage-collected — before execution: a persisted intermediate is
    silently recomputed once per plan branch, and a checkpoint read fails.
    Inner finalizers are detached (they never fire) and a single new
    finalizer owning all their caches is attached to ``outer``.  Safe to
    call on frames without cache metadata — it is then a no-op.
    """
    handles: list = []
    for inner in inners:
        for fin in inner.__dict__.pop("_ft_cache_finalizers", []):
            _, _, (owned,), _ = fin.detach()
            handles.extend(owned)
    return _attach(outer, handles) if handles else outer
