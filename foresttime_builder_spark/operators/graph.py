"""Connected components over a pair graph (near-duplicate clustering).

After near-dup detection (token-Jaccard q16, MinHash-LSH q23, SimHash q24,
embedding cosine q40) a training-data pipeline groups the pairs into
CLUSTERS and keeps one canonical document per cluster.  That grouping is
connected components, computed by alternating large-star/small-star
(Kiveris et al., SoCC'14), a driver-controlled iterative algorithm (SURVEY
classifies it as non-SQL-expressible; the DuckDB oracles unroll a
fixed-depth SQL chain instead, ``plans/queries/dedup._components_sql``).
The edge set contracts toward a union of stars rooted at each component's
minimum id in O(log n)-ish rounds on ANY topology: an adversarial path
graph converges in ~log2(n) rounds (asserted by test).  Graphs small
enough to collect take an exact driver-side union-find tier.  The output
is certified exactly before return, and non-convergence raises rather
than silently returning wrong ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from foresttime_builder_spark.functions.tokens import words
from foresttime_builder_spark.operators import cache

#: Round bound for the alternating large-star/small-star algorithm, which
#: converges in O(log n)-ish rounds on any graph (O(log^2 n) proven bound,
#: Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
#: — 64 covers any graph that fits on hardware, while an adversarial
#: 100k-node PATH needs ~10 rounds (measured in tests) where min-label
#: propagation would need 100k.
STAR_MAX_ITER = 64


#: edge-count gate for the driver-side union-find tier: below this, the
#: alternating-star rounds' fixed per-round cost (eager localCheckpoint +
#: two shuffles + a checksum job, ~1-2 s/round locally) dominates the
#: actual work, so a 5k-doc graph paid a ~4-round floor for microseconds
#: of union-find (q119 at sf0.1 measured 3.4x its DuckDB twin on exactly
#: this floor — r12 verdict).  1e5 canonical edges collect to ~a few MB,
#: bounded and gated on the plan-time count _sig already pays.
SMALL_CC_EDGES = 100_000


def _cc_driver_small(
    raw: DataFrame, e: DataFrame, stats: dict | None
) -> DataFrame:
    """Exact small-graph tier: union-find over the (bounded, count-gated)
    collected canonical edge set, labels re-joined distributively.  Output
    contract identical to the star rounds — comp = min node id of the
    component — and exact by construction, so the distributed certificate
    is unnecessary."""
    from pyspark.sql.types import StructField, StructType

    rows = e.collect()  # gated: caller verified count <= SMALL_CC_EDGES
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for lo, hi in rows:
        parent.setdefault(lo, lo)
        parent.setdefault(hi, hi)
        ra, rb = find(lo), find(hi)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    id_type = e.schema["lo"].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("comp", id_type)]
    )
    sess = e.sparkSession
    mapping = sess.createDataFrame(
        [(n, comp_min[find(n)]) for n in parent], schema
    )
    nodes = (
        raw.select(F.col("a").alias("id"))
        .union(raw.select(F.col("b").alias("id")))
        .distinct()
    )
    labels = cache.local_checkpoint(
        nodes.join(F.broadcast(mapping), on="id", how="left").select(
            "id", F.coalesce("comp", "id").alias("comp")
        )
    )
    if stats is not None:
        stats["rounds"] = 0
    return labels


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = STAR_MAX_ITER,
    stats: dict | None = None,
    small_graph_edges: int = SMALL_CC_EDGES,
) -> DataFrame:
    """``(id, comp)`` for every node in ``edges``; ``comp`` is the smallest
    node id in the component.  Edges are treated as undirected.  Pass a
    dict as ``stats`` to receive ``{"rounds": n}`` — the tests assert the
    O(log n) round bound through it.

    Alternating large-star/small-star (Kiveris et al.).  One round =
    large-star (every node connects its strictly-LARGER neighbors to the
    minimum of its closed neighborhood) then small-star (every node
    connects its smaller neighbors and itself to their minimum).  The edge
    set monotonically contracts toward a union of stars rooted at each
    component's minimum id; rounds needed are O(log n)-ish on any
    topology — including the path/chain graphs that drive label
    propagation to O(n) rounds.  ``small_graph_edges`` is the
    canonical-edge count at or below which the driver-side union-find
    tier runs instead of the rounds (``0`` forces the rounds).

    Convergence is detected by an order-free edge-set checksum
    (count + xor of xxhash64), then the labeling is certified EXACTLY:
    every original edge must connect two nodes with the same label, and
    every node must be labeled.  A checksum collision (~2^-64) therefore
    degrades to a raise, never to a wrong answer — labels only ever
    travel along edges, so equal-labels-across-every-edge proves the
    partition is exactly the connected components.  Not converging within
    ``max_iter`` rounds raises ``RuntimeError`` too; every exit releases
    the edge caches.  The returned labels are a local checkpoint that owns
    its blocks (:mod:`~foresttime_builder_spark.operators.cache`): a caller
    that derives a frame from them hands that ownership on with
    ``carry_cache``.
    """
    # cache the edge list once (columnar, compressed — NOT localCheckpoint,
    # whose row-format blocks measured several times larger on the sf1
    # pair stream): it feeds the initial canonical set, the node list, AND
    # the final certificate — without this the whole upstream pair
    # computation (e.g. the jaccard pair join) would re-execute for each
    raw = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .persist()
    )
    # canonical undirected edge set (lo < hi), self-loops dropped; this is
    # the working set the rounds contract.  localCheckpoint each round:
    # persist() alone caches the DATA but each round's plan would still
    # nest every previous round's joins, so driver-side analysis would
    # grow superlinearly with iterations; checkpointing truncates the
    # lineage.  Each round's blocks are edge-count-sized, so the PREVIOUS
    # round's are explicitly dropped once the new round is materialized
    # (safe: a localCheckpointed frame is never re-read after being
    # superseded).
    # edge-count-sized checkpoints are stored SERIALIZED: localCheckpoint's
    # default (MEMORY_AND_DISK_DESER) holds one JVM object per row, and at
    # the degraded-q50 scale (72.8M edges) the transient prev+new
    # coexistence during a round OOM'd an 8 GB heap (r11 sf10, measured
    # twice at ~430 s in); serialized blocks (PySpark's MEMORY_AND_DISK —
    # the _SER spelling was dropped when serialized became the named
    # default) shed the per-object overhead and spill to disk cleanly
    from pyspark import StorageLevel as _SL

    _ckpt_level = _SL.MEMORY_AND_DISK

    def _sig(df: DataFrame) -> tuple:
        # bit_xor: order-free, overflow-free (ANSI-safe) fold; the edge
        # set is distinct so xor self-cancellation cannot occur
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("lo", "hi")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    # `e` always names the CURRENT edge checkpoint (or None before the
    # first one), so the finally releases it and the raw cache on every
    # exit — return, non-convergence and certificate raises alike
    e = None
    try:
        e = cache.local_checkpoint(
            raw.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
            )
            .distinct(),
            eager=True,
            storageLevel=_ckpt_level,
        )
        sig = _sig(e)
        if 0 < sig[0] <= small_graph_edges:
            # small-graph tier: the per-round checkpoint floor would
            # dominate (see SMALL_CC_EDGES); gated on the plan-time count
            # this _sig already paid, so the collect is bounded
            return _cc_driver_small(raw, e, stats)
        converged = sig[0] == 0
        rounds = 0
        for _ in range(max_iter):
            if converged:
                break
            rounds += 1
            # LARGE-STAR: for edge (u,v), v > u, connect v to
            # m(u) = min(neighborhood(u) ∪ {u}).  Processing each canonical
            # edge from its smaller endpoint's perspective covers every
            # (u, v>u) pair exactly once; m comes from u's FULL
            # neighborhood, which needs the symmetric view.
            sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
                e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            )
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("_mn"))
                .select("u", F.least("_mn", F.col("u")).alias("m"))
            )
            large = (
                e.join(mins, e["lo"] == mins["u"])
                .select(F.col("m").alias("lo"), F.col("hi"))
                .filter(F.col("lo") != F.col("hi"))
                .distinct()
            )
            # SMALL-STAR: group by the larger endpoint; connect it and all
            # its smaller neighbors to their minimum.
            gmin = large.groupBy("hi").agg(F.min("lo").alias("m"))
            new_ckpt = cache.local_checkpoint(
                large.join(gmin, "hi")
                .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
                .union(gmin.select(F.col("m").alias("lo"), F.col("hi")))
                .filter(F.col("lo") != F.col("hi"))
                .distinct(),
                eager=True,
                storageLevel=_ckpt_level,
            )
            # the round ENTERED with e (checkpointed); the new checkpoint is
            # materialized, so e's edge-count-sized blocks can go — without
            # this, a 64-round run holds 64 edge sets simultaneously
            cache.release(e)
            e = new_ckpt
            new_sig = _sig(e)
            converged = new_sig == sig
            sig = new_sig
        if stats is not None:
            stats["rounds"] = rounds
        if not converged:
            raise RuntimeError(
                f"connected_components(star) did not converge in {max_iter} "
                f"rounds — far beyond the O(log n) bound; the input graph is "
                f"pathological or the checksum never stabilized"
            )
        nodes = (
            raw.select(F.col("a").alias("id"))
            .union(raw.select(F.col("b").alias("id")))
            .distinct()
        )
        # node-count-sized; materialized so the edge caches can be released
        # before returning (the caller's consumption re-reads only this)
        labels = cache.local_checkpoint(
            nodes.join(
                e.select(F.col("hi").alias("id"), F.col("lo").alias("comp")),
                on="id",
                how="left",
            ).select("id", F.coalesce("comp", "id").alias("comp"))
        )
        # exact certificate: every ORIGINAL edge joins two equal labels (and
        # both endpoints are labeled).  Labels only move along edges, so
        # this also rules out distinct components sharing a label.
        la = labels.select(F.col("id").alias("a"), F.col("comp").alias("_ca"))
        lb = labels.select(F.col("id").alias("b"), F.col("comp").alias("_cb"))
        bad = (
            raw.join(la, "a", "left")
            .join(lb, "b", "left")
            .filter(
                F.col("_ca").isNull()
                | F.col("_cb").isNull()
                | (F.col("_ca") != F.col("_cb"))
            )
            .count()
        )
        if bad:
            cache.release(labels)
            raise RuntimeError(
                f"connected_components(star) certificate failed on {bad} "
                f"edges — convergence checksum produced an invalid labeling"
            )
        return labels
    finally:
        raw.unpersist()
        if e is not None:
            cache.release(e)


def cluster_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    strategy: str = "auto",
    candidate_budget: int | None = None,
    on_budget: str = "error",
    degrade_budget: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate clustering end-to-end: token-Jaccard pair detection →
    connected components → ``(doc_id-named id_col, cluster_id,
    cluster_size)``; ``cluster_id`` is the component's minimum doc id.

    Pass ``pairs`` (a verified ``(doc_a, doc_b, ...)`` frame — e.g.
    :func:`~foresttime_builder_spark.operators.dedup.token_jaccard_pairs`
    output persisted by an earlier pipeline stage) to cluster from it
    directly instead of recomputing the pair graph; the similarity/budget
    parameters are then ignored (r13 verdict item 3: a sweep or production
    chain that already enumerated+verified the pairs — q16's output —
    should not pay that stream again for q50/q77).

    This is the guarded entry point for the clustering family: the
    ``candidate_budget`` / ``on_budget`` regime guard of
    :func:`~foresttime_builder_spark.operators.dedup.token_jaccard_pairs`
    passes straight through, so at the corpus scale where the exact
    prefix-join pair stream is shuffle-bound (the q16/sf10 regime) the
    clustering either raises with actionable advice before ANY full-corpus
    shuffle (``on_budget='error'``) or degrades to banded MinHash-LSH
    candidates with the same exact verification (``on_budget='degrade'``) —
    the components step is identical either way, it just consumes the
    surviving pair stream.  Without the guard the pair stage would inherit
    the exact path's disk-exceeding shuffle even though the components
    themselves are cheap.

    ``on_budget='representatives'`` completes the degrade ladder: it runs
    the 'degrade' path, and if even the banded pair stream is infeasible
    (the q23-density regime, where the LSH guard raises because near-dup
    pairs themselves are the output bottleneck) it falls back to
    :func:`~foresttime_builder_spark.operators.dedup.lsh_representatives`
    — the linear bucket-star clustering — adapted to this function's
    contract (same columns, singletons excluded).  Recall is then bounded
    by banding + hub-path semantics (see that operator's docstring)
    instead of the exact pair graph, which is the documented price of an
    answer in the regime where pair enumeration cannot run at all.
    """
    from foresttime_builder_spark.operators.dedup import (
        lsh_representatives,
        token_jaccard_pairs,
    )

    if pairs is not None:
        pass  # precomputed verified pairs: skip detection entirely
    elif on_budget == "representatives":
        try:
            pairs = token_jaccard_pairs(
                df,
                id_col,
                text_col,
                threshold=threshold,
                strategy=strategy,
                candidate_budget=candidate_budget,
                on_budget="degrade",
                degrade_budget=degrade_budget,
            )
        except ValueError as exc:
            if "candidate_budget" not in str(exc):
                raise
            reps = lsh_representatives(df, id_col, text_col, threshold=threshold)
            out = reps.filter(F.col("cluster_size") > 1).select(
                F.col("doc_id").alias(id_col),
                F.col("rep_id").alias("cluster_id"),
                "cluster_size",
            )
            return cache.carry_cache(out, reps)
    else:
        pairs = token_jaccard_pairs(
            df,
            id_col,
            text_col,
            threshold=threshold,
            strategy=strategy,
            candidate_budget=candidate_budget,
            on_budget=on_budget,
            degrade_budget=degrade_budget,
        )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = comp.join(sizes, on="comp").select(
        F.col("id").alias(id_col), F.col("comp").alias("cluster_id"), "cluster_size"
    )
    return cache.carry_cache(out, comp)


def dedup_finalize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    strategy: str = "auto",
    candidate_budget: int | None = None,
    on_budget: str = "error",
    clusters: DataFrame | None = None,
    degrade_budget: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Dedup FINALIZE — keep exactly one representative per near-dup
    cluster (longest document in whitespace tokens, doc id tie-break) and
    pass every singleton through; the step after clustering that a
    training pipeline actually ships.  Returns ``(id_col, cluster_id,
    cluster_size, n_tokens)`` — one row per surviving document.

    Composes :func:`cluster_near_dups` (whose ``candidate_budget`` /
    ``on_budget`` regime guard passes through — the whole finalize chain
    degrades to banded-LSH candidates in the exact path's infeasible
    regime) with one extra hash shuffle on the cluster key.  The keep rule
    is a total order, so the result is deterministic and engine-portable.

    Pass ``clusters`` (a :func:`cluster_near_dups`-shaped frame — e.g. a
    persisted/materialized one from an earlier pipeline stage) to finalize
    from it directly instead of recomputing the pair graph; the similarity
    parameters are then ignored.  Or pass ``pairs`` (a verified pair frame,
    e.g. persisted :func:`~foresttime_builder_spark.operators.dedup.
    token_jaccard_pairs` output) to skip only the pair detection and still
    run the components here.  Passing BOTH raises: silently preferring one
    would hide a stale-input bug.
    """
    if clusters is not None and pairs is not None:
        raise ValueError(
            "dedup_finalize: pass clusters= OR pairs=, not both — "
            "clusters would silently win and a stale frame could mask "
            "the freshly computed pairs"
        )
    # a caller's clusters frame keeps its own cache; only clusters built
    # here hand their labels checkpoint to the returned frame
    owned = clusters is None
    if owned:
        clusters = cluster_near_dups(
            df,
            id_col,
            text_col,
            threshold=threshold,
            strategy=strategy,
            candidate_budget=candidate_budget,
            on_budget=on_budget,
            degrade_budget=degrade_budget,
            pairs=pairs,
        )
    toks = df.select(id_col, F.size(words(text_col)).alias("n_tokens"))
    joined = toks.join(clusters, on=id_col, how="left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        F.coalesce(F.col("cluster_size"), F.lit(1)).alias("cluster_size"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_tokens"), F.col(id_col))
    out = (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(id_col, "cluster_id", "cluster_size", "n_tokens")
    )
    return cache.carry_cache(out, clusters) if owned else out
