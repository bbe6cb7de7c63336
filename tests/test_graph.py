"""Connected components (alternating large-star/small-star with a
driver-side union-find tier), its DuckDB oracle chain, and the guarded
clustering/finalize entry points built on them."""

from __future__ import annotations

import gc

import pytest

from foresttime_builder_spark.operators.graph import (
    cluster_near_dups,
    connected_components,
    dedup_finalize,
)


def _corpus(spark, vocab: int):
    # doc i = tokens [i .. i+9] cyclically: adjacent docs overlap 9/11 of
    # their union -> a dense near-dup chain (same shape as test_dedup_guard)
    rows = [
        (i, " ".join(f"t{(i + j) % vocab:03d}" for j in range(10)))
        for i in range(vocab)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_components_basic(spark):
    # two components: {1,2,3,4} (path) and {10,11}; 4 reaches 1 via 3 hops
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src INT, dst INT"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_converges_on_cycle(spark):
    edges = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 5)], "src INT, dst INT"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {5: 5, 6: 5, 7: 5}


def test_components_small_tier_matches_distributed_star(spark):
    """r13 small-graph tier (driver union-find below SMALL_CC_EDGES) must
    be label-for-label identical to the distributed star rounds on random
    graphs with self-loops, duplicates, reversed edges and isolated
    self-loop-only nodes — and must report rounds=0 through stats."""
    import random

    rng = random.Random(13)
    for trial in range(4):
        n = rng.randint(5, 120)
        edges = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(3 * n)]
        edges += [(i, i) for i in range(0, n, 7)]  # self-loop-only chances
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        s_small: dict = {}
        small = {
            (r["id"], r["comp"])
            for r in connected_components(df, stats=s_small).collect()
        }
        dist = {
            (r["id"], r["comp"])
            for r in connected_components(
                df, small_graph_edges=0
            ).collect()
        }
        assert small == dist, f"trial {trial}"
        assert s_small["rounds"] == 0


def test_components_small_tier_string_ids(spark):
    """The tier must preserve non-numeric id types (the mapping frame is
    built from the edge schema, not inferred)."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "src STRING, dst STRING"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def _oracle_components(edges) -> dict:
    """``{id: comp}`` from the DuckDB oracle's min-label chain
    (:func:`_components_sql`) over the symmetric closure of ``edges``."""
    import duckdb

    from foresttime_builder_spark.plans.queries.dedup import _components_sql

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE e (a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO e VALUES (?, ?)", edges)
        return dict(
            con.execute(
                "WITH sym AS MATERIALIZED "
                "(SELECT a, b FROM e UNION SELECT b, a FROM e), "
                f"{_components_sql('sym')} SELECT id, lab FROM comp"
            ).fetchall()
        )
    finally:
        con.close()


def test_components_star_vs_minlabel_differential(spark):
    """The distributed star rounds and the oracle's min-label chain must
    agree exactly on a random multi-component graph with self-loops,
    duplicate and reversed edges."""
    import random

    rng = random.Random(7)
    n = 400
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    edges += [(i, i) for i in range(0, n, 37)]          # self-loops
    edges += [(b, a) for a, b in edges[:40]]            # reversed dups
    df = spark.createDataFrame(edges, "src INT, dst INT")
    star = {
        r["id"]: r["comp"]
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert star == _oracle_components(edges) and len(star) > 0


def test_components_star_logarithmic_on_adversarial_chain(spark):
    """A 100k-node PATH graph: min-label propagation would need ~100k
    rounds; large/small-star must converge in O(log n) rounds and still
    label every node with the chain's minimum id."""
    n = 100_000
    edges = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    stats: dict = {}
    # small_graph_edges=0 forces the distributed star rounds — this test
    # exists to prove the O(log n) round bound, which the driver-side
    # union-find tier (gated at SMALL_CC_EDGES) would bypass
    labels = connected_components(edges, stats=stats, small_graph_edges=0)
    agg = labels.groupBy("comp").count().collect()
    assert len(agg) == 1 and agg[0]["comp"] == 0 and agg[0]["count"] == n
    # log2(100000) ~ 17; the alternating algorithm typically needs far
    # fewer — anything <= 20 proves the O(n)-round pathology is gone
    assert 1 <= stats["rounds"] <= 20, stats


def _cached_rdds(spark) -> set:
    # ids, not a count: earlier tests' checkpoints may be freed by GC
    # mid-test, which would mask a new block in a before/after count
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def test_components_non_convergence_releases_caches(spark):
    """The non-convergence raise must release the persisted edge list and
    the current round's checkpoint, not leave them cached for the
    session's lifetime."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src INT, dst INT"
    )
    before = _cached_rdds(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=1, small_graph_edges=0)
    assert _cached_rdds(spark) <= before


def test_components_oracle_chain_matches_engine_on_long_path(spark):
    """A 40-node path is deeper than the oracle's 16 rounds of plain
    min-label propagation (which leave it in 24 pieces); the oracle's
    pointer-jumping chain and the Spark operator must both label the
    whole path with node 0."""
    edges = [(i, i + 1) for i in range(39)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    spark_labels = {r["comp"] for r in connected_components(df).collect()}
    duck_labels = set(_oracle_components(edges).values())
    assert spark_labels == duck_labels == {0}


def test_cluster_guard_error_fires_before_shuffle(spark):
    """The regime guard passes through cluster_near_dups: a tiny budget
    raises at PLAN time (before any full-corpus candidate shuffle) with
    the same actionable advice token_jaccard_pairs gives."""
    wide = _corpus(spark, vocab=120)
    with pytest.raises(ValueError, match="degrade"):
        cluster_near_dups(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix",
            candidate_budget=1, on_budget="error",
        )


def test_cluster_guard_degrade_refines_exact_clusters(spark):
    """Guard-triggered clustering (banded-LSH candidates, exact verify)
    must produce a REFINEMENT of the exact clustering: degraded pairs are
    a verified subset of exact pairs, so every degraded cluster sits
    wholly inside one exact cluster — and on this overlap-dense corpus it
    still finds real multi-doc clusters."""
    wide = _corpus(spark, vocab=120)
    exact = {
        r.doc_id: r.cluster_id
        for r in cluster_near_dups(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix",
        ).collect()
    }
    # budget 500 sits between the exact prefix projection (1920) and the
    # banded-LSH stream (384): the exact path degrades, the fallback fits.
    # The budget is forwarded into the fallback (ADVICE r11), so a budget
    # below the BANDED stream now correctly raises instead of degrading —
    # which test_cluster_degrade_budget_forwarded asserts.
    degraded = cluster_near_dups(
        wide, "doc_id", "text", threshold=0.5, strategy="prefix",
        candidate_budget=500, on_budget="degrade",
    ).collect()
    assert any(r.cluster_size > 1 for r in degraded)
    by_cluster: dict[int, set[int]] = {}
    for r in degraded:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    for members in by_cluster.values():
        assert len({exact[m] for m in members}) == 1, (
            "a degraded cluster straddles exact clusters — banded "
            "candidates must be a subset of exact pairs"
        )


def test_dedup_finalize_guard_passthrough(spark):
    """dedup_finalize with on_budget='degrade' runs end-to-end through the
    banded path: exactly one representative per cluster, singletons pass
    through, and the representative is the longest-doc/min-id winner."""
    wide = _corpus(spark, vocab=120)
    kept = dedup_finalize(
        wide, "doc_id", "text", threshold=0.5, strategy="prefix",
        candidate_budget=500, on_budget="degrade",
    ).collect()
    # one row per cluster, clusters partition the doc space
    assert len({r.cluster_id for r in kept}) == len(kept)
    assert sum(r.cluster_size for r in kept) == wide.count()
    # all docs are 10 tokens here, so the keep rule's tie-break picks the
    # minimum doc_id: each representative is its cluster's min id
    for r in kept:
        assert r.doc_id == r.cluster_id and r.n_tokens == 10


def test_dedup_finalize_matches_unguarded_on_small_corpus(spark):
    """With a generous budget the guarded finalize equals the exact one."""
    small = _corpus(spark, vocab=40)
    rows = lambda df: sorted(
        (r.doc_id, r.cluster_id, r.cluster_size, r.n_tokens)
        for r in df.collect()
    )
    base = rows(dedup_finalize(small, "doc_id", "text", threshold=0.5))
    assert base == rows(
        dedup_finalize(
            small, "doc_id", "text", threshold=0.5,
            candidate_budget=10_000_000, on_budget="error",
        )
    )
    # finalizing from precomputed clusters is identical to the fused form
    pre = cluster_near_dups(small, "doc_id", "text", threshold=0.5)
    assert base == rows(dedup_finalize(small, "doc_id", "text", clusters=pre))


def test_semantic_dedup_composition_semantics(spark):
    """SemDeDup chain on a tiny vector set: two near-identical pairs, one
    chained triple, one singleton — representative is the smallest id."""
    from foresttime_builder_spark.operators.ann import embedding_neardup_pairs
    from foresttime_builder_spark.operators.graph import connected_components
    from pyspark.sql import functions as F

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (32 - len(xs))

    rows = [
        (1, v(1, 0)), (2, v(1, 0.01)),        # dup pair -> cluster 1
        (3, v(0, 1)), (4, v(0.01, 1)), (5, v(0.02, 1)),  # triple -> cluster 3
        (6, v(1, 1, 1, 1, 1, 1)),             # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_neardup_pairs(emb, threshold=0.99)
    comp = connected_components(pairs, "id_a", "id_b")
    assigned = (
        emb.select("vec_id")
        .join(comp, emb["vec_id"] == comp["id"], "left")
        .select("vec_id", F.coalesce("comp", "vec_id").alias("cluster_id"))
    )
    got = {r.vec_id: r.cluster_id for r in assigned.collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 3, 6: 6}


def test_components_release_superseded_checkpoint_blocks(spark):
    """The star rounds localCheckpoint() every round; the superseded
    round's blocks must be EXPLICITLY evicted (GC is nondeterministic and
    the deserialized blocks OOM'd 8 GB heaps at 72.8M edges before the
    r11 fix).  After a multi-round run, the only storage delta allowed is
    the returned labels checkpoint — a leak of per-round blocks shows up
    as delta ~= rounds."""
    # 101-node path drives the star rounds through ~7 contraction rounds
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src INT, dst INT"
    )
    before = _cached_rdds(spark)
    out = connected_components(path, small_graph_edges=0)
    assert out.count() == 101
    assert len(_cached_rdds(spark) - before) <= 1


def test_cluster_degrade_budget_forwarded(spark):
    """on_budget='degrade' forwards candidate_budget into the banded-LSH
    fallback: on a corpus dense enough that the BANDED stream itself
    exceeds the budget, the degrade path must raise the designed
    feasibility error (naming the levers) instead of re-entering an
    unguarded self-join — the q23-at-sf10 regime, where the banded stream
    was itself ~2.3e9 candidates."""
    wide = _corpus(spark, vocab=120)
    # budget 1 is below even the banded stream (384 on this corpus)
    with pytest.raises(ValueError, match="band_size|shard"):
        cluster_near_dups(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix",
            candidate_budget=1, on_budget="degrade",
        )


def test_cluster_near_dups_representatives_fallback(spark):
    """on_budget='representatives' completes the degrade ladder: when the
    forcing budget makes BOTH the exact prefix stream and the banded LSH
    degrade infeasible, the call falls back to the linear bucket-star
    clustering adapted to this function's contract (same columns,
    singletons excluded) instead of raising."""
    from foresttime_builder_spark.operators.graph import cluster_near_dups

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),
        (3, "a b c d e f g h i k"),
        (4, "p q r s t u v w x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # strategy='prefix': the budget guard applies to prefix only —
    # 'auto' resolves to the mask family on this vocabulary and the exact
    # path runs without ever reaching the ladder
    out = cluster_near_dups(
        df, "doc_id", "text", threshold=0.5, strategy="prefix",
        candidate_budget=1, on_budget="representatives",
        degrade_budget=1,
    )
    assert set(out.columns) == {"doc_id", "cluster_id", "cluster_size"}
    got = {r.doc_id: (r.cluster_id, r.cluster_size) for r in out.collect()}
    # 1/2 identical (exact tier guarantees the merge), 3 near-dup at 0.5;
    # singleton 4 is excluded per the cluster_near_dups contract
    assert got[1] == (1, 3) and got[2] == (1, 3) and got[3] == (1, 3)
    assert 4 not in got
    # a generous budget must keep the normal exact path + contract
    full = cluster_near_dups(
        df, "doc_id", "text", threshold=0.5, strategy="prefix",
        candidate_budget=10_000_000, on_budget="representatives",
    )
    fgot = {r.doc_id: (r.cluster_id, r.cluster_size) for r in full.collect()}
    assert fgot == got


def test_ladder_fallback_equals_filtered_representatives(spark):
    """The q120 adapter contract on real data: the representatives rung
    of cluster_near_dups must be EXACTLY lsh_representatives filtered to
    non-singletons and renamed — no drift allowed between the gated
    query's two formulations."""
    from foresttime_builder_spark.operators.dedup import lsh_representatives
    from foresttime_builder_spark.operators.graph import cluster_near_dups
    from foresttime_builder_spark.sources import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    ladder = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in cluster_near_dups(
            d, "doc_id", "text", threshold=0.5, strategy="prefix",
            candidate_budget=1, on_budget="representatives",
            degrade_budget=1,
        ).collect()
    }
    reps = {
        (r.doc_id, r.rep_id, r.cluster_size)
        for r in lsh_representatives(
            d, "doc_id", "text", threshold=0.5
        ).collect()
        if r.cluster_size > 1
    }
    assert ladder == reps and ladder


def test_precomputed_pairs_identical_to_end_to_end(spark):
    """r13 verdict item 3: a chain that already enumerated+verified the
    pair stream (q16's output) must be able to feed clustering and
    finalize WITHOUT recomputing it — and get bit-identical results to
    the end-to-end path."""
    from foresttime_builder_spark.operators.dedup import token_jaccard_pairs
    from foresttime_builder_spark.operators.graph import (
        cluster_near_dups,
        dedup_finalize,
    )
    from foresttime_builder_spark.sources import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = token_jaccard_pairs(d, "doc_id", "text", threshold=0.8).persist()

    e2e = sorted(
        tuple(r) for r in cluster_near_dups(d, "doc_id", "text", 0.8).collect()
    )
    fed = sorted(
        tuple(r)
        for r in cluster_near_dups(d, "doc_id", "text", pairs=pairs).collect()
    )
    assert e2e == fed and e2e

    e2e_fin = sorted(
        tuple(r) for r in dedup_finalize(d, "doc_id", "text", 0.8).collect()
    )
    fed_fin = sorted(
        tuple(r)
        for r in dedup_finalize(d, "doc_id", "text", pairs=pairs).collect()
    )
    assert e2e_fin == fed_fin and e2e_fin
    pairs.unpersist()


def _persisted_ids(spark) -> set:
    # getPersistentRDDs drops an id the moment it is unpersisted; ids, not
    # a count, so another test's frame freed mid-test cannot mask a leak
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("small_graph_edges", [100_000, 0], ids=["union_find", "star"])
def test_components_labels_released_with_derived_result(spark, small_graph_edges):
    """The labels checkpoint connected_components returns is owned by the
    frame a consumer derives from it (carry_cache): once that frame is
    executed, dropped and collected, no persisted RDD of the call is left
    for the JVM's ContextCleaner to find."""
    from foresttime_builder_spark.operators.cache import carry_cache

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101)], "src INT, dst INT"
    )
    before = _persisted_ids(spark)
    comp = connected_components(edges, small_graph_edges=small_graph_edges)
    sizes = carry_cache(comp.groupBy("comp").count(), comp)
    del comp
    gc.collect()
    assert sorted(tuple(r) for r in sizes.collect()) == [(0, 31), (100, 2)]
    del sizes
    gc.collect()
    assert _persisted_ids(spark) <= before


def _cluster_near_dups_case(spark, tmp_path):
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),
        (3, "a b c d e f g h i k"),
        (4, "p q r s t u v w x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return (
        cluster_near_dups(df, "doc_id", "text", threshold=0.5),
        [(1, 1, 3), (2, 1, 3), (3, 1, 3)],
    )


def _lsh_representatives_case(spark, tmp_path):
    from foresttime_builder_spark.operators.dedup import lsh_representatives

    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return (
        lsh_representatives(df, "doc_id", "text", threshold=0.5),
        [(1, 1, 2), (2, 1, 2), (3, 3, 1)],
    )


def _semantic_dedup_case(spark, tmp_path):
    from foresttime_builder_spark.plans.queries.dedup import q87_semantic_dedup

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (32 - len(xs))

    rows = [
        (1, v(1, 0)), (2, v(1, 0.01)),
        (3, v(0, 1)), (4, v(0.01, 1)), (5, v(0.02, 1)),
        (6, v(1, 1, 1, 1, 1, 1)),
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return (
        q87_semantic_dedup(spark, str(tmp_path)),
        [(1, 1, 2, True), (2, 1, 2, False), (3, 3, 3, True), (4, 3, 3, False),
         (5, 3, 3, False), (6, 6, 1, True)],
    )


@pytest.mark.parametrize(
    "case",
    [_cluster_near_dups_case, _lsh_representatives_case, _semantic_dedup_case],
    ids=["cluster_near_dups", "lsh_representatives", "q87_semantic_dedup"],
)
def test_cc_consumers_own_the_labels_checkpoint(spark, tmp_path, case):
    """Each consumer derives its result from the CC labels and must hand
    their checkpoint on: the result still executes after a collection
    between build and execution (a checkpoint freed early fails the read,
    Spark does not recompute it), and dropping the result releases it."""
    before = _persisted_ids(spark)
    out, expected = case(spark, tmp_path)
    gc.collect()
    assert sorted(tuple(r) for r in out.collect()) == expected
    del out
    gc.collect()
    assert _persisted_ids(spark) <= before


def test_dedup_finalize_leaves_given_clusters_their_cache(spark):
    """dedup_finalize takes the labels checkpoint only from clusters it
    builds itself: a caller's clusters frame stays readable after the
    finalized frame derived from it is dropped."""
    small = _corpus(spark, vocab=40)
    pre = cluster_near_dups(small, "doc_id", "text", threshold=0.5)
    expected = sorted(tuple(r) for r in pre.collect())
    dedup_finalize(small, "doc_id", "text", clusters=pre).collect()
    gc.collect()
    assert sorted(tuple(r) for r in pre.collect()) == expected
