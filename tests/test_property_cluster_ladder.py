"""Property suites for the approximate-family invariants the r12 verdict
asked to extend (item 6): the clustering degrade ladder, containment vs
Jaccard consistency, and an LSH top-k recall floor.

Modeled on test_property_lsh_representatives (whose identical-text
invariant caught the hub-hijack recall bug pre-ship in r12): one-sided
properties where recall applies, exact properties everywhere else.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from foresttime_builder_spark.operators.graph import cluster_near_dups

WORDS = ["a", "b", "c", "d", "e", "f"]

doc_strategy = st.lists(
    st.sampled_from(WORDS), min_size=1, max_size=6
).map(lambda ws: " ".join(ws))

corpus_strategy = st.lists(doc_strategy, min_size=2, max_size=7)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

THRESHOLD = 0.5


def _jac(a: str, b: str) -> float:
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


def _ladder_outputs(spark, rows):
    """Run cluster_near_dups through every ladder rung on the same corpus.

    strategy='prefix' pins the budget-guarded family (the auto path can
    resolve tiny vocabularies to the bitmask tier, which ignores forcing
    budgets by design — the r12 q120 finding).  budget=1 +
    degrade_budget=1 forces the exact path to degrade AND the banded
    fallback to raise, exercising the representatives rung; a generous
    degrade_budget keeps the ladder on the banded rung.
    """
    df = spark.createDataFrame(rows, "doc_id int, text string")
    exact = cluster_near_dups(
        df, "doc_id", "text", threshold=THRESHOLD, strategy="prefix"
    ).collect()
    banded = cluster_near_dups(
        df, "doc_id", "text", threshold=THRESHOLD, strategy="prefix",
        candidate_budget=1, on_budget="degrade",
        degrade_budget=10_000_000,
    ).collect()
    reps = cluster_near_dups(
        df, "doc_id", "text", threshold=THRESHOLD, strategy="prefix",
        candidate_budget=1, on_budget="representatives", degrade_budget=1,
    ).collect()
    return exact, banded, reps


@given(corpus=corpus_strategy)
@settings(**_SETTINGS)
def test_ladder_exact_duplicates_co_cluster_on_every_rung(spark, corpus):
    """Identical-text documents must share a cluster on EVERY ladder rung:
    the exact pair graph contains their jaccard-1.0 edge, banding collides
    them in every band, and the representatives rung stars them through
    the md5 exact-duplicate tier.  This is the recall floor that does not
    depend on banding luck (the invariant class that caught the r12
    hub-hijack bug)."""
    # force at least one identical pair so the property is never vacuous
    rows = [(i, t) for i, t in enumerate(corpus + [corpus[0]])]
    dup_ids = [i for i, t in rows if t == corpus[0]]
    for out in _ladder_outputs(spark, rows):
        assign = {r["doc_id"]: r["cluster_id"] for r in out}
        got = {assign.get(i) for i in dup_ids}
        assert len(got) == 1 and None not in got, (rows, out)


@given(corpus=corpus_strategy)
@settings(**_SETTINGS)
def test_ladder_contract_invariants_on_every_rung(spark, corpus):
    """Every rung returns the same contract: only docs in clusters of
    size >= 2, cluster_id = the cluster's minimum member id, cluster_size
    = the exact member count, no duplicate doc rows."""
    rows = [(i, t) for i, t in enumerate(corpus)]
    for out in _ladder_outputs(spark, rows):
        ids = [r["doc_id"] for r in out]
        assert len(ids) == len(set(ids))
        clusters: dict[int, list[int]] = {}
        for r in out:
            clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
        for cid, members in clusters.items():
            assert cid == min(members)
            assert len(members) >= 2
            for r in out:
                if r["cluster_id"] == cid:
                    assert r["cluster_size"] == len(members)


@given(corpus=corpus_strategy)
@settings(**_SETTINGS)
def test_ladder_exact_rung_no_false_merges(spark, corpus):
    """On the exact rung every cluster member entered through a verified
    >= threshold edge, so each member of a non-singleton cluster has a
    qualifying partner inside its own cluster (4-dp rounding can only
    round a 0.49995+ UP, mirrored here)."""
    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = cluster_near_dups(
        df, "doc_id", "text", threshold=THRESHOLD, strategy="prefix"
    ).collect()
    text = dict(rows)
    clusters: dict[int, list[int]] = {}
    for r in out:
        clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
    for members in clusters.values():
        for m in members:
            best = max(_jac(text[m], text[o]) for o in members if o != m)
            assert round(best, 4) >= THRESHOLD, (rows, members)


@given(corpus=corpus_strategy)
@settings(**_SETTINGS)
def test_containment_is_superset_of_jaccard_pairs(spark, corpus):
    """jaccard(A,B) = |inter|/|union| <= |inter|/|A| = containment(A->B),
    so at the same threshold every Jaccard pair must appear in the
    containment output (in both orientations) — the q111-vs-q16
    consistency the r12 verdict asked to pin down.  Both operators are
    exact (lossless blocking), so this is two-sided per pair, no recall
    caveat."""
    from foresttime_builder_spark.operators.dedup import (
        containment_pairs,
        token_jaccard_pairs,
    )

    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    jac = token_jaccard_pairs(
        df, "doc_id", "text", threshold=THRESHOLD, strategy="prefix"
    ).collect()
    cont = containment_pairs(
        df, "doc_id", "text", threshold=THRESHOLD
    ).collect()
    cpairs = {(r["contained_id"], r["container_id"]) for r in cont}
    for r in jac:
        assert (r["doc_a"], r["doc_b"]) in cpairs, (rows, r)
        assert (r["doc_b"], r["doc_a"]) in cpairs, (rows, r)


def test_lsh_topk_recall_floor_vs_brute(spark):
    """q37's LSH top-k against q17's brute-force ground truth on the real
    sf0.001 embeddings: the md5-derived hyperplanes make the construction
    fully deterministic, so recall is a REPRODUCIBLE number, not a
    banding lottery — pin a floor under the measured value (q101 covers
    the IVF path only; this closes the LSH gap the r12 verdict named).
    LSH restricts candidates to same-bucket vectors, so recall < 1 by
    design; the floor asserts the parameters stay useful."""
    from foresttime_builder_spark.operators.ann import brute_topk_np, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    approx = lsh_topk(emb)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    probes = base.select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("probe_vec")
    )
    exact = brute_topk_np(base, probes, k=3).select(
        F.col("probe_id").alias("e_probe"),
        F.col("neighbor_id").alias("e_neighbor"),
    )
    matched = approx.join(
        exact,
        (F.col("probe_id") == F.col("e_probe"))
        & (F.col("neighbor_id") == F.col("e_neighbor")),
        "left",
    )
    agg = matched.agg(
        F.sum(F.when(F.col("e_probe").isNotNull(), 1).otherwise(0)).alias("hit"),
        (F.countDistinct("probe_id") * 3).alias("total"),
    ).collect()[0]
    recall = agg["hit"] / agg["total"]
    # measured 0.2267 (r13) on the near-isotropic sf0.001 vectors: q37 is
    # the single-probe (AND-only) LSH baseline, so same-bucket recall is
    # genuinely modest on isotropic data — the ivf path (q42/q101) is the
    # recall-targeted one.  Deterministic by construction; the floor sits
    # under the measured value so only a real parameter/algorithm
    # regression trips it, while still catching a return to the
    # degenerate regimes (nprobe-2-style recall 1/3 was the r9 finding).
    assert recall >= 0.15, recall
