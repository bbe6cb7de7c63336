"""Property-based kmeans coverage/diversity sampling tests (q121/q122).

The r13 invariant tests covered the fixed gate corpus (dense pick_rank,
per-cluster cap, rep-min <= div-max); this suite covers the randomized
contracts the gate cannot see:

1. **Permutation invariance** — the output is a pure function of the
   (id, vector) SET, not of input row order or physical partitioning
   (the quantizer is md5-id-seeded and Lloyd means are 6-dp-rounded;
   components here are small integers so double sums are exact under any
   aggregation order, making the property exact rather than approximate);
2. **Prefix consistency under mass ties** — on a corpus made of exact
   duplicate vectors, a cluster of identical vectors keeps EXACTLY its
   smallest ``COVERAGE_PER_CLUSTER`` ids: ties are id-broken
   deterministically, never dropped or duplicated;
3. **Coverage floor vs uniform sampling** — every non-empty cluster of
   the operator's own quantizer contributes min(cluster_size,
   ``COVERAGE_PER_CLUSTER``) rows: the guarantee a uniform random subset
   cannot make;
4. **Empty-corpus contract** (r13 advice fix) — a corpus with no valid
   vector returns an EMPTY frame with the contract schema instead of
   raising PySpark's opaque empty-inference error.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from foresttime_builder_spark.operators import ann
from foresttime_builder_spark.operators.ann import (
    COVERAGE_PER_CLUSTER as M,
    kmeans_coverage_sample,
)

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

DIMS = 3

# integer-valued components in a small range: double-exact under any
# summation order (Lloyd means are ratios of exact sums), so permutation
# invariance can be asserted EXACTLY
vec_strategy = st.lists(
    st.integers(min_value=-4, max_value=4).map(float),
    min_size=DIMS,
    max_size=DIMS,
)

corpus_strategy = st.lists(vec_strategy, min_size=2, max_size=24)


def _rows(out):
    return sorted(tuple(r) for r in out.collect())


def _members(df):
    """{cid: [vec_id, ...]}: the clusters of the quantizer
    kmeans_coverage_sample builds over ``df``."""
    if ann._valid(df, "vec_id", "embedding", cosine=True).isEmpty():
        return {}
    base, dims, n_rows = ann._quantizer_setup(df)
    _cent, lists = ann._kmeans_build(base, dims, ann.adaptive_k_clusters(n_rows))
    out: dict[int, list] = {}
    for r in lists.select("cid", "vid").collect():
        out.setdefault(r["cid"], []).append(r["vid"])
    return out


@given(corpus=corpus_strategy, order=st.sampled_from(["representative", "diverse"]))
@settings(**_SETTINGS)
def test_permutation_invariance(spark, corpus, order):
    rows = [(i, v) for i, v in enumerate(corpus)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    base = _rows(kmeans_coverage_sample(df, order=order))
    # reversed row order AND a different physical partitioning
    shuffled = spark.createDataFrame(rows[::-1], df.schema).repartition(5)
    assert _rows(kmeans_coverage_sample(shuffled, order=order)) == base


@given(
    n_dups=st.integers(min_value=2, max_value=8),
    seeds=st.lists(vec_strategy, min_size=1, max_size=3),
    order=st.sampled_from(["representative", "diverse"]),
)
@settings(**_SETTINGS)
def test_mass_tie_prefix_consistency(spark, n_dups, seeds, order):
    # every vector duplicated n_dups times: all within-cluster distances
    # tie, so the ranking rides entirely on the vid tie-break
    rows = [
        (i * n_dups + j, v)
        for i, v in enumerate(seeds)
        for j in range(n_dups)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    picked = kmeans_coverage_sample(df, order=order).collect()
    vec = dict(rows)
    by_cid: dict[int, list] = {}
    for r in picked:
        by_cid.setdefault(r["cid"], []).append(r)
    for cid, members in _members(df).items():
        kept = sorted(by_cid.get(cid, []), key=lambda r: r["pick_rank"])
        # pick_rank dense from 1, one row per kept id
        assert [r["pick_rank"] for r in kept] == list(range(1, len(kept) + 1))
        assert len({r["vec_id"] for r in kept}) == len(kept)
        if len({tuple(vec[i]) for i in members}) != 1:
            continue  # cross-seed collision in one cluster: distances differ
        # identical vectors tie on distance: the SMALLEST ids are kept,
        # in id order
        assert [r["vec_id"] for r in kept] == sorted(members)[:M]


@given(corpus=corpus_strategy)
@settings(**_SETTINGS)
def test_coverage_floor(spark, corpus):
    rows = [(i, v) for i, v in enumerate(corpus)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    picked = kmeans_coverage_sample(df).collect()
    got: dict[int, int] = {}
    for r in picked:
        got[r["cid"]] = got.get(r["cid"], 0) + 1
    # every non-empty cluster contributes exactly min(size, M) rows —
    # the floor a uniform sample cannot guarantee
    assert got == {cid: min(len(v), M) for cid, v in _members(df).items()}


def test_empty_corpus_contract(spark):
    # all rows invalid under the cosine validity contract (zero-norm and
    # NULL-component vectors) -> empty output, contract schema, no raise
    rows = [(1, [0.0, 0.0, 0.0]), (2, [None, 1.0, 1.0]), (3, None)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = kmeans_coverage_sample(df)
    assert out.columns == ["vec_id", "cid", "dist_e6", "pick_rank"]
    assert out.count() == 0
    # and the filter really was the validity contract: one valid row in an
    # otherwise-degenerate corpus still yields output
    rows2 = rows + [(4, [1.0, 2.0, 3.0])]
    df2 = spark.createDataFrame(rows2, "vec_id int, embedding array<double>")
    assert [r["vec_id"] for r in kmeans_coverage_sample(df2).collect()] == [4]
