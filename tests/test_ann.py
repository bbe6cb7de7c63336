"""Brute-force cosine top-k: probe-cap contract + exactness on a tiny corpus."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from foresttime_builder_spark.operators.ann import MAX_BRUTE_PROBES, brute_topk_np


def _corpus(spark, n=40, dims=4):
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(dims)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, vec array<double>")


def test_probe_cap_raises(spark):
    base = _corpus(spark)
    # one probe over the cap: the bounded collect raises before scoring
    probes = spark.range(MAX_BRUTE_PROBES + 1).select(
        F.col("id").alias("probe_id"),
        F.array(*[F.lit(float(j + 1)) for j in range(4)]).alias("probe_vec"),
    )
    with pytest.raises(ValueError, match="MAX_BRUTE_PROBES"):
        brute_topk_np(base, probes, k=3)


def test_brute_topk_matches_exact(spark):
    base = _corpus(spark)
    probes = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("probe_vec")
    )
    got = {
        (r.probe_id, r.rank): (r.neighbor_id, r.cosine)
        for r in brute_topk_np(base, probes, k=3).collect()
    }
    data = {r.vec_id: r.vec for r in base.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    for p in range(3):
        sims = sorted(
            ((round(cos(data[p], v), 6), -i) for i, v in data.items() if i != p),
            reverse=True,
        )
        for rank, (c, neg_i) in enumerate(sims[:3], start=1):
            assert got[(p, rank)] == (-neg_i, c)


def test_random_projection_matches_numpy_reference(spark):
    import numpy as np

    from foresttime_builder_spark.operators.ann import (
        _rp_sign,
        random_projection,
    )

    vecs = [
        (0, [0.5, -1.25, 2.0, 0.125]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [1e-9, -1e-9, 3.7, -2.2]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {
        (r["vec_id"], r["out_dim"]): r["value_e9"]
        for r in random_projection(df).collect()
    }
    S = np.array(
        [[_rp_sign("rp", i, j) for j in range(8)] for i in range(4)],
        dtype="int64",
    )
    for vid, v in vecs:
        q = np.floor(np.array(v, dtype="float64") * 1e9).astype("int64")
        ref = q @ S
        for j in range(8):
            assert out[(vid, j)] == ref[j]
    assert len(out) == 24


def test_random_projection_preserves_sign_symmetry(spark):
    # projecting v and -v must give exactly opposite outputs when the
    # quantization is symmetric (use values exact in binary: no floor bias)
    from foresttime_builder_spark.operators.ann import random_projection

    df = spark.createDataFrame(
        [(0, [1.0, -2.0]), (1, [-1.0, 2.0])], ["vec_id", "embedding"]
    )
    rows = random_projection(df).collect()
    by = {}
    for r in rows:
        by.setdefault(r["vec_id"], {})[r["out_dim"]] = r["value_e9"]
    assert all(by[0][j] == -by[1][j] for j in range(8))


def test_adaptive_nprobe_integer_chain():
    """The auto nprobe (recall-targeted ceil(11k/(4·lg k)), floor 2, cap k
    — r13, curves in RECALL_IVF_r13.json) and its SQL twin must agree
    value-for-value — the derivation is deliberately pure integer (CASE
    ladder for lg) so no DECIMAL-vs-IEEE rounding can split the engines."""
    import duckdb

    from foresttime_builder_spark.operators.ann import (
        adaptive_nprobe,
        adaptive_nprobe_sql,
    )

    assert adaptive_nprobe(2) == 2          # floor / capped at k
    assert adaptive_nprobe(8) == 8          # ceil(88/12)=8 — full scan, tiny k
    assert adaptive_nprobe(32) == 18        # recall 0.90 measured at sf0.01
    assert adaptive_nprobe(256) == 88       # recall ~0.84 measured at sf1
    assert adaptive_nprobe(512) == 157      # recall ~0.90 measured at sf10
    got = duckdb.sql(
        f"SELECT kk, {adaptive_nprobe_sql('kk')} FROM "
        "(SELECT unnest(range(1, 10001)) AS kk)"
    ).fetchall()
    for kk, v in got:
        assert v == adaptive_nprobe(kk), kk


def test_ivf_candidate_budget_guard():
    """The IVF scan guard, Spark-free on the policy function: a budget
    below the projected (probe, list) pair stream raises with the
    arithmetic (on_budget='error') or lowers nprobe to the largest value
    that fits (on_budget='degrade'); a generous budget leaves the auto
    plan untouched.  200 rows x 8 dims, k=3: 8 probes, auto k=16,
    auto nprobe=11, 952 B per pair; budget 600 -> 40 pairs -> fit 5."""
    from foresttime_builder_spark.operators.ann import _ivf_params

    assert _ivf_params(200, 8, None, "error") == (16, 11)
    with pytest.raises(ValueError, match=r"candidate_budget=600 .*<= 5 fits"):
        _ivf_params(200, 8, 600, "error")
    assert _ivf_params(200, 8, 600, "degrade") == (16, 5)
    assert _ivf_params(200, 8, 10_000_000, "error") == (16, 11)
    with pytest.raises(ValueError, match="bad on_budget"):
        _ivf_params(200, 8, None, "nope")


def test_ivf_no_fit_raises_in_both_postures():
    """When even nprobe=1 exceeds the budget there is no degrade left —
    BOTH postures must raise the feasibility error instead of a max(1,
    fit) floor silently running past the budget."""
    from foresttime_builder_spark.operators.ann import _ivf_params

    for posture in ("error", "degrade"):
        with pytest.raises(ValueError, match="even nprobe=1"):
            _ivf_params(200, 8, 1, posture)


def test_ivf_degraded_plan_runs(spark):
    """A budget-degraded IVF plan still runs and emits rank-valid rows."""
    from foresttime_builder_spark.operators.ann import ivf_topk

    vecs = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    rows = ivf_topk(emb, candidate_budget=600, on_budget="degrade").collect()
    assert rows and all(1 <= r["rank"] <= 3 for r in rows)


def test_fold_dots_is_the_index_order_fold():
    """_fold_dots equals a plain left fold in index order bit for bit —
    the order of dot_unrolled and DuckDB's list_dot_product."""
    import numpy as np

    from foresttime_builder_spark.operators.ann import _fold_dots

    rng = np.random.default_rng(7)
    A, B = rng.standard_normal((5, 64)), rng.standard_normal((9, 64))
    got = _fold_dots(A, np.ascontiguousarray(B.T))
    for i in range(5):
        for m in range(9):
            acc = 0.0
            for j in range(64):
                acc += A[i, j] * B[m, j]
            assert got[i, m] == acc


def test_cosine_topk_chunking_is_exact(monkeypatch):
    """The kernel's probe blocks and member chunks (merged through the
    tie-safe running pool) give exactly the single-block answer, on a
    corpus with a wide tie group and a NaN-component vector."""
    import numpy as np

    from foresttime_builder_spark.operators import ann

    vecs = [np.array([1.0, 2.0, 3.0])] * 50 + [
        np.array([float((i * 5 + j) % 7 - 3) for j in range(3)])
        for i in range(30)
    ]
    vecs[60] = np.array([1.0, np.nan, 0.5])
    mvecs = np.empty(len(vecs), dtype=object)
    for i, v in enumerate(vecs):
        mvecs[i] = v
    mids = np.arange(len(vecs) - 1, -1, -1, dtype="int64")  # descending ids
    pick = np.array([0, 5, 49, 60, 61, 79])

    def run():
        out = ann._cosine_topk(mvecs[pick], mids[pick], mvecs, mids, 2)
        return sorted(
            (p, n, None if nan else c)
            for p, n, c, nan in out.itertuples(index=False)
        )

    whole = run()
    monkeypatch.setattr(ann, "_MEMB_CHUNK", 7)
    monkeypatch.setattr(ann, "_PROBE_BLOCK", 4)
    assert run() == whole
    assert len(whole) == len(pick) * (2 + ann._MARGIN)


def _topk_vs_oracle(spark, rows, topk, oracle_sql):
    """Run a Spark top-k operator (``topk(emb)``) AND its DuckDB twin
    (``oracle_sql`` over table ``embeddings``) on the same tiny corpus,
    held in ONE partition so every local top-k cut sees the whole corpus;
    both result sets must match row-for-row (probe, neighbor, 6-dp
    cosine, rank) — NaN cosines compare as equal-NaN."""
    import math

    import duckdb
    import pyarrow as pa

    def norm(p, n, c, rk):
        nan = c is None or math.isnan(c)
        return (p, n, rk, None if nan else round(c, 6))

    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    got = sorted(
        norm(r["probe_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in topk(emb).collect()
    )
    con = duckdb.connect()
    # pyarrow, NOT pandas: pandas registration converts in-list NaN to
    # NULL, which list_dot_product rejects; parquet (the real oracle
    # input) preserves NaN as a float value, so the test must too
    con.register(
        "embeddings",
        pa.table({
            "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], type=pa.list_(pa.float64())
            ),
        }),
    )
    want = sorted(norm(*row) for row in con.execute(oracle_sql).fetchall())
    assert got == want, (got[:10], want[:10])


def _ivf_vs_oracle(spark, rows):
    from foresttime_builder_spark.operators.ann import (
        ivf_topk,
        ivf_topk_oracle_sql,
    )

    _topk_vs_oracle(spark, rows, ivf_topk, ivf_topk_oracle_sql())


def _brute_vs_oracle(spark, rows, k=3):
    """brute_topk_np with every id % PROBE_MOD == 0 as a probe, against
    brute_topk_oracle_sql with the same probe predicate."""
    from foresttime_builder_spark.operators.ann import (
        PROBE_MOD,
        brute_topk_np,
        brute_topk_oracle_sql,
    )

    def topk(emb):
        base = emb.select("vec_id", F.col("embedding").alias("vec"))
        probes = base.filter(F.col("vec_id") % PROBE_MOD == 0).select(
            F.col("vec_id").alias("probe_id"), F.col("vec").alias("probe_vec")
        )
        return brute_topk_np(base, probes, k=k)

    oracle = brute_topk_oracle_sql("embeddings", f"vid % {PROBE_MOD} = 0", k)
    _topk_vs_oracle(spark, rows, topk, oracle)


def _degenerate_rows(dims=4):
    """A zero-norm member (excluded by the cosine contract on both
    engines) and a NaN-component vector whose id is also a probe."""
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(dims)])
        for i in range(60)
    ]
    rows[10] = (250, [0.0] * dims)            # zero-norm member
    rows[20] = (500, [1.0, float("nan"), 0.5, 2.0])  # NaN component, probe id
    return rows


def test_brute_nan_component_matches_oracle(spark):
    """A NaN-component vector has a NaN cosine against every row, and
    both engines rank NaN first under ORDER BY cosine DESC: the brute
    kernel must keep it (and restore a literal NaN, not NULL)."""
    _brute_vs_oracle(spark, _degenerate_rows())


@pytest.mark.parametrize(
    "topk,eps",
    # IVF's exact-tie case is test_ivf_mass_duplicate_ties_match_oracle
    [("brute", 0.0), ("brute", 1e-4), ("ivf", 1e-4)],
)
def test_tie_group_matches_oracle(spark, topk, eps):
    """60 vectors listed in DESCENDING id order in one partition whose
    cosines all round to 1.0 — a tie group wider than the local k +
    margin cut, so the cut must keep the smallest ids (ORDER BY cosine
    DESC, neighbor_id).  eps=0: identical vectors, exact raw ties (an
    unguarded argpartition keeps an arbitrary subset); eps>0: raw
    cosines differ below the 6-dp step and smaller ids sit farther from
    the probes (a raw-value cut keeps the raw-nearest instead)."""
    rows = [
        (i, [1.0, eps * (60 - i) / 60, 0.0, 0.0]) for i in range(59, -1, -1)
    ]
    if topk == "brute":
        _brute_vs_oracle(spark, rows)
    else:
        _ivf_vs_oracle(spark, rows)


def test_ivf_degenerate_vectors_match_oracle(spark):
    """r13 review fix: zero-norm and NaN-component vectors pass _valid
    (NULL-only filter) and produce NaN cosines; both engines rank NaN as
    greatest, so the kernel must KEEP them (the first cogroup kernel
    silently dropped non-finite cosines — an engine-parity break)."""
    _ivf_vs_oracle(spark, _degenerate_rows())


def test_ivf_mass_duplicate_ties_match_oracle(spark):
    """r13 review fix: a list full of IDENTICAL vectors produces exact
    raw-cosine ties wider than the local selection pool; the kernel's
    boundary-tie fallback must keep the smallest neighbor_ids, matching
    the oracle's ORDER BY cosine DESC, neighbor_id."""
    dims = 4
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(180)]
    rows += [
        (200 + i, [float((i * 5 + j) % 7 - 3) for j in range(dims)])
        for i in range(40)
    ]
    _ivf_vs_oracle(spark, rows)


def test_ivf_collapsed_list_guard(spark, monkeypatch):
    """r13 review fix: the pair-stream budget cannot see a skew-collapsed
    quantizer (one giant inverted list = one giant cogroup task), so the
    guard bounds the largest list's bytes and raises with advice — degrade
    cannot shrink a single list, so both postures raise.  Since r14
    (ADVICE item) the guard no longer depends on candidate_budget: ANY
    call whose corpus could physically exceed the cap when fully
    collapsed pays the check, while corpora below the cap skip it."""
    import pytest as _pytest

    from foresttime_builder_spark.operators import ann

    vecs = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    monkeypatch.setattr(ann, "IVF_MAX_LIST_BYTES", 64)
    for posture in ("error", "degrade"):
        with _pytest.raises(ValueError, match="largest inverted list"):
            ann.ivf_topk(emb, candidate_budget=10_000_000, on_budget=posture)
    # r14: an UNGUARDED (no-budget) call is protected too once the corpus
    # could exceed the cap
    with _pytest.raises(ValueError, match="largest inverted list"):
        ann.ivf_topk(emb).count()
    # a corpus whose total bytes fit under the cap skips the check — the
    # gate-SF fast path (and no list can exceed what the whole corpus is)
    monkeypatch.setattr(ann, "IVF_MAX_LIST_BYTES", 1 << 30)
    assert ann.ivf_topk(emb).count() > 0


def test_ivf_probe_filter_commutes(spark):
    """probe_filter must be value-identical to post-filtering the
    unfiltered output (it thins the probe side inside the operator,
    where an output filter cannot push through applyInPandas)."""
    from pyspark.sql import functions as F

    from foresttime_builder_spark.operators.ann import ivf_topk

    vecs = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    full = sorted(
        tuple(r)
        for r in ivf_topk(emb).filter(F.col("probe_id") < 100).collect()
    )
    thinned = sorted(
        tuple(r)
        for r in ivf_topk(emb, probe_filter=lambda v: v < 100).collect()
    )
    assert full == thinned and len(full) > 0


def test_coverage_sample_invariants(spark):
    """kmeans_coverage_sample contract: <= 3 rows per cluster,
    pick_rank dense from 1, representative picks are each cluster's
    distance-minima (diverse: maxima), and the two postures agree on the
    clustering itself."""
    from foresttime_builder_spark.operators.ann import kmeans_coverage_sample

    vecs = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(4)])
        for i in range(150)
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    rep = kmeans_coverage_sample(emb).collect()
    div = kmeans_coverage_sample(emb, order="diverse").collect()
    for out in (rep, div):
        by_cid: dict[int, list] = {}
        for r in out:
            by_cid.setdefault(r["cid"], []).append(r)
        for cid, rows_ in by_cid.items():
            assert sorted(x["pick_rank"] for x in rows_) == list(
                range(1, len(rows_) + 1)
            )
            assert len(rows_) <= 3
    # same quantizer: the set of non-empty clusters matches
    assert {r["cid"] for r in rep} == {r["cid"] for r in div}
    # representative rank-1 distance <= diverse rank-1 distance per cluster
    rep1 = {r["cid"]: r["dist_e6"] for r in rep if r["pick_rank"] == 1}
    div1 = {r["cid"]: r["dist_e6"] for r in div if r["pick_rank"] == 1}
    assert all(rep1[c] <= div1[c] for c in rep1)


def test_coverage_sample_bad_order():
    from foresttime_builder_spark.operators.ann import kmeans_coverage_sample

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bad order"):
        kmeans_coverage_sample(None, order="nope")
