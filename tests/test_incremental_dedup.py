"""Incremental batch-vs-history dedup contract: all four verdicts,
priority order, match-id determinism, and validation."""

from __future__ import annotations

import pytest

from foresttime_builder_spark.operators.dedup import incremental_dedup

HISTORY = [
    (1, "alpha beta gamma delta epsilon"),
    (2, "one two three four five six"),
    (3, "unrelated corpus noise words here"),
]
BATCH = [
    (10, "alpha beta gamma delta epsilon"),  # exact copy of hist 1
    (11, "same same inside batch"),
    (12, "same same inside batch"),          # exact copy of 11 -> keeper 11
    (13, "one two three four five seven"),   # jaccard 5/7 vs hist 2
    (14, "totally novel content never seen"),
]


@pytest.fixture(scope="module")
def verdicts(spark):
    h = spark.createDataFrame(HISTORY, ["doc_id", "text"])
    b = spark.createDataFrame(BATCH, ["doc_id", "text"])
    rows = incremental_dedup(h, b, "doc_id", "text", threshold=0.5).collect()
    return {r["doc_id"]: (r["verdict"], r["match_id"]) for r in rows}


def test_all_batch_rows_judged(verdicts):
    assert set(verdicts) == {10, 11, 12, 13, 14}


def test_exact_hist(verdicts):
    assert verdicts[10] == ("exact_hist", 1)


def test_exact_batch_keeper_and_loser(verdicts):
    assert verdicts[11][0] == "kept"          # the keeper survives
    assert verdicts[12] == ("exact_batch", 11)


def test_near_hist_verified(verdicts):
    assert verdicts[13] == ("near_hist", 2)


def test_kept(verdicts):
    assert verdicts[14] == ("kept", None)


def test_exact_hist_outranks_near(spark):
    # a batch doc that is BOTH an exact copy of hist 1 and near hist 1
    # via bands must report exact_hist (priority), not near_hist
    h = spark.createDataFrame(HISTORY, ["doc_id", "text"])
    b = spark.createDataFrame(
        [(20, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    (r,) = incremental_dedup(h, b, "doc_id", "text").collect()
    assert (r["verdict"], r["match_id"]) == ("exact_hist", 1)


def test_validation():
    with pytest.raises(ValueError, match="threshold"):
        incremental_dedup(None, None, "i", "t", threshold=0.0)
    with pytest.raises(ValueError, match="band_size"):
        incremental_dedup(None, None, "i", "t", n_hashes=16, band_size=5)


def test_null_text_rows_are_judged_not_dropped(spark):
    # review regression: NULL text must not vanish from the output
    h = spark.createDataFrame(
        [(1, None), (2, "some history doc")], "doc_id int, text string"
    )
    b = spark.createDataFrame(
        [(10, None), (11, "fresh content")], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: (r["verdict"], r["match_id"])
        for r in incremental_dedup(h, b, "doc_id", "text").collect()
    }
    assert out[10] == ("exact_hist", 1)  # NULL matches NULL history
    assert out[11] == ("kept", None)


def test_containment_asymmetric_detection(spark):
    """A short doc fully inside a long one: containment fires A->B at
    1.0 even though Jaccard is far below the bar; B->A does not fire."""
    from foresttime_builder_spark.operators.dedup import containment_pairs

    docs = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "unrelated words entirely different content"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert out.get((1, 2)) == 1.0
    assert (2, 1) not in out     # only 3/10 of B is in A
    assert all(3 not in k for k in out)


def test_containment_validation():
    """Every pair operator rejects a threshold outside (0, 1] before it
    touches its input: at t <= 0 "all pairs with J >= t" includes pairs
    sharing no token or band, which no candidate source can enumerate."""
    from foresttime_builder_spark.operators.dedup import (
        containment_pairs,
        lsh_representatives,
        minhash_lsh_pairs,
        token_jaccard_pairs,
    )

    for op in (
        containment_pairs,
        token_jaccard_pairs,
        minhash_lsh_pairs,
        lsh_representatives,
    ):
        for t in (0.0, -0.5, 1.5):
            with pytest.raises(ValueError, match="threshold"):
                op(None, "i", "t", threshold=t)


def test_containment_exact_threshold_survives_float_prefix(spark):
    """0.55 * 100 is 55.00000000000001 in floating point: a bare ceil
    would cut doc 0's containment prefix to its 45 unique (df=1) tokens,
    so the pair at exactly C = 0.55 would never become a candidate."""
    from foresttime_builder_spark.operators.dedup import containment_pairs

    shared = [f"s{i:02d}" for i in range(55)]
    uniq = [f"u{i:02d}" for i in range(45)]
    df = spark.createDataFrame(
        [(0, " ".join(uniq + shared)), (1, " ".join(shared))],
        "doc_id long, text string",
    )
    got = sorted(
        tuple(r)
        for r in containment_pairs(df, "doc_id", "text", threshold=0.55).collect()
    )
    assert got == [(0, 1, 55, 0.55), (1, 0, 55, 1.0)]
