"""Unit tests for sequence packing, quota sampling, and decontamination
(training-pipeline operator family, q56-q58)."""

from __future__ import annotations

from pyspark.sql import functions as F

from foresttime_builder_spark.functions.tokens import words
from foresttime_builder_spark.operators.decontaminate import (
    contamination,
    token_ngrams_from_tokens,
)
from foresttime_builder_spark.operators.packing import pack_sequences
from foresttime_builder_spark.operators.sampling import quota_sample


def test_pack_sequences_greedy_semantics(spark):
    # one stream (single group, n_shards=1): lengths 100,100,100 at C=250
    # -> bins [1,1,2]; an oversized 300 opens its own bin; following 10
    # starts fresh after the overflowed bin.
    rows = [(1, 100), (2, 100), (3, 100), (4, 300), (5, 10), (6, 240), (7, 11)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "n", capacity=250, n_shards=1)
    got = {r.doc_id: r.bin_id for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 4, 7: 5}


def test_pack_sequences_streams_independent(spark):
    # items land in doc_id%2 shards; each shard packs independently and
    # every shard's bin ids restart at 1
    rows = [(i, 200) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "n", capacity=450, n_shards=2).collect()
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append((r.doc_id, r.bin_id))
    # 4 items of 200 per shard at C=450 -> two bins of two
    for items in by_shard.values():
        assert [b for _, b in items] == [1, 1, 2, 2]


def test_quota_sample_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)], "doc_id long, source string"
    )
    quotas = spark.createDataFrame([("a", 3), ("b", 5)], "source string, quota long")
    out1 = sorted(r.doc_id for r in quota_sample(df, quotas).collect())
    out2 = sorted(r.doc_id for r in quota_sample(df, quotas).collect())
    assert out1 == out2 and len(out1) == 8
    # sample is hash-ranked: repartitioning must not change it
    out3 = sorted(
        r.doc_id for r in quota_sample(df.repartition(7), quotas).collect()
    )
    assert out3 == out1


def test_quota_sample_prefilter_is_lossless(spark):
    """The hash-threshold prefilter must return the exact unfiltered
    sample at every safety factor — including safety < 1, where the cut
    is guaranteed to undershoot and the in-plan guard must re-rank."""
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string"
    )
    quotas = spark.createDataFrame(
        [("s0", 7), ("s1", 1), ("s2", 150)], "source string, quota long"
    )
    want = sorted(
        (r.source, r.doc_id, r.sample_rank)
        for r in quota_sample(df, quotas).collect()
    )
    for safety in (4.0, 2.0, 0.25):
        got = sorted(
            (r.source, r.doc_id, r.sample_rank)
            for r in quota_sample(df, quotas, prefilter_safety=safety).collect()
        )
        assert got == want, f"prefilter changed the sample at safety={safety}"


def test_upsample_to_quota_exact_counts_and_epochs(spark):
    from foresttime_builder_spark.operators.sampling import upsample_to_quota

    df = spark.createDataFrame(
        [(i, "small" if i < 3 else "big") for i in range(13)],
        "doc_id long, source string",
    )
    # small: 3 docs, quota 8 -> 2 full epochs + 2 remainder docs thrice
    # big: 10 docs, quota 4 -> plain downsample, all epoch 1
    quotas = spark.createDataFrame(
        [("small", 8), ("big", 4)], "source string, quota long"
    )
    rows = upsample_to_quota(df, quotas).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src["small"]) == 8 and len(by_src["big"]) == 4
    small_epochs = sorted(
        (r.sample_rank, r.epoch) for r in by_src["small"]
    )
    # ranks 1,2 appear in epochs 1..3; rank 3 in epochs 1..2
    assert small_epochs == [
        (1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (2, 3), (3, 1), (3, 2),
    ]
    assert all(r.epoch == 1 for r in by_src["big"])
    # downsample branch must equal quota_sample's draw exactly
    qs = sorted(
        r.doc_id for r in quota_sample(df, quotas).collect() if r.source == "big"
    )
    assert sorted(r.doc_id for r in by_src["big"]) == qs


def test_quota_sample_prefilter_validates(spark):
    import pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    quotas = spark.createDataFrame([("a", 1)], "source string, quota long")
    with pytest.raises(ValueError, match="positive"):
        quota_sample(df, quotas, prefilter_safety=0.0)


def test_token_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b c",), ("a b c d e f",)], "text string")
    out = df.select(
        F.size(token_ngrams_from_tokens(words("text"), 5)).alias("n")
    ).collect()
    assert [r.n for r in out] == [0, 2]


def test_contamination_counts(spark):
    train = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),  # shares grams with eval doc 10
            (2, "x1 x2 x3 x4 x5"),  # clean
        ],
        "doc_id long, text string",
    )
    eval_ = spark.createDataFrame(
        [(10, "w1 w2 w3 w4 w5 zz"), (11, "w2 w3 w4 w5 w6")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_collided_grams, r.n_eval_docs) for r in
           contamination(train, eval_, n=5).collect()}
    # doc 1's grams: [w1..w5], [w2..w6]; first hits eval 10, second hits eval 11
    assert got == {1: (2, 2)}


def test_pack_sequences_properties(spark):
    # hypothesis-style invariants over a deterministic pseudo-random stream:
    # (1) no bin exceeds capacity unless it holds a single oversized item;
    # (2) bin ids are contiguous from 1 per stream; (3) id order maps to
    # non-decreasing bin ids (first-fit-sequential never back-fills).
    import random

    rng = random.Random(7)
    rows = [(i, rng.choice([10, 60, 120, 251, 300])) for i in range(200)]
    cap = 250
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = sorted(
        ((r.shard, r.doc_id, r.n_tokens, r.bin_id) for r in
         pack_sequences(df, "n", capacity=cap, n_shards=3).collect())
    )
    assert len(out) == 200
    by_stream: dict[int, list[tuple[int, int, int]]] = {}
    for shard, doc, n, b in out:
        by_stream.setdefault(shard, []).append((doc, n, b))
    for items in by_stream.values():
        bins: dict[int, list[int]] = {}
        last_bin = 0
        for doc, n, b in items:  # already doc_id-ordered
            assert b >= last_bin  # (3)
            last_bin = b
            bins.setdefault(b, []).append(n)
        assert sorted(bins) == list(range(1, max(bins) + 1))  # (2)
        for sizes in bins.values():
            assert sum(sizes) <= cap or len(sizes) == 1  # (1)


def test_repetition_quality_flags_repetitive_doc(spark):
    from foresttime_builder_spark.operators.text import repetition_quality

    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham spam ham"),  # one 2-gram dominates
            # clean doc long enough that a single 3-gram covers < 18% of
            # tokens (short docs legitimately fail the Gopher bars: any
            # 3-gram of a 10-token doc covers 30%)
            (2, " ".join(f"w{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_quality(docs, "doc_id", "text").collect()}
    assert not got[1].keep and got[2].keep
    assert got[2].dup_token_frac_e4 == 0
    assert got[1].top2gram_frac_e4 > 2000


def test_length_bucket_batches_invariants(spark):
    """The HARD-CAP contract: within every (bucket, batch) the PADDED cost
    (members x bucket padding ceiling) fits the budget whenever the
    ceiling itself does — hence the raw token sum does too; a document in
    a bucket whose ceiling exceeds the budget (in particular any
    over-budget document) lands alone; buckets really are power-of-two
    length bands; batch ids are dense from 1 in doc_id order."""
    import math
    from collections import defaultdict

    from foresttime_builder_spark.operators.packing import length_bucket_batches

    rows = [(i, 1 + (i * 37) % 5000) for i in range(400)] + [
        (1000, 9000),  # over-budget singleton
        (1001, 1),
        # the advisor's counterexamples for the old running-sum cut:
        (2000, 1100), (2001, 1100), (2002, 1100),  # bucket 10, cap 2047
    ]
    df = spark.createDataFrame(rows, "doc_id long, len long")
    budget = 2048
    out = length_bucket_batches(df, "len", token_budget=budget).collect()

    for r in out:
        assert r.bucket == int(math.floor(math.log2(r.n_tokens)))

    batches = defaultdict(list)
    for r in out:
        batches[(r.bucket, r.batch_in_bucket)].append(r)
    for (bucket, _bid), members in batches.items():
        cap_len = (1 << (bucket + 1)) - 1
        if cap_len <= budget:
            # hard cap on the padded cost -> hard cap on the raw sum
            assert len(members) * cap_len <= budget
            assert sum(m.n_tokens for m in members) <= budget
        else:
            # ceiling exceeds the budget: capacity clamps to 1
            assert len(members) == 1

    # over-budget doc is alone
    assert len(batches[(13, out_batch := next(
        r.batch_in_bucket for r in out if r.doc_id == 1000
    ))]) == 1

    # batch ids are DENSE from 1 within each bucket, in doc_id order
    per_bucket = defaultdict(list)
    for r in sorted(out, key=lambda r: (r.bucket, r.doc_id)):
        per_bucket[r.bucket].append(r)
    for bucket, rs in per_bucket.items():
        ids = [r.batch_in_bucket for r in rs]
        assert ids[0] == 1 and all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
        cap_len = (1 << (bucket + 1)) - 1
        capacity = max(1, budget // cap_len)
        for i, r in enumerate(rs):
            assert r.batch_in_bucket == i // capacity + 1
