"""Guard rails for the bitmask dedup path (the sf1 sweep found the pinned
strategy silently overflowing once a corpus outgrew 64 distinct tokens)."""

from __future__ import annotations

import pytest

from foresttime_builder_spark.operators.dedup import token_jaccard_pairs


def _corpus(spark, vocab: int):
    # doc i = tokens [i .. i+9] cyclically from a `vocab`-token alphabet:
    # adjacent docs overlap 9/11 of their union -> near-dup pairs exist.
    # One doc per alphabet position so the corpus vocabulary really is
    # `vocab` distinct tokens.
    rows = [
        (i, " ".join(f"t{(i + j) % vocab:03d}" for j in range(10)))
        for i in range(vocab)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pinned_bitmask_raises_on_wide_vocab(spark):
    # the precondition check is plan-time (bounded vocab collect in
    # _token_positions), so the raise happens at call time, before any
    # full-corpus job
    wide = _corpus(spark, vocab=120)
    with pytest.raises(Exception, match="64 distinct tokens"):
        token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5, strategy="bitmask"
        ).collect()


def test_blockmask_matches_string_prefix_path(spark, monkeypatch):
    # vocab 120 > 64: the prefix path takes the multi-word blockmask tier.
    # Force the string-array tier by shrinking the cap and require
    # identical output (the two verifications must agree bit-for-bit).
    import foresttime_builder_spark.operators.dedup as dedup

    wide = _corpus(spark, vocab=120)
    rows = lambda df: sorted(
        (r.doc_a, r.doc_b, r.n_common, r.jaccard) for r in df.collect()
    )
    got_block = rows(
        token_jaccard_pairs(wide, "doc_id", "text", threshold=0.5, strategy="prefix")
    )
    monkeypatch.setattr(dedup, "_BLOCKMASK_VOCAB_CAP", 8)
    got_string = rows(
        token_jaccard_pairs(wide, "doc_id", "text", threshold=0.5, strategy="prefix")
    )
    assert got_block == got_string and got_block


def test_auto_flips_to_prefix_and_matches_bitmask_semantics(spark):
    # small vocab: auto -> bitmask; wide vocab: auto -> prefix.  The two
    # paths must agree where both are valid.
    small = _corpus(spark, vocab=40)
    got_auto = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in token_jaccard_pairs(
            small, "doc_id", "text", threshold=0.5, strategy="auto"
        ).collect()
    }
    got_prefix = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in token_jaccard_pairs(
            small, "doc_id", "text", threshold=0.5, strategy="prefix"
        ).collect()
    }
    assert got_auto == got_prefix and got_auto

    wide = _corpus(spark, vocab=120)
    got_wide = token_jaccard_pairs(
        wide, "doc_id", "text", threshold=0.5, strategy="auto"
    ).count()
    assert got_wide > 0


def test_candidate_budget_error_fires_before_shuffle(spark):
    """A tiny budget must raise BEFORE any full-corpus candidate shuffle,
    with actionable advice in the message."""
    wide = _corpus(spark, vocab=120)
    with pytest.raises(ValueError, match="degrade"):
        token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix",
            candidate_budget=1, on_budget="error",
        )


def test_candidate_budget_degrade_is_verified_subset_of_exact(spark):
    """Degrade mode returns banded-LSH candidates with EXACT verification:
    every returned pair must appear in the exact answer with identical
    n_common/jaccard (recall may drop, precision may not)."""
    wide = _corpus(spark, vocab=120)
    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix"
        ).collect()
    }
    # budget 500: above the banded-LSH stream (384), below the exact
    # prefix projection (1920) — forwarded into the fallback (ADVICE r11)
    degraded = token_jaccard_pairs(
        wide, "doc_id", "text", threshold=0.5, strategy="prefix",
        candidate_budget=500, on_budget="degrade",
    ).collect()
    assert degraded, "banded mode found no pairs on an overlap-dense corpus"
    for r in degraded:
        assert (r.doc_a, r.doc_b) in exact
        assert (r.n_common, r.jaccard) == exact[(r.doc_a, r.doc_b)]


def test_candidate_budget_degrade_with_shingle_tokenizer(spark):
    """Degrade must also work for a CUSTOM tokenizer (char n-grams — the
    q54 regime where the exact path is disk-bound at scale): banded
    shingle-MinHash candidates, exact shingle-Jaccard verification, every
    returned pair present in the exact shingle answer."""
    from foresttime_builder_spark.operators.dedup import char_ngrams

    wide = _corpus(spark, vocab=120)
    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix",
            tokenizer=char_ngrams("text"),
        ).collect()
    }
    # budget 1000 sits between the exact shingle projection (7988) and the
    # banded shingle stream (484): the exact path degrades, the fallback
    # fits.  The budget is forwarded into the fallback (ADVICE r11), so a
    # budget below the banded stream raises the designed feasibility error.
    degraded = token_jaccard_pairs(
        wide, "doc_id", "text", threshold=0.5, strategy="prefix",
        tokenizer=char_ngrams("text"),
        candidate_budget=1000, on_budget="degrade",
    ).collect()
    assert degraded, "shingle banded mode found no pairs"
    for r in degraded:
        assert (r.doc_a, r.doc_b) in exact
        assert (r.n_common, r.jaccard) == exact[(r.doc_a, r.doc_b)]


def test_candidate_budget_not_exceeded_runs_exact(spark):
    """A generous budget must leave the exact path untouched."""
    wide = _corpus(spark, vocab=120)
    base = {
        (r.doc_a, r.doc_b)
        for r in token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix"
        ).collect()
    }
    guarded = {
        (r.doc_a, r.doc_b)
        for r in token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix",
            candidate_budget=10_000_000, on_budget="error",
        ).collect()
    }
    assert guarded == base


def test_lsh_and_containment_budget_guards(spark):
    """The r11 additions: banded LSH and containment pair enumeration are
    OUTPUT-bound on dense-similarity corpora (both OOM'd the unguarded
    sf10 sweep), so both carry a candidate-budget guard that RAISES with
    the projection — and a generous budget must leave results untouched."""
    from foresttime_builder_spark.operators.dedup import (
        containment_pairs,
        minhash_lsh_pairs,
    )

    wide = _corpus(spark, vocab=120)
    with pytest.raises(ValueError, match="candidate_budget"):
        minhash_lsh_pairs(
            wide, "doc_id", "text", threshold=0.5, candidate_budget=1
        )
    with pytest.raises(ValueError, match="candidate_budget"):
        containment_pairs(
            wide, "doc_id", "text", threshold=0.8, candidate_budget=1
        )
    base = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            wide, "doc_id", "text", threshold=0.5
        ).collect()
    }
    guarded = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            wide, "doc_id", "text", threshold=0.5,
            candidate_budget=10_000_000,
        ).collect()
    }
    assert guarded == base
    cbase = {
        (r.contained_id, r.container_id)
        for r in containment_pairs(wide, "doc_id", "text").collect()
    }
    cguard = {
        (r.contained_id, r.container_id)
        for r in containment_pairs(
            wide, "doc_id", "text", candidate_budget=10_000_000
        ).collect()
    }
    assert cguard == cbase and cbase


def test_estimator_order_of_magnitude(spark):
    """The sample-based projection must land within a small factor of the
    true pre-distinct candidate stream on a corpus big enough to sample
    (rate ~0.4), and be exact when the corpus fits the sample."""
    from foresttime_builder_spark.operators.dedup import (
        estimate_candidate_pairs,
        tokens,
    )
    from pyspark.sql import functions as F

    big = _corpus(spark, vocab=50_000)
    docsets = (
        big.select(F.col("doc_id"), tokens("text").alias("toks"))
        .withColumn("sz", F.size("toks"))
        .persist()
    )
    try:
        projected = estimate_candidate_pairs(docsets, 0.5, sample_docs=20_000)
        true = estimate_candidate_pairs(docsets, 0.5, sample_docs=10**9)
        assert true > 0
        assert true / 4 <= projected <= true * 4, (projected, true)
    finally:
        docsets.unpersist()


def test_derive_candidate_budget_scales_and_floors(spark):
    """The production budget helper: positive, floored at 1M, linear in
    n_workers, monotone in safety, and usable directly as the guard."""
    from foresttime_builder_spark.operators.dedup import (
        derive_candidate_budget,
        token_jaccard_pairs,
    )

    b1 = derive_candidate_budget(spark)
    assert b1 >= 1_000_000
    assert derive_candidate_budget(spark, n_workers=4) >= 4 * (
        derive_candidate_budget(spark, n_workers=1) // 4
    )
    assert derive_candidate_budget(spark, safety=0.5) >= b1
    # tiny budget forces the guard to fire; the derived one lets a tiny
    # corpus through the exact path
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} shared") for i in range(40)],
        "doc_id long, text string",
    )
    out = token_jaccard_pairs(
        df, "doc_id", "text", strategy="prefix", candidate_budget=b1
    )
    out.collect()  # guard does not fire at this scale


def test_lsh_representatives_cluster_semantics(spark):
    """lsh_representatives: one row per non-NULL-id doc; near-identical
    docs share a rep (component minimum); dissimilar and NULL-text docs
    stay singletons; cluster_size counts members exactly."""
    from foresttime_builder_spark.operators.dedup import lsh_representatives

    rows = [
        # a 3-doc near-dup cluster (9/11, 10/10 overlaps at t=0.5)
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i k"),
        (3, "a b c d e f g h i j"),
        # unrelated singleton
        (4, "p q r s t u v w x y"),
        # NULL text -> no signature -> singleton
        (5, None),
        # NULL id -> excluded by the id-keyed contract
        (None, "a b c d e f g h i j"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lsh_representatives(df, "doc_id", "text", threshold=0.5).collect()
    got = {r.doc_id: (r.rep_id, r.cluster_size) for r in out}
    assert len(out) == 5 and set(got) == {1, 2, 3, 4, 5}
    assert got[1] == (1, 3) and got[2] == (1, 3) and got[3] == (1, 3)
    assert got[4] == (4, 1) and got[5] == (5, 1)
    assert len({r.rep_id for r in out}) == 3


def test_lsh_pairs_on_budget_representatives_routes(spark):
    """minhash_lsh_pairs(on_budget='representatives') returns the linear
    cluster-assignment artifact when the projection exceeds budget, and
    the normal pair list when it does not."""
    from foresttime_builder_spark.operators.dedup import minhash_lsh_pairs

    wide = _corpus(spark, vocab=120)
    reps = minhash_lsh_pairs(
        wide, "doc_id", "text", threshold=0.5,
        candidate_budget=1, on_budget="representatives",
    )
    assert set(reps.columns) == {"doc_id", "rep_id", "cluster_size"}
    assert reps.count() == 120  # one row per doc
    pairs = minhash_lsh_pairs(
        wide, "doc_id", "text", threshold=0.5,
        candidate_budget=10_000_000, on_budget="representatives",
    )
    assert set(pairs.columns) == {"doc_a", "doc_b", "n_common", "jaccard"}
    with pytest.raises(ValueError, match="bad on_budget"):
        minhash_lsh_pairs(wide, "doc_id", "text", on_budget="nope")


def test_lsh_representatives_edges_exactly_verified(spark):
    """Every merge must flow through a >= threshold edge: a doc that
    shares a band bucket with a hub but is below-threshold similar to it
    must NOT merge (the no-false-merges half of the contract)."""
    from foresttime_builder_spark.operators.dedup import lsh_representatives

    # docs 1/2 identical (collide in every band, jaccard 1.0); doc 3
    # disjoint vocabulary: even if a hash fluke ever bucketed it with the
    # others, jaccard 0 < 0.5 keeps it out.
    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),
        (3, "v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.rep_id, r.cluster_size)
        for r in lsh_representatives(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got[1] == (1, 2) and got[2] == (1, 2) and got[3] == (3, 1)


def test_banded_cut_lossless_with_duplicate_emitting_tokenizer(spark):
    """r14 review counterexample: with a custom tokenizer that emits
    duplicates, the in-join All-Pairs cut must use DISTINCT sizes or it
    prunes pairs the verifier keeps ('x x x x' vs 'x': bitmask jaccard
    1.0, multiset sizes 4 vs 1 fail the 0.5 ratio).  MinHash is
    duplicate-invariant, so the signature stage distinct-wraps custom
    tokenizers and the pair must survive.  The exact operator shares that
    verification input, so every token_jaccard_pairs strategy must find
    the same pair."""
    from foresttime_builder_spark.functions.tokens import words
    from foresttime_builder_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "x x x x"), (2, "x")], "doc_id int, text string"
    )
    tokenizer = words("text")
    runs = {
        "lsh": minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.5, tokenizer=tokenizer
        )
    }
    for strategy in ("auto", "bitmask", "prefix"):
        runs[strategy] = token_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, strategy=strategy,
            tokenizer=tokenizer,
        )
    for name, out in runs.items():
        got = [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out.collect()]
        assert got == [(1, 2, 1.0)], name


def test_lsh_verify_blockmask_matches_arrays_and_auto(spark):
    # r15: the banded path's verification gained the multi-word blockmask
    # tier (vocab 64..4096); r16 added the int-array (position-mapped)
    # tier for the wide-vocabulary regime.  All four representations must
    # agree bit-for-bit on a 120-token corpus (above the 64-bit mask,
    # inside the shared vocab cap) — and 'auto' must pick a mask/int tier
    # there.  An empty-text and a NULL-text doc ride along: zero-token docs
    # are an edge every tier must treat alike.
    from foresttime_builder_spark.operators.dedup import minhash_lsh_pairs

    wide = _corpus(spark, vocab=120).unionByName(
        spark.createDataFrame([(1000, ""), (1001, None)], "doc_id long, text string")
    )
    rows = lambda df: sorted(  # noqa: E731
        (r.doc_a, r.doc_b, r.n_common, r.jaccard) for r in df.collect()
    )
    got = {
        mode: rows(
            minhash_lsh_pairs(
                wide, "doc_id", "text",
                n_hashes=16, band_size=2, threshold=0.5, verify=mode,
            )
        )
        for mode in ("arrays", "blockmask", "intarrays", "auto")
    }
    assert (
        got["arrays"] == got["blockmask"] == got["intarrays"] == got["auto"]
    )
    assert got["arrays"]  # non-vacuous: adjacent docs do collide


def test_lsh_verify_blockmask_raises_past_cap(spark, monkeypatch):
    import foresttime_builder_spark.operators.dedup as dedup
    from foresttime_builder_spark.operators.dedup import minhash_lsh_pairs

    monkeypatch.setattr(dedup, "_BLOCKMASK_VOCAB_CAP", 8)
    monkeypatch.setattr(dedup, "_INTARRAYS_VOCAB_CAP", 8)
    wide = _corpus(spark, vocab=120)
    for tier in ("blockmask", "intarrays"):
        with pytest.raises(Exception, match="requires vocabulary <= 8"):
            minhash_lsh_pairs(
                wide, "doc_id", "text", threshold=0.5, verify=tier
            ).collect()


def test_prefix_slack_keeps_rounding_boundary_pair(spark):
    # r15 review catch (pre-existing since the r13 prefix join): the final
    # filter admits raw jaccard down to t - 5e-5 (4-dp HALF_UP), but the
    # prefix length used the UNSLACKED t.  Constructed counterexample at
    # t=0.5: |A|=20000, B subset of A with |B|=9999 -> raw j = 9999/20000
    # = 0.49995, rounds to 0.5 -> admitted by verification.  The 9999
    # shared tokens have df=2 (rank last in A, after its 10001 df=1
    # uniques), so A's unslacked prefix (10001 tokens) contained NO shared
    # token and the pair was silently lost; the slacked prefix includes 2
    # shared tokens and finds it.
    shared = [f"s{i:05d}" for i in range(9999)]
    uniq = [f"u{i:05d}" for i in range(10001)]
    rows = [(0, " ".join(uniq + shared)), (1, " ".join(shared))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = token_jaccard_pairs(
        df, "doc_id", "text", threshold=0.5, strategy="prefix"
    ).collect()
    assert [(r.doc_a, r.doc_b, r.n_common, r.jaccard) for r in got] == [
        (0, 1, 9999, 0.5)
    ]


@pytest.mark.parametrize(
    "vocab_n, avg_sz, projected, n_docs, dense, tier",
    [
        (None, None, None, None, True, "arrays"),  # past the probe cap
        (0, None, None, None, True, "bitmask"),
        (64, None, None, None, True, "bitmask"),
        (64, None, None, None, False, "bitmask"),
        (65, 31.0, None, None, False, "arrays"),  # sparse stream
        (320, 31.0, None, None, True, "blockmask"),  # 5 words <= 31 tokens
        (4096, 64.0, None, None, True, "blockmask"),  # cap, 64 words
        (4096, 63.0, None, None, True, "arrays"),  # mask wider than set
        (4097, 100.0, None, None, True, "arrays"),  # no projection
        # 2x amortization gate: token relation 1000 docs x 10 tokens
        (5246, 10.0, 20_000, 1000, True, "intarrays"),
        (5246, 10.0, 19_999, 1000, True, "arrays"),
        (5246, 0.0, 20_000, 1000, True, "arrays"),  # empty sample
        (65536, 10.0, 10**9, 1000, True, "intarrays"),
        (65537, 10.0, 10**9, 1000, True, "arrays"),  # past the int cap
        (5246, 10.0, 10**9, 1000, False, "arrays"),
    ],
)
def test_verify_tier_ladder(vocab_n, avg_sz, projected, n_docs, dense, tier):
    """The verify='auto' policy is a pure function of the corpus facts."""
    from foresttime_builder_spark.operators.dedup import choose

    op = "minhash_lsh_pairs" if dense else "lsh_representatives"
    facts = {"vocab_n": vocab_n, "avg_sz": avg_sz, "n_docs": n_docs}
    if projected is not None:
        facts["projected"] = projected
    assert choose(op, facts).choice == tier


@pytest.mark.parametrize(
    "op, facts, pins, choice",
    [
        # token_jaccard_pairs: auto picks bitmask by vocabulary alone, and
        # bitmask is never budget-guarded
        ("token_jaccard_pairs", {"vocab_n": 31, "projected": 10**9},
         {"budget": 1}, "bitmask"),
        ("token_jaccard_pairs", {"vocab_n": 64}, {}, "bitmask"),
        ("token_jaccard_pairs", {"vocab_n": 65}, {}, "blockmask"),
        ("token_jaccard_pairs", {"vocab_n": None}, {}, "arrays"),
        ("token_jaccard_pairs", {"vocab_n": 4097}, {}, "arrays"),
        # an empty vocabulary has nothing to number
        ("token_jaccard_pairs", {"vocab_n": 0}, {"pin": "prefix"}, "arrays"),
        ("token_jaccard_pairs", {"vocab_n": 31}, {"pin": "prefix"}, "blockmask"),
        ("token_jaccard_pairs", {"vocab_n": 120}, {"pin": "bitmask"}, "bitmask"),
        # the budget: strictly greater degrades or raises
        ("token_jaccard_pairs", {"vocab_n": 380, "projected": 2},
         {"pin": "prefix", "budget": 1, "on_budget": "degrade"}, "degrade"),
        ("token_jaccard_pairs", {"vocab_n": 380, "projected": 1},
         {"pin": "prefix", "budget": 1, "on_budget": "degrade"}, "blockmask"),
        ("token_jaccard_pairs", {"vocab_n": 120, "projected": 1920},
         {"pin": "prefix", "budget": 500}, "error"),
        ("token_jaccard_pairs", {"vocab_n": 5000, "projected": 0},
         {"budget": 0}, "arrays"),
        ("minhash_lsh_pairs", {"vocab_n": 31, "projected": 385},
         {"budget": 384, "on_budget": "representatives"}, "representatives"),
        ("minhash_lsh_pairs", {"vocab_n": 31, "projected": 385},
         {"budget": 384}, "error"),
        ("minhash_lsh_pairs", {"vocab_n": 31, "projected": 384},
         {"budget": 384}, "bitmask"),
        ("minhash_lsh_pairs", {"vocab_n": 31}, {"pin": "arrays"}, "arrays"),
        ("minhash_lsh_pairs", {}, {"pin": "arrays"}, "arrays"),
        ("lsh_representatives", {"vocab_n": 4000, "avg_sz": 100.0},
         {"pin": "blockmask"}, "blockmask"),
        ("containment_pairs", {"projected": 11}, {"budget": 10}, "error"),
        ("containment_pairs", {"projected": 10}, {"budget": 10}, "prefix"),
        ("containment_pairs", {}, {}, "prefix"),
    ],
)
def test_choose_table(op, facts, pins, choice):
    """Strategy, degrade and tier are one pure function of the facts and
    the caller's pins; the Decision carries its facts and the budget."""
    from foresttime_builder_spark.operators.dedup import choose

    d = choose(op, facts, **pins)
    assert d.choice == choice
    assert d.reasons and all(isinstance(r, str) for r in d.reasons)
    budget = pins.get("budget")
    assert d.facts == (facts if budget is None else {**facts, "budget": budget})
