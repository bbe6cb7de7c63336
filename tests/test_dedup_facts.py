"""The pair family's one fact pass (``operators.dedup._corpus_facts``) and
its driver-side projections.

Spark-free tables pin the projections on edge inputs; one Spark test
replays the Spark formulations the projections replaced (kept below as
the reference) and requires identical values, sampled and whole; one
Spark test pins how many jobs an operator's build launches."""

from __future__ import annotations

import json
import random

import pyarrow as pa
import pytest

from foresttime_builder_spark.operators import dedup
from foresttime_builder_spark.operators.dedup import (
    CorpusFacts,
    _lsh_projection,
    _prefix_projection,
)
from tests.test_dedup_guard import _corpus


def _facts(docs, p=1.0):
    """CorpusFacts over ``docs``, one token list (None: NULL text) per
    document, ids 0..n-1."""
    sample = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "toks": pa.array(docs, pa.list_(pa.string())),
        "sz": pa.array([None if d is None else len(d) for d in docs], pa.int32()),
    })
    return CorpusFacts(len(docs), p, None, 0.0, sample)


@pytest.mark.parametrize(
    "docs, threshold, containment, projected",
    [
        # '' splits to one empty token: two empty docs share it; an empty
        # token list ('ab' under trigrams) and a NULL text join nothing
        ([[""], [""], ["a", "b"], [], None], 0.8, False, 1),
        ([[""], [""], ["a", "b"], [], None], 0.8, True, 2),
        # a duplicate-emitting tokenizer: 'x x x x' keeps one x row, both
        # docs pair on it; containment sums df - 1 = 4 per prefix row
        ([["x", "x", "x", "x"], ["x"]], 0.8, False, 1),
        ([["x", "x", "x", "x"], ["x"]], 0.8, True, 8),
        # non-ASCII tie-break: df(～) == df(😀) == 3, and the first doc
        # keeps ～ (U+FF5E) before 😀 (U+1F600) in UTF-8 byte order, as
        # Spark's string order does (UTF-16 order would keep 😀: 3)
        ([["～", "😀"], ["～"], ["😀"], ["😀"], ["～", "e1"]], 0.8, False, 2),
        # t = 1.0: a one-token prefix; rank ties broken by the token
        ([["a", "b", "c"], ["a", "b", "c"]], 1.0, False, 1),
        ([["a", "b", "c"], ["a", "b", "c"]], 1.0, True, 2),
        # 0.55 * 100 is 55.00000000000001: the 1e-9 guard keeps 46 prefix
        # rows per doc (a bare ceil keeps 45), each with df - 1 = 1
        ([[f"t{i}" for i in range(100)]] * 2, 0.55, True, 92),
        ([], 0.8, False, 0),
        ([None, []], 0.8, True, 0),
    ],
)
def test_prefix_projection_table(docs, threshold, containment, projected):
    assert _prefix_projection(_facts(docs), threshold, containment) == projected


def test_prefix_projection_scales_by_inverse_p_squared():
    docs = [["a", "b", "c"], ["a", "b", "c"]]
    assert _prefix_projection(_facts(docs, p=0.5), 1.0) == 4
    assert _prefix_projection(_facts(docs, p=0.3), 1.0, True) == int(2 / 0.09)


@pytest.mark.parametrize(
    "docs, n_hashes, band_size, projected",
    [
        # identical sets collide in every band; duplicates do not change
        # a min, so 'x x' and 'x' are identical too
        ([["a", "b"], ["b", "a"]], 16, 4, 4),
        ([["x", "x"], ["x"], ["x"]], 16, 2, 8 * 3),
        # documents of NULL tokens only have NULL minima: their band keys
        # are equal; an empty list or NULL text has no signature
        ([[None], [None, None], [], None], 16, 4, 4),
        # a NULL token beside a real one is skipped by the min
        ([["é", None], ["é"]], 16, 4, 4),
        ([["a"], ["b"], ["c"]], 16, 4, 0),
        # n_hashes % band_size hashes are left out of every band
        ([["a", "b"], ["a", "b"]], 10, 4, 2),
    ],
)
def test_lsh_projection_table(docs, n_hashes, band_size, projected):
    assert _lsh_projection(_facts(docs), n_hashes, band_size) == projected


# --- the Spark formulations the projections replaced ----------------------

def _ref_sampled(frame, sample_docs, pair_sum):
    """``_sampled_pairs``: a count, then one aggregate over the
    ``sample(p, seed=7)`` rows, scaled by ``1/p^2``."""
    n_docs = frame.count()
    if n_docs == 0:
        return 0
    p = min(1.0, sample_docs / n_docs)
    sample = frame if p == 1.0 else frame.sample(fraction=p, seed=7)
    pairs = pair_sum(sample).collect()[0][0]
    return int(float(pairs or 0.0) / (p * p))


def _ref_key_pairs(frame, key):
    from pyspark.sql import functions as F

    return (
        frame.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2))
    )


def _ref_prefix(docsets, threshold, sample_docs):
    from pyspark.sql import functions as F

    def pair_sum(sample):
        tok = sample.select("doc_id", "sz", F.explode("toks").alias("token"))
        return _ref_key_pairs(
            dedup._rarest_prefix(tok, "token", threshold), "token"
        )

    return _ref_sampled(docsets, sample_docs, pair_sum)


def _ref_containment(docsets, threshold, sample_docs):
    from pyspark.sql import functions as F

    def pair_sum(sample):
        tok = sample.select("doc_id", "sz", F.explode("toks").alias("token"))
        return dedup._rarest_prefix(
            tok, "token", threshold, containment=True
        ).agg(F.sum(F.col("df") - 1))

    return _ref_sampled(docsets, sample_docs, pair_sum)


def _ref_lsh(df, tokenizer, n_hashes, band_size, sample_docs):
    return _ref_sampled(
        df,
        sample_docs,
        lambda sample: _ref_key_pairs(
            dedup._stacked_bands(
                sample, "doc_id", "text", n_hashes, band_size,
                tokenizer=tokenizer,
            ),
            "band_key",
        ),
    )


def _ref_vocab(docsets, cap):
    """``_full_vocab_if_small``: the sorted vocabulary if <= ``cap``."""
    from pyspark.sql import functions as F

    rows = (
        docsets.select(F.explode("toks").alias("token"))
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    return None if len(rows) > cap else sorted(r["token"] for r in rows)


def _corpus_rows(n=4500):
    """Near-duplicate families over a vocabulary with non-ASCII tokens,
    plus an empty text, a NULL text and a repeated-token text."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)] + ["é", "ü", "～", "😀", "ß", "Z"]
    templates = [
        [rng.choice(vocab) for _ in range(rng.randint(3, 12))]
        for _ in range(150)
    ]
    rows = []
    for i in range(n - 3):
        words = list(rng.choice(templates))
        for _ in range(rng.randint(0, 2)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((i, " ".join(words)))
    return rows + [(n - 3, ""), (n - 2, None), (n - 1, "x x x x")]


def test_projections_match_the_spark_formulations(spark):
    """Every fact and projection equals the Spark value it replaced, for
    both tokenizers and a duplicate-emitting one, with the corpus read
    whole (p = 1) and sampled (p < 1)."""
    from pyspark.sql import functions as F

    from foresttime_builder_spark.functions.tokens import words
    from foresttime_builder_spark.operators.dedup import (
        _corpus_facts,
        char_ngrams,
        tokens,
    )

    df = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    df = df.repartition(4, "doc_id").persist()
    try:
        for name, tok in (
            ("tokens", tokens("text")),
            ("repeating", words("text")),
            ("trigrams", char_ngrams("text")),
        ):
            docsets = df.select(
                "doc_id", tok.alias("toks")
            ).withColumn("sz", F.size("toks")).persist()
            avg_ref = docsets.limit(4096).agg(F.avg("sz")).collect()[0][0]
            vocab_ref = _ref_vocab(docsets, dedup._INTARRAYS_VOCAB_CAP)
            # the LSH path reads distinct-wrapped token sets
            lsh_tok = F.array_distinct(tok) if name == "repeating" else tok
            lsh_docsets = df.select(
                "doc_id", lsh_tok.alias("toks")
            ).withColumn("sz", F.size("toks"))
            for sample_docs in (10**6, 1500):
                facts = _corpus_facts(docsets, sample_docs)
                where = (name, sample_docs)
                assert facts.n_docs == 4500, where
                assert (facts.p == 1.0) == (sample_docs > 4500), where
                assert facts.avg_sz == avg_ref, where
                assert facts.vocab == vocab_ref, where
                for t in (0.8, 0.5):
                    assert _prefix_projection(facts, t) == _ref_prefix(
                        docsets, t, sample_docs
                    ), (where, t)
                for t in (0.8, 0.55):
                    assert _prefix_projection(
                        facts, t, containment=True
                    ) == _ref_containment(docsets, t, sample_docs), (where, t)
                lsh_facts = _corpus_facts(lsh_docsets, sample_docs)
                for n_hashes, band_size in ((16, 4), (16, 2)):
                    assert _lsh_projection(
                        lsh_facts, n_hashes, band_size
                    ) == _ref_lsh(
                        df, None if name == "tokens" else tok,
                        n_hashes, band_size, sample_docs,
                    ), (where, n_hashes, band_size)
            docsets.unpersist()
    finally:
        df.unpersist()


# --- build-time jobs ----------------------------------------------------------

def test_builds_run_one_fact_pass(spark, capfd):
    """Building a pair operator's plan on a corpus that fits the sample
    runs one bounded collect per operator call: at most two jobs even for
    q76's shape, whose forced degrade reads the corpus for the banded
    path too.  Each call writes one dedup.decision line."""
    from foresttime_builder_spark.operators.dedup import (
        containment_pairs,
        token_jaccard_pairs,
    )

    small, wide = _corpus(spark, vocab=40), _corpus(spark, vocab=120)
    builds = {
        "auto_bitmask": lambda: token_jaccard_pairs(
            small, "doc_id", "text", threshold=0.5
        ),
        "auto_prefix": lambda: token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5
        ),
        "budgeted_prefix": lambda: token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.5, strategy="prefix",
            candidate_budget=10**7, on_budget="degrade",
        ),
        "forced_degrade": lambda: token_jaccard_pairs(
            wide, "doc_id", "text", threshold=0.8, strategy="prefix",
            candidate_budget=1, on_budget="degrade", degrade_budget=10**12,
        ),
        "containment": lambda: containment_pairs(
            wide, "doc_id", "text", threshold=0.8, candidate_budget=10**7
        ),
    }
    sc = spark.sparkContext
    jobs, choices = {}, {}
    for name, build in builds.items():
        group = f"test_builds_run_one_fact_pass.{name}"
        capfd.readouterr()
        sc.setJobGroup(group, name)
        try:
            out = build()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(list(sc.statusTracker().getJobIdsForGroup(group)))
        lines = [
            json.loads(line) for line in capfd.readouterr().err.splitlines()
            if line.startswith('{"event": "dedup.decision"')
        ]
        choices[name] = [d["choice"] for d in lines]
        del out
    assert all(n <= 2 for n in jobs.values()), jobs
    assert choices == {
        "auto_bitmask": ["bitmask"],
        "auto_prefix": ["blockmask"],
        "budgeted_prefix": ["blockmask"],
        "forced_degrade": ["degrade", "blockmask"],
        "containment": ["prefix"],
    }, choices
