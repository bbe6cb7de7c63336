"""The pair family's local venue (``operators.dedup``): when the fact pass
holds a whole corpus whose projected candidate stream fits
``_LOCAL_PAIRS_CAP``, numpy pairs it on the driver and Spark only
thresholds the rows.

Spark-free tables pin where :func:`choose` sends a tier; one Spark test
runs every tier on both venues over edge corpora and requires identical
rows and schema."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from foresttime_builder_spark.operators import dedup
from foresttime_builder_spark.operators.dedup import CorpusFacts, choose

#: the facts of a whole corpus the local venue may pair
WHOLE = {
    "n_docs": 10, "sample_p": 1.0, "vocab_n": 31, "avg_sz": 5.0,
    "projected": 100, "ids_unique": True, "null_tokens": False,
}


@pytest.mark.parametrize(
    "op, pins, choice",
    [
        ("token_jaccard_pairs", {}, "bitmask"),
        ("token_jaccard_pairs", {"pin": "prefix"}, "blockmask"),
        ("token_jaccard_pairs", {"pin": "prefix", "budget": 100,
                                 "on_budget": "degrade"}, "blockmask"),
        ("minhash_lsh_pairs", {}, "bitmask"),
        ("minhash_lsh_pairs", {"pin": "arrays"}, "arrays"),
        ("minhash_lsh_pairs", {"budget": 100}, "bitmask"),
    ],
)
def test_whole_corpus_under_the_cap_is_local(op, pins, choice):
    """The tier name stays the choice; the venue says where it runs."""
    d = choose(op, WHOLE, **pins)
    assert (d.choice, d.venue) == (choice, "local")
    assert d.reasons[-1].startswith("venue local")


@pytest.mark.parametrize(
    "change, reason",
    [
        ({"sample_p": 0.5}, "sample_p 0.5 < 1"),
        ({"ids_unique": False}, "doc ids not unique"),
        ({"null_tokens": True}, "NULL token"),
        ({"projected": dedup._LOCAL_PAIRS_CAP + 1}, "> local cap"),
        ({"projected": None}, "> local cap"),
    ],
)
@pytest.mark.parametrize("op", ["token_jaccard_pairs", "minhash_lsh_pairs"])
def test_not_local(op, change, reason):
    facts = {k: v for k, v in {**WHOLE, **change}.items() if v is not None}
    d = choose(op, facts)
    assert d.venue == "spark"
    assert d.reasons[-1].startswith("venue spark") and reason in d.reasons[-1]


def test_a_fact_pass_of_another_operator_is_not_local():
    for op in ("lsh_representatives", "containment_pairs"):
        assert choose(op, WHOLE).venue == "spark"


@pytest.mark.parametrize(
    "op, pins, choice",
    [
        ("token_jaccard_pairs", {"pin": "prefix", "budget": 99}, "error"),
        ("token_jaccard_pairs", {"pin": "prefix", "budget": 99,
                                 "on_budget": "degrade"}, "degrade"),
        ("minhash_lsh_pairs", {"budget": 99}, "error"),
        ("minhash_lsh_pairs", {"budget": 99,
                               "on_budget": "representatives"},
         "representatives"),
    ],
)
def test_budget_error_and_degrade_win_over_the_local_venue(op, pins, choice):
    d = choose(op, WHOLE, **pins)
    assert (d.choice, d.venue) == (choice, "spark")


def test_the_cap_is_read_at_call_time(monkeypatch):
    monkeypatch.setattr(dedup, "_LOCAL_PAIRS_CAP", 99)
    assert choose("minhash_lsh_pairs", WHOLE).venue == "spark"
    monkeypatch.setattr(dedup, "_LOCAL_PAIRS_CAP", 100)
    assert choose("minhash_lsh_pairs", WHOLE).venue == "local"


@pytest.mark.parametrize(
    "ids, toks, ids_unique, null_tokens",
    [
        ([1, 2], [["a"], ["a"]], True, False),
        ([1, 1], [["a"], ["a"]], False, False),
        ([1, None], [["a"], ["a"]], False, False),
        ([1, 2], [["a"], None], True, True),
        ([1, 2], [["a"], ["a", None]], True, True),
        (["b", "a"], [[], [""]], True, False),
    ],
)
def test_decide_reads_the_whole_corpus_facts(
    capsys, ids, toks, ids_unique, null_tokens
):
    """``_decide`` derives the venue facts from the fact pass's rows and
    writes the venue into the decision line."""
    sample = pa.table({
        "doc_id": pa.array(ids),
        "toks": pa.array(toks, pa.list_(pa.string())),
        "sz": pa.array([None if t is None else len(t) for t in toks], pa.int32()),
    })
    facts = CorpusFacts(len(ids), 1.0, ["", "a"], 1.0, sample)
    d = dedup._decide("minhash_lsh_pairs", facts, 1, pin="arrays")
    assert d.facts["ids_unique"] is ids_unique
    assert d.facts["null_tokens"] is null_tokens
    assert d.venue == ("local" if ids_unique and not null_tokens else "spark")
    line = json.loads(capsys.readouterr().err.splitlines()[-1])
    assert (line["choice"], line["venue"]) == ("arrays", d.venue)
    # a sampled corpus is never local and its rows are not scanned
    d = dedup._decide("minhash_lsh_pairs", facts._replace(p=0.5), 1)
    assert d.venue == "spark" and "ids_unique" not in d.facts


# --- both venues, every tier --------------------------------------------------


def _edge_corpus(spark, vocab: int):
    """``vocab`` distinct tokens in all: ``vocab - 1`` words in cyclic
    windows of 10, the empty text (its one token is ``''``), single-token
    documents, and identical documents."""
    words = [f"t{i:03d}" for i in range(vocab - 1)]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(10)))
        for i in range(len(words))
    ]
    rows += [
        (900, ""), (901, ""),
        (902, "t001"), (903, "t001"), (904, "t002"),
        (905, rows[0][1]), (906, rows[0][1]),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _runs(df, threshold, vocab):
    """Every tier of both operators on ``df``."""
    runs = {
        f"tjp.{s}": lambda s=s: dedup.token_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold, strategy=s
        )
        for s in ("auto", "prefix") + (("bitmask",) if vocab <= 64 else ())
    }
    runs["tjp.prefix_arrays"] = lambda: _with_cap(
        "_BLOCKMASK_VOCAB_CAP", 8, lambda: dedup.token_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold, strategy="prefix"
        )
    )
    for v in ("auto", "arrays", "blockmask", "intarrays") + (
        ("bitmask",) if vocab <= 64 else ()
    ):
        runs[f"lsh.{v}"] = lambda v=v: dedup.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=threshold, verify=v
        )
    return runs


def _with_cap(name, value, build):
    old = getattr(dedup, name)
    setattr(dedup, name, value)
    try:
        return build()
    finally:
        setattr(dedup, name, old)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("vocab", [64, 65])
@pytest.mark.parametrize("threshold", [1.0, 0.05])
def test_every_tier_agrees_on_both_venues(spark, capfd, threshold, vocab):
    df = _edge_corpus(spark, vocab)
    for name, build in _runs(df, threshold, vocab).items():
        out = {}
        # -1 holds even 0 candidates on Spark; a dense cap of 0 makes the
        # local venue binary-search its (document, token) codes
        for venue, cap, dense in (
            ("spark", -1, dedup._DENSE_CELLS),
            ("local", dedup._LOCAL_PAIRS_CAP, dedup._DENSE_CELLS),
            ("local_sorted", dedup._LOCAL_PAIRS_CAP, 0),
        ):
            capfd.readouterr()
            got = _with_cap("_DENSE_CELLS", dense, lambda: _with_cap(
                "_LOCAL_PAIRS_CAP", cap, build
            ))
            ran = [
                json.loads(line)["venue"]
                for line in capfd.readouterr().err.splitlines()
                if line.startswith('{"event": "dedup.decision"')
            ]
            assert ran[-1] == venue.split("_")[0], (name, venue)
            out[venue] = (got.dtypes, _rows(got))
        assert out["spark"] == out["local"] == out["local_sorted"], (
            name, threshold, vocab
        )
        assert out["spark"][1], name  # identical docs always pair


def test_corpora_without_pairs_on_both_venues(spark):
    """An empty corpus, and one whose documents have no trigram at all,
    yield no candidate on either venue."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    short = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, "")], "doc_id long, text string"
    )
    for df, tok in ((empty, None), (short, dedup.char_ngrams("text"))):
        for cap in (-1, dedup._LOCAL_PAIRS_CAP):
            for build in (
                lambda: dedup.token_jaccard_pairs(
                    df, "doc_id", "text", threshold=0.5, strategy="prefix",
                    tokenizer=tok,
                ),
                lambda: dedup.minhash_lsh_pairs(
                    df, "doc_id", "text", threshold=0.5, tokenizer=tok
                ),
            ):
                got = _with_cap("_LOCAL_PAIRS_CAP", cap, build)
                assert got.collect() == [], cap
                assert got.columns == ["doc_a", "doc_b", "n_common", "jaccard"]


def test_a_pinned_tier_past_its_cap_raises_on_both_venues(spark):
    df = _edge_corpus(spark, 65)
    for cap in (-1, dedup._LOCAL_PAIRS_CAP):
        with pytest.raises(ValueError, match="64 distinct tokens"):
            _with_cap("_LOCAL_PAIRS_CAP", cap, lambda: dedup.token_jaccard_pairs(
                df, "doc_id", "text", threshold=0.5, strategy="bitmask"
            ).collect())
        with pytest.raises(ValueError, match="64 distinct tokens"):
            _with_cap("_LOCAL_PAIRS_CAP", cap, lambda: dedup.minhash_lsh_pairs(
                df, "doc_id", "text", threshold=0.5, verify="bitmask"
            ).collect())


def test_local_venue_persists_nothing(spark):
    """The local venue's result owns no cache and leaves none behind."""
    from foresttime_builder_spark.operators.cache import owned_kinds

    df = _edge_corpus(spark, 65)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for out in (
        dedup.token_jaccard_pairs(df, "doc_id", "text", threshold=0.5),
        dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5),
    ):
        assert out.count() and owned_kinds(out) == set()
    assert set(jsc.getPersistentRDDs().keySet()) == before
