"""Unit tests for corpus statistics ops: top n-grams, split assignment."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from foresttime_builder_spark.functions.encoding import hash60
from foresttime_builder_spark.operators.sampling import split_assign
from foresttime_builder_spark.operators.text import top_token_ngrams


def test_top_ngrams_counts_and_tiebreak(spark):
    rows = [
        (1, "a b c a b c"),      # "a b c" x2 (plus wrap grams)
        (2, "a b c d"),
        (3, "x y"),              # too short for n=3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in top_token_ngrams(df, "text", n=3, k=3).collect()]
    # counts: "a b c" 3 (2 in doc1, 1 in doc2); "b c a"/"c a b"/"b c d" 1
    assert out[0] == ("a b c", 3)
    # ties broken by gram ascending
    assert [g for g, _ in out[1:]] == sorted(g for g, _ in out[1:])
    assert all(c == 1 for _, c in out[1:])


def test_split_assign_deterministic_and_partition_stable(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in split_assign(df, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in split_assign(df.repartition(13), "doc_id").collect()
    }
    assert a == b
    # roughly 80/10/10 (hash-uniform; generous bounds)
    n = len(a)
    train = sum(1 for s in a.values() if s == "train") / n
    assert 0.75 < train < 0.85
    assert set(a.values()) == {"train", "val", "test"}


def test_split_assign_salt_rerolls(spark):
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in split_assign(df, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in split_assign(df, "doc_id", salt="split-v2").collect()
    }
    assert a != b


def test_split_assign_rejects_bad_weights(spark):
    df = spark.range(1).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="10000"):
        split_assign(df, "doc_id", splits=(("train", 5000), ("test", 1000)))


def test_edit_distance_pairs_blocking_is_lossless(spark):
    from foresttime_builder_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "spark"),
        (2, "spork"),   # substitution
        (3, "sparks"),  # insertion
        (4, "spak"),    # deletion (wrt 1)
        (5, "hadoop"),  # unrelated
        (6, "spark"),   # exact duplicate -> dist 0
        (7, "sprak"),   # transposition = distance 2; must NOT match 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, "doc_id", "title").collect()
    }
    expected = {
        (1, 2): 1, (1, 3): 1, (1, 4): 1, (1, 6): 0,
        (2, 6): 1, (3, 6): 1, (4, 6): 1, (4, 7): 1,
        # NOT present: (1,7) transposition (distance 2), anything with 5
    }
    # brute-force model over all pairs
    import itertools
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]
    brute = {
        (a, b): lev(ta, tb)
        for (a, ta), (b, tb) in itertools.combinations(rows, 2)
        if lev(ta, tb) <= 1
    }
    assert got == brute
    assert got == expected


def test_edit_distance_pairs_d2_matches_brute_force(spark):
    """max_dist=2 composed deletion neighborhoods vs the quadratic model
    over a randomized corpus of near-miss strings (substitutions,
    transpositions, double edits, empties)."""
    import itertools
    import random

    from foresttime_builder_spark.operators.dedup import edit_distance_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    rng = random.Random(11)
    base = ["spark", "sparkle", "query", "hadoop", "a", ""]
    rows = []
    for i in range(120):
        s = list(rng.choice(base))
        for _ in range(rng.randrange(3)):  # 0-2 random edits
            op = rng.randrange(3)
            pos = rng.randrange(len(s) + 1) if s else 0
            if op == 0 and s:
                s.pop(min(pos, len(s) - 1))
            elif op == 1:
                s.insert(pos, rng.choice("abksz"))
            elif s:
                s[min(pos, len(s) - 1)] = rng.choice("abksz")
        rows.append((i, "".join(s)))
    df = spark.createDataFrame(rows, "doc_id long, title string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, "doc_id", "title", max_dist=2).collect()
    }
    brute = {
        (a, b): lev(ta, tb)
        for (a, ta), (b, tb) in itertools.combinations(rows, 2)
        if lev(ta, tb) <= 2
    }
    assert got == brute and len(brute) > 50


def test_edit_distance_pairs_d2_key_length_guard(spark):
    import pytest as _pytest

    from foresttime_builder_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "x" * 100), (2, "y" * 100)], "doc_id long, title string"
    )
    with _pytest.raises(ValueError, match="max_key_len"):
        edit_distance_pairs(df, "doc_id", "title", max_dist=2)
    # and raising the cap accepts
    out = edit_distance_pairs(
        df, "doc_id", "title", max_dist=2, max_key_len=128
    )
    assert out.count() == 0  # xxx... vs yyy... is distance 100

    with _pytest.raises(NotImplementedError, match="max_dist"):
        edit_distance_pairs(df, "doc_id", "title", max_dist=3)


def test_temperature_quotas_upweight_small_sources(spark):
    from foresttime_builder_spark.operators.sampling import temperature_quotas

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    q = {r["source"]: r.asDict() for r in temperature_quotas(df, "source", budget=100).collect()}
    # proportional would give small 10%; sqrt-weighting gives 25%
    assert q["small"]["n_docs"] == 100 and q["big"]["n_docs"] == 900
    assert q["small"]["quota"] == 25 and q["big"]["quota"] == 75
    assert q["small"]["quota"] / 100 > 100 / 1000


def test_chunk_tokens_contract(spark):
    from foresttime_builder_spark.operators.text import chunk_tokens

    rows = [
        (1, "t1 t2 t3 t4 t5 t6 t7"),  # 7 tokens, size 4 stride 2 -> idx 0..2
        (2, "s1 s2"),                 # shorter than size -> one chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.doc_id, r.chunk_idx, r.start_token, r.n_tokens, r.chunk_text)
        for r in chunk_tokens(df, "doc_id", "text", size=4, stride=2).collect()
    )
    assert out == [
        (1, 0, 1, 4, "t1 t2 t3 t4"),
        (1, 1, 3, 4, "t3 t4 t5 t6"),
        (1, 2, 5, 3, "t5 t6 t7"),   # tail chunk short, covers final token
        (2, 0, 1, 2, "s1 s2"),
    ]
    # no empty chunks, full coverage (last chunk reaches token 7)
    assert all(n > 0 for _, _, _, n, _ in out)


def test_chunk_tokens_rejects_stride_gt_size(spark):
    from foresttime_builder_spark.operators.text import (
        chunk_tokens,
        chunk_tokens_oracle_sql,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        chunk_tokens(df, "doc_id", "text", size=4, stride=5)
    with pytest.raises(ValueError, match="stride"):
        chunk_tokens_oracle_sql("doc_id", "text", "documents", size=4, stride=5)


def test_corpus_profile_matches_manual(spark):
    from foresttime_builder_spark.operators.text import corpus_profile

    rows = [
        (1, "a b c", "web"),
        (2, "a b", "web"),
        (3, "a b c d e", "web"),
        (4, "x", "book"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.source: (
            r.n_docs, r.total_tokens, r.min_tokens,
            r.median_tokens_e4, r.p95_tokens_e4, r.max_tokens,
        )
        for r in corpus_profile(df, "text", "source").collect()
    }
    # web lengths [2,3,5]: median 3, p95 (R-7) = 3 + 0.9*(5-3) = 4.8
    assert got["web"] == (3, 10, 2, 30000, 48000, 5)
    assert got["book"] == (1, 1, 1, 10000, 10000, 1)


def test_repetition_quality_short_docs(spark):
    """Documents shorter than the gram length report NULL fracs and never
    error (the sorted-run scan must guard sequence()'s descending range
    and out-of-range element_at)."""
    from foresttime_builder_spark.operators.text import repetition_quality

    df = spark.createDataFrame(
        [(1, "x"), (2, "x y"), (3, "a a a a")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.top2gram_frac_e4, r.top3gram_frac_e4, r.keep)
        for r in repetition_quality(df, "doc_id", "text").collect()
    }
    assert got[1] == (1, None, None, True)
    # "x y": one 2-gram covering both tokens -> 1*2/2 = 10000; drops
    assert got[2] == (2, 10000, None, False)
    # "a a a a": top 2-gram "a a" x3 -> 3*2/4 = 15000; top 3-gram x2 ->
    # 2*3/4 = 15000 (coverage fracs can exceed 1 on overlapping repeats)
    assert got[3] == (4, 15000, 15000, False)


def test_chunk_tokens_property_coverage(spark):
    """Property: chunks cover every token, starts advance by exactly
    stride, the tail chunk reaches the final token, no chunk is empty,
    and rejoining chunk 0 stride-slices reconstructs a prefix — against a
    brute-force Python model on random docs/sizes/strides."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from foresttime_builder_spark.operators.text import chunk_tokens

    docs = st.lists(
        st.integers(min_value=1, max_value=40),  # token counts
        min_size=1, max_size=6,
    )
    params = st.tuples(
        docs,
        st.integers(min_value=1, max_value=10),  # size
    ).flatmap(
        lambda t: st.tuples(
            st.just(t[0]), st.just(t[1]),
            st.integers(min_value=1, max_value=t[1]),  # stride <= size
        )
    )

    @given(params)
    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def run(p):
        lens, size, stride = p
        rows = [
            (i, " ".join(f"t{i}_{j}" for j in range(L)))
            for i, L in enumerate(lens)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in chunk_tokens(df, "doc_id", "text", size=size, stride=stride).collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.start_token, r.n_tokens, r.chunk_text)
            )
        for i, L in enumerate(lens):
            toks = [f"t{i}_{j}" for j in range(L)]
            chunks = sorted(got[i])
            # brute-force model
            want = []
            idx = 0
            while True:
                start = idx * stride
                want.append(
                    (idx, start + 1, len(toks[start:start + size]),
                     " ".join(toks[start:start + size]))
                )
                if start + size >= L:
                    break
                idx += 1
            assert chunks == want
            # contract assertions
            assert all(n > 0 for _, _, n, _ in chunks)
            last_idx, last_start, last_n, _ = chunks[-1]
            assert last_start + last_n - 1 == L  # tail reaches final token
            covered = set()
            for _, s, n, _ in chunks:
                covered.update(range(s, s + n))
            assert covered == set(range(1, L + 1))

    run()


def test_quality_gate_rules_fire_individually(spark):
    from foresttime_builder_spark.operators.text import quality_gate

    good = "the quick brown fox is happy and jumps over " + " ".join(
        f"word{i}" for i in range(50)
    )
    docs = [
        (1, good),                                      # passes all
        (2, "the and of short"),                        # too short
        (3, good + " " + " ".join(["####"] * 30)),      # symbol storm
        (4, " ".join(f"tok{i}" for i in range(60))),    # no stopwords
        (5, "the is " + " ".join(["dup"] * 120)),       # repetition
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.passes, r.fail_reasons) for r in quality_gate(
        df, "doc_id", "text"
    ).collect()}
    assert got[1] == (True, "")
    assert got[2][0] is False and "len" in got[2][1]
    assert got[3][0] is False and "symbols" in got[3][1]
    assert got[4][0] is False and "stopwords" in got[4][1]
    assert got[5][0] is False and "repetition" in got[5][1]
    # reason order is the fixed rule order
    assert got[2][1].split(",")[0] == "len"


def test_quality_gate_null_text_fails_deterministically(spark):
    """NULL text must get the same verdict as '' on both engines:
    previously Spark saw n_tokens=-1 while the DuckDB twin's NULL
    predicates dropped out of the fail list, PASSING the junk row."""
    from foresttime_builder_spark.operators.text import quality_gate

    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.passes, r.fail_reasons)
        for r in quality_gate(df, "doc_id", "text").collect()
    }
    # identical verdicts, n_tokens = 1 (one empty token), never -1
    assert got[1] == got[2]
    assert got[1][0] == 1 and got[1][1] is False
    assert "len" in got[1][2] and "stopwords" in got[1][2]


def test_vocabulary_overlap_known_matrix(spark):
    from foresttime_builder_spark.operators.text import vocabulary_overlap

    df = spark.createDataFrame(
        [
            (1, "a b c", "s1"),
            (2, "c d", "s1"),     # s1 vocab {a,b,c,d}
            (3, "c d e", "s2"),   # s2 vocab {c,d,e}
            (4, "x y", "s3"),     # s3 vocab {x,y} — disjoint
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        (r["group_a"], r["group_b"]): (r["n_common"], r["jaccard"])
        for r in vocabulary_overlap(df, "source", "text").collect()
    }
    # {c,d} shared of union {a,b,c,d,e} -> 2/5
    assert out == {("s1", "s2"): (2, 0.4)}


def test_tfidf_signature_terms_ranks_distinctive_terms(spark):
    import math

    from foresttime_builder_spark.operators.text import tfidf_signature_terms

    df = spark.createDataFrame(
        [
            (1, "shared shared rust rust rust", "s1"),
            (2, "shared python", "s2"),
            (3, "shared go", "s3"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        (r["source"], r["rank"]): (r["term"], r["tf"], r["score_e6"])
        for r in tfidf_signature_terms(df, "source", "text", k=2).collect()
    }
    # 'rust' is s1-exclusive (df=1, G=3): score = 3 * ln(1 + 3/1)
    assert out[("s1", 1)] == (
        "rust", 3, math.floor(3 * math.log(4.0) * 1e6)
    )
    # 'shared' appears in all groups: idf = ln(2), still ranked (k=2)
    assert out[("s1", 2)][0] == "shared"
    assert out[("s2", 1)][0] == "python"
    assert out[("s3", 1)][0] == "go"


def _winnow_fingerprint_hof(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """The pre-r12 array-HOF form of ``winnow_fingerprint``, kept as its
    differential twin: both transform() lambdas run interpreted
    (CodegenFallback) and the slice window-min is O(n·w) per document —
    measured 144.8 s at sf10 vs the exploded form's window plan."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_grams = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
    empty = F.expr("CAST(array() AS array<bigint>)")
    # materialize each array stage as a column: expressions inside lambdas are
    # NOT common-subexpression-eliminated across elements, so referencing the
    # gram array directly in the window lambda would recompute every k-gram
    # hash per window (O(n^2) md5 calls per document)
    staged = df.withColumn(
        "_wf_grams",
        F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda p: hash60(text.substr(p, F.lit(k))),
            ),
        ).otherwise(empty),
    )
    grams = F.col("_wf_grams")
    n_windows = F.greatest(F.size(grams) - F.lit(w - 1), F.lit(0))
    staged = staged.withColumn(
        "_wf_fps",
        F.array_distinct(
            F.when(
                n_windows >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda i: F.array_min(F.slice(grams, i, w)),
                ),
            ).otherwise(empty)
        ),
    )
    fps = F.col("_wf_fps")
    return staged.select(
        F.col(id_col),
        F.size(fps).alias("n_fingerprints"),
        F.array_min(fps).alias("min_fp"),
        F.array_max(fps).alias("max_fp"),
    )


def test_winnow_fingerprint_matches_hof_twin_on_edge_cases(spark):
    """The r12 exploded-window winnowing must equal the pre-r12 array-HOF
    form row-for-row on the adversarial corners the fuzz corpora carry:
    NULL text, NULL ids, DUPLICATE ids (per-ROW semantics — each input
    row fingerprints its own text; grouping by id would merge the NULL-id
    documents), and the k/w boundary lengths (len < k: zero grams;
    k <= len < k+w-1: grams but zero windows)."""
    from foresttime_builder_spark.operators.text import winnow_fingerprint

    rows = [
        (1, None),                      # NULL text -> 0 fps, NULL min/max
        (2, "abc"),                     # len < k
        (3, "abcdefgh"),                # len == k: 1 gram, 0 windows
        (4, "abcdefghij"),              # k <= len < k+w-1: 3 grams, 0 windows
        (5, "abcdefghijk"),             # len == k+w-1: exactly 1 window
        (6, "the quick brown fox jumps over the lazy dog"),
        (6, "a different text under a DUPLICATE id"),
        (None, "null id keeps its own fingerprints"),
        (None, "second null id row, distinct text"),
        (7, ""),                        # empty string
        (8, "aaaaaaaaaaaaaaaaaaaaaa"),  # all-equal grams -> 1 distinct fp
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (tuple(r) for r in winnow_fingerprint(df, "doc_id", "text").collect()),
        key=str,
    )
    b = sorted(
        (
            tuple(r)
            for r in _winnow_fingerprint_hof(df, "doc_id", "text").collect()
        ),
        key=str,
    )
    assert a == b
    assert len(a) == len(rows)
    by_id = {t[0]: t for t in a if t[0] in (1, 2, 3, 4, 5, 8)}
    for short_id in (1, 2, 3, 4):
        assert by_id[short_id][1:] == (0, None, None)
    assert by_id[5][1] == 1
    assert by_id[8][1] == 1 and by_id[8][2] == by_id[8][3]
