"""Relevance scoring for corpus curation: BM25 against a fixed term bag.

The standard lexical-relevance primitive a training-data pipeline uses to
mine topical subsets ("pull every document that looks like code review
chatter"), build weak-supervision labels, or rank near-duplicate cluster
members by topical fit before keep-best selection.

Scale posture (100 TB): two full scans of the corpus, both pruned to
(id, text) at the parquet reader, and ZERO data shuffles.

1. **Stats pass** — one aggregate producing a SINGLE row holding N
   (corpus size), avgdl (mean token length), and one document-frequency
   counter per query term (``sum(array_contains(tokens, t))`` unrolled —
   the term bag is a small fixed list, so the row stays tiny).  Map-side
   partial aggregation means only one 1-row partial per task moves.
2. **Score pass** — the 1-row stats frame is broadcast-crossJoined
   (benign 1-row BNLJ, same convention as
   :func:`~foresttime_builder_spark.operators.sampling.temperature_quotas`)
   and every per-document quantity is pure Column algebra: term frequency
   is ``size(toks) - size(array_remove(toks, t))`` — built-in,
   whole-stage-codegen'd, deliberately NOT a lambda higher-order function
   (interpreted HOFs measured 5-40x slower in this repo's sf10 runs).

Engine parity: all scalar constants (K1, B, K1+1, 1-B) are computed ONCE
in Python and embedded via ``repr`` into BOTH the Spark plan and the
DuckDB twin, so each engine parses the identical double; sums over terms
are left-folded in the same order; integer tf/dl/N/df arithmetic is
exact.  The only transcendental is ``ln`` inside the idf, gated at the
usual e4 floor (same accepted-risk class as the NSVB ``pow``/``exp``
chain, monitored by the gate's boundary_risk counter).

idf is the Robertson/Sparck Jones form with Lucene's +1 floor
(always positive): ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.functions.tokens import words, words_sql

__all__ = ["bm25_scores", "bm25_scores_oracle_sql"]

#: BM25 term-frequency saturation and document-length normalization
K1, B = 1.2, 0.75


def _check(query_terms: tuple[str, ...]) -> None:
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    for t in query_terms:
        if (" " in t) or ("'" in t) or not t:
            raise ValueError(f"query term {t!r} must be a non-empty single token")


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
) -> DataFrame:
    """BM25 score of every document against a fixed bag of query terms.

    Returns (id_col, n_tokens, n_hits, bm25_e4) for documents containing
    at least one query term (score > 0); ``n_hits`` is the total query-term
    occurrence count, ``bm25_e4 = floor(score * 10000 + 0.5)``.
    """
    query_terms = tuple(query_terms)
    _check(query_terms)
    # NULL text → '' (the dsir_logweights convention): without it, Spark's
    # size(split(NULL)) = -1 leaks into the avgdl average while DuckDB's
    # len(string_split(NULL)) = NULL is EXCLUDED from avg() — one NULL row
    # would shift bm25_e4 for every document on the Spark side only.
    toks = words(text_col, null_as_empty=True)

    stats = df.select(toks.alias("_t")).agg(
        F.count(F.lit(1)).alias("_N"),
        F.avg(F.size(F.col("_t"))).alias("_avgdl"),
        *[
            F.sum(F.array_contains(F.col("_t"), F.lit(t)).cast("long")).alias(f"_df{i}")
            for i, t in enumerate(query_terms)
        ],
    )

    d = df.select(F.col(id_col), toks.alias("_t")).crossJoin(F.broadcast(stats))
    dl = F.size(F.col("_t"))
    # document-length normalizer, shared across terms
    norm = F.lit(1.0 - B) + F.lit(B) * dl.cast("double") / F.col("_avgdl")

    def _tf(i: int) -> Column:
        # count of term i: built-in array ops, no lambda HOF
        return dl - F.size(F.array_remove(F.col("_t"), query_terms[i]))

    def _idf(i: int) -> Column:
        dfc = F.col(f"_df{i}").cast("double")
        return F.log(
            F.lit(1.0) + (F.col("_N") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
        )

    def _contrib(i: int) -> Column:
        tf = _tf(i).cast("double")
        return _idf(i) * (tf * F.lit(K1 + 1.0)) / (tf + F.lit(K1) * norm)

    score: Column = _contrib(0)
    hits: Column = _tf(0)
    for i in range(1, len(query_terms)):
        score = score + _contrib(i)
        hits = hits + _tf(i)

    return (
        d.select(
            F.col(id_col),
            dl.cast("long").alias("n_tokens"),
            hits.cast("long").alias("n_hits"),
            fixed(score, 4).alias("bm25_e4"),
        )
        .filter(F.col("n_hits") > 0)
    )


def bm25_scores_oracle_sql(
    id_col: str,
    text_col: str,
    table: str,
    query_terms: tuple[str, ...],
) -> str:
    """DuckDB twin of :func:`bm25_scores` — identical constant doubles via
    ``repr``, identical left-fold order, identical idf/tf formulas."""
    query_terms = tuple(query_terms)
    _check(query_terms)
    # coalesce NULL text to '' exactly like the Spark side (see bm25_scores)
    ts = words_sql(text_col, null_as_empty=True)
    # per-row scalars in the inner projection; the aggregate sees only
    # plain columns (DuckDB rejects aggregates over list lambdas)
    row_flags = ", ".join(
        f"CASE WHEN list_contains({ts}, '{t}') THEN 1 ELSE 0 END AS c{i}"
        for i, t in enumerate(query_terms)
    )
    dfs = ", ".join(f"sum(c{i}) AS df{i}" for i in range(len(query_terms)))
    # tf via the same remove-and-diff identity (list_filter keeps non-t)
    tf = {
        i: f"(len(ts) - len(list_filter(ts, x -> x != '{t}')))"
        for i, t in enumerate(query_terms)
    }
    norm = f"({1.0 - B!r} + {B!r} * CAST(len(ts) AS DOUBLE) / avgdl)"
    idf = {
        i: (
            f"ln(1.0 + (N - CAST(df{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        )
        for i in tf
    }
    contrib = {
        i: (
            f"({idf[i]} * (CAST({tf[i]} AS DOUBLE) * {K1 + 1.0!r})"
            f" / (CAST({tf[i]} AS DOUBLE) + {K1!r} * {norm}))"
        )
        for i in tf
    }
    score = contrib[0]
    hits = tf[0]
    for i in range(1, len(tf)):
        score = f"({score} + {contrib[i]})"
        hits = f"({hits} + {tf[i]})"
    return f"""
WITH stats AS (
  SELECT count(*) AS N, avg(n) AS avgdl, {dfs}
  FROM (SELECT len({ts}) AS n, {row_flags} FROM {table})
), docs AS (
  SELECT {id_col}, {ts} AS ts
  FROM {table}
)
SELECT {id_col},
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST({hits} AS BIGINT) AS n_hits,
       {fixed_sql(score, 4)} AS bm25_e4
FROM docs CROSS JOIN stats
WHERE {hits} > 0
"""
