"""Benchmark decontamination: flag training documents that share token
n-grams with an evaluation/benchmark set.

The standard contamination check (e.g. GPT-3 appendix C / PaLM-style
13-gram overlap) is an exact n-gram collision join: shingle both corpora
into token n-grams, then any train document sharing at least one n-gram
with any eval document is contaminated.

Scale shape: shingling is a per-row ``transform`` + ``explode`` (no
shuffle); both sides are ``distinct``-ed BEFORE the join so the join input
is bounded by distinct (doc, gram) pairs, not raw token positions; the
eval side of a decontamination run is a benchmark suite — tiny next to a
100 TB train corpus — so it is broadcast and the whole check is one
shuffle (the train-side distinct).  Grams are joined as strings here for
oracle portability; at real scale you'd hash them to 64-bit first (same
plan shape, 8-byte keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from foresttime_builder_spark.functions.tokens import words


def token_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Array of space-joined ``n``-grams of the token array ``toks``; empty
    when the document has fewer than ``n`` tokens.

    Pass a MATERIALIZED token-array column: ``transform`` lambdas are
    CodegenFallback (interpreted), so a ``words(...)`` embedded in ``toks``
    is at risk of re-evaluating per element — hoisting the array into a
    multi-referenced projection keeps the split per row (Catalyst refuses
    to collapse multi-referenced non-trivial projections into the
    lambda)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def contamination(
    train: DataFrame,
    eval_: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per contaminated train document: how many distinct n-grams collide
    with the eval set, and how many distinct eval documents are hit.

    Returns ``(id_col, n_collided_grams, n_eval_docs)`` — only documents
    with at least one collision appear.
    """
    grams = lambda df: df.select(
        F.col(id_col), words(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(token_ngrams_from_tokens(F.col("_toks"), n)).alias("gram"),
    ).distinct()
    ev = grams(eval_).withColumnRenamed(id_col, "eval_doc")
    tr = grams(train)
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_collided_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )
