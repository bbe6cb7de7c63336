"""Statistical-LM document scoring: corpus-trained smoothed bigram
log-probability — the CCNet-style "perplexity filter" signal (Wenzek et
al. 2020) a pipeline uses to rank documents by fluency before mixing.

The model is trained ON the corpus itself in the same job (the common
self-scored setup): bigram counts, left-context totals, and vocabulary
size feed an add-k-smoothed conditional
``P(w2|w1) = (c(w1,w2) + k) / (c_left(w1) + k*V)``.

Engine-exactness: a per-bigram float sum would be partition-order
dependent, so each bigram's log-prob is quantized to an e6 BIGINT
(``floor(ln(p) * 1e6)``) BEFORE aggregation — integer sums are exact and
order-free, and the only transcendental (``ln``) sits under the same
e-floor accepted-risk class as the NSVB ``pow`` chain.  No per-document
float ever reaches the gate: the operator emits ``(n_bigrams,
sum_logprob_e6)`` and lets consumers derive the average.

Scale shape (100 TB): bigrams stream out of a hoisted-split
``explode(sequence(...))`` + ``element_at`` projection (the chunk_tokens
pattern — JVM generator + codegen, NO lambda HOFs, rows never leave the
JVM); the count model is two partial-aggregating shuffles (bigram,
left-context) sized by the corpus' distinct n-grams, joined back to the
bigram stream on its natural key; V is a 1-row broadcast.  Skewed bigram
keys (stopword pairs) stay fine: the join is key-partitioned and AQE
splits oversized partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from foresttime_builder_spark.functions.tokens import words, words_sql

__all__ = ["ngram_lm_score", "ngram_lm_score_oracle_sql"]


def ngram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    add_k: float = 0.1,
) -> DataFrame:
    """Smoothed bigram log-prob totals per document.

    Returns ``(id_col, n_bigrams, sum_logprob_e6)`` for documents with at
    least one bigram (>= 2 tokens).  ``sum_logprob_e6`` is the exact
    BIGINT sum of ``floor(ln P(w2|w1) * 1e6)`` over the document's
    bigrams; more-negative = less corpus-typical.
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be positive, got {add_k}")
    toks = words(text_col)
    base = df.select(F.col(id_col), toks.alias("_t")).filter(F.size("_t") >= 2)
    bigrams = base.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.size("_t") - 1)).alias("_i"),
        F.col("_t"),
    ).select(
        F.col(id_col),
        F.element_at("_t", F.col("_i")).alias("w1"),
        F.element_at("_t", F.col("_i") + 1).alias("w2"),
    )
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = df.select(F.explode(toks).alias("_w")).agg(
        F.countDistinct("_w").alias("_V")
    )
    scored = (
        bigrams.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))  # 1-row vocabulary size: benign BNLJ
        .withColumn(
            "_lp_e6",
            F.floor(
                F.log(
                    (F.col("_c2") + F.lit(add_k))
                    / (F.col("_c1") + F.lit(add_k) * F.col("_V"))
                )
                * 1_000_000
            ).cast("long"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_lp_e6").cast("long").alias("sum_logprob_e6"),
    )


def ngram_lm_score_oracle_sql(
    id_col: str,
    text_col: str,
    table: str,
    add_k: float = 0.1,
) -> str:
    """DuckDB twin of :func:`ngram_lm_score` — identical smoothing
    constant via ``repr``, identical e6 quantization before the sum."""
    if add_k <= 0:
        raise ValueError(f"add_k must be positive, got {add_k}")
    return f"""
WITH docs AS (
  SELECT {id_col}, {words_sql(text_col)} AS ts
  FROM {table}
  WHERE len({words_sql(text_col)}) >= 2
), bigrams AS (
  SELECT {id_col}, ts[i] AS w1, ts[i + 1] AS w2
  FROM docs, LATERAL (
    SELECT unnest(generate_series(1, len(ts) - 1)) AS i
  ) g
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
), vocab AS (
  SELECT count(DISTINCT w) AS V
  FROM (SELECT unnest({words_sql(text_col)}) AS w FROM {table})
), scored AS (
  SELECT b.{id_col},
         CAST(floor(ln((c2.c2 + {add_k!r}) / (c1.c1 + {add_k!r} * vocab.V))
                    * 1000000) AS BIGINT) AS lp_e6
  FROM bigrams b
  JOIN c2 USING (w1, w2)
  JOIN c1 USING (w1)
  CROSS JOIN vocab
)
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(lp_e6) AS BIGINT) AS sum_logprob_e6
FROM scored GROUP BY {id_col}
"""
