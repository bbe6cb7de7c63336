"""DSIR-style data selection: hashed-n-gram importance log-weights.

Data Selection with Importance Resampling (Xie et al. 2023, NeurIPS)
scores every raw document by how target-like its hashed n-gram feature
distribution is: ``log w(d) = sum_f count_d(f) * (ln p_target(f) -
ln q_raw(f))`` over unigram+bigram features hashed into ``n_buckets``
buckets, with add-k smoothing on both bag-of-buckets models.  Documents
with high log-weight are the ones importance resampling keeps when
curating a pretraining mix toward a target domain.

This implementation trains BOTH models in the same job (the common
self-contained setup): the target model on the rows where ``target_col``
is true (e.g. "wiki-like, high quality"), the raw model on every row.

Engine-exactness (the q86/lm.py discipline): the per-bucket log-ratio is
quantized to an e6 BIGINT **before** any per-document aggregation —
``floor((ln p - ln q) * 1e6) * count`` — so document scores are exact
order-free integer sums; the only transcendental is ``ln`` under the
same e-floor accepted-risk class as the NSVB ``pow`` chain.  All hashing
is :func:`~foresttime_builder_spark.operators.dedup.hash60` (md5-based)
so DuckDB reproduces the buckets bit-for-bit.

Scale shape (100 TB): the feature stream is a hoisted-split
``explode(sequence(...))`` + ``element_at`` projection (JVM generator,
no lambda HOFs) pre-aggregated per (doc, bucket) map-side; the bucket
model is ONE groupBy over at most ``n_buckets`` keys (10k default) whose
result broadcasts to the scoring join, and the totals are a 1-row
broadcast crossJoin.  Nothing driver-side, nothing quadratic: one
shuffle for the bucket model, one for the per-document sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from foresttime_builder_spark.functions.encoding import hash60, hash60_sql
from foresttime_builder_spark.functions.tokens import words, words_sql
from foresttime_builder_spark.operators.cache import release_on_gc

__all__ = ["dsir_logweights", "dsir_logweights_oracle_sql"]

_MAX_BROADCAST_BUCKETS = 4_000_000  # ~32 MB of (bigint, bigint, bigint) rows


def _check(n_buckets: int, add_k: float) -> None:
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if n_buckets > _MAX_BROADCAST_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} exceeds the broadcastable bucket-model "
            f"bound {_MAX_BROADCAST_BUCKETS}; DSIR hashes into a small "
            f"fixed bucket space by design (paper uses 10k)"
        )
    if add_k <= 0:
        raise ValueError(f"add_k must be positive, got {add_k}")


def dsir_logweights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    n_buckets: int = 10_000,
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document DSIR importance log-weight (e6-quantized BIGINT).

    Returns ``(id_col, n_features, logweight_e6)`` for every input row:
    NULL text is treated as the empty document (coalesced to ``''``,
    whose single empty-string unigram keeps the row scoreable — without
    the coalesce, ``split(NULL)`` explodes to nothing and the row would
    silently vanish).  Higher ``logweight_e6`` = more target-like.
    ``target_col`` must be a boolean column on ``df``; rows where it is
    true define the target distribution, all rows define the raw
    distribution.
    """
    _check(n_buckets, add_k)
    toks = words(text_col, null_as_empty=True)
    base = df.select(
        F.col(id_col), F.col(target_col).alias("_tgt"), toks.alias("_t")
    )
    uni = base.select(
        F.col(id_col), F.col("_tgt"), F.explode("_t").alias("_w")
    ).select(
        F.col(id_col),
        F.col("_tgt"),
        (hash60(F.concat(F.lit("u|"), F.col("_w"))) % n_buckets).alias("_bkt"),
    )
    bi = (
        base.filter(F.size("_t") >= 2)
        .select(
            F.col(id_col),
            F.col("_tgt"),
            F.explode(F.sequence(F.lit(1), F.size("_t") - 1)).alias("_i"),
            F.col("_t"),
        )
        .select(
            F.col(id_col),
            F.col("_tgt"),
            (
                hash60(
                    F.concat(
                        F.lit("b|"),
                        F.element_at("_t", F.col("_i")),
                        F.lit(" "),
                        F.element_at("_t", F.col("_i") + 1),
                    )
                )
                % n_buckets
            ).alias("_bkt"),
        )
    )
    feats = uni.unionByName(bi)
    # per-(doc, bucket) pre-aggregation: shrinks the scoring join input to
    # at most (docs x distinct buckets per doc) and combines map-side.
    # Persisted because three plan branches consume it (scoring join,
    # bucket model, totals) — without the persist Spark re-runs the
    # explode+hash feature stream once per branch (6 scans measured).
    doc_bkt = feats.groupBy(id_col, "_tgt", "_bkt").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    doc_bkt = doc_bkt.persist()
    model = doc_bkt.groupBy("_bkt").agg(
        F.sum("_cnt").alias("_cnt_r"),
        F.sum(F.when(F.col("_tgt"), F.col("_cnt")).otherwise(F.lit(0))).alias(
            "_cnt_t"
        ),
    )
    totals = model.agg(
        F.sum("_cnt_r").alias("_R"), F.sum("_cnt_t").alias("_T")
    )
    kb = float(add_k) * n_buckets
    scored = (
        doc_bkt.join(F.broadcast(model), "_bkt")
        .crossJoin(F.broadcast(totals))  # 1-row totals: benign BNLJ
        .withColumn(
            "_w_e6",
            F.col("_cnt")
            * F.floor(
                (
                    F.log((F.col("_cnt_t") + F.lit(add_k)) / (F.col("_T") + F.lit(kb)))
                    - F.log(
                        (F.col("_cnt_r") + F.lit(add_k)) / (F.col("_R") + F.lit(kb))
                    )
                )
                * 1_000_000
            ).cast("long"),
        )
    )
    out = scored.groupBy(id_col).agg(
        F.sum("_cnt").cast("long").alias("n_features"),
        F.sum("_w_e6").cast("long").alias("logweight_e6"),
    )
    return release_on_gc(out, doc_bkt)


def dsir_logweights_oracle_sql(
    id_col: str,
    text_col: str,
    table: str,
    target_expr: str,
    n_buckets: int = 10_000,
    add_k: float = 0.5,
) -> str:
    """DuckDB twin of :func:`dsir_logweights` — identical md5 bucket
    hash, identical smoothing constants via ``repr``, identical e6
    quantization before the per-document sum.  ``target_expr`` is a SQL
    boolean over ``table``'s columns."""
    _check(n_buckets, add_k)
    kb = repr(float(add_k) * n_buckets)
    h_uni = hash60_sql("concat('u|', w)") + f" % {n_buckets}"
    h_bi = hash60_sql("concat('b|', w1, ' ', w2)") + f" % {n_buckets}"
    return f"""
WITH docs AS (
  SELECT {id_col}, CAST(({target_expr}) AS BOOLEAN) AS tgt,
         {words_sql(text_col, null_as_empty=True)} AS ts
  FROM {table}
), feats AS (
  SELECT {id_col}, tgt, {h_uni} AS bkt
  FROM (SELECT {id_col}, tgt, unnest(ts) AS w FROM docs)
  UNION ALL
  SELECT {id_col}, tgt, {h_bi} AS bkt
  FROM (
    SELECT {id_col}, tgt, ts[i] AS w1, ts[i + 1] AS w2
    FROM docs, LATERAL (
      SELECT unnest(generate_series(1, len(ts) - 1)) AS i
    ) g
    WHERE len(ts) >= 2
  )
), doc_bkt AS (
  SELECT {id_col}, tgt, bkt, count(*) AS cnt
  FROM feats GROUP BY {id_col}, tgt, bkt
), model AS (
  SELECT bkt, sum(cnt) AS cnt_r,
         sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS cnt_t
  FROM doc_bkt GROUP BY bkt
), totals AS (
  SELECT sum(cnt_r) AS R, sum(cnt_t) AS T FROM model
), scored AS (
  SELECT d.{id_col}, d.cnt,
         d.cnt * CAST(floor(
           (ln((m.cnt_t + {add_k!r}) / (t.T + {kb}))
            - ln((m.cnt_r + {add_k!r}) / (t.R + {kb}))) * 1000000
         ) AS BIGINT) AS w_e6
  FROM doc_bkt d JOIN model m USING (bkt) CROSS JOIN totals t
)
SELECT {id_col},
       CAST(sum(cnt) AS BIGINT) AS n_features,
       CAST(sum(w_e6) AS BIGINT) AS logweight_e6
FROM scored GROUP BY {id_col}
"""
