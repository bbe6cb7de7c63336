"""Inverted-index construction: term -> (df, cf, top-k postings).

The IR-side building block a corpus pipeline materializes for lexical
retrieval, decontamination lookups, and corpus debugging ("which
documents drive this term"): per term, document frequency, collection
frequency, and the top-k postings by term frequency serialized as a
deterministic ``doc:tf,doc:tf,...`` string (tf descending, doc id
ascending — fully ordered, so engines agree bit-for-bit).

Scale shape (100 TB):

1. explode(tokens) -> groupBy(term, doc) tf — ONE shuffle with map-side
   partial aggregation (the explode never leaves the map stage).
2. df/cf/rank as window functions over ``partitionBy(term)`` — Catalyst
   reuses the same hash partitioning for the final groupBy(term), so the
   whole index costs two exchanges end-to-end.
3. The per-term window sort is bounded by df(term).  Stopword terms
   (df ~ corpus size) would sort the whole corpus inside one key, so
   ``max_doc_freq`` drops ultra-common terms BEFORE the window via a
   co-partitioned df pre-count — the standard stopword-elision bound
   that keeps the worst key at ``max_doc_freq`` rows.

The only lambda HOF is a ``transform`` over the <= k collected postings
per term (k elements, not data-sized — outside the measured interpreted-
HOF trap, which bites on per-token streams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from foresttime_builder_spark.functions.tokens import words, words_sql

__all__ = ["inverted_index", "inverted_index_oracle_sql"]


def _check(k: int, max_doc_freq: int | None) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ValueError(f"max_doc_freq must be >= 1, got {max_doc_freq}")


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Build ``(term, doc_freq, coll_freq, postings)`` from whitespace
    tokens.  ``postings`` lists the k highest-tf documents as
    ``doc:tf`` joined by commas; ties break on ascending document id.
    Terms appearing in more than ``max_doc_freq`` documents are elided
    (stopword bound); ``None`` keeps everything.
    """
    _check(k, max_doc_freq)
    # a posting without a document id is meaningless (and concat_ws would
    # silently render it as a bare tf); NULL-id rows are excluded here
    # and in the oracle twin identically
    tf = (
        df.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(words(text_col)).alias("term"),
        )
        .groupBy("term", "_doc")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    if max_doc_freq is not None:
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df_pre"))
        tf = tf.join(
            dfreq.filter(F.col("_df_pre") <= max_doc_freq).select("term"),
            "term",
        )
    w = Window.partitionBy("term")
    ranked = tf.select(
        "term",
        "_doc",
        "_tf",
        F.count(F.lit(1)).over(w).alias("_df"),
        F.sum("_tf").over(w).alias("_cf"),
        F.row_number()
        .over(w.orderBy(F.desc("_tf"), F.asc("_doc")))
        .alias("_rn"),
    ).filter(F.col("_rn") <= k)
    return (
        ranked.groupBy("term")
        .agg(
            F.max("_df").cast("long").alias("doc_freq"),
            F.max("_cf").cast("long").alias("coll_freq"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("_rn").alias("r"),
                                F.concat_ws(
                                    ":",
                                    F.col("_doc").cast("string"),
                                    F.col("_tf").cast("string"),
                                ).alias("s"),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                ",",
            ).alias("postings"),
        )
    )


def inverted_index_oracle_sql(
    id_col: str,
    text_col: str,
    table: str,
    k: int = 10,
    max_doc_freq: int | None = None,
) -> str:
    """DuckDB twin of :func:`inverted_index` — identical tie-break order
    in both the rank filter and the posting serialization."""
    _check(k, max_doc_freq)
    df_filter = (
        f"QUALIFY count(*) OVER (PARTITION BY term) <= {max_doc_freq}"
        if max_doc_freq is not None
        else ""
    )
    return f"""
WITH tf AS (
  SELECT term, doc, count(*) AS tf
  FROM (
    SELECT {id_col} AS doc, unnest({words_sql(text_col)}) AS term
    FROM {table}
    WHERE {id_col} IS NOT NULL
  )
  GROUP BY term, doc
  {df_filter}
), ranked AS (
  SELECT term, doc, tf,
         count(*) OVER (PARTITION BY term) AS df,
         sum(tf) OVER (PARTITION BY term) AS cf,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc) AS rn
  FROM tf
)
SELECT term,
       CAST(max(df) AS BIGINT) AS doc_freq,
       CAST(max(cf) AS BIGINT) AS coll_freq,
       string_agg(doc || ':' || tf, ',' ORDER BY tf DESC, doc) AS postings
FROM ranked WHERE rn <= {k}
GROUP BY term
"""
