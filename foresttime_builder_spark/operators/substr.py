"""Exact-substring duplication coverage (ExactSubstr-style dedup signal).

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") deduplicate at the *substring* grain: any >=50-token span that
occurs verbatim elsewhere in the corpus is a duplicate, independent of
document boundaries.  Their single-node implementation is a suffix array;
the distributed re-expression here is the standard rolling-window
inventory:

1. emit every ``n``-token window of every document with its position
   (one ``posexplode``; rows ~ corpus token count — the same relation
   every shingle pipeline builds);
2. a window hash that occurs in at least two distinct documents is a
   duplicated span (one hash-partitioned aggregation);
3. per document, merge the surviving (possibly overlapping) spans with
   the classic running-max interval-union window trick and report the
   number of duplicated tokens — the quantity a pipeline thresholds to
   drop or trim documents.

Everything is exact over the chosen window length: hashes are the
engine-portable 60-bit md5 prefix (also computed by the DuckDB oracle
twin, so the gate is bit-identical; a 60-bit space makes accidental
collisions negligible at any realistic corpus size, and a production run
worried about them re-verifies the tiny survivor set against the strings).
Scale posture: two hash-partitioned shuffles (window hash, then doc id) —
no all-pairs anything; the per-document window sort is bounded by
document length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from foresttime_builder_spark.functions.encoding import (
    fixed,
    fixed_sql,
    hash60,
    hash60_sql,
)
from foresttime_builder_spark.functions.tokens import words, words_sql
from foresttime_builder_spark.operators.decontaminate import (
    token_ngrams_from_tokens,
)


def duplicated_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-substring statistics.

    Returns one row per input document: ``n_tokens``, ``n_dup_windows``
    (windows of ``n`` tokens shared with at least one other doc),
    ``dup_token_cov`` (tokens covered by the union of those windows), and
    ``dup_cov_frac_e4``.
    """
    toks = words(text_col)
    base = df.select(F.col(id_col), F.size(toks).alias("n_tokens"))

    # hoist the token split to a materialized projection so the interpreted
    # gram lambda slices an array column instead of embedding the split
    # (see decontaminate.token_ngrams_from_tokens); spread the narrow scan
    # so the window inventory doesn't run on 1-2 input splits
    from foresttime_builder_spark.operators.spread import spread

    # PERSISTED (r16): the inventory feeds BOTH the duplicated-hash
    # aggregate and the span join-back, and Spark shares no uncached
    # subtree — so the posexplode + per-window md5 pass (the operator's
    # dominant map cost) executed twice.  Caching the narrow (id, pos, h)
    # relation computes it once; measured interleaved with identical
    # checksums: sf10 25.6 → 17.2 s (−33%), sf1 5.4 → 4.3 s, vs ~+0.2 s
    # of cache overhead at sf0.1 where the inventory is trivial.
    wins = (
        spread(df.select(F.col(id_col), toks.alias("_toks")))
        .select(
            F.col(id_col),
            F.posexplode(token_ngrams_from_tokens(F.col("_toks"), n)).alias(
                "pos", "gram"
            ),
        )
        .select(F.col(id_col), "pos", hash60(F.col("gram")).alias("h"))
        .persist()
    )

    dup_h = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )

    spans = wins.join(dup_h, "h").select(F.col(id_col), "pos")

    # interval union of [pos, pos+n): a window starts a new island when it
    # begins past the running max end of all earlier windows in the doc
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        spans.withColumn("prev_end", F.max(F.col("pos") + n).over(w_prev))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_ord))
    )
    # covered tokens: per island, max(pos)+n - min(pos); summed per doc
    per_island = islands.groupBy(id_col, "island").agg(
        (F.max("pos") + n - F.min("pos")).alias("cov"),
        F.count(F.lit(1)).alias("nw"),
    )
    cov = per_island.groupBy(id_col).agg(
        F.sum("nw").alias("n_dup_windows"),
        F.sum("cov").alias("dup_token_cov"),
    )

    out = base.join(cov, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        F.coalesce("dup_token_cov", F.lit(0)).alias("dup_token_cov"),
        fixed(
            F.coalesce("dup_token_cov", F.lit(0))
            / F.nullif(F.col("n_tokens"), F.lit(0)),
            4,
        ).alias("dup_cov_frac_e4"),
    )
    from foresttime_builder_spark.operators.cache import release_on_gc

    # tie the cached inventory's lifetime to the returned frame
    return release_on_gc(out, wins)


def duplicated_span_coverage_oracle_sql(
    id_col: str, text_col: str, table: str, n: int = 8
) -> str:
    """DuckDB twin of :func:`duplicated_span_coverage` — identical window
    inventory, hash, interval union, and fixed-point arithmetic."""
    toks = words_sql(text_col)
    return f"""
WITH base AS (
  SELECT {id_col}, len({toks}) AS n_tokens
  FROM {table}
), wins AS (
  SELECT {id_col},
         unnest(generate_series(1, len({toks}) - {n - 1})) - 1
           AS pos,
         unnest(list_transform(
           generate_series(1, len({toks}) - {n - 1}),
           i -> {hash60_sql(f"array_to_string({toks}[i:i+{n - 1}], ' ')")}))
           AS h
  FROM {table}
  WHERE len({toks}) >= {n}
), dup_h AS (
  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT {id_col}) >= 2
), spans AS (
  SELECT w.{id_col}, w.pos FROM wins w JOIN dup_h USING (h)
), islands AS (
  SELECT {id_col}, pos,
         max(pos + {n}) OVER (PARTITION BY {id_col} ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM spans
), marked AS (
  SELECT {id_col}, pos,
         CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END
           AS new_island
  FROM islands
), numbered AS (
  SELECT {id_col}, pos, new_island,
         sum(new_island) OVER (PARTITION BY {id_col} ORDER BY pos) AS island
  FROM marked
), per_island AS (
  SELECT {id_col}, island,
         max(pos) + {n} - min(pos) AS cov, count(*) AS nw
  FROM numbered GROUP BY {id_col}, island
), cov AS (
  SELECT {id_col}, CAST(sum(nw) AS BIGINT) AS n_dup_windows,
         CAST(sum(cov) AS BIGINT) AS dup_token_cov
  FROM per_island GROUP BY {id_col}
)
SELECT b.{id_col}, b.n_tokens,
       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       coalesce(c.dup_token_cov, 0) AS dup_token_cov,
       {fixed_sql('coalesce(c.dup_token_cov, 0) / nullif(b.n_tokens, 0)', 4)}
         AS dup_cov_frac_e4
FROM base b LEFT JOIN cov c ON b.{id_col} = c.{id_col}
"""
