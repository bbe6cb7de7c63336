"""sampling benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from foresttime_builder_spark.functions.encoding import hash60_sql
from foresttime_builder_spark.functions.tokens import words, words_sql
from foresttime_builder_spark.sources import load_table
from foresttime_builder_spark.plans.queries._shared import QuerySpec



def q56_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token context windows, sharded
    ``(source, doc_id % 4)`` for parallelism (training-pipeline family;
    see ``operators/packing.py`` for the scale decomposition).  The whole
    fold runs JVM-side via the higher-order ``F.aggregate`` — the oracle is
    a recursive CTE stepping the identical first-fit-sequential recurrence
    one row at a time."""
    from foresttime_builder_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        # NULL text -> '' (one empty token): a NULL length would poison
        # the running fill/bin fold state for the whole stream
        F.size(words("text", null_as_empty=True)).alias("n_tok"),
    )
    return pack_sequences(
        d, "n_tok", capacity=256, group_cols=["source"], n_shards=4
    )

ORACLE_Q56 = f"""
WITH RECURSIVE ordered AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
         CAST(len({words_sql("text", null_as_empty=True)}) AS BIGINT)
           AS n_tokens,
         row_number() OVER (PARTITION BY source, doc_id % 4 ORDER BY doc_id) AS rn
  FROM documents
  WHERE doc_id IS NOT NULL
), packed AS (
  SELECT doc_id, source, shard, n_tokens, rn,
         CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.source, o.shard, o.n_tokens, o.rn,
         CASE WHEN p.fill + o.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill + o.n_tokens > 256 THEN o.n_tokens
              ELSE p.fill + o.n_tokens END
  FROM packed p
  -- IS NOT DISTINCT FROM: a NULL source is a packing stream too (Spark
  -- groupBy treats NULL as a group), and a plain equi-join would break
  -- the recursive chain after its first row
  JOIN ordered o ON o.source IS NOT DISTINCT FROM p.source
                AND o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, source, shard, n_tokens, bin_id FROM packed
"""

def q57_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota sampling (corpus mixing): each
    source contributes its ``quota`` lowest-hash documents — a
    reproducible uniform draw stable under repartitioning
    (``operators/sampling.py``).  Quotas are a derived broadcast dim."""
    from foresttime_builder_spark.operators.sampling import quota_sample

    d = load_table(spark, sf_dir, "documents")
    quotas = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (5 + F.substring("source", 4, 10).try_cast("long") % 7).alias("quota"),
        )
    )
    out = quota_sample(d.select("doc_id", "source"), quotas)
    return out.select("doc_id", "source", "sample_rank", "quota")

ORACLE_Q57 = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {hash60_sql('CAST(doc_id AS VARCHAR)')} ASC, doc_id ASC
         ) AS sample_rank
  FROM documents
  WHERE doc_id IS NOT NULL
), quotas AS (
  SELECT source, 5 + TRY_CAST(substr(source, 4) AS BIGINT) % 7 AS quota
  FROM (SELECT DISTINCT source FROM documents) s
)
SELECT r.doc_id, r.source, CAST(r.sample_rank AS INT) AS sample_rank, q.quota
FROM ranked r JOIN quotas q USING (source)
WHERE r.sample_rank <= q.quota
"""

def q65_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test split assignment
    (`operators/sampling.split_assign`), summarized per (source, split)."""
    from foresttime_builder_spark.operators.sampling import split_assign

    d = split_assign(load_table(spark, sf_dir, "documents"))
    return d.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )

def _split_assign_oracle() -> str:
    from foresttime_builder_spark.operators.sampling import (
        split_assign_oracle_sql,
    )

    case = split_assign_oracle_sql()
    return f"""
SELECT source, {case} AS split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source, split
"""

def q74_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted source mixing: sqrt-of-count quotas
    (`operators/sampling.temperature_quotas`, alpha=0.5 — the UniMax-style
    rebalance) drawn with the deterministic hash-rank sampler
    (`quota_sample`).  Emits per-source quota, drawn count, and the exact
    sum of drawn doc_ids — so the gate pins WHICH documents were drawn,
    not just how many."""
    from foresttime_builder_spark.operators.sampling import (
        quota_sample,
        temperature_quotas,
    )

    d = load_table(spark, sf_dir, "documents")
    quotas = temperature_quotas(d, "source", budget=300)
    # quota_sample broadcasts the whole quota dim, so n_docs/weight ride
    # along and the dim is in the plan ONCE (a second join would duplicate
    # the 1-row-total crossJoin and the counts aggregation)
    drawn = quota_sample(d, quotas, "source")
    return drawn.groupBy("source", "n_docs", "weight", "quota").agg(
        F.count(F.lit(1)).alias("n_drawn"),
        F.sum("doc_id").alias("drawn_id_sum"),
    )

ORACLE_Q74 = f"""
WITH c AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS weight
  FROM c
), t AS (
  SELECT CAST(sum(weight) AS BIGINT) AS W FROM w
), q AS (
  SELECT source, n_docs, weight,
         CAST(floor(300 * weight / W) AS BIGINT) AS quota
  FROM w, t
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {hash60_sql('CAST(doc_id AS VARCHAR)')} ASC, doc_id ASC
         ) AS sample_rank
  FROM documents
  WHERE doc_id IS NOT NULL
)
SELECT q.source, q.n_docs, q.weight, q.quota,
       count(*) AS n_drawn,
       CAST(sum(r.doc_id) AS BIGINT) AS drawn_id_sum
FROM ranked r JOIN q USING (source)
WHERE r.sample_rank <= q.quota
GROUP BY q.source, q.n_docs, q.weight, q.quota
"""

def q78_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch shaping (`operators/packing.
    length_bucket_batches`): power-of-two length buckets (padding-waste
    cap) cut into fixed-token-budget batches by a bucket-partitioned
    running sum — the batching step between a packed corpus and a trainer
    / inference server."""
    from foresttime_builder_spark.operators.packing import length_bucket_batches

    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.size(words("text")).alias("len"))
    return length_bucket_batches(docs, "len", token_budget=2048)

def _length_bucket_oracle() -> str:
    from foresttime_builder_spark.operators.packing import (
        length_bucket_batches_oracle_sql,
    )

    return length_bucket_batches_oracle_sql(
        f"(SELECT doc_id, len({words_sql('text')}) AS len FROM documents)",
        "len",
        token_budget=2048,
    )

def q84_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch upsampling to exact per-source quotas
    (`operators/sampling.upsample_to_quota`): sources smaller than their
    quota repeat whole epochs plus a lowest-hash remainder draw ("3.2
    epochs of the small high-quality source"); larger sources degrade to
    quota_sample's downsampling draw. Quotas 10..90 vs 25-doc sources at
    the gate SF exercise both branches."""
    from foresttime_builder_spark.operators.sampling import upsample_to_quota

    d = load_table(spark, sf_dir, "documents")
    quotas = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (10 + (F.substring("source", 4, 10).try_cast("long") % 5) * 20).alias(
                "quota"
            ),
        )
    )
    out = upsample_to_quota(d.select("doc_id", "source"), quotas)
    return out.select("doc_id", "source", "sample_rank", "quota", "epoch")

def _epoch_upsample_oracle() -> str:
    from foresttime_builder_spark.operators.sampling import (
        upsample_to_quota_oracle_sql,
    )

    quotas_sql = (
        "SELECT source, 10 + TRY_CAST(substr(source, 4) AS BIGINT) % 5 * 20 AS quota "
        "FROM (SELECT DISTINCT source FROM documents) s"
    )
    return upsample_to_quota_oracle_sql(
        "(SELECT doc_id, source FROM documents)", quotas_sql
    )

def q99_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source score calibration
    (`operators/sampling.calibrate_scores`): within-source percent_rank
    of document length — the normalization applied before a single
    global quality threshold spans heterogeneous sources.  ONE window
    shuffle, no joins."""
    from foresttime_builder_spark.operators.sampling import calibrate_scores

    d = load_table(spark, sf_dir, "documents")
    return calibrate_scores(d, "doc_id", "source", "n_chars")

def _score_calibration_oracle() -> str:
    from foresttime_builder_spark.operators.sampling import (
        calibrate_scores_oracle_sql,
    )

    return calibrate_scores_oracle_sql(
        "doc_id", "source", "n_chars", "documents"
    )

def q102_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (`operators/sampling.weighted_sample`, Efraimidis-Spirakis A-ES):
    5 docs per language, probability proportional to length weight,
    fully reproducible from hashed ids — one window shuffle."""
    from foresttime_builder_spark.operators.sampling import weighted_sample

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "lang", "n_chars", k=5)

def _weighted_sample_oracle() -> str:
    from foresttime_builder_spark.operators.sampling import (
        weighted_sample_oracle_sql,
    )

    return weighted_sample_oracle_sql(
        "doc_id", "lang", "n_chars", "documents", k=5
    )

def q112_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified train/val/test split
    (`operators/sampling.stratified_split_exact`): per-language split
    counts exact to floor(n*bp/10000), rank order = the deterministic
    (salt, id) hash — vs q65's append-stable but only-in-expectation
    hash cells."""
    from foresttime_builder_spark.operators.sampling import (
        stratified_split_exact,
    )

    d = load_table(spark, sf_dir, "documents")
    return stratified_split_exact(d, "doc_id", "lang")

def _stratified_split_oracle() -> str:
    from foresttime_builder_spark.operators.sampling import (
        stratified_split_exact_oracle_sql,
    )

    return stratified_split_exact_oracle_sql("doc_id", "lang", "documents")

def q114_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two order snapshots
    (1995 vs 1996 price distributions): fixed-rule price buckets, smoothed
    proportions, per-bucket PSI terms quantized to e9 BIGINTs BEFORE the
    sum (order-free) — the ML-monitoring signal for "did the input
    distribution move"."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("_y"),
        F.floor(F.col("o_totalprice") / 50_000).cast("long").alias("_bkt"),
    )
    counts = (
        o.filter(F.col("_y").isin(1995, 1996))
        .groupBy("_bkt")
        .agg(
            F.sum(F.when(F.col("_y") == 1995, 1).otherwise(0)).alias("_c1"),
            F.sum(F.when(F.col("_y") == 1996, 1).otherwise(0)).alias("_c2"),
        )
    )
    totals = counts.agg(
        F.sum("_c1").alias("_n1"),
        F.sum("_c2").alias("_n2"),
        F.count(F.lit(1)).alias("_B"),
    )
    p1 = (F.col("_c1") + F.lit(0.5)) / (F.col("_n1") + F.lit(0.5) * F.col("_B"))
    p2 = (F.col("_c2") + F.lit(0.5)) / (F.col("_n2") + F.lit(0.5) * F.col("_B"))
    terms = counts.crossJoin(F.broadcast(totals)).select(
        F.col("_bkt"),
        F.floor((p1 - p2) * F.log(p1 / p2) * 1e9).cast("long").alias("_t_e9"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("_t_e9").cast("long").alias("psi_e9"),
    )

ORACLE_Q114 = """
WITH o AS (
  SELECT year(o_orderdate) AS y,
         CAST(floor(o_totalprice / 50000) AS BIGINT) AS bkt
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
),
counts AS (
  SELECT bkt,
         sum(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS c2
  FROM o GROUP BY bkt
),
totals AS (
  SELECT sum(c1) AS n1, sum(c2) AS n2, count(*) AS B FROM counts
),
terms AS (
  SELECT CAST(floor(
           ((c1 + 0.5) / (n1 + 0.5 * B) - (c2 + 0.5) / (n2 + 0.5 * B))
           * ln(((c1 + 0.5) / (n1 + 0.5 * B)) / ((c2 + 0.5) / (n2 + 0.5 * B)))
           * 1e9) AS BIGINT) AS t_e9
  FROM counts CROSS JOIN totals
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(t_e9) AS BIGINT) AS psi_e9
FROM terms
"""


QUERIES: dict[str, QuerySpec] = {
    "q56_sequence_packing": QuerySpec(q56_sequence_packing, ORACLE_Q56),
    "q57_source_mixing": QuerySpec(q57_source_mixing, ORACLE_Q57),
    "q65_split_assign": QuerySpec(q65_split_assign, _split_assign_oracle()),
    "q74_temperature_mix": QuerySpec(q74_temperature_mix, ORACLE_Q74),
    "q78_length_bucket_batches": QuerySpec(
        q78_length_bucket_batches, _length_bucket_oracle()
    ),
    "q84_epoch_upsample": QuerySpec(q84_epoch_upsample, _epoch_upsample_oracle()),
    "q99_score_calibration": QuerySpec(
        q99_score_calibration, _score_calibration_oracle()
    ),
    "q102_weighted_sample": QuerySpec(
        q102_weighted_sample, _weighted_sample_oracle()
    ),
    "q112_stratified_split": QuerySpec(
        q112_stratified_split, _stratified_split_oracle()
    ),
    "q114_distribution_drift": QuerySpec(
        q114_distribution_drift, ORACLE_Q114
    ),
}
