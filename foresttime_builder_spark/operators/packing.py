"""Sequence packing: greedy first-fit-sequential binning of documents into
fixed-capacity context windows — the step that turns a filtered corpus into
training sequences.

Packing is inherently sequential *within a stream*: bin assignment of doc k
depends on the running fill after docs 1..k-1.  The scalable decomposition
is the one production packers use — shard the corpus into many independent
streams (here ``(group_cols..., doc_id % n_shards)``), pack each stream
greedily in deterministic ``doc_id`` order, and run all streams in
parallel.  At 100 TB the parallelism is ``n_groups × n_shards`` and no
state crosses a stream boundary.

The per-stream scan itself stays JVM-side: each stream's (doc_id, length)
pairs are gathered with ``collect_list``, ordered with ``sort_array``, and
folded with the higher-order ``F.aggregate`` — a sequential fold inside one
codegen'd expression, no Python, no window-with-running-reset gymnastics
(cumsum-with-reset is NOT expressible as a plain window function).  The
per-stream array must fit in executor memory, which is exactly the
``n_shards`` knob: streams of ~100k docs × 16 bytes are a few MB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def pack_sequences(
    df: DataFrame,
    length_col: str,
    capacity: int,
    group_cols: Sequence[str] = (),
    n_shards: int = 4,
) -> DataFrame:
    """Assign each row a ``bin_id`` within its ``(group_cols..., shard)``
    stream such that consecutive rows (by ``doc_id``) share a bin while
    their lengths fit in ``capacity``; an item longer than ``capacity``
    opens (and overflows) its own bin.

    Returns the input id/group/shard columns plus ``n_tokens`` (the length)
    and ``bin_id`` (1-based within the stream).
    """
    # id-keyed deterministic op: NULL ids have no shard/sort position
    # (and NULL-order differs between engines) — excluded identically in
    # the oracle twins, same contract as the samplers
    df = df.filter(F.col("doc_id").isNotNull())
    shard = (F.col("doc_id") % n_shards).alias("shard")
    items = df.select(*group_cols, shard, F.struct(F.col("doc_id").alias("id"), F.col(length_col).cast("long").alias("n")).alias("it"))
    streams = items.groupBy(*group_cols, "shard").agg(
        F.sort_array(F.collect_list("it")).alias("its")
    )
    # Fold state: (fill, bin, out[]).  fill starts at capacity+1 so the
    # first item always triggers "open bin 1" through the same overflow
    # branch — no special-casing the empty state inside the lambda.
    zero = F.struct(
        F.lit(capacity + 1).cast("long").alias("fill"),
        F.lit(0).cast("long").alias("bin"),
        F.expr(
            "CAST(array() AS array<struct<id:bigint,n:bigint,bin_id:bigint>>)"
        ).alias("out"),
    )

    def step(acc, x):
        over = acc.fill + x.n > F.lit(capacity)
        bin_id = F.when(over, acc.bin + 1).otherwise(acc.bin)
        fill = F.when(over, x.n).otherwise(acc.fill + x.n)
        entry = F.struct(
            x.id.alias("id"), x.n.alias("n"), bin_id.alias("bin_id")
        )
        return F.struct(
            fill.alias("fill"),
            bin_id.alias("bin"),
            F.concat(acc.out, F.array(entry)).alias("out"),
        )

    packed = streams.select(
        *group_cols,
        "shard",
        F.explode(F.aggregate("its", zero, step, lambda acc: acc.out)).alias("p"),
    )
    return packed.select(
        F.col("p.id").alias("doc_id"),
        *group_cols,
        "shard",
        F.col("p.n").alias("n_tokens"),
        F.col("p.bin_id").alias("bin_id"),
    )


def length_bucket_batches(
    df: DataFrame,
    length_col: str,
    token_budget: int,
) -> DataFrame:
    """Length-bucketed batch shaping — the padding-minimizing batching used
    for training/inference serving: documents are grouped into power-of-two
    LENGTH BUCKETS (sequences in a batch pad to the longest member, so
    batching within a 2x length band caps padding waste at ~50%), then each
    bucket is cut into fixed-count batches sized so the PADDED batch cost
    fits ``token_budget``.

    The cut is a capacity rule, not a running sum, so the budget is a HARD
    cap on what a trainer/server actually allocates:

    - ``bucket = floor(log2(n))`` computed as ``length(bin(n)) - 1`` —
      string length of the binary representation, so no float log at
      power-of-two boundaries;
    - ``cap_len = 2^(bucket+1) - 1`` — the bucket's padding ceiling (every
      member pads to at most this);
    - ``capacity = max(1, floor(token_budget / cap_len))`` docs per batch;
    - ``batch_in_bucket = floor((row_number - 1) / capacity) + 1`` in
      deterministic ``doc_id`` order — one hash shuffle on the bucket key.

    Guarantees (each batch, all integer algebra with an exact SQL twin):
    ``members <= capacity``, padded cost ``members * cap_len <=
    token_budget`` whenever ``cap_len <= token_budget`` — and therefore the
    raw token sum fits the budget too; batch ids are dense from 1.  When a
    bucket's ``cap_len`` exceeds the budget, capacity clamps to 1 and every
    document in that bucket is its own batch — in particular a document
    longer than ``token_budget`` always lands alone (its batch total then
    exceeds the budget by exactly that document's own length, the
    unavoidable case).  Scale: one shuffle; buckets are ~log2(max_len)
    partitions, so pre-shard by a hash of ``doc_id`` (as in
    :func:`pack_sequences`) if a single bucket dominates a huge corpus.
    """
    from pyspark.sql import Window as W

    df = df.filter(F.col("doc_id").isNotNull())  # see pack_sequences
    n = F.col(length_col).cast("long")
    bucket = (F.length(F.bin(n)) - 1).alias("bucket")
    base = df.select(F.col("doc_id"), n.alias("n_tokens"), bucket).filter(
        F.col("n_tokens") > 0
    )
    cap_len = F.expr("shiftleft(CAST(1 AS BIGINT), bucket + 1)") - 1
    capacity = F.greatest(
        F.lit(1).cast("long"), F.floor(F.lit(token_budget) / cap_len)
    )
    rn = F.row_number().over(W.partitionBy("bucket").orderBy("doc_id"))
    return base.withColumn(
        "batch_in_bucket",
        (F.floor((rn - 1) / capacity) + 1).cast("long"),
    )


def length_bucket_batches_oracle_sql(
    table: str, length_expr: str, token_budget: int
) -> str:
    """DuckDB twin of :func:`length_bucket_batches` — same bucket /
    padding-ceiling / capacity integer chain, same ``doc_id`` order."""
    return f"""
WITH base AS (
  SELECT doc_id, CAST({length_expr} AS BIGINT) AS n_tokens,
         length(bin(CAST({length_expr} AS BIGINT))) - 1 AS bucket
  FROM {table}
  WHERE CAST({length_expr} AS BIGINT) > 0 AND doc_id IS NOT NULL
),
numbered AS (
  SELECT *,
    greatest(CAST(1 AS BIGINT),
             CAST(floor({token_budget} /
                  ((CAST(1 AS BIGINT) << (bucket + 1)) - 1)) AS BIGINT))
      AS capacity,
    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM base
)
SELECT doc_id, n_tokens, bucket,
       CAST(floor((rn - 1) / capacity) + 1 AS BIGINT) AS batch_in_bucket
FROM numbered
"""
