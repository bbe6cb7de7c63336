"""Bucketed / co-partitioned storage layout for fact tables.

At 100 TB the dominant cost of the fact-fact joins (orders ⋈ lineitem here;
PLOT ⋈ TREE ⋈ COND in the FIA pipeline, `R/fia_tidy.R:83-88`) is the
shuffle. Writing both sides bucketed on the join key with the *same bucket
count* makes the join exchange-free: each scan task reads bucket *i* of both
tables, so a 1000-executor sort-merge join runs with zero network transfer.
``sortBy`` on the same key additionally lets the merge join skip its sort.

The writer repartitions by the bucket expression first so every bucket is
written by exactly one task — one file per bucket, which is both the
small-files fix and the precondition for Spark to trust the ``sortBy``
order at read time.

For the FIA workload the recommended layout is::

    write_bucketed(tree_panel, "tree_panel",  path,
                   bucket_cols=["plot_ID"], num_buckets=1024,
                   sort_cols=["plot_ID", "tree_ID", "YEAR"])

which gives shuffle-free tree-window stages
(tree_ID is plot-prefixed, so plot_ID bucketing co-locates every window
partition; SURVEY §3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` as an external bucketed parquet table registered in the
    session catalog under ``name``; returns the catalog-backed DataFrame."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .saveAsTable(name)
    )
    return spark.table(name)


def co_bucketed_join(
    spark: SparkSession,
    left_name: str,
    right_name: str,
    left_on: str,
    right_on: str,
) -> DataFrame:
    """Inner-join two co-bucketed catalog tables on their bucket keys. With
    equal bucket counts Catalyst plans this without any Exchange."""
    left, right = spark.table(left_name), spark.table(right_name)
    return left.join(right, on=left[left_on] == right[right_on], how="inner")
