"""profile benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, functions as F
from foresttime_builder_spark.operators.cache import carry_cache
from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.functions.tokens import words, words_sql
from foresttime_builder_spark.sources import load_table
from foresttime_builder_spark.plans.queries._shared import QuerySpec



def q46_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV (bottom-k) distinct-count sketch over the order
    custkeys (operators.sketch): md5-based, so the APPROXIMATE estimate is
    bit-identical cross-engine and the gate verifies a sketch exactly."""
    from foresttime_builder_spark.operators.sketch import kmv_distinct

    o = load_table(spark, sf_dir, "orders")
    out = kmv_distinct(o, "o_custkey", k=64)
    return carry_cache(
        out.select(
            fixed("est_distinct", 4).alias("est_distinct_e4"),
            "n_exact",
        ),
        out,
    )

def _kmv_oracle() -> str:
    from foresttime_builder_spark.operators.sketch import kmv_oracle_sql

    return (
        f"SELECT {fixed_sql('est_distinct', 4)} "
        "AS est_distinct_e4, n_exact "
        f"FROM ({kmv_oracle_sql('orders', 'o_custkey', k=64)}) z"
    )

def q98_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram (`operators/profile.numeric_histogram`)
    of order totals in cents — all-integer boundary arithmetic, one
    1-row stats broadcast + one bounded groupBy."""
    from foresttime_builder_spark.operators.profile import numeric_histogram

    o = load_table(spark, sf_dir, "orders")
    return numeric_histogram(o, "o_totalprice", n_buckets=16, scale=100)

def _numeric_histogram_oracle() -> str:
    from foresttime_builder_spark.operators.profile import (
        numeric_histogram_oracle_sql,
    )

    return numeric_histogram_oracle_sql(
        "o_totalprice", "orders", n_buckets=16, scale=100
    )

def q107_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (`operators/profile.equidepth_histogram`):
    ntile over the (value, id) total order — the optimizer-style
    histogram complementing q98's equi-width buckets."""
    from foresttime_builder_spark.operators.profile import equidepth_histogram

    o = load_table(spark, sf_dir, "orders")
    return equidepth_histogram(
        o, "o_totalprice", "o_orderkey", n_buckets=12, scale=100
    )

def _equidepth_oracle() -> str:
    from foresttime_builder_spark.operators.profile import (
        equidepth_histogram_oracle_sql,
    )

    return equidepth_histogram_oracle_sql(
        "o_totalprice", "o_orderkey", "orders", n_buckets=12, scale=100
    )

def q115_equidepth_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled equi-depth histogram
    (`operators/profile.equidepth_histogram_sampled`): ntile over a
    deterministic md5-hash 20% sample of (o_totalprice, o_orderkey) — the
    100 TB variant of q107 that sorts only the sample instead of every
    row; per-bucket depth error ~ n_buckets/sqrt(m)."""
    from foresttime_builder_spark.operators.profile import (
        equidepth_histogram_sampled,
    )

    o = load_table(spark, sf_dir, "orders")
    return equidepth_histogram_sampled(
        o, "o_totalprice", "o_orderkey", n_buckets=12, scale=100,
        fraction=0.2,
    )

def _equidepth_sampled_oracle() -> str:
    from foresttime_builder_spark.operators.profile import (
        equidepth_histogram_sampled_oracle_sql,
    )

    return equidepth_histogram_sampled_oracle_sql(
        "o_totalprice", "o_orderkey", "orders", n_buckets=12, scale=100,
        fraction=0.2,
    )

def q117_group_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-size KMV sketch
    (`operators/sketch.kmv_distinct_by`): estimate each source's distinct
    whitespace-token count from its 64 minimum md5 hashes — the mergeable
    per-group cardinality profile `vocabulary_overlap` recommends past a
    few thousand groups, with the exact count alongside so the sketch's
    error is part of the gated output."""
    from foresttime_builder_spark.operators.sketch import kmv_distinct_by

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(words("text", null_as_empty=True)).alias("tok"),
    )
    out = kmv_distinct_by(toks, "source", "tok", k=64, with_exact=True)
    # carry_cache: the operator persists its distinct hash relation across
    # three plan branches; ownership must follow the frame we return
    return carry_cache(
        out.select(
            "source",
            fixed("est_distinct", 4).alias("est_distinct_e4"),
            F.col("n_exact").cast("long").alias("n_exact"),
        ),
        out,
    )

def _group_kmv_oracle() -> str:
    from foresttime_builder_spark.operators.sketch import kmv_by_oracle_sql

    inner = (
        f"(SELECT source, unnest({words_sql('text', null_as_empty=True)})"
        " AS tok FROM documents)"
    )
    return (
        f"SELECT source, {fixed_sql('est_distinct', 4)}"
        " AS est_distinct_e4, CAST(n_exact AS BIGINT) AS n_exact FROM ("
        + kmv_by_oracle_sql(inner, "source", "tok", k=64, with_exact=True)
        + ") z"
    )

def q118_group_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate-ONLY per-group KMV (`operators/sketch.kmv_distinct_by`
    with ``with_exact=False``) — the 100 TB form the operator's docstring
    promises: per-language distinct-token cardinality where the rank
    window sees only ~``oversample*k`` pre-cut hashes per group instead
    of each group's full distinct hash space.  The DuckDB twin ranks the
    FULL space, so the hash gate proves the pre-cut is lossless."""
    from foresttime_builder_spark.operators.sketch import kmv_distinct_by

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(words("text", null_as_empty=True)).alias("tok"),
    )
    out = kmv_distinct_by(toks, "lang", "tok", k=64, with_exact=False)
    return carry_cache(
        out.select(
            "lang",
            fixed("est_distinct", 4).alias("est_distinct_e4"),
        ),
        out,
    )

def _group_kmv_estimate_oracle() -> str:
    from foresttime_builder_spark.operators.sketch import kmv_by_oracle_sql

    inner = (
        f"(SELECT lang, unnest({words_sql('text', null_as_empty=True)})"
        " AS tok FROM documents)"
    )
    return (
        f"SELECT lang, {fixed_sql('est_distinct', 4)}"
        " AS est_distinct_e4 FROM ("
        + kmv_by_oracle_sql(inner, "lang", "tok", k=64, with_exact=False)
        + ") z"
    )


QUERIES: dict[str, QuerySpec] = {
    "q46_kmv_sketch": QuerySpec(q46_kmv_sketch, _kmv_oracle()),
    "q98_numeric_histogram": QuerySpec(
        q98_numeric_histogram, _numeric_histogram_oracle()
    ),
    "q107_equidepth_histogram": QuerySpec(
        q107_equidepth_histogram, _equidepth_oracle()
    ),
    "q115_equidepth_sampled": QuerySpec(
        q115_equidepth_sampled, _equidepth_sampled_oracle()
    ),
    "q117_group_kmv": QuerySpec(q117_group_kmv, _group_kmv_oracle()),
    "q118_group_kmv_estimate": QuerySpec(
        q118_group_kmv_estimate, _group_kmv_estimate_oracle()
    ),
}
