"""Numeric data profiling: exact equi-width histograms.

The table-profiling primitive (column distribution before building
layouts, choosing bucket counts, spotting skew): min/max-driven
equi-width buckets with EXACT integer boundary arithmetic, so two
engines — and two runs — agree bit-for-bit.

Exactness: values are quantized to scaled BIGINTs by the caller-chosen
``scale`` (e.g. 100 for cents) BEFORE any arithmetic; width and bucket
index are then ``ceil``/``floor`` over the SAME IEEE double division in
both engines (long/long `/` is double division in Spark and DuckDB
alike), so the engines agree bit-for-bit — the usual identical-ops
class, not exact integer math.  For scaled ranges beyond 2^53 the
division itself can round; the bucket index is clamped to
``n_buckets - 1`` in both engines so even that regime cannot emit an
out-of-range bucket.

Scale shape (100 TB): one map-side-combined aggregate for the 1-row
(min, max) stats, broadcast back (benign 1-row BNLJ, the repo's totals
convention), then one groupBy over at most ``n_buckets`` keys.  Two
scans of a single pruned column; both whole-stage-codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from foresttime_builder_spark.functions.encoding import (
    fixed,
    fixed_sql,
    hash60,
    hash60_sql,
)

__all__ = [
    "numeric_histogram",
    "numeric_histogram_oracle_sql",
    "equidepth_histogram",
    "equidepth_histogram_oracle_sql",
    "equidepth_histogram_sampled",
    "equidepth_histogram_sampled_oracle_sql",
]


def _check(n_buckets: int, scale: int) -> None:
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")


def numeric_histogram(
    df: DataFrame, value_col: str, n_buckets: int = 20, scale: int = 100
) -> DataFrame:
    """Equi-width histogram of ``value_col`` (NULLs excluded).

    Returns ``(bucket, lo, hi, n_rows)`` where ``lo``/``hi`` are the
    bucket's inclusive/exclusive scaled-integer bounds (value * scale,
    floored) and ``bucket`` runs 0..n_buckets-1 (empty buckets are not
    emitted — the output is sparse, like everything else in the gate).
    """
    _check(n_buckets, scale)
    v = F.floor(F.col(value_col) * scale).cast("long")
    base = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    stats = base.agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    width = F.ceil((F.col("_hi") - F.col("_lo") + 1) / n_buckets).cast(
        "long"
    )
    return (
        base.crossJoin(F.broadcast(stats))  # 1-row stats: benign BNLJ
        .withColumn("_w", width)
        .withColumn(
            "bucket",
            F.least(
                F.floor((F.col("_v") - F.col("_lo")) / F.col("_w")),
                F.lit(n_buckets - 1),
            ).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.min(F.col("_lo") + F.col("bucket") * F.col("_w"))
            .cast("long")
            .alias("lo"),
            F.min(F.col("_lo") + (F.col("bucket") + 1) * F.col("_w"))
            .cast("long")
            .alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def numeric_histogram_oracle_sql(
    value_col: str, table: str, n_buckets: int = 20, scale: int = 100
) -> str:
    """DuckDB twin of :func:`numeric_histogram` — identical integer
    width/bucket arithmetic."""
    _check(n_buckets, scale)
    return f"""
WITH base AS (
  SELECT CAST(floor({value_col} * {scale}) AS BIGINT) AS v
  FROM {table} WHERE {value_col} IS NOT NULL
), stats AS (
  SELECT min(v) AS lo, max(v) AS hi,
         CAST(ceil((max(v) - min(v) + 1) / {n_buckets}.0) AS BIGINT) AS w
  FROM base
)
SELECT CAST(least(floor((v - stats.lo) / (1.0 * stats.w)),
                  {n_buckets - 1}) AS INTEGER) AS bucket,
       CAST(min(stats.lo + least(floor((v - stats.lo) / (1.0 * stats.w)),
                                 {n_buckets - 1}) * stats.w)
            AS BIGINT) AS lo,
       CAST(min(stats.lo + (least(floor((v - stats.lo) / (1.0 * stats.w)),
                                  {n_buckets - 1}) + 1)
                * stats.w) AS BIGINT) AS hi,
       CAST(count(*) AS BIGINT) AS n_rows
FROM base CROSS JOIN stats
GROUP BY 1
"""


def equidepth_histogram(
    df: DataFrame, value_col: str, id_col: str, n_buckets: int = 20,
    scale: int = 100,
) -> DataFrame:
    """Equi-depth (equal-height) histogram — the optimizer's histogram:
    ``ntile`` over the scaled values splits the rows into ``n_buckets``
    near-equal groups; each bucket reports its inclusive lo/hi bounds
    and row count.  Tie rows are assigned deterministically by the
    ``(value, id)`` total order, so engines agree exactly.

    Scale note: the ntile window is a GLOBAL sort — the honest cost of
    an exact equi-depth histogram (both engines pay it).  At 100 TB use
    the sampled variant: equi-depth over a hash-sampled fraction bounds
    per-bucket error by the usual quantile-sketch analysis while sorting
    only the sample.
    """
    _check(n_buckets, scale)
    from pyspark.sql import Window as _W

    v = F.floor(F.col(value_col) * scale).cast("long")
    base = df.select(
        v.alias("_v"), F.col(id_col).alias("_id")
    ).filter(F.col("_v").isNotNull())
    w = _W.orderBy("_v", "_id")
    return (
        base.withColumn("bucket", F.ntile(n_buckets).over(w))
        .groupBy("bucket")
        .agg(
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .select(F.col("bucket").cast("int"), "lo", "hi", "n_rows")
    )


def equidepth_histogram_oracle_sql(
    value_col: str, id_col: str, table: str, n_buckets: int = 20,
    scale: int = 100,
) -> str:
    """DuckDB twin of :func:`equidepth_histogram` — identical ntile over
    the identical (value, id) total order."""
    _check(n_buckets, scale)
    return f"""
WITH base AS (
  SELECT CAST(floor({value_col} * {scale}) AS BIGINT) AS v, {id_col} AS id
  FROM {table} WHERE {value_col} IS NOT NULL
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       min(v) AS lo, max(v) AS hi,
       CAST(count(*) AS BIGINT) AS n_rows
FROM (SELECT v, ntile({n_buckets}) OVER (ORDER BY v, id) AS bucket FROM base)
GROUP BY bucket
"""


def _estimate_rows(df: DataFrame) -> int:
    """Plan-time row estimate for the sample-size guard: Catalyst's
    optimized-plan statistics when the plan carries a row count (parquet
    scans with size stats do), else one count() job — which executes the
    upstream plan, so the stats path is tried first."""
    try:
        opt = df._jdf.queryExecution().optimizedPlan().stats()
        rc = opt.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        pass
    return df.count()


def equidepth_histogram_sampled(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_buckets: int = 20,
    scale: int = 100,
    fraction: float = 0.1,
    max_sample_rows: int = 50_000_000,
) -> DataFrame:
    """Equi-depth histogram over a DETERMINISTIC hash sample — the 100 TB
    variant :func:`equidepth_histogram`'s docstring promises: the exact
    form's ntile is a global sort of every row; this sorts only the
    ``fraction`` of rows whose md5-derived ``hash60('edh:' || id)`` falls below
    the threshold (content-independent, identical in both engines, stable
    under appends/repartitioning — the `split_assign` convention).

    Returns ``(bucket, lo, hi, n_sample, n_est)``: per-bucket scaled
    bounds observed IN THE SAMPLE, the sample count, and
    ``n_est = floor(n_sample / fraction + 0.5)`` — the unbiased total
    estimate.  Error bound (standard sampling-quantile analysis): with
    ``m`` sampled rows total, each bucket boundary's RANK error is
    O(sqrt(m)) with high probability, i.e. the relative depth error per
    bucket is ~``n_buckets / sqrt(m)``; pick ``fraction`` so
    ``m >= (n_buckets / eps)^2`` for eps relative error.  NULL ids hash
    like the string 'NULL'-less empty digest (md5 of NULL is NULL →
    excluded) — NULL-id rows are dropped on BOTH engine sides.

    The ntile is a single-task global sort OF THE SAMPLE — bounded by
    design when ``fraction`` follows the error formula, but nothing used
    to enforce it (``fraction=0.1`` over 100 TB is a 10 TB single task).
    The guard (the dedup candidate-budget pattern): a plan-time row
    estimate × ``fraction`` above ``max_sample_rows`` raises, naming the
    largest safe fraction.  50M sampled rows ≈ 800 MB of (long, id, hash)
    in one task — generous for any executor this engine targets; lower it
    for small-memory clusters, raise it knowingly.
    """
    _check(n_buckets, scale)
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    n_rows = _estimate_rows(df)
    if n_rows * fraction > max_sample_rows:
        safe = max_sample_rows / n_rows
        raise ValueError(
            f"equidepth_histogram_sampled: fraction={fraction} over "
            f"~{n_rows} input rows projects ~{int(n_rows * fraction)} "
            f"sampled rows through the single-task ntile sort, above "
            f"max_sample_rows={max_sample_rows}.  Use fraction <= "
            f"{safe:.2e} (error/bucket ~ n_buckets/sqrt(m) still holds "
            f"down to m={max_sample_rows}), or raise max_sample_rows if "
            f"your executors can sort that in one task."
        )
    from pyspark.sql import Window as _W

    cut = int(fraction * float((1 << 60) - 1))
    h = hash60(F.concat(F.lit("edh:"), F.col(id_col).cast("string")))
    v = F.floor(F.col(value_col) * scale).cast("long")
    base = (
        df.select(v.alias("_v"), F.col(id_col).alias("_id"), h.alias("_h"))
        .filter(F.col("_v").isNotNull() & (F.col("_h") <= cut))
    )
    w = _W.orderBy("_v", "_id")
    return (
        base.withColumn("bucket", F.ntile(n_buckets).over(w))
        .groupBy("bucket")
        .agg(
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_sample"),
        )
        .select(
            F.col("bucket").cast("int"),
            "lo",
            "hi",
            "n_sample",
            fixed(F.col("n_sample") / fraction, 0).alias("n_est"),
        )
    )


def equidepth_histogram_sampled_oracle_sql(
    value_col: str,
    id_col: str,
    table: str,
    n_buckets: int = 20,
    scale: int = 100,
    fraction: float = 0.1,
) -> str:
    """DuckDB twin of :func:`equidepth_histogram_sampled` — identical md5
    hash threshold, ntile order, and estimate arithmetic.  The divisor is
    CAST to DOUBLE explicitly: a bare ``0.1`` literal parses as DECIMAL,
    and an engine dividing decimals EXACTLY would round a quotient landing
    on a ``.5`` boundary apart from Spark's IEEE division (e.g. 7/0.56:
    exact 12.5 → 13, IEEE 12.4999… → 12).  Measured DuckDB 1.0 happens to
    promote DECIMAL ``/`` to DOUBLE anyway; the CAST pins that behavior
    instead of relying on it (boundary test in ``tests/test_profile.py``)."""
    _check(n_buckets, scale)
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    cut = int(fraction * float((1 << 60) - 1))
    h = hash60_sql(f"'edh:' || CAST({id_col} AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT CAST(floor({value_col} * {scale}) AS BIGINT) AS v, {id_col} AS id
  FROM {table}
  WHERE {value_col} IS NOT NULL AND {h} <= {cut}
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       min(v) AS lo, max(v) AS hi,
       CAST(count(*) AS BIGINT) AS n_sample,
       {fixed_sql(f"count(*) / CAST({fraction!r} AS DOUBLE)", 0)} AS n_est
FROM (SELECT v, ntile({n_buckets}) OVER (ORDER BY v, id) AS bucket FROM base)
GROUP BY bucket
"""
