"""infra benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, functions as F
from foresttime_builder_spark.functions.encoding import (
    fixed,
    fixed_sql,
    hash60,
    hash60_sql,
)
from foresttime_builder_spark.sources import load_table

from foresttime_builder_spark.plans.queries._shared import QuerySpec


def q43_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join routed through the co-bucketed parquet layout
    (sources.bucketing): both sides bucketed on the order key, so the join
    plans with zero shuffle Exchange at any scale. The oracle verifies the
    bucketed round-trip preserves the join result."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from foresttime_builder_spark.sources.bucketing import (
        co_bucketed_join,
        write_bucketed,
    )

    # Layout location keyed on the source directory and the process:
    # repeated invocations in one process (bench loops) reuse the bucketed
    # copy, and the key suffix on the catalog names keeps a session pointed
    # at different sf dirs from colliding.  The catalog lives in memory, so
    # a new process rewrites the copy anyway; the pid keeps concurrent
    # processes from overwriting each other's files, and the copy is
    # removed when the process exits.
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    tmp = os.path.join(tempfile.gettempdir(), f"ftb_q43_{key}_{os.getpid()}")
    if not os.path.isdir(tmp):
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    orders_tbl = f"ftb_q43_orders_{key}"
    lineitem_tbl = f"ftb_q43_lineitem_{key}"
    for tbl, src, path, cols, sort_cols in (
        (orders_tbl, "orders", f"{tmp}/orders", ["o_orderkey"], None),
        (
            lineitem_tbl,
            "lineitem",
            f"{tmp}/lineitem",
            ["l_orderkey"],
            ["l_orderkey", "l_linenumber"],
        ),
    ):
        if not (spark.catalog.tableExists(tbl) and os.path.isdir(path)):
            write_bucketed(
                load_table(spark, sf_dir, src),
                tbl,
                path,
                cols,
                num_buckets=8,
                sort_cols=sort_cols,
            )
    j = co_bucketed_join(spark, orders_tbl, lineitem_tbl, "o_orderkey", "l_orderkey")
    return j.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").alias("year"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # per-row e2 quantize -> exact BIGINT sum: a double sum of
        # 1e8-magnitude products is summation-order-dependent in its last
        # ulp, which e2 flooring then exposes as off-by-one cross-engine
        F.sum(
            fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        ).cast("long").alias("revenue_e2"),
    )

ORACLE_Q43 = f"""
SELECT o_orderpriority AS priority, year(o_orderdate) AS year,
       count(*) AS n_rows,
       CAST(sum({fixed_sql('l_extendedprice * (1 - l_discount)', 2)}) AS BIGINT)
         AS revenue_e2
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1, 2
"""

def q44_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient two-stage aggregation (operators.skew.salted_agg):
    l_returnflag has 3 values over the whole fact table — the worst-case hot
    key — so the salt spreads each key over 16 reducers before merging.
    sum(l_quantity) is integer-valued, hence order-insensitive and exact
    against the single-stage oracle."""
    from foresttime_builder_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", F.col("l_quantity")),
            "n_items": ("count", F.lit(1)),
            "min_price": ("min", F.col("l_extendedprice")),
            "max_price": ("max", F.col("l_extendedprice")),
        },
        salt=16,
        salt_from=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag",
        fixed("sum_qty", 2).alias("sum_qty_e2"),
        "n_items",
        fixed("min_price", 2).alias("min_price_e2"),
        fixed("max_price", 2).alias("max_price_e2"),
    )

ORACLE_Q44 = f"""
SELECT l_returnflag,
       {fixed_sql('sum(l_quantity)', 2)} AS sum_qty_e2,
       count(*) AS n_items,
       {fixed_sql('min(l_extendedprice)', 2)} AS min_price_e2,
       {fixed_sql('max(l_extendedprice)', 2)} AS max_price_e2
FROM lineitem
GROUP BY l_returnflag
"""

def q45_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient equi-join (operators.skew.salted_join): the orders
    side is replicated 8× with an explicit salt and lineitem scattered by a
    deterministic row-hash salt, so a hot order key cannot pin one reducer.
    Result identical to the plain join; aggregated for a stable gate."""
    from foresttime_builder_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(
        li, o, ["l_orderkey"], salt=8, salt_from=["l_orderkey", "l_linenumber"]
    )
    return j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        fixed(F.sum("l_quantity"), 2).alias("sum_qty_e2"),
        F.count(F.lit(1)).alias("n_rows"),
    )

ORACLE_Q45 = f"""
SELECT o_orderpriority AS priority,
       {fixed_sql('sum(l_quantity)', 2)} AS sum_qty_e2,
       count(*) AS n_rows
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""

def q49_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental merge/upsert (operators.upsert.merge_latest): events up to
    Jan 15 form the base state, later events are the update batch; one row
    per (user_id, event_type) with the newest (ts, event_id) wins — the
    idempotent batch analog of the reference's overwrite-and-rerun refresh."""
    from foresttime_builder_spark.operators.upsert import merge_latest

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    cutoff = "2024-01-15 00:00:00"
    base = ev.filter(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
    updates = ev.filter(F.col("ts") > F.lit(cutoff).cast("timestamp"))
    merged = merge_latest(
        base, updates, keys=["user_id", "event_type"],
        version_col="ts", tie_break=["event_id"],
    )
    return merged.select(
        "user_id",
        "event_type",
        "event_id",
        fixed("value", 4).alias("last_value_e4"),
    )

ORACLE_Q49 = f"""
SELECT user_id, event_type, event_id,
       {fixed_sql('value', 4)} AS last_value_e4
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  -- ts IS NOT NULL: the Spark side's base/updates cutoff split excludes
  -- NULL-version rows by construction (NULL <= cutoff and NULL > cutoff
  -- are both false) — a row with no version cannot win a merge anyway
  FROM events WHERE ts IS NOT NULL
) t
WHERE rn = 1
"""

def q66_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink+source round trip (`sources/jsonl.py`): write the corpus
    as sharded newline-JSON, re-read it under the pinned schema, and
    aggregate with an order-insensitive 60-bit content signature.  The
    oracle reads the original parquet — the gate therefore proves the
    JSONL round trip is byte-faithful."""
    import tempfile

    from foresttime_builder_spark.sources.jsonl import read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="q66_jsonl_")
    write_jsonl(d, path)
    r = read_jsonl(
        spark,
        path,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.bit_xor(hash60("text")).alias("content_sig"),
    )

ORACLE_Q66 = f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       bit_xor({hash60_sql('text')}) AS content_sig
FROM documents GROUP BY lang
"""

def q70_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned readback: write
    the corpus partitioned by ``lang``, re-read only the ``en`` partition
    (the scan must touch one directory, not one-fifth of every file), and
    prove fidelity with the same content signature as q66.  Oracle reads
    the original parquet WHERE lang = 'en'."""
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="q70_part_")
    d.write.partitionBy("lang").mode("overwrite").parquet(path)
    r = spark.read.parquet(path).filter(F.col("lang") == "en")
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.bit_xor(hash60("text")).alias("content_sig"),
    )

ORACLE_Q70 = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       bit_xor({hash60_sql('text')}) AS content_sig
FROM documents WHERE lang = 'en' GROUP BY source
"""

def q75_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over two document dimensions —
    the multi-column data-skipping layout (Delta OPTIMIZE ZORDER /
    Iceberg z-rewrite family; `operators/layout.zorder_key`).  The gate
    pins the interleaving bit-exactly; the layout test
    (`tests/test_zorder.py`) proves row-group min/max stats tighten on
    BOTH dimensions."""
    from foresttime_builder_spark.operators.layout import zorder_key

    d = load_table(spark, sf_dir, "documents")
    x = F.pmod(F.col("n_chars"), F.lit(1 << 16))
    y = F.pmod(F.col("doc_id"), F.lit(1 << 16))
    return d.select(
        "doc_id",
        x.alias("x"),
        y.alias("y"),
        zorder_key(x, y, bits=16).alias("zkey"),
    )

def _zorder_oracle() -> str:
    from foresttime_builder_spark.operators.layout import zorder_key_sql

    return f"""
WITH t AS (
  SELECT doc_id, n_chars % 65536 AS x, doc_id % 65536 AS y FROM documents
)
SELECT doc_id, x, y, {zorder_key_sql("x", "y", 16)} AS zkey FROM t
"""

def q79_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC (`operators/diff.snapshot_diff`): classify every
    key across two table versions as insert / delete / update — the change
    feed that replaces the reference's overwrite-and-rerun refresh
    (``scripts/state-parquet.R``) for incremental consumers.  Snapshots are
    carved deterministically from `orders`: the "new" version adds 1997
    orders (inserts), drops `o_orderkey % 101 = 0` (deletes), and bumps the
    price cents of `o_orderkey % 97 = 0` (updates).  Scale: both sides
    hash map-side to (key, md5) before the one full-outer shuffle; only
    changed keys are emitted (doubles are pre-normalized to cent bigints —
    the operator's cross-engine hash contract)."""
    from foresttime_builder_spark.operators.diff import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        fixed("o_totalprice", 2).alias("price_e2"),
    )
    old = base.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    new = (
        base.filter(
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("o_orderkey") % 101 != 0)
        )
        .withColumn(
            "price_e2",
            F.col("price_e2")
            + F.when(F.col("o_orderkey") % 97 == 0, F.lit(1)).otherwise(F.lit(0)),
        )
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_orderstatus", "price_e2"]
    )

def _snapshot_diff_oracle() -> str:
    from foresttime_builder_spark.operators.diff import snapshot_diff_oracle_sql

    base = (
        "SELECT o_orderkey, o_orderdate, o_orderstatus, "
        f"{fixed_sql('o_totalprice', 2)} AS price_e2 "
        "FROM orders"
    )
    old_sql = f"SELECT * FROM ({base}) WHERE o_orderdate < DATE '1997-01-01'"
    new_sql = (
        f"SELECT o_orderkey, o_orderdate, o_orderstatus, "
        f"price_e2 + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS price_e2 "
        f"FROM ({base}) "
        f"WHERE o_orderdate < DATE '1998-01-01' AND o_orderkey % 101 != 0"
    )
    return snapshot_diff_oracle_sql(
        old_sql, new_sql, keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "price_e2"],
    )

def q92_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build (`operators/scd.scd2_build`): collapse
    each user's event stream into distinct consecutive event_type runs
    with validity intervals — one shuffle, two stacked windows on the
    same key partitioning."""
    from foresttime_builder_spark.operators.scd import scd2_build

    e = load_table(spark, sf_dir, "events")
    return scd2_build(e, "user_id", "ts", ["event_type"], "event_id")

def _scd2_oracle() -> str:
    from foresttime_builder_spark.operators.scd import scd2_build_oracle_sql

    return scd2_build_oracle_sql(
        "user_id", "ts", ["event_type"], "event_id", "events"
    )

def q93_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (`operators/ivm.incremental_group_sum`):
    a per-user sum/count view is delta-merged from an old to a new
    events snapshot — deletes (event_id % 23 = 3), value updates
    (% 13 = 0), group-moving updates (% 17 = 1), and inserts (% 11 = 0
    absent from old) all in play.  The oracle is a FULL RECOMPUTE over
    the new snapshot: hash-matching it proves the delta algebra."""
    from foresttime_builder_spark.operators.ivm import incremental_group_sum

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("value_e2"),
    )
    old = e.filter(F.col("event_id") % 11 != 0)
    new = (
        e.filter(F.col("event_id") % 23 != 3)
        .withColumn(
            "value_e2",
            F.when(
                F.col("event_id") % 13 == 0, F.col("value_e2") + 100
            ).otherwise(F.col("value_e2")),
        )
        .withColumn(
            "user_id",
            F.when(
                F.col("event_id") % 17 == 1, F.col("user_id") + 1
            ).otherwise(F.col("user_id")),
        )
    )
    return incremental_group_sum(
        old, new, ["event_id"], "user_id", "value_e2"
    )

def _incremental_agg_oracle() -> str:
    from foresttime_builder_spark.operators.ivm import (
        incremental_group_sum_oracle_sql,
    )

    new_sql = """
      SELECT event_id,
             CASE WHEN event_id % 17 = 1 THEN user_id + 1 ELSE user_id END
               AS user_id,
             CASE WHEN event_id % 13 = 0
                  THEN CAST(floor(value * 100) AS BIGINT) + 100
                  ELSE CAST(floor(value * 100) AS BIGINT) END AS value_e2
      FROM events WHERE event_id % 23 <> 3
    """
    return incremental_group_sum_oracle_sql(new_sql, "user_id", "value_e2")

def q97_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events `props` JSON column
    (`get_json_object`, JVM-side SIMD JSON path — no UDF), bucket the
    extracted integer, and aggregate counts + value sums per bucket.
    The analytics-engine table stake for JSON payload columns."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select(
            (F.floor(k / 10) * 10).cast("long").alias("k_bucket"),
            F.floor(F.col("value") * 100).cast("long").alias("value_e2"),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value_e2").cast("long").alias("total_value_e2"),
        )
    )

ORACLE_Q97 = """
-- json_valid guard: DuckDB's json_extract_string ERRORS on malformed
-- JSON ('' or junk), while Spark's get_json_object returns NULL
SELECT CAST(floor(CAST(CASE WHEN json_valid(props)
                 THEN json_extract_string(props, '$.k') END AS INTEGER) / 10)
            * 10 AS BIGINT) AS k_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS total_value_e2
FROM events GROUP BY 1
"""

def q100_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data pipeline END-TO-END: Gopher-style quality gate
    (q85's operator) -> exact dedup keep-smallest (q12's) -> per-source
    quota sampling (q57/q83's) — three gated operators composed the way
    a production curation job chains them.  The oracle replays the
    identical composition in one SQL text, so the gate certifies the
    stage INTERFACES, not just each stage alone."""
    from foresttime_builder_spark.operators.dedup import exact_dedup
    from foresttime_builder_spark.operators.sampling import quota_sample
    from foresttime_builder_spark.operators.text import quality_gate

    d = load_table(spark, sf_dir, "documents")
    gate = quality_gate(d, "doc_id", "text")
    survivors = d.join(
        gate.filter(F.col("passes")).select("doc_id", "n_tokens"), "doc_id"
    )
    keepers = exact_dedup(survivors, "doc_id", "text").select(
        F.col("keep_doc_id").alias("doc_id")
    )
    pool = survivors.join(keepers, "doc_id")
    quotas = (
        pool.select("source").distinct().withColumn("quota", F.lit(10))
    )
    sampled = quota_sample(
        pool.select("doc_id", "source", "n_tokens"), quotas
    )
    return sampled.select("doc_id", "source", "n_tokens", "sample_rank")

def _pipeline_e2e_oracle() -> str:
    from foresttime_builder_spark.operators.text import quality_gate_oracle_sql

    gate = quality_gate_oracle_sql("doc_id", "text", "documents")
    h = hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH gate AS ({gate}),
survivors AS (
  SELECT d.doc_id, d.source, d.text, g.n_tokens
  FROM documents d JOIN gate g USING (doc_id)
  WHERE g.passes
),
keepers AS (
  SELECT min(doc_id) AS doc_id FROM survivors GROUP BY md5(text)
),
pool AS (
  SELECT s.doc_id, s.source, s.n_tokens
  FROM survivors s JOIN keepers USING (doc_id)
),
ranked AS (
  SELECT doc_id, source, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY {h}, doc_id)
           AS sample_rank
  -- source IS NOT NULL mirrors the Spark side's quotas equi-join, which
  -- can never match a NULL mix key
  FROM pool WHERE source IS NOT NULL
)
SELECT doc_id, source, n_tokens, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 10
"""

def q106_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet snapshots written with
    DIFFERENT schemas (v1 lacks ``o_orderstatus``; v2 added it) are read
    back through ``mergeSchema`` — v1 rows surface the new column as
    NULL, exactly how a long-lived table accretes columns in production.
    The oracle recomputes the same aggregate straight from the source
    table with the v1 rows' status nulled, proving the merged read is
    lossless (the q70 fidelity pattern)."""
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        fixed("o_totalprice", 2).alias("price_e2"),
    )
    v1 = o.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey", "price_e2"
    )
    v2 = o.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "price_e2", "o_orderstatus"
    )
    # fixed per-sf scratch path, overwritten each run — mkdtemp() here
    # would leak one orphan temp dir per sweep/gate invocation (cleanup
    # after return is impossible: the result DataFrame reads these files
    # lazily, after this function exits)
    # per-process scratch: overwritten across runs within a process (no
    # per-run mkdtemp leak) but distinct across processes (a concurrent
    # gate + bench pair must not clobber each other's lazily-read files)
    base = os.path.join(
        tempfile.gettempdir(),
        f"q106_evo_scratch_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{os.getpid()}",
    )
    v1.write.mode("overwrite").parquet(f"{base}/v1")
    v2.write.mode("overwrite").parquet(f"{base}/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/v1", f"{base}/v2"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("price_e2").cast("long").alias("total_e2"),
    )

ORACLE_Q106 = f"""
SELECT CASE WHEN year(o_orderdate) = 1996 THEN o_orderstatus END
         AS o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({fixed_sql('o_totalprice', 2)}) AS BIGINT)
         AS total_e2
FROM orders
WHERE year(o_orderdate) IN (1995, 1996)
GROUP BY 1
"""

def q110_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 `pyspark.sql.datasource`,
    `sources/pysource.py`): a deterministic md5-derived synthetic-record
    generator whose `partitions()` fans generation across executors with
    no driver materialization.  Aggregated per lang so the gate hashes a
    stable shape; the oracle regenerates the identical rows from
    generate_series."""
    from foresttime_builder_spark.sources.pysource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    d = (
        spark.read.format("synthetic_docs")
        .option("n_rows", 5000)
        .option("n_partitions", 8)
        .load()
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("score").cast("long").alias("total_score"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )

def _python_datasource_oracle() -> str:
    from foresttime_builder_spark.sources.pysource import (
        synthetic_docs_oracle_sql,
    )

    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score) AS BIGINT) AS total_score,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM ({synthetic_docs_oracle_sql(5000)})
GROUP BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "q43_bucketed_join": QuerySpec(q43_bucketed_join, ORACLE_Q43),
    "q44_salted_skew_agg": QuerySpec(q44_salted_skew_agg, ORACLE_Q44),
    "q45_salted_join": QuerySpec(q45_salted_join, ORACLE_Q45),
    "q49_merge_latest": QuerySpec(q49_merge_latest, ORACLE_Q49),
    "q66_jsonl_roundtrip": QuerySpec(q66_jsonl_roundtrip, ORACLE_Q66),
    "q70_partitioned_sink": QuerySpec(q70_partitioned_sink, ORACLE_Q70),
    "q75_zorder_key": QuerySpec(q75_zorder_key, _zorder_oracle()),
    "q79_snapshot_diff": QuerySpec(q79_snapshot_diff, _snapshot_diff_oracle()),
    "q92_scd2_build": QuerySpec(q92_scd2_build, _scd2_oracle()),
    "q93_incremental_agg": QuerySpec(
        q93_incremental_agg, _incremental_agg_oracle()
    ),
    "q97_json_extract": QuerySpec(q97_json_extract, ORACLE_Q97),
    "q100_pipeline_e2e": QuerySpec(q100_pipeline_e2e, _pipeline_e2e_oracle()),
    "q106_schema_evolution": QuerySpec(q106_schema_evolution, ORACLE_Q106),
    "q110_python_datasource": QuerySpec(
        q110_python_datasource, _python_datasource_oracle()
    ),
}
