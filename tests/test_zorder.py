"""Z-order layout: bijection correctness + the data-skipping payoff."""

from __future__ import annotations


import pyarrow.parquet as pq
from pyspark.sql import functions as F

from foresttime_builder_spark.operators.layout import zorder_key


def _unzorder(z: int, bits: int = 16) -> tuple[int, int]:
    x = y = 0
    for i in range(bits):
        x |= ((z >> (2 * i)) & 1) << i
        y |= ((z >> (2 * i + 1)) & 1) << i
    return x, y


def test_zorder_key_is_the_morton_bijection(spark):
    n = 32  # full 5-bit grid: 1024 points
    df = spark.range(0, n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    rows = df.select("x", "y", zorder_key(F.col("x"), F.col("y"), bits=5).alias("z")).collect()
    zs = [r["z"] for r in rows]
    assert len(set(zs)) == n * n  # injective on the grid
    assert min(zs) == 0 and max(zs) == n * n - 1  # onto [0, 4^bits)
    for r in rows:
        assert _unzorder(r["z"], 5) == (r["x"], r["y"])  # invertible


def test_zorder_tightens_rowgroup_stats_on_both_dims(spark, tmp_path):
    """Lay the same 2-D grid out (a) sorted by x and (b) in z-order, with
    identical 256-row parquet row groups, and compare min/max statistics:
    x-sorting leaves y's per-group range at the full domain (a filter on
    y can never skip); z-ordering bounds BOTH columns' ranges at exactly
    one 16x16 quadrant.  (Row-group sizing is done with pyarrow so the
    comparison is deterministic — Spark's AQE may coalesce adjacent range
    partitions, which only changes file boundaries, not the curve.)"""
    import pyarrow as pa

    n = 64
    grid = spark.range(0, n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )

    def rowgroup_ranges(pdf, col):
        f = str(tmp_path / f"t_{col}_{len(pdf)}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf), f, row_group_size=256)
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        return [
            md.row_group(g).column(idx).statistics.max
            - md.row_group(g).column(idx).statistics.min
            for g in range(md.num_row_groups)
        ]

    xsorted = grid.orderBy("x", "y").toPandas()
    zsorted = (
        grid.withColumn("z", zorder_key(F.col("x"), F.col("y"), bits=6))
        .orderBy("z")
        .drop("z")
        .toPandas()
    )

    # x-sort: x tight (256 rows = 4 full columns), y spans everything
    assert max(rowgroup_ranges(xsorted, "x")) <= 4
    assert max(rowgroup_ranges(xsorted, "y")) == n - 1
    # z-order: every 256-row group is one 16x16 quadrant — BOTH bounded
    assert max(rowgroup_ranges(zsorted, "x")) == 15
    assert max(rowgroup_ranges(zsorted, "y")) == 15
