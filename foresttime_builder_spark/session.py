"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen so
the same logical plans scale to a multi-executor cluster: AQE handles runtime
coalescing and skew joins, shuffle partitions default to the core count
(overridable for real clusters), and Arrow is enabled for the few pandas-UDF
paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def dir_bytes(path: str) -> int | None:
    """Total on-disk bytes under ``path`` (the cheap proxy for input scale
    that drives the AQE shuffle floor), or None if it doesn't exist."""
    if not os.path.isdir(path):
        return None
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def get_spark(
    app_name: str = "foresttime_builder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    data_bytes: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    if data_bytes is None:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
        if sf_dir:
            data_bytes = dir_bytes(sf_dir)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata parquet uses INT64 TIMESTAMP(NANOS); read as long and
        # convert in sources.readers.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # per-DataFrame-API-call origin tracking costs 3-4 extra JVM round
        # trips per call; the NSVB plan alone makes ~3k API calls
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # whole-stage codegen silently disables above 100 output fields
        # (default spark.sql.codegen.maxFields); the NSVB DAG carries ~250
        # columns through ~30 projection layers, and interpreted eval
        # materializes a full-width row between every layer (measured ~1.5x
        # on the carbon chain). 800 keeps wide analytic plans fused.
        .config("spark.sql.codegen.maxFields", "800")
        # let AQE re-plan CACHED plans too (off by default): the state
        # pipeline persists its interpolated intermediate, and with this
        # off the cache pins the full initialPartitionNum on a fixture-
        # sized input — q51 ran 32-512 tasks over 92 rows (measured 5.8 s
        # -> 4.8 s at sf0.1 with this on).  The CPU-dense floor below
        # still bounds how far cached stages coalesce, and exchange reuse
        # lost to output-partitioning changes is irrelevant here (the
        # persisted intermediates feed column-DAG stages, not re-joins).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # AQE coalescing sizes partitions by BYTES; window/expression-dense
        # stages (annualization: ~10 window passes per row) have huge
        # CPU-per-byte, and the 1 MB default floor collapsed them to ~3
        # partitions — a 3.3x slowdown from idle cores. 16k keeps small
        # CPU-dense stages parallel while still merging true stragglers;
        # at production scale partitions are >= 64 MB and the floor is moot.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        # Shuffle partition count must scale with DATA, not with cores:
        # with a fixed 32, a billion-row aggregate packs ~40M keys into
        # each task's hash map (measured OOM at sf10 in q16's candidate
        # distinct).  Round 6's flat 16x-cores floor fixed that OOM but
        # started EVERY shuffle at 512 partitions, and at sf0.1 (17 MB
        # input) the window-heavy small queries paid real scheduling +
        # coalescing overhead for it (driver bench q21 0.55 -> 1.52 s).
        # So derive the floor from input size when known (~1 initial
        # partition per 3 MB of compressed input, which leaves a >8x
        # shuffle-amplification margin before a task exceeds a 32 MB
        # hash map): sf0.1 (17 MB) starts at the core count exactly as
        # before round 6 (q21 measured back at 0.46 s), while sf10
        # (1.7 GB) starts at ~580 — above the 512 that fixed the OOM
        # (q26 sf10 measured 57-60 s at the 512 floor vs 60-67 s at a
        # trial 435 floor, so the floor is kept at-or-above 512 there).
        # Unknown input size keeps the conservative 16x-cores floor.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                max(
                    shuffle_partitions,
                    min(4096, data_bytes // (3 << 20) + 1)
                    if data_bytes is not None
                    else 16 * cpus,
                )
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
