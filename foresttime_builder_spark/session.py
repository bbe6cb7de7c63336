"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen so
the same logical plans scale to a multi-executor cluster: AQE handles runtime
coalescing and skew joins, shuffle partitions default to the core count
(overridable for real clusters), and Arrow is enabled for the few pandas-UDF
paths.

A new driver JVM starts from a dynamic class-data-sharing archive kept
under ``~/.cache/foresttime_builder_spark/`` (140-200 MB): the first
process on a host writes it at JVM exit, later ones load it and start in
about 6 s instead of 10 s, and ``cds_plan`` switches it off when the Spark
conf dir holds real files or the cache cannot be written; deleting the
directory resets it.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import sys
import uuid
from typing import NamedTuple

from pyspark.sql import SparkSession

#: persistent and per user: the archive must outlive the process that
#: wrote it, so neither TMPDIR nor spark.local.dir (callers delete both)
CDS_CACHE = os.path.join(os.path.expanduser("~"), ".cache", "foresttime_builder_spark")
#: the dumping JVM otherwise prints ``[warning][cds]`` lines (signed jars,
#: preload warnings) into the caller's output
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: first bytes of a JDK dynamic archive; the JVM writes its header last,
#: so a dump cut off before the end does not start with them
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")


class CdsPlan(NamedTuple):
    """How a new driver JVM uses class-data sharing."""

    choice: str  # "use", "dump" or "off"
    reason: str
    java_options: str = ""  # for spark.driver.defaultJavaOptions
    adopt: str | None = None  # a finished dump to move to the archive first


def cds_plan(
    conf_names: list[str] | None,
    cache_writable: bool,
    archive_exists: bool,
    finished_dump: str | None,
    archive: str,
    dump: str,
) -> CdsPlan:
    """The class-data-sharing choice for one JVM launch.

    ``conf_names`` lists the Spark conf dir (None: it does not exist).  It
    is on the JVM's classpath, and a dump fails at exit when a classpath
    directory is not empty, so the launch sees an empty stand-in instead;
    that is only faithful while the real one holds nothing but
    ``*.template`` files.  ``finished_dump`` is a per-process dump whose
    writer has exited; ``dump`` is where this launch would write its own.
    A stale or corrupt archive needs no case here: the JVM's default
    ``-Xshare:auto`` starts without it, and ``_get_or_launch`` relaunches
    without the options a JVM that did not come up with them."""
    real = [n for n in conf_names or () if not n.endswith(".template")]
    if real:
        return CdsPlan("off", f"spark conf dir holds {sorted(real)[0]}")
    if not cache_writable:
        return CdsPlan("off", "cache dir not writable")
    use = f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}"
    if archive_exists:
        return CdsPlan("use", "archive present", use)
    if finished_dump:
        return CdsPlan("use", "adopted a finished dump", use, finished_dump)
    return CdsPlan("dump", "no archive yet", f"-XX:ArchiveClassesAtExit={dump} {_CDS_QUIET}")


def _cds_key(spark_home: str) -> str:
    """The JVM the launcher starts, the Spark version and the jars on its
    classpath: an archive loads only under the ones that wrote it."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java"))
    )
    try:
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
    except OSError:
        release = ""
    jars = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(os.path.join(spark_home, "jars"))
        if e.name.endswith(".jar")
    )
    blob = json.dumps([os.path.realpath(java_home), release, pyspark.__version__, jars])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except OSError:
            pass


def _writing(pid_file: str, part: str) -> bool:
    """Whether the JVM named in ``pid_file`` still runs, dumping to ``part``
    (a reused pid runs another command line)."""
    try:
        with open(pid_file) as f:
            pid = int(f.read())
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return part.encode() in f.read()
    except (OSError, ValueError):
        return False


def _finished_dumps(key: str) -> list[str]:
    """Per-process dumps whose writer has exited after writing a whole
    archive; what an exited writer left unfinished is deleted."""
    done = []
    for pid_file in sorted(glob.glob(os.path.join(CDS_CACHE, f"cds-{key}.*.pid"))):
        part = pid_file[: -len(".pid")] + ".jsa.part"
        if _writing(pid_file, part):
            continue
        try:
            with open(part, "rb") as f:
                whole = f.read(len(_CDS_MAGIC)) == _CDS_MAGIC
        except OSError:
            whole = False
        if whole:
            done.append(part)
        else:
            _remove(part, pid_file)
    return done


def _cache_writable() -> bool:
    try:
        os.makedirs(os.path.join(CDS_CACHE, "conf"), exist_ok=True)
    except OSError:
        return False
    return os.access(CDS_CACHE, os.W_OK)


def _cds_prepare(conf_env: str | None) -> tuple[CdsPlan, str, str, str]:
    """``cds_plan`` over what the cache and the Spark conf dir hold, with a
    finished dump moved into place when the plan adopts one; also the
    archive key, the archive path and this launch's dump stem."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = conf_env or os.path.join(spark_home, "conf")
    key = _cds_key(spark_home)
    archive = os.path.join(CDS_CACHE, f"cds-{key}.jsa")
    stem = os.path.join(CDS_CACHE, f"cds-{key}.{uuid.uuid4().hex[:12]}")
    writable = _cache_writable()
    finished = _finished_dumps(key) if writable else []
    plan = cds_plan(
        os.listdir(conf_dir) if os.path.isdir(conf_dir) else None,
        writable,
        os.path.isfile(archive),
        finished[0] if finished else None,
        archive,
        stem + ".jsa.part",
    )
    for part in finished:  # one becomes the archive, unless it exists
        if part == plan.adopt:
            try:
                os.replace(part, archive)
            except OSError:
                pass  # a concurrent launch adopted it first
        _remove(part, part[: -len(".jsa.part")] + ".pid")
    return plan, key, archive, stem


def _get_or_launch(builder: SparkSession.Builder) -> SparkSession:
    """``builder.getOrCreate()``.  When that launches the driver JVM, the
    launch takes ``cds_plan``'s options, and the choice goes to stderr as
    one JSON line.

    The options go in ``spark.driver.defaultJavaOptions``: a
    ``--driver-java-options`` in ``PYSPARK_SUBMIT_ARGS`` replaces
    ``extraJavaOptions``.  Only the launch sees the empty stand-in conf
    dir.  A JVM that does not come up with the options is launched again
    without them; an archive it could not start from is deleted (one cut
    short after its header crashes the JVM, which ``-Xshare:auto`` does
    not absorb)."""
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError

    if SparkContext._gateway is not None:  # the JVM runs already
        return builder.getOrCreate()
    # read only to honour it: it names the conf dir the launcher would use
    conf_env = os.environ.get("SPARK_CONF_DIR")
    key = archive = stem = ""
    try:
        plan, key, archive, stem = _cds_prepare(conf_env)
    except OSError as e:
        plan = CdsPlan("off", f"cache set-up failed: {e}")
    if not plan.java_options:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.defaultJavaOptions", plan.java_options)
        os.environ["SPARK_CONF_DIR"] = os.path.join(CDS_CACHE, "conf")
        try:
            spark = builder.getOrCreate()
        except PySparkRuntimeError as e:
            if e.getErrorClass() != "JAVA_GATEWAY_EXITED":
                raise
            if plan.choice == "use":
                _remove(archive)
            plan = CdsPlan("off", f"the JVM did not start with {plan.choice}")
        finally:
            if conf_env is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = conf_env
        if plan.choice == "off":
            spark = builder.config("spark.driver.defaultJavaOptions", "").getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None)
    if plan.choice == "dump" and proc is not None:
        # names the writer, so later launches adopt the dump only after it
        # exits (the JVM writes the archive at exit)
        try:
            with open(stem + ".pid.tmp", "w") as f:
                f.write(str(proc.pid))
            os.replace(stem + ".pid.tmp", stem + ".pid")
        except OSError:
            pass
    print(
        json.dumps(
            {"event": "session.cds", "choice": plan.choice, "reason": plan.reason,
             "key": key, "archive": archive}
        ),
        file=sys.stderr,
        flush=True,
    )
    return spark


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
    data_bytes: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    # one shuffle partition per core of a local master
    local = re.fullmatch(r"local\[(\d+)\]", master)
    shuffle_partitions = int(local.group(1)) if local else cpus
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
        # let AQE re-plan CACHED plans too (off by default): with this off
        # a cache pins the full initialPartitionNum on a fixture-sized
        # input.  The one measurement (q51, 32-512 tasks over 92 rows,
        # 5.8 s -> 4.8 s at sf0.1) predates the single-pass run_states,
        # which persists nothing.  Today's persist sites are the pair
        # family's docsets and masks (operators/dedup.py), the dsir,
        # substr, sketch and graph intermediates, and the q27/q52
        # panels in plans/queries/fia.py; neither the gain on them nor
        # the cost is re-measured.  The cost is exchange reuse lost to
        # output-partitioning changes, and it can apply:
        # token_jaccard_pairs' persisted docsets feed both sides of its
        # verification join.  Unverified either way.  The CPU-dense floor
        # below still bounds how far cached stages coalesce.
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
    spark = _get_or_launch(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark
