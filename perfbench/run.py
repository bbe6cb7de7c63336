"""Product benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload state_pipeline --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout; the program under test only
ever sees those files.  One process, ``local[N]`` with N =
``SPARK_GRAFT_CPUS`` (default: the CPUs this process may use), and one
client calling in a closed loop: the next call starts after the previous
one's parquet is written.

Workloads (the op is what one closed-loop call does):

- ``state_pipeline``: ``fia_load`` + ``run_states(estimate=True)`` on a
  generated FIA state, CSV bytes to partitioned parquet;
- ``pair_dedup``: q16, q54 and q76 (three Jaccard tiers: bitmask, prefix
  arrays, LSH degrade) on a generated ``documents`` corpus.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (``get_spark``
plus one trivial job in the fresh process) and ``first_run_s`` (the first
op in the fresh process: schema inference, plan build, cold codegen,
execution, write; what one per-state production job pays).  Ops repeat
until they have taken ``--seconds`` together; at ``run_seconds`` 1 that
is the first op alone: on a 4-core host one op costs 30-40 s, and a warm
op on top would put a run well past a minute.

``--trace 1`` runs one traced pass over every layer, the same for either
workload, and prints the per-layer metrics: each workload's operation on
its first call, plus the downstream population/QA reads of the parquet
``run_states`` wrote (see ``flows.traced_pass``).
Its spans go to ``.perfbench_work/trace-<workload>-seed<seed>.json``.

Every output is checked outside the timed calls: each call against the
first call's checksum, a persisted RDD left behind counts as a failure,
and once per run the first call's output against a DuckDB twin or the
registry oracle.  The last stdout line is the result object; the line
before it is the run context (cpus, master, sizes, steal%, versions).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("state_pipeline", "pair_dedup")
#: generated input sizes, cut so that one run (set-up, first call and the
#: oracle checks) stays under a minute: the state from the
#: 250 plots x 20 trees of a production-sized one, the corpus from the
#: sf0.1 corpus's 5,000 documents to the sf0.01 one's 500
N_PLOTS, TREES_PER_PLOT = 60, 10
N_DOCS = 500

END_TO_END = {"setup_s": "s", "first_run_s": "s"}
PER_LAYER = {
    "session.build_s": "s", "session.first_job_s": "s",
    "sources.fia_load_s": "s", "sources.infer_jobs": "count",
    "sources.input_bytes": "B",
    **{f"fia.{st}.{ph}": "s"
       for st in ("tidy", "expand", "interpolate", "mortality")
       for ph in ("build_s", "exec_s")},
    "fia.mortality.probe_jobs": "count", "fia.rows_out": "count",
    "fia.shuffle_write_bytes": "B", "fia.spill_bytes": "B",
    "fia.tasks": "count",
    **{f"carbon.{st}.{ph}": "s"
       for st in ("prep", "estimate") for ph in ("build_s", "exec_s")},
    "carbon.executor_run_s": "s",
    "carbon.estimated_ratio": "ratio",
    "sink.write_s": "s", "sink.jobs": "count", "sink.files": "count",
    "sink.bytes": "B", "sink.bytes_per_row": "B/row",
    "cache.leaked_rdds": "count",
    **{f"population.{q}.{ph}": "s"
       for q in ("simple", "stratified", "sweep")
       for ph in ("build_s", "exec_s")},
    "qa.suite_s": "s", "qa.jobs": "count",
    "population.input_bytes": "B", "population.shuffle_write_bytes": "B",
    **{f"dedup.{q}.{name}": unit
       for q in ("q16", "q54", "q76")
       for name, unit in (("build_s", "s"), ("build_jobs", "count"),
                          ("exec_s", "s"), ("shuffle_write_bytes", "B"),
                          ("spill_bytes", "B"), ("pairs_out", "count"),
                          ("candidates", "count"),
                          ("pairs_per_candidate", "ratio"))},
    "trace.wall_s": "s", "trace.attributed_s": "s",
    "trace.unattributed_s": "s", "trace.overhead_s": "s",
    "trace.harvest_s": "s",
    "jvm.peak_rss_mb": "MB",
}


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> str:
    """The result object; ``values`` must name exactly ``units``' keys."""
    if set(values) != set(units):
        raise KeyError(
            f"metrics mismatch: missing {sorted(set(units) - set(values))}, "
            f"extra {sorted(set(values) - set(units))}")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    })


@dataclass
class LoopResult:
    first_s: float = 0.0
    warm_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def closed_loop(op, checksum, persisted, seconds: float, after_first=None,
                clock=time.perf_counter) -> LoopResult:
    """Call ``op`` until the calls have taken ``seconds`` together (at
    least once).  A call fails if it raises, leaves more persisted RDDs
    than it found (``persisted()``), or its output's ``checksum()``
    differs from the first good call's.  ``after_first()`` runs once,
    untimed, after a good first call (the oracle check of its output)."""
    res, ref = LoopResult(), None
    while True:
        before = persisted()
        t0 = clock()
        try:
            op()
            err = None
        except Exception as e:  # the loop reports the failure and goes on
            err = f"{type(e).__name__}: {e}"
        dt = clock() - t0
        res.attempted += 1
        if err is None and persisted() > before:
            err = "persisted RDDs leaked"
        if err is None:
            cs = checksum()
            if ref is None:
                ref = cs
            elif cs != ref:
                err = "output checksum differs from the first call"
        if err:
            res.failed += 1
            res.errors.append(err)
        if res.attempted == 1:
            res.first_s = dt
            if after_first is not None and err is None:
                after_first()
        else:
            res.warm_s.append(dt)
        if res.first_s + sum(res.warm_s) >= seconds:
            return res


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already inside user time
    return 100.0 * d[7] / total if total > 0 else 0.0


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _configure_env(work: str) -> None:
    """Everything the JVM and Python write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={work}/spark-local",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


class Session:
    """A SparkSession in its own JVM, stopped with the JVM it launched."""

    def __init__(self, data_bytes: int, tracer=None):
        from pyspark import SparkContext

        from foresttime_builder_spark.session import get_spark

        def span(name):
            return tracer.span(name, "session") if tracer else nullcontext()

        t0 = time.perf_counter()
        with span("session.build"):
            self.spark = get_spark(app_name="perfbench", data_bytes=data_bytes)
        with span("session.first_job"):
            self.spark.range(1).count()
        self.setup_s = time.perf_counter() - t0
        self.proc = SparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        return _peak_rss_mb(self.proc.pid)

    def cpu_s(self) -> float:
        return _cpu_s(self.proc.pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _generate(workload: str, seed: int, work: str,
              trace: bool) -> tuple[dict, dict]:
    """The input directories, and the measured properties of the inputs."""
    import gen_docs
    import gen_fia

    dirs = {"csv": os.path.join(work, "state", "csv"),
            "out": os.path.join(work, "state", "out"),
            "docs": os.path.join(work, "docs"),
            "dedup_out": os.path.join(work, "dedup_out")}
    sizes = {"state": {"plots": N_PLOTS, "trees_per_plot": TREES_PER_PLOT}}
    if trace or workload == "state_pipeline":
        gen_fia.write_state(dirs["csv"], seed, N_PLOTS, TREES_PER_PLOT)
    if trace or workload == "pair_dedup":
        rows = gen_docs.build_rows(seed, N_DOCS)
        gen_docs.write_documents(dirs["docs"], rows)
        sizes["docs"] = {"n": N_DOCS, "pair_density": round(
            gen_docs.pair_density(rows), 4)}
    return dirs, sizes


def _untraced(workload: str, seed: int, seconds: float, dirs: dict):
    import checks
    import flows
    from foresttime_builder_spark.session import dir_bytes

    data = dirs["csv"] if workload == "state_pipeline" else dirs["docs"]
    session = Session(dir_bytes(data))
    spark = session.spark
    problems: list[str] = []
    try:
        if workload == "state_pipeline":
            def op():
                flows.state_op(spark, dirs["csv"], dirs["out"])

            def checksum():
                return checks.state_checksums(dirs["out"])

            def validate():
                problems.extend(flows.check_state(dirs["csv"], dirs["out"]))
        else:
            order = flows.dedup_order(seed)

            def op():
                flows.dedup_op(spark, dirs["docs"], dirs["dedup_out"], order)

            def checksum():
                return flows.dedup_checksums(dirs["dedup_out"])

            def validate():
                problems.extend(flows.check_dedup(dirs["docs"],
                                                  dirs["dedup_out"]))

        cpu0 = session.cpu_s()
        loop = closed_loop(op, checksum, lambda: flows.persistent_rdds(spark),
                           seconds, after_first=validate)
        rss, jvm_cpu_s = session.peak_rss_mb(), session.cpu_s() - cpu0
    finally:
        session.stop()
    failed = loop.attempted if problems else loop.failed
    values = {"setup_s": session.setup_s, "first_run_s": loop.first_s}
    # jvm_cpu_s: CPU seconds the JVM spent in the ops (the checks run in
    # DuckDB, in this process)
    notes = {"warm_ops": len(loop.warm_s), "peak_rss_mb": rss,
             "jvm_cpu_s": round(jvm_cpu_s, 2),
             "errors": loop.errors[:5], "problems": problems}
    return not problems and loop.failed == 0, loop.attempted, failed, \
        values, END_TO_END, notes


def _traced(workload: str, seed: int, dirs: dict, work_root: str):
    import flows
    from foresttime_builder_spark.session import dir_bytes
    from spans import StageHarvester, Tracer

    tracer = Tracer(workload)
    session = Session(dir_bytes(dirs["csv"]), tracer)
    spark = session.spark
    tracer.harvester = StageHarvester(spark.sparkContext)
    try:
        facts, problems, n_checks = flows.traced_pass(
            spark, tracer, dirs, flows.dedup_order(seed))
        values = flows.layer_metrics(tracer, facts)
        values["jvm.peak_rss_mb"] = session.peak_rss_mb()
    finally:
        session.stop()
    tracer.dump(os.path.join(work_root, f"trace-{workload}-seed{seed}.json"))
    # qa_fallen_flagged: rows qa.measurements_null_when_fallen flags; it
    # counts live trees too (prep_carbon sets their STANDING_DEAD_CD to 0)
    return not problems, n_checks, len(problems), values, PER_LAYER, \
        {"problems": problems, "state_facts": facts["state"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import foresttime_builder_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    _configure_env(work)
    stat0, t0 = _cpu_times(), time.time()
    try:
        dirs, sizes = _generate(args.workload, args.seed, work,
                                bool(args.trace))
        if args.trace:
            out = _traced(args.workload, args.seed, dirs, work_root)
        else:
            out = _untraced(args.workload, args.seed, args.seconds, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct, attempted, failed, values, units, notes = out

    import duckdb
    import pyspark
    context = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        **sizes,
        "steal_pct": round(_steal_pct(stat0, _cpu_times()), 3),
        "loadavg": os.getloadavg(), "wall_s": round(time.time() - t0, 3),
        "error_rate": f"{failed}/{attempted}",
        "versions": {"spark": pyspark.__version__, "duckdb": duckdb.__version__,
                     "python": sys.version.split()[0]},
        **notes,
    }
    print(json.dumps({"context": context}))
    print(result_line(correct, attempted, failed, values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
