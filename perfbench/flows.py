"""What one operation of each workload is, and the traced pass.

Operations call the package's public entry points only:

- ``state_pipeline``: ``sources.fia.fia_load`` + ``run_states(estimate=
  True)`` over the generated state's CSVs, writing the annualized+carbon
  parquet;
- ``pair_dedup``: q16, q54 and q76 from the query registry, each built and
  written to parquet, in an order the seed rotates.

Given a tracer, the same operations time the calls into each layer from
outside; :func:`traced_pass` runs them.  :func:`layer_probes` swaps the
``plans.fia`` / ``plans.carbon`` functions ``run_states`` calls for
wrappers that time the call (build) and materialize the result to a noop
sink (exec), so the real ``run_states`` runs with a span around each layer
it calls.  A layer's exec self time is its prefix time minus the prefix it
extends (see ``spans.prefix_self``).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession, functions as F

from foresttime_builder_spark.operators.dedup import (
    char_ngrams,
    estimate_candidate_pairs,
)
from foresttime_builder_spark.plans import carbon, fia, population, qa
from foresttime_builder_spark.plans.benchmark_queries import QUERIES
from foresttime_builder_spark.plans.state_pipeline import run_states
from foresttime_builder_spark.sources.fia import fia_load

import checks
import gen_fia
from spans import Tracer, prefix_self, self_times

DEDUP_QUERIES = ("q16_jaccard_pairs", "q54_ngram_jaccard",
                 "q76_jaccard_budget_guard")
DEDUP_SHORT = {q: q.split("_")[0] for q in DEDUP_QUERIES}

#: (module, function, step, layer, materializes its output)
#: adjust_mortality's two variants are materialized together, as the
#: input of the next layer (run_states tags and unions them first)
LAYER_FUNCS = (
    (fia, "fia_tidy", "tidy", "plans.fia", True),
    (fia, "expand_data", "expand", "plans.fia", True),
    (fia, "interpolate_data", "interpolate", "plans.fia", True),
    (fia, "adjust_mortality", "mortality", "plans.fia", False),
    (carbon, "prep_carbon", "prep", "plans.carbon", True),
    (carbon, "estimate_carbon", "estimate", "plans.carbon", True),
)
#: the prefix each exec prefix extends; interpolate's output is persisted
#: (as run_states does), so mortality starts from the cache
EXEC_BASE = {"tidy": None, "expand": "tidy", "interpolate": "expand",
             "mortality": None, "prep": "mortality", "estimate": "prep",
             "sink": "estimate"}
POP_QUERIES = ("simple", "stratified", "sweep")
SWEEP_GRAINS = (("SPCD",), ("YEAR",), ("SPCD", "YEAR"), ())


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- operations ----------------------------------------------------------

def _span(tracer: Tracer | None, name: str, layer: str):
    return tracer.span(name, layer) if tracer is not None else nullcontext()


def state_op(spark: SparkSession, csv_dir: str, out_dir: str,
             tracer: Tracer | None = None) -> dict:
    """With a tracer, ``fia_load``, ``run_states`` and each layer function
    ``run_states`` calls get a span (see :func:`layer_probes`)."""
    with _span(tracer, "fia_load", "sources.fia"):
        db = fia_load(spark, [gen_fia.STATE], csv_dir)
    with (layer_probes(tracer) if tracer is not None else nullcontext()), \
            _span(tracer, "run_states", "plans.state_pipeline"):
        return run_states(spark, db, out_dir, estimate=True)


def dedup_order(seed: int) -> tuple[str, ...]:
    k = seed % len(DEDUP_QUERIES)
    return DEDUP_QUERIES[k:] + DEDUP_QUERIES[:k]


def dedup_op(spark: SparkSession, docs_dir: str, out_dir: str,
             order: tuple[str, ...], tracer: Tracer | None = None) -> None:
    """With a tracer, each query's build and write get a span."""
    for q in order:
        with _span(tracer, f"{DEDUP_SHORT[q]}.build", "operators.dedup"):
            df = QUERIES[q].fn(spark, docs_dir)
        with _span(tracer, f"{DEDUP_SHORT[q]}.exec", "operators.dedup"):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, q))


def dedup_checksums(out_dir: str) -> tuple:
    return tuple(checks.pairs_checksum(os.path.join(out_dir, q))
                 for q in DEDUP_QUERIES)


# --- output checks (each returns the problems it found) --------------------

def check_state(csv_dir: str, out_dir: str) -> list[str]:
    """``run_states`` output against its DuckDB SQL twin, and the
    fallen-tree check."""
    problems = []
    twin = checks.state_twin_checksums(csv_dir, gen_fia.STATE)
    if twin != checks.state_checksums(out_dir):
        problems.append("run_states output differs from its SQL twin")
    if checks.state_facts(out_dir)["fallen_with_measures"]:
        problems.append("fallen trees carry measurements")
    return problems


def check_dedup(docs_dir: str, out_dir: str) -> list[str]:
    """Each query's output against its registry oracle."""
    problems = []
    for q in DEDUP_QUERIES:
        diff = checks.pairs_diff(os.path.join(out_dir, q), docs_dir,
                                 QUERIES[q].oracle)
        if diff:
            problems.append(f"{q} differs from its oracle in {diff} rows")
    return problems


# --- traced pass ------------------------------------------------------------

@contextmanager
def layer_probes(tracer: Tracer) -> Iterator[None]:
    """Wrap the layer functions ``run_states`` calls (module attributes,
    so the real ``run_states`` picks the wrappers up); restored on exit."""

    def wrap(fn: Callable, step: str, layer: str, materialize: bool):
        def traced(*args, **kwargs):
            if step == "prep":
                # the unioned mortality variants: the mortality prefix
                with tracer.span("mortality.exec", "plans.fia"):
                    _noop(args[0])
            with tracer.span(f"{step}.build", layer):
                out = fn(*args, **kwargs)
            if step == "interpolate":
                out = out.persist()  # run_states' own persist is a no-op
            if materialize:
                with tracer.span(f"{step}.exec", layer):
                    _noop(out)
            return out
        return traced

    saved = [(mod, name, getattr(mod, name)) for mod, name, *_ in LAYER_FUNCS]
    try:
        for mod, name, step, layer, materialize in LAYER_FUNCS:
            setattr(mod, name, wrap(getattr(mod, name), step, layer, materialize))
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def persistent_rdds(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def traced_pass(spark: SparkSession, tracer: Tracer, dirs: dict,
                order: tuple[str, ...]) -> tuple[dict, list[str], int]:
    """One traced pass over every layer, whichever workload is named: the
    state call, the population/QA reads of the parquet it wrote, and the
    dedup call, each operation on its first call in the process (what
    ``first_run_s`` times; untraced warm-up calls would not fit the run's
    time limit on a contended host).  Returns (facts, problems, checks):
    the raw numbers :func:`layer_metrics` turns into per-layer metrics,
    the output checks that failed, and how many ran."""
    facts: dict = {}
    problems: list[str] = []
    _state_flow(spark, tracer, dirs, facts, problems)
    _population_flow(spark, tracer, dirs, problems)
    _dedup_flow(spark, tracer, dirs, order, facts, problems)
    # leak, twin, fallen trees, 3 population reads, QA, one oracle per query
    return facts, problems, 3 + len(POP_QUERIES) + 1 + len(DEDUP_QUERIES)


def _state_flow(spark, tracer, dirs, facts, problems) -> None:
    csv_dir, out = dirs["csv"], dirs["out"]
    tracer.workload = "state_pipeline"
    before = persistent_rdds(spark)
    with tracer.span("traced_op", "op"):
        state_op(spark, csv_dir, out, tracer)
    facts["leaked_rdds"] = persistent_rdds(spark) - before
    if facts["leaked_rdds"] > 0:
        problems.append("persisted RDDs leaked")
    problems += check_state(csv_dir, out)
    facts["state"] = checks.state_facts(out)
    facts["sink_files"], facts["sink_bytes"] = _dir_stats(
        os.path.join(out, "annualized"))


def _population_flow(spark, tracer, dirs, problems) -> None:
    """The downstream reads of the midpt table ``run_states`` just wrote,
    each on its first call in the process, as the other layers are."""
    csv_dir, out = dirs["csv"], dirs["out"]
    tracer.workload = "population_read"
    annual = spark.read.parquet(
        os.path.join(out, "annualized", "variant=annualized_midpt"))
    pop = fia_load(spark, [gen_fia.STATE], csv_dir,
                   tables=("POP_STRATUM", "POP_PLOT_STRATUM_ASSGN"))
    builders = {
        "simple": lambda: population.estimate_population(
            annual, area=gen_fia.STATE_AREA),
        "stratified": lambda: population.estimate_population_stratified(
            annual, pop["POP_STRATUM"], pop["POP_PLOT_STRATUM_ASSGN"]),
        "sweep": lambda: population.multi_grain_sweep(annual, SWEEP_GRAINS),
    }
    results = {}
    for q in POP_QUERIES:
        with tracer.span(f"{q}.build", "plans.population"):
            res = builders[q]()
        with tracer.span(f"{q}.exec", "plans.population"):
            results[q] = res.collect()
    with tracer.span("qa.suite", "plans.qa"):
        qa_counts = qa.run_qa(annual, qa.ESTIMATED_SUITE)
    twins = checks.population_twins(out, csv_dir, gen_fia.STATE,
                                    gen_fia.STATE_AREA)
    for q in POP_QUERIES:
        got = sorted((tuple(r) for r in results[q]), key=_pop_key(q))
        if not checks.rows_close(got, twins[q]):
            problems.append(f"population {q} differs from DuckDB")
    if qa_counts != checks.qa_twin(out):
        problems.append("run_qa counts differ from DuckDB")


def _dedup_flow(spark, tracer, dirs, order, facts, problems) -> None:
    tracer.workload = "pair_dedup"
    docs, dout = dirs["docs"], dirs["dedup_out"]
    dedup_op(spark, docs, dout, order, tracer)
    problems += check_dedup(docs, dout)
    facts["pairs"] = {q: n for q, (n, _h) in
                      zip(DEDUP_QUERIES, dedup_checksums(dout))}
    facts["candidates"] = _candidate_projection(spark, docs)


def _pop_key(q: str):
    """Sort key matching the DuckDB twins' ORDER BY (NULLS FIRST)."""
    def nulls_first(x):
        return (x is not None, x if x is not None else 0)
    if q == "sweep":  # (SPCD, YEAR, grain, ...) ordered by grain, SPCD, YEAR
        return lambda t: (t[2], nulls_first(t[0]), nulls_first(t[1]))
    return lambda t: t[0]


def _candidate_projection(spark: SparkSession, docs_dir: str) -> dict[str, int]:
    """``estimate_candidate_pairs`` over each query's token sets (q54:
    character trigrams of its doc_id % 3 slice)."""
    d = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    out = {}
    for q in DEDUP_QUERIES:
        src = d.filter(F.col("doc_id") % 3 == 0) if q.startswith("q54") else d
        toks = (char_ngrams("text") if q.startswith("q54")
                else F.array_distinct(F.split("text", " ")))
        docsets = src.select("doc_id", toks.alias("toks")).withColumn(
            "sz", F.size("toks"))
        out[q] = estimate_candidate_pairs(docsets, threshold=0.8)
    return out


# --- per-layer metrics ----------------------------------------------------

def _stage(spans, field: str) -> int:
    return sum(s.stages.get(field, 0) for s in spans)


def _descendants(spans, root) -> list:
    ids, out = {root.id}, []
    for s in spans:  # parents precede their children
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def layer_metrics(tracer: Tracer, facts: dict) -> dict[str, float]:
    """Per-layer metric values from the traced pass's spans and facts.
    ``sources`` comes from the traced call's ``fia_load``, the process's
    first, which infers the CSV schemas."""
    selfs = self_times(tracer.spans)
    op = tracer.by_name("traced_op")[0]
    sp = _descendants(tracer.spans, op)
    one = {s.name: s for s in tracer.spans if s.parent is None}
    one.update({s.name: s for s in sp})
    first_load = one["fia_load"]

    def spans(names):
        return [s for s in sp if s.name in names]

    def dur(name):
        return sum(s.duration for s in spans({name}))

    m: dict[str, float] = {
        "session.build_s": one["session.build"].duration,
        "session.first_job_s": one["session.first_job"].duration,
        "sources.fia_load_s": first_load.duration,
        "sources.infer_jobs": first_load.jobs,
        # the interpolate prefix scans every CSV once (later prefixes
        # read the persisted intermediate)
        "sources.input_bytes": _stage(spans({"interpolate.exec"}),
                                      "inputBytes"),
    }

    # exec prefixes, in pipeline order; the sink prefix is run_states'
    # own time (the write job re-runs everything after the cache)
    steps = ("tidy", "expand", "interpolate", "mortality", "prep", "estimate")
    prefixes = [(st, dur(f"{st}.exec")) for st in steps]
    rs = one["run_states"]
    prefixes.append(("sink", selfs[rs.id]))
    exec_self = prefix_self(prefixes, EXEC_BASE)
    for st in steps:
        layer = "fia" if st in ("tidy", "expand", "interpolate", "mortality") \
            else "carbon"
        m[f"{layer}.{st}.build_s"] = dur(f"{st}.build")
        m[f"{layer}.{st}.exec_s"] = exec_self[st]

    def stage_sum(field: str, names) -> int:
        return _stage(spans(names), field)

    # stage counters telescope like the exec times: fia's own stages are
    # the interpolate prefix (tidy..interpolate from the CSVs) plus the
    # mortality prefix (from the cache); carbon's are the estimate prefix
    # minus the mortality prefix; build-time jobs (probes) are added
    fia_builds = {f"{st}.build" for st in steps[:4]}
    carbon_builds = {f"{st}.build" for st in steps[4:]}

    def fia_self(field: str) -> int:
        return (stage_sum(field, {"interpolate.exec", "mortality.exec"})
                + stage_sum(field, fia_builds))

    def carbon_self(field: str) -> int:
        return (stage_sum(field, {"estimate.exec"})
                - stage_sum(field, {"mortality.exec"})
                + stage_sum(field, carbon_builds))

    m["fia.mortality.probe_jobs"] = sum(
        s.jobs for s in spans({"mortality.build"}))
    m["fia.rows_out"] = facts["state"]["rows"]
    m["fia.shuffle_write_bytes"] = fia_self("shuffleWriteBytes")
    m["fia.spill_bytes"] = (fia_self("memoryBytesSpilled")
                            + fia_self("diskBytesSpilled"))
    m["fia.tasks"] = fia_self("numTasks")
    m["carbon.executor_run_s"] = carbon_self("executorRunTime") / 1000.0
    m["carbon.estimated_ratio"] = (facts["state"]["estimated"]
                                   / facts["state"]["rows"])

    m["sink.write_s"] = exec_self["sink"]
    m["sink.jobs"] = rs.jobs
    m["sink.files"] = facts["sink_files"]
    m["sink.bytes"] = facts["sink_bytes"]
    m["sink.bytes_per_row"] = facts["sink_bytes"] / facts["state"]["rows"]
    m["cache.leaked_rdds"] = facts["leaked_rdds"]

    for q in POP_QUERIES:
        m[f"population.{q}.build_s"] = one[f"{q}.build"].duration
        m[f"population.{q}.exec_s"] = one[f"{q}.exec"].duration
    m["qa.suite_s"] = one["qa.suite"].duration
    m["qa.jobs"] = one["qa.suite"].jobs
    pop_spans = [s for s in tracer.spans
                 if s.layer in ("plans.population", "plans.qa")]
    m["population.input_bytes"] = _stage(pop_spans, "inputBytes")
    m["population.shuffle_write_bytes"] = _stage(pop_spans,
                                                 "shuffleWriteBytes")

    for q in DEDUP_QUERIES:
        k = DEDUP_SHORT[q]
        b, e = one[f"{k}.build"], one[f"{k}.exec"]
        m[f"dedup.{k}.build_s"] = b.duration
        m[f"dedup.{k}.build_jobs"] = b.jobs
        m[f"dedup.{k}.exec_s"] = e.duration
        m[f"dedup.{k}.shuffle_write_bytes"] = _stage((b, e),
                                                     "shuffleWriteBytes")
        m[f"dedup.{k}.spill_bytes"] = (_stage((b, e), "memoryBytesSpilled")
                                       + _stage((b, e), "diskBytesSpilled"))
        m[f"dedup.{k}.pairs_out"] = facts["pairs"][q]
        m[f"dedup.{k}.candidates"] = facts["candidates"][q]
        m[f"dedup.{k}.pairs_per_candidate"] = (
            facts["pairs"][q] / max(1, facts["candidates"][q]))

    # accounting of the traced state call: wall = layers' self times +
    # unattributed (the op's own time) + what tracing added (the prefix
    # re-runs and the stage harvests)
    attributed = (one["fia_load"].duration
                  + sum(dur(f"{st}.build") for st in steps)
                  + sum(exec_self.values()))
    m["trace.wall_s"] = op.duration
    m["trace.attributed_s"] = attributed
    m["trace.unattributed_s"] = selfs[op.id]
    m["trace.overhead_s"] = op.duration - attributed - selfs[op.id]
    m["trace.harvest_s"] = sum(s.harvest_s for s in sp)
    return m
