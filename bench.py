"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE COMPACT JSON line (< 1500 chars, asserted): {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec, ...},
"extended": {...}, "trend_total_sec": ..., "sf": ..., "cpus": ...,
"master": ...}.  Each per-query
number is the MEDIAN of timed runs after a warm-up run.  Full detail
(per-query spreads, cold timings, the median-of-5 trend block) is written
to BENCH_detail_last.json beside this script — keeping it OFF stdout is
deliberate: the driver records only the last 2000 chars of stdout, and the
r13 all-in-one line overflowed that window (BENCH_r13.json parsed: null).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from foresttime_builder_spark.plans.benchmark_queries import QUERIES
from foresttime_builder_spark.session import dir_bytes, get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q02_region_revenue",
    "q03_customer_order_counts",
    "q08_linear_interp",
    "q09_step_interp",
    "q16_jaccard_pairs",
    "q17_cosine_topk",
    "q20_yearly_ratio",
    "q21_monthly_lag",
    "q25_fia_annualize",
    "q26_nsvb_carbon",
]

#: second recorded table: the heavy round-6+ operator families and the
#: reference's actual production shapes (state pipeline, stratified
#: population scaling), so their round-over-round trend is attributable
#: like the headline 11.  Kept OUT of `value` so the headline total stays
#: comparable across rounds.
EXTENDED = [
    "q51_state_pipeline",
    "q52_population_stratified",
    "q59_repetition_quality",
    "q63_dup_spans",
    "q64_top_ngrams",
]


def _time_queries(spark, sf_dir: str, names: list[str], n_runs: int,
                  time_build: bool) -> dict[str, dict]:
    """Per query: the warm-up run's wall time (``cold``), the median and
    [min, max] of the first three timed runs (the legacy ``value`` metric
    and ``spread``, byte-compatible with every BENCH_r{N}.json since round
    6) and of all ``n_runs`` (``trend``/``trend_spread``, the lower-variance
    number round-over-round comparisons should use).

    noop sink: full computation of every output column (count() would let
    Catalyst prune the row-level expression DAGs of q25/q26), with no
    driver-side materialization.  The warm-up run pays the one-time
    whole-stage codegen compilation, a fixed per-query-shape cost that a
    production job amortizes across every partition; steady state is what
    a 100 TB run experiences.  Each timed run builds a fresh plan object,
    so only the JVM-level caches (codegen, scan metadata) stay warm.
    ``time_build`` puts that build inside the timer: pipeline-shaped
    entries (q51 writes its parquet sink at build time) do their data work
    before the plan object exists, so excluding the build would time only
    the read-back."""
    import gc

    out = {}
    for name in names:
        # release prior queries' plan objects (and their GC-tied caches)
        # before timing — accumulated session state showed up as occasional
        # 2-3x outliers on the last queries in the list
        gc.collect()
        fn = QUERIES[name].fn
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = round(time.time() - t0, 3)
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - (t0 if time_build else t1))
        first = runs[:3]
        out[name] = {
            "median": round(statistics.median(first), 3),
            "spread": [round(min(first), 3), round(max(first), 3)],
            "cold": cold,
            "trend": round(statistics.median(runs), 3),
            "trend_spread": [round(min(runs), 3), round(max(runs), 3)],
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench", data_bytes=dir_bytes(sf_dir))

    # Warm the JVM (codegen, scheduler, scan metadata) once so per-query
    # numbers measure steady-state query work rather than first-job JIT and
    # parquet-footer costs that would otherwise all land on q01.
    from foresttime_builder_spark.sources import load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "documents", "embeddings", "region", "nation"):
        load_table(spark, sf_dir, t).limit(1).count()

    # r13 (r12 verdict item 8): 5 timed runs per query.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    head = _time_queries(spark, sf_dir, HEADLINE, n_runs, time_build=False)
    ext = _time_queries(spark, sf_dir, EXTENDED, n_runs, time_build=True)

    def col(table, key):
        return {name: row[key] for name, row in table.items()}

    timings, ext_timings = col(head, "median"), col(ext, "median")
    trend, ext_trend = col(head, "trend"), col(ext, "trend")
    total = round(sum(timings.values()), 3)
    # r14 (r13 verdict item 1): the r13 single line carried every spread/
    # cold/trend sub-block and overflowed the driver's 2000-char stdout
    # tail, truncating the line's head — BENCH_r13.json recorded
    # `parsed: null`.  stdout is now exactly ONE COMPACT line (~700 chars:
    # headline + extended medians and the trend TOTALS only); the full
    # detail (spreads, cold, per-query trend) goes to a side file next to
    # this script so local analysis loses nothing.
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": col(head, "spread"),
        "cold": col(head, "cold"),
        "extended": ext_timings,
        "extended_spread": col(ext, "spread"),
        "extended_cold": col(ext, "cold"),
        "extended_total_sec": round(sum(ext_timings.values()), 3),
        "trend": {
            "protocol": f"median-of-{n_runs} exec-only, noop sink",
            "queries": trend,
            "spread": col(head, "trend_spread"),
            "total_sec": round(sum(trend.values()), 3),
            "extended": ext_trend,
            "extended_spread": col(ext, "trend_spread"),
            "extended_total_sec": round(sum(ext_trend.values()), 3),
        },
        "runs": n_runs,
        "sf": float(sf) if sf else None,
        # the parallelism the session took from SPARK_GRAFT_CPUS, so a
        # scaling comparison can tell "honoured but floor-bound" from
        # "ignored"
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    # suffix with the sf so concurrent runs against different SF dirs
    # can't clobber each other's detail record; BENCH_DETAIL_PATH
    # overrides outright.  The driver's canonical sf0.1 run keeps the
    # historical un-suffixed name.
    detail_name = (
        "BENCH_detail_last.json"
        if sf in (None, "", "0.1")
        else f"BENCH_detail_last_sf{sf}.json"
    )
    detail_path = os.environ.get("BENCH_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout line still carries the record
    # compact = a key-projection of detail (no parallel literals to drift)
    # + the two trend totals
    compact = {
        k: detail[k]
        for k in ("metric", "value", "unit", "queries", "extended",
                  "extended_total_sec", "runs", "sf", "cpus", "master")
    }
    compact["trend_total_sec"] = detail["trend"]["total_sec"]
    compact["trend_extended_total_sec"] = detail["trend"]["extended_total_sec"]
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= 1500:
        # tripwire: the per-query tables outgrew the driver's 2000-char
        # stdout tail budget.  NEVER die without a record (an assert here
        # would reproduce the exact parsed:null failure this protocol
        # fixes) — fall back to the always-fits headline and complain on
        # stderr so the overflow gets fixed next round.
        print(
            f"bench stdout line {len(line)} chars >= 1500 tail budget; "
            f"emitting reduced line (full detail in {detail_path})",
            file=sys.stderr,
        )
        line = json.dumps(
            {k: compact[k] for k in (
                "metric", "value", "unit", "extended_total_sec",
                "trend_total_sec", "runs", "sf", "cpus", "master",
            )},
            separators=(",", ":"),
        )
    print(line)


if __name__ == "__main__":
    main()
