"""Spark-only registry sweep at a large scale factor.

The correctness gate runs at sf0.01 where the DuckDB oracle is cheap; this
tool answers the question that gate can't: does every registered query still
EXECUTE — and how do its runtime and cardinality scale — when the input is
10-100x bigger?  It runs each ``queries()`` entry against ``--sf-dir``
(default the ``tools/make_sf.py`` output), writes the result to the noop
sink (full column computation, no driver materialization), and reports
wall-time + output rows per query as one JSON line.

A query that raises (e.g. a driver-side cap sized for small SFs, a collect
that only fit in memory at sf0.1) is reported with ``"err"`` rather than
aborting the sweep — those are exactly the regressions this sweep exists to
catch.

``--runs N`` (default 1) times N executions per query and reports the
MEDIAN with min/max spread — the builder's floor-sensitivity study showed
single-session sf10 numbers carry ±50% error bars, so any number meant for
BASELINE.md should be taken with ``--runs 3`` on an idle box.

``--isolate`` runs each query in its own fresh JVM (a subprocess re-exec
of this tool with ``--only``): the steady-state mode.  Interpreted-HOF
throughput depends on what ran before in the session (BASELINE.md round 9:
q59 at sf10 takes 8 s fresh and 29 s after q58), so shared-session sweeps
overstate HOF-heavy operators.  The default stays shared-session: it is
the cheaper executes-at-scale check and the adversarial regime worth
watching.  ``--retry-fresh`` re-runs each query that ERRED in the shared
session in a fresh JVM and records the fresh result with the superseded
shared-session error (``retried_fresh``, ``shared_session_err``); guards
are never retried.

A before/after of named queries is ``tools/ab.py BASE NAME --only Q1,Q2``:
it runs this tool with ``--only Q --runs 1`` once per query, side and pair,
each in a fresh JVM, and compares the two sides' sec and rows.

Usage: python tools/run_at_scale.py [--sf-dir DIR] [--only q16,q25]
                                    [--skip q51] [--runs 3]
                                    [--out SCALE_sf1.json]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from foresttime_builder_spark.session import get_spark

#: per-query wall cap for fresh-JVM subprocess re-runs (--isolate /
#: --retry-fresh).  The slowest legitimate sf10 query on record is q77 at
#: ~400 s plus ~60 s of JVM startup; 30 min leaves 3x headroom while
#: still unblocking a sweep whose retry JVM wedges (the exact regime
#: --retry-fresh exists for).
_RETRY_PER_QUERY_CAP_S = 1800


def _cpu_ticks() -> tuple[int, int] | None:
    """(total, steal) jiffies from the /proc/stat aggregate cpu line, or
    None off-Linux.  Diffed around each query so every sweep entry carries
    its own measured steal%% — the r15 rounds lost two sf10 timing sessions
    to host-level CPU steal that was only adjudicated by AFTER-the-fact
    probes (untouched-control queries swinging 2-4x); recording the steal
    window alongside each number makes mover adjudication mechanical."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    vals = [int(x) for x in parts[1:]]
    if not vals:
        return None
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def _steal_pct(before, after) -> float | None:
    """Steal ticks as %% of all-CPU capacity over the window, 1 decimal."""
    if before is None or after is None or after[0] <= before[0]:
        return None
    return round(100.0 * (after[1] - before[1]) / (after[0] - before[0]), 1)


def _select(names, only: str | None, skip: str) -> list[str]:
    """``names`` that start with an ``--only`` prefix and no ``--skip`` one."""
    want = [w.strip() for w in (only or "").split(",") if w.strip()]
    drop = [w.strip() for w in skip.split(",") if w.strip()]
    return [n for n in names
            if (not want or any(n.startswith(w) for w in want))
            and not any(n.startswith(s) for s in drop)]


def _fresh(args, name: str) -> dict:
    """``name``'s entry from a re-exec of this tool in a fresh JVM (a
    subprocess with ``--only name``), or an entry whose ``err`` says why
    there is none."""
    import subprocess

    cap = max(1, args.runs) * _RETRY_PER_QUERY_CAP_S
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--sf-dir", args.sf_dir, "--only", name, "--runs", str(args.runs),
    ]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=cap)
    except subprocess.TimeoutExpired:
        return {"sec": None, "rows": None,
                "err": f"subprocess timeout after {cap}s"}
    except OSError as exc:  # fork ENOMEM etc.: report it, keep sweeping
        return {"sec": None, "rows": None, "err": "subprocess spawn failed: "
                f"{type(exc).__name__}: {str(exc)[:200]}"}
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])["queries"][name]
    except (ValueError, KeyError, IndexError, TypeError):
        return {"sec": None, "rows": None, "err": f"subprocess rc="
                f"{proc.returncode}: {proc.stderr.strip()[-300:]}"}


def _status(name: str, entry: dict, note: str = "") -> None:
    status = (
        entry["err"]
        or ("GUARDED: " + entry["guarded"][:80] if entry.get("guarded")
            else f"{entry['rows']} rows")
    )
    print(f"{name}: {entry['sec']}s  {status}{note}", file=sys.stderr)


def _emit(args, report: dict[str, dict], **extra) -> None:
    """Print (and with ``--out`` write) the one report line, then exit 1
    if any query erred."""
    errs = [n for n in report if report[n]["err"]]
    line = json.dumps({
        "sf_dir": args.sf_dir,
        "queries": report,
        "n": len(report),
        "errors": errs,
        "guarded": [n for n in report if report[n].get("guarded")],
        **extra,
    })
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    sys.exit(1 if errs else 0)


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(repo, ".localdata", "sf1"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--skip", default="")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--out", default=None)
    ap.add_argument("--isolate", action="store_true",
                    help="run each query in its own fresh JVM")
    ap.add_argument("--retry-fresh", action="store_true",
                    help="re-run each erred query in a fresh JVM and merge it")
    args = ap.parse_args()

    queries = entrymod.queries()
    names = _select(sorted(queries), args.only, args.skip)
    if args.isolate:
        report = {}
        for name in names:
            report[name] = _fresh(args, name)
            _status(name, report[name])
        _emit(args, report, isolate=True)

    from foresttime_builder_spark.session import dir_bytes

    spark = get_spark(app_name="run_at_scale", data_bytes=dir_bytes(args.sf_dir))
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
    sweep_ticks0 = _cpu_ticks()

    report: dict[str, dict] = {}
    for name in names:
        gc.collect()
        t0 = time.time()
        ticks0 = _cpu_ticks()
        try:
            samples = []
            for _ in range(max(1, args.runs)):
                t1 = time.time()
                df = queries[name](spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.time() - t1, 2))
            steal = _steal_pct(ticks0, _cpu_ticks())
            # count() re-executes but gives the cardinality the report needs;
            # cache-free on purpose so the noop timing above stays honest.
            rows = df.count()
            report[name] = {
                "sec": round(statistics.median(samples), 2),
                "rows": rows,
                "err": None,
            }
            if steal is not None:
                report[name]["steal_pct"] = steal
            if args.runs > 1:
                report[name]["spread"] = [min(samples), max(samples)]
        except Exception as exc:  # noqa: BLE001 — sweep must not abort
            # a candidate-budget guard RAISING at scale is the operator's
            # DESIGNED behavior (the feasibility answer, not a crash) —
            # recorded as 'guarded', distinct from infrastructure errors.
            # Every designed feasibility guard is a ValueError naming the
            # lever the caller can pull: candidate_budget (pair/LSH/
            # containment families) or max_sample_rows (single-task
            # sampled histogram)
            msg = str(exc)
            guarded = isinstance(exc, ValueError) and any(
                m in msg for m in ("candidate_budget", "max_sample_rows"))
            report[name] = {
                "sec": round(time.time() - t0, 2),
                "rows": None,
                "err": None if guarded else f"{type(exc).__name__}: {msg[:300]}",
            }
            if guarded:
                report[name]["guarded"] = msg[:300]
        _status(name, report[name])

    if args.retry_fresh:
        # Shared-session sweeps occasionally OOM a heavy-hash query deep
        # into the JVM (r14: q16 at stage ~1354 — asynchronous broadcast
        # reclamation lag, not an operator leak; the full-registry storage
        # probe ends at 0 blocks). Adjudicate automatically: re-run each
        # erred query in its own fresh JVM and record BOTH outcomes — the
        # fresh number plus the shared-session error it supersedes. A
        # fresh run that fails too keeps the shared-session error.
        for name in [n for n in report if report[n]["err"]]:
            print(f"retry-fresh: {name}", file=sys.stderr)
            fresh = _fresh(args, name)
            if not fresh.get("err"):
                fresh["shared_session_err"] = report[name]["err"]
                fresh["retried_fresh"] = True
                report[name] = fresh
                _status(name, fresh, " (fresh JVM; shared-session run erred)")
    sweep_steal = _steal_pct(sweep_ticks0, _cpu_ticks())
    _emit(args, report,
          **({"steal_pct": sweep_steal} if sweep_steal is not None else {}))


if __name__ == "__main__":
    main()
