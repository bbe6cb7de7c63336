"""Interleaved parent/change A/B: one command, one ``PERF_<NAME>.json``.

    python3 tools/ab.py BASE NAME
    python3 tools/ab.py BASE NAME --only q08_linear_interp [--sf-dir DIR]

``BASE`` is a git revision, ``git archive``d into a temporary directory
that is removed on exit.  The change side is the working tree of the
checkout this file sits in, so a ``git worktree`` measures an uncommitted
variant.  The tool refuses to run when ``perfbench/`` or
``BENCHMARK.json`` differ between the sides: a benchmark change is its
own change.

Without ``--only`` every workload in BENCHMARK.json runs its ``command``
(``--workload W --seed S --seconds <run_seconds> --trace 0``) on both
sides.  With ``--only`` each listed registry query runs
``tools/run_at_scale.py --sf-dir DIR --only Q --runs 1`` on both sides:
one fresh JVM per query and side, judged on ``sec`` with the
``first_run_s`` bound.  Give full query names (``run_at_scale`` matches
prefixes); ``DIR`` defaults to this checkout's ``.localdata/sf1``.

The protocol is fixed: 10 pairs per workload or query; pair i uses seed
``seed0 + i``, where seed0 comes from ``sha256("<base sha>:NAME")``, so a
rerun reuses its seeds; the parent runs first in even pairs.  Each run
starts its own process group, and the next run starts only once no
process of that group is left (the driver JVM writes its CDS archive as
it exits); a run still going after RUN_TIMEOUT_S is killed and fails.

Writes ``PERF_<NAME>.json`` beside this checkout's BENCHMARK.json and
exits 1 if any run failed or any end-to-end metric regressed beyond its
bound; the artifact is written either way.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import itertools
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 10
#: one run, start to the last process of its group gone; the slowest
#: fresh-JVM sf10 registry query on record took about 400 s plus a minute
#: of start-up
RUN_TIMEOUT_S = 1800
SIDES = ("parent", "change")


def seed0(base_sha: str, name: str) -> int:
    return int(hashlib.sha256(f"{base_sha}:{name}".encode()).hexdigest()[:6], 16)


def order(i: int) -> tuple[str, str]:
    """The sides of pair ``i`` in the order they run."""
    return SIDES if i % 2 == 0 else SIDES[::-1]


def perfbench_run(stdout: str) -> dict:
    """One run's record from perfbench's last two lines (context, result);
    ``err`` is set unless the run is ``correct`` with no failed op."""
    try:
        ctx, res = (json.loads(line) for line in stdout.splitlines()[-2:])
        ctx = ctx["context"]
        run = {k: ctx[k] for k in ("steal_pct", "cpus", "master", "jvm_cpu_s")}
        run.update(correct=res["correct"], failed=res["failed"],
                   **{k: m["value"] for k, m in res["metrics"].items()})
    except (ValueError, KeyError, TypeError):
        return {"err": "no perfbench result lines"}
    run["err"] = None if run["correct"] and not run["failed"] else (
        f"correct={run['correct']}, failed {run['failed']}/{res['attempted']}")
    return run


def scale_run(stdout: str, query: str) -> dict:
    """One run's record from ``run_at_scale``'s report line."""
    try:
        report = json.loads(stdout.splitlines()[-1])
        entry = report["queries"][query]
    except (ValueError, KeyError, TypeError, IndexError):
        return {"err": "no run_at_scale report line"}
    run = {k: entry.get(k) for k in ("sec", "rows", "err", "guarded", "steal_pct")}
    if report["n"] != 1:
        run["err"] = f"--only {query} ran {report['n']} queries; give a full name"
    return run


def check_rows(a: dict, b: dict) -> None:
    """Fail both sides of a registry pair whose row counts differ."""
    if a["rows"] != b["rows"]:
        for run in (a, b):
            run["err"] = run["err"] or f"rows differ: {a['rows']} vs {b['rows']}"


def summarize(runs: list[dict], end_to_end: list[dict]) -> dict:
    """Per case (workload or query) and end-to-end metric: quartiles per
    side, change wins, median gap (positive: the change is better), parent
    IQR and the verdict.  Only pairs whose two runs both succeeded count;
    with fewer than two the verdict is ``unresolved``."""
    pairs: dict[tuple, dict] = {}
    for r in runs:
        pairs.setdefault((r["case"], r["pair"]), {})[r["side"]] = r
    summary = {}
    for case in dict.fromkeys(r["case"] for r in runs):
        mine = [r for r in runs if r["case"] == case]
        done = [p for (c, _), p in pairs.items() if c == case and len(p) == 2
                and not (p["parent"]["err"] or p["change"]["err"])]
        steal = [r["steal_pct"] for r in mine if r.get("steal_pct") is not None]
        out = summary[case] = {
            "failed_runs": sum(bool(r["err"]) for r in mine),
            "steal_pct_range": [min(steal), max(steal)] if steal else None,
            "metrics": {},
        }
        for m in end_to_end:
            if len(done) < 2:
                out["metrics"][m["name"]] = {"pairs": len(done),
                                             "verdict": "unresolved"}
                continue
            sign = 1 if m["better"] == "lower" else -1
            par = [p["parent"][m["name"]] for p in done]
            chg = [p["change"][m["name"]] for p in done]
            pq, cq = (statistics.quantiles(xs, n=4, method="inclusive")
                      for xs in (par, chg))
            wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
            gap, iqr, bound = sign * (pq[1] - cq[1]), pq[2] - pq[0], m["bound"]
            if -gap > bound * abs(pq[1]):
                verdict = "regressed"
            elif wins * 10 >= 9 * len(done) and gap > iqr:
                verdict = "gain"
            elif iqr > bound * abs(pq[1]) and not all(
                    sign * (p - c) > 0 for p in par for c in chg):
                verdict = "unresolved"
            else:
                verdict = "within_bound"
            out["metrics"][m["name"]] = {
                "pairs": len(done),
                "parent_q1_med_q3": [round(v, 3) for v in pq],
                "change_q1_med_q3": [round(v, 3) for v in cq],
                "change_wins": wins, "median_gap": round(gap, 3),
                "parent_iqr": round(iqr, 3), "bound": bound, "verdict": verdict,
            }
    return summary


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is left (zombies excluded)."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state, _, group = fh.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(group) == pgid and state != "Z":
            return True
    return False


def execute(cmd: list[str], cwd: str, parse) -> dict:
    """Run ``cmd`` as a new session and ``parse`` its stdout into a run
    record once no process of its group is left; a run still going at
    RUN_TIMEOUT_S is killed, group and all."""
    deadline = time.monotonic() + RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    out = None
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.5)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if _group_alive(proc.pid):
            out = None
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            while _group_alive(proc.pid):
                time.sleep(0.1)
    if out is None:
        return {"err": f"killed after {RUN_TIMEOUT_S} s"}
    run = parse(out)
    if run["err"] and proc.returncode:
        run["err"] += f" [rc={proc.returncode}: {err.strip()[-300:]}]"
    return run


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          capture_output=True, text=True).stdout.strip()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", metavar="BASE", help="git revision of the parent")
    ap.add_argument("name", metavar="NAME", help="writes PERF_NAME.json")
    ap.add_argument("--only", help="comma-separated full registry query names")
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".localdata", "sf1"))
    args = ap.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    base_sha = _git("rev-parse", "--verify", f"{args.base}^{{commit}}")
    if subprocess.run(["git", "diff", "--quiet", base_sha, "--", "perfbench",
                       "BENCHMARK.json"], cwd=REPO).returncode:
        sys.exit(f"ab: perfbench/ or BENCHMARK.json differ from {args.base}; "
                 "a benchmark change is its own change")
    change = {"sha": _git("rev-parse", "HEAD"),
              "dirty": bool(_git("status", "--porcelain"))}
    seed_base = seed0(base_sha, args.name)
    sf_dir = os.path.abspath(args.sf_dir)
    if args.only:
        cases = args.only.split(",")
        metrics = [{**m, "name": "sec"} for m in bench["end_to_end"]
                   if m["name"] == "first_run_s"]
        prefix = ["python3", "tools/run_at_scale.py", "--sf-dir", sf_dir,
                  "--runs", "1", "--only"]
    else:
        cases = [w["name"] for w in bench["workloads"]]
        metrics = bench["end_to_end"]
        prefix = [*bench["command"], "--seconds", str(bench["run_seconds"]),
                  "--trace", "0", "--workload"]

    runs: list[dict] = []
    with tempfile.TemporaryDirectory(prefix="ab-base-") as base_dir:
        archive = subprocess.Popen(["git", "archive", base_sha], cwd=REPO,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", base_dir], stdin=archive.stdout,
                       check=True)
        if archive.wait():
            sys.exit(f"ab: git archive {base_sha} failed")
        roots = {"parent": base_dir, "change": REPO}
        for i, case in itertools.product(range(PAIRS), cases):
            seed = {} if args.only else {"seed": seed_base + i}
            cmd = [*prefix, case, *(f"--{k}={v}" for k, v in seed.items())]
            pair = []
            for side in order(i):
                run = execute(cmd, roots[side], functools.partial(
                    scale_run, query=case) if args.only else perfbench_run)
                pair.append({"case": case, "pair": i, "side": side,
                             "first": side == order(i)[0], **seed, **run})
                shown = run["err"] or [run.get(m["name"]) for m in metrics]
                print(f"ab {i + 1}/{PAIRS} {case} {side}: {shown}", file=sys.stderr)
            if args.only:
                check_rows(*pair)
            runs += pair

    summary = summarize(runs, metrics)
    path = os.path.join(REPO, f"PERF_{args.name}.json")
    with open(path, "w") as fh:
        json.dump({
            "host": f"{len(os.sched_getaffinity(0))} vCPU {platform.machine()}, "
                    f"{platform.system()} {platform.release()}",
            "command": " ".join([*prefix, "<case>"])
                       + ("" if args.only else " --seed=<seed0 + pair>"),
            "base": {"rev": args.base, "sha": base_sha},
            "change": change,
            "protocol": {"pairs": PAIRS, "parent_first": "even pairs",
                         "run_timeout_s": RUN_TIMEOUT_S,
                         **({"sf_dir": sf_dir} if args.only else
                            {"seed": f"{seed_base} + pair"})},
            "summary": summary,
            "runs": runs,
        }, fh, indent=1)
    verdicts = [m["verdict"] for s in summary.values() for m in s["metrics"].values()]
    for case, s in summary.items():
        for name, m in s["metrics"].items():
            print(case, name, json.dumps(m))
    failed = sum(s["failed_runs"] for s in summary.values())
    print(f"{failed} failed run(s); wrote {path}")
    return 1 if failed or "regressed" in verdicts else 0


if __name__ == "__main__":
    sys.exit(main())
