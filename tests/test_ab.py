"""``tools/ab.py``'s arithmetic and parsers, Spark-free: every verdict
branch of ``summarize``, the seeds, the side order, the two report-line
parsers, and that a run leaves no process of its group behind."""

from __future__ import annotations

import json
import statistics
import sys
import time

import pytest

from tools import ab

LOWER = [{"name": "first_run_s", "better": "lower", "bound": 0.25}]


def _runs(parent, change, case="w", metric="first_run_s"):
    """Pair i of ``parent``/``change`` as ab.py records it."""
    out = []
    for i, (p, c) in enumerate(zip(parent, change)):
        for side, v in (("parent", p), ("change", c)):
            out.append({"case": case, "pair": i, "side": side, "err": None,
                        "steal_pct": 0.1 * i, metric: v})
    return out


def _verdict(parent, change, metrics=LOWER):
    s = ab.summarize(_runs(parent, change, metric=metrics[0]["name"]), metrics)
    return s["w"]["metrics"][metrics[0]["name"]]


def test_gain_needs_nine_wins_and_a_gap_past_the_parent_iqr():
    parent = [20.0, 20.2, 19.8, 20.1, 19.9, 20.3, 19.7, 20.0, 20.2, 19.9]
    m = _verdict(parent, [p - 2 for p in parent])
    assert (m["verdict"], m["change_wins"], m["pairs"]) == ("gain", 10, 10)
    assert m["median_gap"] == pytest.approx(2.0)
    # 8 of 10 wins: the same gap is no gain
    change = [p - 2 for p in parent[:8]] + [p + 0.1 for p in parent[8:]]
    m = _verdict(parent, change)
    assert m["change_wins"] == 8 and m["verdict"] == "within_bound"


def test_regressed_is_checked_first_even_inside_a_wide_iqr():
    parent = [10.0, 12, 14, 16, 18, 20, 22, 24, 26, 28]
    m = _verdict(parent, [p * 1.3 for p in parent])
    assert m["parent_iqr"] > 0.25 * m["parent_q1_med_q3"][1]
    assert m["verdict"] == "regressed"
    # 20% worse stays inside the 0.25 bound, and the wide IQR leaves it open
    assert _verdict(parent, [p * 1.2 for p in parent])["verdict"] == "unresolved"


def test_unresolved_unless_every_change_run_beats_every_parent_run():
    parent = [10.0] * 5 + [30.0] * 5  # IQR 20 around a median of 20
    mixed = _verdict(parent, [9.0] * 5 + [31.0] * 5)
    assert mixed["verdict"] == "unresolved"
    # all ten change runs under the fastest parent run, gap 11 <= IQR 20:
    # not a gain, but not unresolved either
    m = _verdict(parent, [9.0] * 10)
    assert (m["change_wins"], m["median_gap"], m["parent_iqr"]) == (10, 11.0, 20.0)
    assert m["verdict"] == "within_bound"


def test_ties_count_for_neither_side():
    parent = [5.0, 5.1, 4.9, 5.0, 5.2, 4.8, 5.0, 5.1, 4.9, 5.0]
    m = _verdict(parent, list(parent))
    assert (m["change_wins"], m["median_gap"], m["verdict"]) == (0, 0.0, "within_bound")


@pytest.mark.parametrize("n", [9, 10])
def test_quartiles_are_inclusive_for_odd_and_even_counts(n):
    parent = [float(x) for x in range(1, n + 1)]
    m = _verdict(parent, [p + 0.5 for p in parent])
    want = statistics.quantiles(parent, n=4, method="inclusive")
    assert m["parent_q1_med_q3"] == [round(v, 3) for v in want]
    assert m["parent_q1_med_q3"][1] == statistics.median(parent)
    assert m["pairs"] == n and m["change_wins"] == 0


def test_nine_pairs_need_nine_wins():
    parent = [20.0, 20.2, 19.8, 20.1, 19.9, 20.3, 19.7, 20.0, 20.2]
    all_won = _verdict(parent, [p - 2 for p in parent])
    assert all_won["verdict"] == "gain"
    change = [p - 2 for p in parent[:8]] + [parent[8] + 1]
    assert _verdict(parent, change)["verdict"] != "gain"  # 8/9 < 9/10


def test_higher_is_better_flips_the_sign():
    higher = [{"name": "rows_per_s", "better": "higher", "bound": 0.25}]
    parent = [100.0, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    assert _verdict(parent, [p * 1.5 for p in parent], higher)["verdict"] == "gain"
    assert _verdict(parent, [p * 0.7 for p in parent], higher)["verdict"] == "regressed"


def test_a_failed_run_drops_its_pair():
    parent = [20.0] * 10
    runs = _runs(parent, [18.0] * 9 + [1.0])
    runs[-1]["err"] = "correct=False, failed 1/1"
    s = ab.summarize(runs, LOWER)["w"]
    assert s["failed_runs"] == 1 and s["metrics"]["first_run_s"]["pairs"] == 9
    assert s["steal_pct_range"] == [0.0, pytest.approx(0.9)]
    for r in runs[2:]:
        r["err"] = "boom"
    one = ab.summarize(runs, LOWER)["w"]["metrics"]["first_run_s"]
    assert one == {"pairs": 1, "verdict": "unresolved"}
    for r in runs:
        r["err"] = "boom"
    m = ab.summarize(runs, LOWER)["w"]["metrics"]["first_run_s"]
    assert m == {"pairs": 0, "verdict": "unresolved"}


def test_seeds_are_derived_and_sides_alternate():
    assert ab.seed0("abc123", "probe") == ab.seed0("abc123", "probe")
    assert ab.seed0("abc123", "probe") != ab.seed0("abc123", "probe2")
    assert ab.seed0("abc123", "probe") != ab.seed0("abc124", "probe")
    assert [ab.order(i)[0] for i in range(4)] == ["parent", "change"] * 2
    assert all(sorted(ab.order(i)) == ["change", "parent"] for i in range(4))


def _perfbench_out(correct=True, failed=0):
    ctx = {"context": {"steal_pct": 0.2, "cpus": 4, "master": "local[4]",
                       "jvm_cpu_s": 51.0, "wall_s": 30.0}}
    res = {"correct": correct, "attempted": 1, "failed": failed, "metrics": {
        "setup_s": {"value": 4.5, "unit": "s"},
        "first_run_s": {"value": 15.0, "unit": "s"}}}
    return "generating\n" + json.dumps(ctx) + "\n" + json.dumps(res) + "\n"


def test_perfbench_parser():
    run = ab.perfbench_run(_perfbench_out())
    assert run == {"steal_pct": 0.2, "cpus": 4, "master": "local[4]",
                   "jvm_cpu_s": 51.0, "correct": True, "failed": 0,
                   "setup_s": 4.5, "first_run_s": 15.0, "err": None}
    assert ab.perfbench_run(_perfbench_out(correct=False))["err"]
    assert ab.perfbench_run(_perfbench_out(failed=1))["err"] == (
        "correct=True, failed 1/1")
    for bad in ("", "Traceback ...\n", _perfbench_out().splitlines()[-1]):
        assert ab.perfbench_run(bad)["err"] == "no perfbench result lines"


def _scale_out(name, entry, n=1):
    return "noise\n" + json.dumps({"sf_dir": "/x", "queries": {name: entry},
                                   "n": n, "errors": [], "guarded": []})


def test_run_at_scale_parser():
    ok = {"sec": 2.5, "rows": 40, "err": None, "steal_pct": 0.3}
    assert ab.scale_run(_scale_out("q08", ok), "q08") == {**ok, "guarded": None}
    erred = ab.scale_run(_scale_out("q08", {"sec": 1.0, "rows": None,
                                            "err": "OOM"}), "q08")
    assert erred["err"] == "OOM"
    guard = {"sec": 3.0, "rows": None, "err": None, "guarded": "candidate_budget"}
    assert ab.scale_run(_scale_out("q16", guard), "q16")["guarded"]
    assert ab.scale_run(_scale_out("q16", guard), "q16")["err"] is None
    # a prefix that ran two queries in one JVM times the wrong thing
    assert "full name" in ab.scale_run(_scale_out("q12", ok, n=2), "q12")["err"]
    assert ab.scale_run("", "q08")["err"] == "no run_at_scale report line"


def test_rows_mismatch_fails_both_sides_of_the_pair():
    a = {"sec": 1.0, "rows": 40, "err": None}
    b = {"sec": 1.1, "rows": 41, "err": None}
    ab.check_rows(a, b)
    assert a["err"] == b["err"] == "rows differ: 40 vs 41"
    c, d = {"rows": None, "err": "OOM"}, {"rows": 40, "err": None}
    ab.check_rows(c, d)
    assert (c["err"], d["err"]) == ("OOM", "rows differ: None vs 40")
    e, f = dict(b, err=None), dict(b, err=None)
    ab.check_rows(e, f)
    assert e["err"] is None and f["err"] is None


def test_execute_waits_for_the_group_and_kills_it_at_the_deadline(
        monkeypatch, tmp_path):
    def parse(out):
        return {"err": None, "out": out.strip()}

    # the child exits at once; its grandchild (same group, stdout closed,
    # like a JVM that outlives its Python driver) runs on
    spawn = ("import subprocess as s, sys; s.Popen([sys.executable, '-c', "
             "'import time; time.sleep(1.5)'], stdout=s.DEVNULL, "
             "stderr=s.DEVNULL); print('done')")
    t0 = time.monotonic()
    assert ab.execute([sys.executable, "-c", spawn], str(tmp_path), parse) == {
        "err": None, "out": "done"}
    assert time.monotonic() - t0 >= 1.4
    crash = "import sys; print('oops', file=sys.stderr); sys.exit(3)"
    assert ab.execute([sys.executable, "-c", crash], str(tmp_path),
                      ab.perfbench_run)["err"] == (
        "no perfbench result lines [rc=3: oops]")
    monkeypatch.setattr(ab, "RUN_TIMEOUT_S", 1)
    sleeper = [sys.executable, "-c", "import time; time.sleep(30)"]
    t0 = time.monotonic()
    assert ab.execute(sleeper, str(tmp_path), parse) == {"err": "killed after 1 s"}
    assert time.monotonic() - t0 < 10
