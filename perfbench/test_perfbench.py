"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import flows  # noqa: E402
import gen_docs  # noqa: E402
import gen_fia  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, prefix_self, self_times  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def advance(self, dt: float) -> None:
        self.t += dt


# --- generators -----------------------------------------------------------

def _digest(path: str) -> dict[str, str]:
    return {n: hashlib.md5(open(os.path.join(path, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(path))}


def test_fia_generator_is_deterministic_per_seed(tmp_path):
    gen_fia.write_state(str(tmp_path / "a"), 7, 12, 6)
    gen_fia.write_state(str(tmp_path / "b"), 7, 12, 6)
    gen_fia.write_state(str(tmp_path / "c"), 8, 12, 6)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c
    assert sorted(a) == sorted(
        f"{gen_fia.STATE}_{t}.csv" for t in gen_fia.build_rows(7, 1, 1))


def test_fia_generator_covers_the_scenarios():
    trees = gen_fia.build_rows(3, 80, 10)["TREE"][1]
    years = {r["INVYR"] for r in trees}
    assert min(years) < 2000 and max(years) <= gen_fia.LAST_YEAR
    assert {r["SPCD"] for r in trees} == {316, 318, 131, 475}
    dead = [r for r in trees if r["STATUSCD"] == 2]
    assert {r["STANDING_DEAD_CD"] for r in dead} == {0, 1}
    assert any(r["MORTYR"] for r in dead)
    assert all(r["DIA"] is None for r in dead if r["STANDING_DEAD_CD"] == 0)
    assert {r["RECONCILECD"] for r in trees} >= {5, 6, 9}
    assert any(r["CONDID"] == 2 for r in trees)


def test_docs_generator_is_deterministic_per_seed():
    assert gen_docs.build_rows(4, 50) == gen_docs.build_rows(4, 50)
    assert gen_docs.build_rows(4, 50) != gen_docs.build_rows(5, 50)


def test_docs_generator_matches_the_sf01_corpus_shape():
    rows = gen_docs.build_rows(2, 300)
    tokens = [r[1].split(" ") for r in rows]
    assert {t for ts in tokens for t in ts} == {*gen_docs.VOCAB, "dup"}
    assert len(gen_docs.VOCAB) == 30
    assert min(map(len, tokens)) >= 10
    assert sum(t[-1] == "dup" for t in tokens) == 15  # 5% planted copies
    # the sf0.1 corpus has ~24% of its pairs at Jaccard >= 0.8
    assert 0.18 < gen_docs.pair_density(rows) < 0.30


# --- metric names ---------------------------------------------------------

def test_benchmark_json_names_exactly_the_printed_metrics():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_result_line_rejects_missing_and_extra_metrics():
    values = dict.fromkeys(run.END_TO_END, 1.5)
    line = json.loads(run.result_line(True, 3, 0, values, run.END_TO_END))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(run.END_TO_END)
    with pytest.raises(KeyError):
        run.result_line(True, 3, 0, {**values, "extra_s": 1.0}, run.END_TO_END)
    del values["setup_s"]
    with pytest.raises(KeyError):
        run.result_line(True, 3, 0, values, run.END_TO_END)


#: exec prefix durations of the synthetic traced call, and the self times
#: they imply (interpolate is persisted, so mortality starts from zero)
PREFIX = {"tidy": 1.0, "expand": 1.5, "interpolate": 2.5, "mortality": 1.0,
          "prep": 1.6, "estimate": 3.0}
EXEC_SELF = {"tidy": 1.0, "expand": 0.5, "interpolate": 1.0,
             "mortality": 1.0, "prep": 0.6, "estimate": 1.4, "sink": 0.5}
BUILD = 0.25
SINK_PREFIX = 3.5
UNATTRIBUTED = 0.125
HARVEST = 0.0625
#: spans inside the traced call: fia_load, run_states, 2 per step
#: (mortality's build is called once per variant)
TRACED_SPANS = 2 + 2 * 6 + 1


class FakeHarvester:
    """Each harvest takes HARVEST seconds, as the status-store walk does."""

    def __init__(self, clock: FakeClock):
        self.clock = clock

    def set_group(self, group: str, description: str) -> None:
        return None

    def restore_group(self, prev) -> None:
        pass

    def harvest(self, group: str) -> tuple[int, dict]:
        self.clock.advance(HARVEST)
        return 1, {}


def _synthetic_pass() -> Tracer:
    """A span tree shaped like ``flows.traced_pass`` builds it."""
    clock = FakeClock()
    tr = Tracer("state_pipeline", clock=clock, harvester=FakeHarvester(clock))

    def leaf(name, layer, dt):
        with tr.span(name, layer):
            clock.advance(dt)

    leaf("session.build", "session", 5.0)
    leaf("session.first_job", "session", 3.0)
    with tr.span("traced_op", "op"):
        leaf("fia_load", "sources.fia", 0.5)
        with tr.span("run_states", "plans.state_pipeline"):
            for step in ("tidy", "expand", "interpolate"):
                leaf(f"{step}.build", "plans.fia", BUILD)
                leaf(f"{step}.exec", "plans.fia", PREFIX[step])
            leaf("mortality.build", "plans.fia", BUILD / 2)
            leaf("mortality.build", "plans.fia", BUILD / 2)
            leaf("mortality.exec", "plans.fia", PREFIX["mortality"])
            for step in ("prep", "estimate"):
                leaf(f"{step}.build", "plans.carbon", BUILD)
                leaf(f"{step}.exec", "plans.carbon", PREFIX[step])
            clock.advance(SINK_PREFIX)
        clock.advance(UNATTRIBUTED)
    for q in flows.POP_QUERIES:
        leaf(f"{q}.build", "plans.population", 0.1)
        leaf(f"{q}.exec", "plans.population", 0.2)
    leaf("qa.suite", "plans.qa", 1.0)
    for k in flows.DEDUP_SHORT.values():
        leaf(f"{k}.build", "operators.dedup", 1.0)
        leaf(f"{k}.exec", "operators.dedup", 2.0)
    return tr


def _facts() -> dict:
    return {
        "state": {"rows": 200, "estimated": 150},
        "sink_files": 4, "sink_bytes": 8000, "leaked_rdds": 0,
        "pairs": dict.fromkeys(flows.DEDUP_QUERIES, 10),
        "candidates": dict.fromkeys(flows.DEDUP_QUERIES, 40),
    }


def test_traced_pass_prints_every_per_layer_metric():
    values = flows.layer_metrics(_synthetic_pass(), _facts())
    values["jvm.peak_rss_mb"] = 1.0  # added by run.py from /proc
    line = json.loads(run.result_line(True, 1, 0, values, run.PER_LAYER))
    assert set(line["metrics"]) == {m["name"] for m in _spec()["per_layer"]}


def test_layer_self_times_account_for_the_traced_wall_time():
    m = flows.layer_metrics(_synthetic_pass(), _facts())
    for step, want in EXEC_SELF.items():
        if step == "sink":
            # run_states' self time holds none of its children's harvests
            assert m["sink.write_s"] == pytest.approx(want)
        else:
            layer = "carbon" if step in ("prep", "estimate") else "fia"
            assert m[f"{layer}.{step}.exec_s"] == pytest.approx(want)
    assert m["fia.mortality.build_s"] == pytest.approx(BUILD)
    assert m["sources.fia_load_s"] == pytest.approx(0.5)
    layers = (0.5 + 6 * BUILD + sum(EXEC_SELF.values()))
    assert m["trace.attributed_s"] == pytest.approx(layers)
    assert m["trace.unattributed_s"] == pytest.approx(UNATTRIBUTED)
    assert m["trace.harvest_s"] == pytest.approx(TRACED_SPANS * HARVEST)
    # tracing adds the prefix re-runs and every harvest
    rerun = sum(PREFIX.values()) + SINK_PREFIX - sum(EXEC_SELF.values())
    assert m["trace.overhead_s"] == pytest.approx(
        rerun + TRACED_SPANS * HARVEST)
    assert (m["trace.attributed_s"] + m["trace.unattributed_s"]
            + m["trace.overhead_s"] == pytest.approx(m["trace.wall_s"]))
    assert m["carbon.estimated_ratio"] == pytest.approx(0.75)
    assert m["dedup.q16.pairs_per_candidate"] == pytest.approx(0.25)


# --- span arithmetic ------------------------------------------------------

def test_self_times_subtract_children_and_their_harvests():
    spans = [
        Span(0, "root", "op", None, 0.0, 10.0),
        Span(1, "a", "x", 0, 1.0, 4.0, harvest_s=0.5),
        Span(2, "b", "x", 0, 4.5, 6.0),
        Span(3, "a1", "y", 1, 2.0, 2.5, harvest_s=0.25),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.0 - 0.5 - 1.5)
    assert selfs[1] == pytest.approx(3.0 - 0.5 - 0.25)
    assert selfs[3] == pytest.approx(0.5)
    # self times plus harvests add up to the root's wall time
    assert sum(selfs.values()) + 0.75 == pytest.approx(10.0)


def test_prefix_self_telescopes_and_restarts_at_a_cache():
    prefixes = [("a", 1.0), ("b", 3.0), ("c", 2.0), ("c", 0.5), ("d", 4.0)]
    got = prefix_self(prefixes, {"a": None, "b": "a", "c": None, "d": "c"})
    assert got == pytest.approx({"a": 1.0, "b": 2.0, "c": 2.5, "d": 1.5})


def test_traced_state_call_counts_a_leaked_persist_as_a_problem(monkeypatch):
    cached = []
    monkeypatch.setattr(flows, "state_op",
                        lambda *a, **k: cached.append(object()))
    monkeypatch.setattr(flows, "persistent_rdds", lambda spark: len(cached))
    monkeypatch.setattr(flows, "check_state", lambda csv, out: [])
    monkeypatch.setattr(flows.checks, "state_facts", lambda out: {})
    monkeypatch.setattr(flows, "_dir_stats", lambda path: (0, 0))
    facts, problems = {}, []
    flows._state_flow(None, Tracer("state_pipeline"),
                      {"csv": "c", "out": "o"}, facts, problems)
    assert facts["leaked_rdds"] == 1
    assert problems == ["persisted RDDs leaked"]


# --- closed loop ----------------------------------------------------------

def _loop(op, checksum, persisted, seconds=4.0):
    clock = FakeClock()

    def timed_op():
        clock.advance(1.0)
        op()

    return run.closed_loop(timed_op, checksum, persisted, seconds=seconds,
                           clock=clock)


def test_leaked_persist_counts_as_a_failure():
    cached = []

    def op():
        if len(cached) < 10:
            cached.append(object())  # a persist nobody releases

    res = _loop(op, lambda: 1, lambda: len(cached))
    assert res.attempted == 4 and len(res.warm_s) == 3
    assert res.failed == 4
    assert all("leaked" in e for e in res.errors)


def test_checksum_drift_and_exceptions_count_as_failures():
    calls = []

    def op():
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("boom")

    sums = iter([7, 7, 8])
    res = _loop(op, lambda: next(sums), lambda: 0)
    assert res.attempted == 4
    assert res.failed == 2
    assert res.first_s == 1.0 and res.warm_s == [1.0, 1.0, 1.0]


def test_one_call_fills_a_window_shorter_than_the_call():
    calls = []
    res = _loop(lambda: calls.append(1), lambda: 1, lambda: 0, seconds=1.0)
    assert res.attempted == 1 and res.warm_s == [] and res.first_s == 1.0
