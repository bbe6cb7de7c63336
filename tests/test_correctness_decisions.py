"""Spark-free check that ``tools/check_correctness.py`` keeps each pair
operator's ``dedup.decision`` (tier and venue) for its JSON records, and
passes stderr on unchanged."""

from __future__ import annotations

import contextlib
import io
import sys

import pyarrow as pa

from foresttime_builder_spark.operators import dedup
from tools.check_correctness import DecisionTee


def test_decision_lines_are_kept_and_passed_on():
    sample = pa.table({
        "doc_id": pa.array([1, 2]),
        "toks": pa.array([["a"], ["a"]], pa.list_(pa.string())),
        "sz": pa.array([1, 1], pa.int32()),
    })
    facts = dedup.CorpusFacts(2, 1.0, ["a"], 1.0, sample)
    out = io.StringIO()
    tee = DecisionTee(out)
    with contextlib.redirect_stderr(tee):
        dedup._decide("minhash_lsh_pairs", facts, 1, pin="arrays")
        sys.stderr.write("a partial ")
        sys.stderr.write("line\n")
        dedup._decide("lsh_representatives", facts._replace(p=0.5))
    assert tee.decisions == [
        {"op": "minhash_lsh_pairs", "choice": "arrays", "venue": "local"},
        {"op": "lsh_representatives", "choice": "bitmask", "venue": "spark"},
    ]
    lines = out.getvalue().splitlines()
    assert len(lines) == 3 and lines[1] == "a partial line"
