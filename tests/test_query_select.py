"""Spark-free checks of the ``--only`` / ``--skip`` selector shared by
``tools/check_correctness.py`` and ``tools/run_at_scale.py``."""

from __future__ import annotations

import pytest

from foresttime_builder_spark.plans.benchmark_queries import QUERIES
from tools.check_correctness import select_queries

NAMES = sorted(QUERIES)


def test_an_id_selects_only_its_query():
    # q100-q109 share the prefix, which the old selector also ran
    assert len([n for n in NAMES if n.startswith("q10")]) > 1
    assert select_queries(NAMES, "q10") == ["q10_fill_downup"]
    assert select_queries(NAMES, "q10,q16") == [
        "q10_fill_downup",
        "q16_jaccard_pairs",
    ]


def test_a_full_name_selects_only_itself():
    assert select_queries(NAMES, "q101_ann_recall") == ["q101_ann_recall"]


def test_skip_reads_names_the_same_way():
    kept = select_queries(NAMES, None, "q10")
    assert "q10_fill_downup" not in kept
    assert len(kept) == len(NAMES) - 1
    assert select_queries(NAMES, "q10,q101", "q101_ann_recall") == [
        "q10_fill_downup"
    ]


def test_no_only_picks_everything():
    assert select_queries(NAMES, None) == NAMES
    assert select_queries(NAMES, "") == NAMES


@pytest.mark.parametrize("token", ["q1", "q10_fill", "nope"])
def test_a_token_naming_no_query_raises(token):
    with pytest.raises(ValueError, match=token):
        select_queries(NAMES, token)
