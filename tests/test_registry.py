"""Spark-free checks of the query registry: each family module declares its
own ``QUERIES`` entries and ``plans.benchmark_queries`` merges them.

Importing the registry builds no session, so these run without a JVM.
"""

from __future__ import annotations

import ast
import importlib
import json
import pathlib
import re

import pytest

from foresttime_builder_spark.plans import benchmark_queries
from foresttime_builder_spark.plans.benchmark_queries import QUERIES

PLANS = pathlib.Path(benchmark_queries.__file__).parent
FAMILY_FILES = sorted(
    p for p in (PLANS / "queries").glob("*.py") if not p.name.startswith("_")
) + [PLANS / "streaming_queries.py"]


def _number(name: str) -> int:
    return int(re.match(r"q(\d+)_", name).group(1))


def _module_name(path: pathlib.Path) -> str:
    rel = path.relative_to(PLANS.parent.parent).with_suffix("")
    return ".".join(rel.parts)


def test_registry_has_every_query_number_once_in_order():
    assert len(QUERIES) == 124
    numbers = [_number(n) for n in QUERIES]
    assert numbers == list(range(1, 125))


def test_entries_name_their_own_function_and_carry_sql_or_none():
    for name, spec in QUERIES.items():
        assert spec.fn.__name__ == name
        assert spec.oracle is None or isinstance(spec.oracle, str), name


@pytest.mark.parametrize("path", FAMILY_FILES, ids=lambda p: p.stem)
def test_every_query_function_is_registered_in_its_module(path):
    tree = ast.parse(path.read_text(), str(path))
    defined = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and re.match(r"q\d+_", node.name)
    }
    module = importlib.import_module(_module_name(path))
    assert defined
    assert defined == set(module.QUERIES)
    for name, spec in module.QUERIES.items():
        assert spec.fn is getattr(module, name)
        assert QUERIES[name] is spec


def test_merge_rejects_a_name_declared_twice():
    from foresttime_builder_spark.plans.queries import fia, streaming

    name = next(iter(fia.QUERIES))
    clash = {name: next(iter(streaming.QUERIES.values()))}
    with pytest.raises(ValueError, match=name):
        benchmark_queries._merge(fia.QUERIES, clash)


def test_minhash_oracles_keep_their_sql_text():
    """The LSH oracles build their MinHash signature and band blocks with
    one helper (``dedup._minhash_band_sql``); their SQL text stays what it
    was when each oracle spelled the blocks out itself, captured in
    ``tests/data/minhash_oracle_sql.json``."""
    ref = pathlib.Path(__file__).parent / "data" / "minhash_oracle_sql.json"
    for name, sql in json.loads(ref.read_text()).items():
        assert QUERIES[name].oracle == sql, name
