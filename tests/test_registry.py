"""Spark-free checks of the query registry: each family module declares its
own ``QUERIES`` entries and ``plans.benchmark_queries`` merges them.

Importing the registry builds no session, so these run without a JVM.
"""

from __future__ import annotations

import ast
import hashlib
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


#: The FIA twin modules: DuckDB oracle text only.
FIA_TWINS = ("fia_on_synthetic", "carbon_on_synthetic", "state_on_fixture")


def test_fia_oracles_keep_their_sql_text():
    """Both engines read the same synthetic panel text, so the value-hash
    gate cannot see a change to it (or to an oracle whose Spark side moved
    with it).  ``tests/data/fia_oracle_sql.json`` pins sha256 digests of
    the q25/q26/q27/q28/q38/q51/q52 oracle texts and of both panel texts,
    with the package's ``resources`` directory written as ``<resources>``
    so the digests do not depend on where the checkout lives."""
    from foresttime_builder_spark.plans import (
        carbon_on_synthetic,
        fia_on_synthetic,
    )

    modules = {
        "fia_on_synthetic": fia_on_synthetic,
        "carbon_on_synthetic": carbon_on_synthetic,
    }

    def digest(text: str) -> str:
        text = text.replace(carbon_on_synthetic._RES, "<resources>")
        return hashlib.sha256(text.encode()).hexdigest()

    ref = pathlib.Path(__file__).parent / "data" / "fia_oracle_sql.json"
    for name, want in json.loads(ref.read_text()).items():
        if name in QUERIES:
            text = QUERIES[name].oracle
        else:
            module, attr = name.split(".")
            text = getattr(modules[module], attr)
        assert digest(text) == want, name


@pytest.mark.parametrize("twin", FIA_TWINS)
def test_fia_twin_modules_import_no_spark_plan(twin):
    """A reference implementation must not import the code it checks: the
    FIA twin modules import none of the Spark plan modules their queries
    run, nor the FIA CSV loader."""
    banned_modules = {
        "foresttime_builder_spark.plans.fia",
        "foresttime_builder_spark.plans.carbon",
        "foresttime_builder_spark.plans.state_pipeline",
        "foresttime_builder_spark.plans.population",
    }
    banned_names = {
        ("foresttime_builder_spark.plans", name)
        for name in ("fia", "carbon", "state_pipeline", "population")
    } | {("foresttime_builder_spark.sources.fia", "fia_load")}
    path = PLANS / f"{twin}.py"
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                assert alias.name not in banned_modules, (twin, alias.name)
        elif isinstance(node, ast.ImportFrom):
            assert node.module not in banned_modules, (twin, node.module)
            for alias in node.names:
                assert (node.module, alias.name) not in banned_names, (
                    twin,
                    node.module,
                    alias.name,
                )
