"""Spark-free guard: no package module calls ``.sql(...)`` with keywords.

``spark.sql(text, df=frame)`` is PySpark's string-formatter path: it
registers each DataFrame keyword as a temp view, then drops it with
``Catalog.dropTempView``, which also UNCACHES the view's plan.  A
persisted ``frame`` silently stops being cached (``frame.is_cached``
still says True): ``run_states`` recomputed its shared interpolated panel
once per consumer this way.  Build SQL over a frame with
:func:`foresttime_builder_spark.functions.helpers.apply_layers`, or a
temp view whose name alone is dropped.  ``args=`` binds SQL parameters
without the formatter and stays allowed.

The same walk rejects the ``inferSchema`` reader option: inference is a
full extra scan per table whose column types drift with the data.  The
FIA tables read under the declared
:data:`foresttime_builder_spark.sources.fia.FIA_TYPES` contract.
"""

from __future__ import annotations

import ast
import os

import foresttime_builder_spark

PKG = os.path.dirname(foresttime_builder_spark.__file__)


def package_nodes():
    """``(path relative to the package, node)`` for every AST node of every
    package module."""
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                yield os.path.relpath(path, PKG), node


def _sql_calls():
    for path, node in package_nodes():
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "sql"
        ):
            yield path, node


def test_no_sql_call_uses_the_string_formatter():
    calls = list(_sql_calls())
    assert calls, "the scan found no .sql(...) call at all"
    offenders = [
        f"{path}:{node.lineno}"
        for path, node in calls
        if any(kw.arg != "args" for kw in node.keywords)
    ]
    assert not offenders, (
        "spark.sql(text, df=...) un-persists df; see this module's "
        f"docstring: {offenders}"
    )


def _is_infer_schema(name) -> bool:
    return isinstance(name, str) and name.lower() == "inferschema"


def test_no_package_module_infers_a_schema():
    offenders = [
        f"{path}:{node.lineno}"
        for path, node in package_nodes()
        if isinstance(node, ast.Call)
        and (
            any(_is_infer_schema(kw.arg) for kw in node.keywords)
            or any(
                isinstance(a, ast.Constant) and _is_infer_schema(a.value)
                for a in node.args
            )
        )
    ]
    assert not offenders, (
        "inferSchema scans the data an extra time and its types drift; "
        f"declare the column types instead: {offenders}"
    )
