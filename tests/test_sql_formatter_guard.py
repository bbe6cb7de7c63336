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

It also rejects inline spellings of the cross-engine value encoding
(``*_eN`` fixed point and the md5 60-bit hash) outside
:mod:`foresttime_builder_spark.functions.encoding`: copies drift apart,
as the unguarded NaN → 0 (Spark) vs cast error (DuckDB) copies did.
"""

from __future__ import annotations

import ast
import os
import re

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


_ENCODING_MODULE = os.path.join("functions", "encoding.py")
_INLINE_ENCODING_SQL = [
    re.compile(r"\+\s*0\.5\s*\)\s*AS\s+BIGINT", re.I),
    re.compile(r"substr\(\s*md5\(.*?,\s*1\s*,\s*15\s*\)", re.I | re.S),
    re.compile(r"conv\(\s*substring\(\s*md5\(", re.I),
]


def _string_text(node):
    """The literal text of a string constant or f-string (each
    interpolation as ``{}``); ``None`` for any other node."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    return None


def _is_f_call(node, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def _is_half(node) -> bool:
    if _is_f_call(node, "lit") and node.args:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def _is_fixed_point_column(node) -> bool:
    """``F.floor(... + F.lit(0.5)).cast("long")``."""
    if not (
        _is_f_call(node, "cast")
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value in ("long", "bigint")
    ):
        return False
    floor = node.func.value
    return (
        _is_f_call(floor, "floor")
        and len(floor.args) == 1
        and isinstance(floor.args[0], ast.BinOp)
        and isinstance(floor.args[0].op, ast.Add)
        and _is_half(floor.args[0].right)
    )


def test_no_package_module_spells_the_value_encoding_inline():
    offenders = set()
    for path, node in package_nodes():
        if path == _ENCODING_MODULE:
            continue
        text = _string_text(node)
        if text is not None and any(p.search(text) for p in _INLINE_ENCODING_SQL):
            offenders.add(f"{path}:{node.lineno}")
        elif _is_fixed_point_column(node):
            offenders.add(f"{path}:{node.lineno}")
    assert not offenders, (
        "emit gate values with functions.encoding.fixed/fixed_sql and "
        f"hash60/hash60_sql, not an inline copy: {sorted(offenders)}"
    )
