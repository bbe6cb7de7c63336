"""Spark-free check that the benchmark's calls into the package still bind.

``perfbench/`` is frozen and outside the tier-1 suite, so a package
signature change would otherwise first fail in a benchmark run.  Each
perfbench module's imports from the package are resolved, then every call
through an imported function or module attribute is bound with
``inspect.signature(...).bind`` (placeholder values, the call's own
keyword names).  The layer functions ``flows.layer_probes`` patches by
name (``flows.LAYER_FUNCS``) must exist.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os

from tests.test_sql_formatter_guard import PKG

PERFBENCH = os.path.join(os.path.dirname(PKG), "perfbench")
PACKAGE = os.path.basename(PKG)


def _modules():
    for name in sorted(os.listdir(PERFBENCH)):
        if name.endswith(".py") and not name.startswith("test_"):
            with open(os.path.join(PERFBENCH, name)) as f:
                yield name, ast.parse(f.read(), name)


def _bindings(tree) -> dict:
    """{local name: package object} for the module's package imports, at
    any depth (function-local imports included)."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            PACKAGE
        ):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                obj = getattr(mod, alias.name, None)
                if obj is None:  # a submodule
                    obj = importlib.import_module(f"{node.module}.{alias.name}")
                out[alias.asname or alias.name] = obj
    return out


def _target(call, names):
    f = call.func
    if isinstance(f, ast.Name):
        return names.get(f.id)
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        mod = names.get(f.value.id)
        if inspect.ismodule(mod):
            return getattr(mod, f.attr)
    return None


def package_calls():
    """``(module, line, callable, call)`` per perfbench call into the
    package that spreads no ``*args`` / ``**kwargs``."""
    for name, tree in _modules():
        names = _bindings(tree)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            fn = _target(call, names)
            if not callable(fn) or inspect.isclass(fn):
                continue
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                continue
            yield name, call.lineno, fn, call


def test_perfbench_calls_bind_to_package_signatures():
    bound, failed = 0, []
    for name, line, fn, call in package_calls():
        args = [None] * len(call.args)
        kwargs = {k.arg: None for k in call.keywords}
        try:
            inspect.signature(fn).bind(*args, **kwargs)
            bound += 1
        except TypeError as ex:
            label = getattr(fn, "__name__", fn)
            failed.append(f"perfbench/{name}:{line} {label}: {ex}")
    assert not failed, failed
    assert bound >= 10, f"only {bound} perfbench calls resolved"


def test_perfbench_layer_funcs_exist():
    tree = dict(_modules())["flows.py"]
    names = _bindings(tree)
    [entries] = [
        node.value.elts
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "LAYER_FUNCS" for t in node.targets)
    ]
    assert entries
    for entry in entries:
        mod, fn = entry.elts[0].id, entry.elts[1].value
        assert callable(getattr(names[mod], fn, None)), f"{mod}.{fn}"
