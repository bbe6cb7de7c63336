"""Spark-free guard: every defaulted package parameter has a caller that
passes it.

A default nobody overrides is a constant spelled as an option: the
branch only another value reaches never runs, so it is untested code
that reads as a supported configuration.  The scan collects the
defaulted parameters of every package function and method, then every
call in the package, ``tools/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py`` and ``tests/``, matched by callee name.  A call
passes a parameter when it names it as a keyword, reaches it by
position, or spreads ``*args`` / ``**kwargs``.
"""

from __future__ import annotations

import ast
import os

from tests.test_sql_formatter_guard import PKG, package_nodes

ROOT = os.path.dirname(PKG)
CALLER_LOCATIONS = ["tools", "perfbench", "tests", "bench.py", "__spark_entry__.py"]

# Deployment settings of the FIA downloader, which mirrors the reference
# R downloader's signature; a network deployment sets them, no test can.
ALLOWED = {"fia_download"}


def _defaulted(fn, is_method: bool):
    """``(param, position)`` per defaulted parameter of ``fn``; position is
    the index a positional call reaches it at (``None`` for keyword-only),
    counted after ``self`` / ``cls`` for a method."""
    a = fn.args
    positional = a.posonlyargs + a.args
    if is_method:
        positional = positional[1:]
    first = len(positional) - len(a.defaults)
    for i, arg in enumerate(positional[first:], start=first):
        yield arg.arg, i
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _is_static(fn) -> bool:
    return any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list
    )


def defaulted_params(modules):
    """``(path, line, function, param, position)`` for every defaulted
    parameter of every function and method in ``modules``, an iterable of
    ``(path, tree)``."""
    for path, tree in modules:
        methods = {
            id(f)
            for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef)
            for f in c.body
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not _is_static(f)
        }
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for param, pos in _defaulted(fn, id(fn) in methods):
                    yield path, fn.lineno, fn.name, param, pos


def _callee(call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def passed(trees):
    """``{callee name: (keywords, max positional count, spreads)}`` over
    every call in ``trees``; ``spreads`` is True when some call uses
    ``*args`` or ``**kwargs``."""
    seen = {}
    for tree in trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = _callee(call)
            if name is None:
                continue
            kws, n_pos, spreads = seen.get(name, (set(), 0, False))
            spreads = spreads or any(
                isinstance(a, ast.Starred) for a in call.args
            ) or any(kw.arg is None for kw in call.keywords)
            kws |= {kw.arg for kw in call.keywords if kw.arg is not None}
            seen[name] = (kws, max(n_pos, len(call.args)), spreads)
    return seen


def never_passed(modules, trees):
    """``module:line function(param)`` per defaulted parameter of
    ``modules`` that no call in ``trees`` passes."""
    calls = passed(trees)
    out = []
    for path, line, fn, param, pos in defaulted_params(modules):
        kws, n_pos, spreads = calls.get(fn, (set(), 0, False))
        if spreads or param in kws or (pos is not None and pos < n_pos):
            continue
        out.append(f"{path}:{line} {fn}({param})")
    return out


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def _caller_trees():
    for loc in CALLER_LOCATIONS:
        top = os.path.join(ROOT, loc)
        if os.path.isfile(top):
            yield _parse(top)
            continue
        for root, _dirs, files in os.walk(top):
            for name in sorted(files):
                if name.endswith(".py"):
                    yield _parse(os.path.join(root, name))


def _package_trees():
    return [
        (path, node) for path, node in package_nodes()
        if isinstance(node, ast.Module)
    ]


def test_every_defaulted_parameter_has_a_caller():
    modules = _package_trees()
    trees = [t for _, t in modules] + list(_caller_trees())
    params = list(defaulted_params(modules))
    assert any(fn == "get_spark" for _, _, fn, _, _ in params), (
        "the scan no longer sees session.get_spark's defaults"
    )
    offenders = [
        o for o in never_passed(modules, trees)
        if o.split(" ", 1)[1].split("(", 1)[0] not in ALLOWED
    ]
    assert not offenders, (
        "defaulted parameter no call passes (make it a constant and drop "
        f"the branches only another value reaches): {offenders}"
    )


def test_option_guard_sees_every_way_to_pass():
    defs = ast.parse(
        "def f(a, b=1, *, c=2):\n    pass\n"
        "class K:\n"
        "    def m(self, d=3):\n        pass\n"
        "    @staticmethod\n"
        "    def s(e=4):\n        pass\n"
    )
    modules = [("m.py", defs)]

    def missing(src):
        return {
            o.split(" ", 1)[1] for o in never_passed(modules, [ast.parse(src)])
        }

    every = {"f(b)", "f(c)", "m(d)", "s(e)"}
    assert missing("f(0)") == every
    assert missing("f(0, c=5)") == every - {"f(c)"}
    assert missing("f(0, 5)") == every - {"f(b)"}
    assert missing("mod.f(*xs)") == every - {"f(b)", "f(c)"}
    assert missing("f(0, **kw)") == every - {"f(b)", "f(c)"}
    assert missing("K().m(6)") == every - {"m(d)"}
    assert missing("K().m()") == every
    assert missing("K.s(7)") == every - {"s(e)"}
