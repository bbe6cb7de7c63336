"""Spark-free guard: every defaulted package parameter is an option a
product caller really uses, and every top-level package function has a
product caller.

A default only a test overrides is a constant spelled as an option: the
branch behind the other value never runs in the product, so it reads as
a supported configuration that nothing ships.  The scan collects the
defaulted parameters of every package function and method, then every
call outside the tests (the package, ``tools/``, ``perfbench/`` except
its self-tests, ``bench.py`` and ``__spark_entry__.py``), matched by
callee name.  A call passes a parameter when it names it as a keyword,
reaches it by position, or spreads ``*args`` / ``**kwargs``; a pass of
the default's own literal does not count.  A top-level function needs a
reference (a call, or its name as a value) outside the tests and its own
definition.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

from tests.test_sql_formatter_guard import PKG, package_nodes

ROOT = os.path.dirname(PKG)
CALLER_LOCATIONS = ["tools", "perfbench", "bench.py", "__spark_entry__.py"]
TEST_FILES = {os.path.join(ROOT, "perfbench", "test_perfbench.py")}

_DEPLOYMENT = (
    "deployment setting of the FIA downloader, which mirrors the reference "
    "R downloader's signature; a network deployment sets it, no test can"
)
_DEGRADE = (
    "token_jaccard_pairs' degrade runs the banded path with its own "
    "caller's threshold and tokenizer (q16, q54, q76) through _lsh_pairs, "
    "the body it shares with minhash_lsh_pairs, so that path reuses its "
    "fact pass; the scan matches callers by callee name"
)
#: ``function(param)`` or ``function`` -> why it stays without a product caller
EXEMPT = {
    "fia_download": _DEPLOYMENT,
    "fia_download(extract)": _DEPLOYMENT,
    "fia_download(keep_zip)": _DEPLOYMENT,
    "fia_download(timeout)": _DEPLOYMENT,
    "fia_download(max_workers)": _DEPLOYMENT,
    "run_states(estimate)": (
        "the frozen benchmark calls run_states(..., estimate=True); tests "
        "run the annualize-only write"
    ),
    "minhash_lsh_pairs(threshold)": _DEGRADE,
    "minhash_lsh_pairs(tokenizer)": _DEGRADE,
    "connected_components(small_graph_edges)": (
        "the operator picks the driver-side path below this edge count; "
        "tests need the distributed path at test size"
    ),
}

#: offenders not yet triaged (ROADMAP open item 7): each becomes a
#: constant or gets a product caller; the list only shrinks
PENDING = {
    "_components_sql(sym)",
    "_lsh_representatives_oracle(threshold)",
    "connected_components(max_iter)",
    "connected_components(stats)",
    "containment_pairs(threshold)",
    "contamination(n)",
    "dedup_finalize(clusters)",
    "dedup_finalize(pairs)",
    "dedup_finalize(strategy)",
    "dedup_finalize(threshold)",
    "derive_candidate_budget(n_workers)",
    "derive_candidate_budget(safety)",
    "domain_cap(n_salts)",
    "dsir_logweights(add_k)",
    "dsir_logweights(n_buckets)",
    "duplicated_span_coverage(n)",
    "duplicated_span_coverage_oracle_sql(n)",
    "edit_distance_pairs(max_key_len)",
    "equidepth_histogram(scale)",
    "equidepth_histogram_oracle_sql(scale)",
    "equidepth_histogram_sampled(max_sample_rows)",
    "equidepth_histogram_sampled(scale)",
    "equidepth_histogram_sampled_oracle_sql(scale)",
    "estimate_candidate_pairs(sample_docs)",
    "incremental_dedup(band_size)",
    "incremental_dedup(n_hashes)",
    "incremental_dedup(threshold)",
    "incremental_group_sum(old_agg)",
    "kmv_by_oracle_sql(k)",
    "kmv_distinct(k)",
    "kmv_distinct_by(k)",
    "kmv_distinct_by(oversample)",
    "kmv_oracle_sql(k)",
    "line_dedup(max_doc_freq)",
    "line_dedup_oracle_sql(max_doc_freq)",
    "minhash_lsh_pairs(on_budget)",
    "minhash_lsh_pairs(verify)",
    "ngram_lm_score(add_k)",
    "numeric_histogram(scale)",
    "numeric_histogram_oracle_sql(scale)",
    "pack_sequences(n_shards)",
    "quota_sample(mix_col)",
    "read_jsonl(permissive)",
    "salted_agg(salt)",
    "semi_reduced_join(how)",
    "semi_reduced_join(n_buckets)",
    "split_assign(id_col)",
    "split_assign(salt)",
    "split_assign(splits)",
    "stratified_split_exact(splits)",
    "temperature_quotas(mix_col)",
    "top_token_ngrams(k)",
    "top_token_ngrams(n)",
    "top_token_ngrams_oracle_sql(k)",
    "top_token_ngrams_oracle_sql(n)",
    "zorder_key(bits)",
    "zorder_key_sql(bits)",
}


def _defaulted(fn, is_method: bool):
    """``(param, position, default)`` per defaulted parameter of ``fn``;
    position is the index a positional call reaches it at (``None`` for
    keyword-only), counted after ``self`` / ``cls`` for a method."""
    a = fn.args
    positional = a.posonlyargs + a.args
    if is_method:
        positional = positional[1:]
    first = len(positional) - len(a.defaults)
    for i, (arg, default) in enumerate(
        zip(positional[first:], a.defaults), start=first
    ):
        yield arg.arg, i, default
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None, default


def _is_static(fn) -> bool:
    return any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list
    )


def defaulted_params(modules):
    """``(path, line, function, param, position, default)`` for every
    defaulted parameter of every function and method in ``modules``, an
    iterable of ``(path, tree)``."""
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
                for param, pos, default in _defaulted(fn, id(fn) in methods):
                    yield path, fn.lineno, fn.name, param, pos, default


def _callee(call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def passed(trees):
    """``{callee name: (keyword values, positional values, spreads)}`` over
    every call in ``trees``: ``ast.dump`` of each value passed per keyword
    and per position; ``spreads`` is True when some call uses ``*args`` or
    ``**kwargs``."""
    seen = {}
    for tree in trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = _callee(call)
            if name is None:
                continue
            kws, pos, spreads = seen.setdefault(name, ({}, {}, [False]))
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                kw.arg is None for kw in call.keywords
            ):
                spreads[0] = True
            for kw in call.keywords:
                if kw.arg is not None:
                    kws.setdefault(kw.arg, set()).add(ast.dump(kw.value))
            for i, a in enumerate(call.args):
                pos.setdefault(i, set()).add(ast.dump(a))
    return seen


def never_passed(modules, trees):
    """``module:line function(param)`` per defaulted parameter of
    ``modules`` that no call in ``trees`` passes with a value other than
    the default's own."""
    calls = passed(trees)
    out = []
    for path, line, fn, param, pos, default in defaulted_params(modules):
        kws, by_pos, spreads = calls.get(fn, ({}, {}, [False]))
        values = kws.get(param, set()) | by_pos.get(pos, set())
        if spreads[0] or values - {ast.dump(default)}:
            continue
        out.append(f"{path}:{line} {fn}({param})")
    return out


def _loads(node):
    """Names loaded under ``node``: ``Name`` loads and attribute names."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr


def unreferenced(modules, trees):
    """``module:line function`` per top-level function of ``modules`` whose
    name no node of ``trees`` loads outside the function itself."""
    loads = Counter(name for tree in trees for name in _loads(tree))
    out = []
    for path, tree in modules:
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            inside = sum(1 for name in _loads(fn) if name == fn.name)
            if loads[fn.name] <= inside:
                out.append(f"{path}:{fn.lineno} {fn.name}")
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
                path = os.path.join(root, name)
                if name.endswith(".py") and path not in TEST_FILES:
                    yield _parse(path)


def _package_trees():
    return [
        (path, node) for path, node in package_nodes()
        if isinstance(node, ast.Module)
    ]


def _name(offender: str) -> str:
    return offender.split(" ", 1)[1]


def _scan():
    modules = _package_trees()
    return modules, [t for _, t in modules] + list(_caller_trees())


def test_every_defaulted_parameter_has_a_caller():
    modules, trees = _scan()
    params = list(defaulted_params(modules))
    assert any(p[2] == "get_spark" for p in params), (
        "the scan no longer sees session.get_spark's defaults"
    )
    found = never_passed(modules, trees)
    offenders = [o for o in found if _name(o) not in EXEMPT.keys() | PENDING]
    assert not offenders, (
        "defaulted parameter only tests or only its own default exercise "
        "(make it a constant and drop the branches only another value "
        f"reaches, and their test cases): {offenders}"
    )
    stale = (PENDING | {k for k in EXEMPT if "(" in k}) - {
        _name(o) for o in found
    }
    assert not stale, f"listed but now passed by a product caller: {stale}"


def test_every_package_function_has_a_product_caller():
    modules, trees = _scan()
    found = unreferenced(modules, trees)
    offenders = [o for o in found if _name(o) not in EXEMPT]
    assert not offenders, (
        f"package function only tests reach (delete it): {offenders}"
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
    # the default's own literal is no pass
    assert missing("f(0, 1, c=2)") == every
    assert missing("f(0, 1); f(0, 3)") == every - {"f(b)"}


def test_function_guard_sees_references():
    defs = ast.parse(
        "def a():\n    return a()\n"
        "def b():\n    pass\n"
        "def c():\n    pass\n"
    )
    modules = [("m.py", defs)]
    trees = [defs, ast.parse("x = [b]\nm.c()\n")]
    assert unreferenced(modules, trees) == ["m.py:1 a"]
