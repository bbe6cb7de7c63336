"""The NSVB DAG built to its outputs, checked without Spark: the layers
``estimate_carbon`` keeps for its default output are exactly what that
output depends on, and the bisection UDF is only needed by layers it
prunes away."""

from __future__ import annotations

import re

from foresttime_builder_spark.functions import nsvb
from foresttime_builder_spark.functions.helpers import prune_layers
from foresttime_builder_spark.plans import carbon

#: the prepped panel's columns as ``prep_carbon`` hands them over
#: (the state pipeline's sink columns before the estimates)
PREPPED = (
    "DECAYCD", "SFTWD_HRDWD", "SPCD", "plot_ID", "tree_ID", "YEAR", "PLT_CN",
    "DESIGNCD", "INTENSITY", "CONDID", "MORTYR", "STATUSCD", "RECONCILECD",
    "STANDING_DEAD_CD", "DIA", "CR", "HT", "ACTUALHT", "CULL", "ECOSUBCD",
    "CONDPROP_UNADJ", "PROP_BASIS", "COND_STATUS_CD", "STDORGCD",
    "interpolated", "TPA_UNADJ", "JENKINS_SPGRPCD", "CARBON_RATIO_LIVE",
    "WDSG", "CULL_DECAY_RATIO", "DENSITY_PROP", "BARK_LOSS_PROP",
    "BRANCH_LOSS_PROP", "CARBON_RATIO", "DECAY_WD", "DECAY_BK", "DECAY_BR",
    "C_FRAC", "PROVINCE", "DIVISION", "variant",
)
KEEP = [*PREPPED, *carbon.ESTIMATE_READS]


def _words(expr: str) -> set[str]:
    return {w.lower() for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", expr)}


def _closure(layers, keep) -> set[tuple[int, str]]:
    """(layer index, name) of every definition the ``keep`` columns read,
    resolved forwards: each read binds to the latest definition of that
    name before the reading layer, unless a drop came in between."""
    latest: dict[str, int] = {}  # name -> layer index of its live definition
    reads: dict[tuple[int, str], set[tuple[int, str]]] = {}
    for i, (exprs, drops) in enumerate(layers):
        for name, e in exprs.items():
            reads[(i, name.lower())] = {
                (latest[w], w) for w in _words(e) if w in latest
            }
        for name in exprs:
            latest[name.lower()] = i
        for d in drops:
            latest.pop(d.lower(), None)
    todo = [(latest[k.lower()], k.lower()) for k in keep if k.lower() in latest]
    seen: set[tuple[int, str]] = set()
    while todo:
        node = todo.pop()
        if node not in seen:
            seen.add(node)
            todo.extend(reads[node])
    return seen


def _kept(full, pruned) -> set[tuple[int, str]]:
    """Map the pruned layers back to (full layer index, name): pruning only
    removes expressions and empty layers, never reorders."""
    out, j = set(), 0
    for i, (exprs, drops) in enumerate(full):
        if j < len(pruned):
            pe, pd = pruned[j]
            if set(pe) <= set(exprs) and list(pd) == list(drops) and (pe or pd):
                out |= {(i, n.lower()) for n in pe}
                j += 1
    assert j == len(pruned), "pruned layers are not a subsequence"
    return out


def test_prune_keeps_exactly_the_dependency_closure():
    full = carbon.crm2_layers()
    pruned = prune_layers(full, KEEP)
    kept = _kept(full, pruned)
    assert kept == _closure(full, KEEP)
    # the pruned DAG is a real cut: well under half the definitions
    n_full = sum(len(e) for e, _ in full)
    assert len(kept) < n_full / 2, (len(kept), n_full)


def test_pruned_nsvb_never_calls_the_bisection():
    full = carbon.crm2_layers()
    pruned = prune_layers(full, KEEP)
    assert carbon.calls_bisect(full)
    assert not carbon.calls_bisect(pruned)
    for exprs, _ in pruned:
        for name, e in exprs.items():
            assert "nsvb_bisect_ht" not in e, name
            assert name not in ("HT4", "HTSAW", "_ht4_raw", "_htsaw_raw")


def test_prune_to_every_defined_name_is_identity():
    full = carbon.crm2_layers()
    every = {n for e, d in full for n in [*e, *d]}
    assert prune_layers(full, every) == full


def test_predict_crm2_prunes_and_registers_udf_only_when_called(monkeypatch):
    """``keep=None`` (estimate_carbon's ``keep_all=True``) builds the full
    DAG and registers the UDF; a ``keep`` list builds the pruned DAG and
    registers nothing."""
    built, registered = [], []

    class FakeFrame:
        sparkSession = "session"

    monkeypatch.setattr(nsvb, "join_coef_dims", lambda d: d)
    monkeypatch.setattr(nsvb, "register_udfs", registered.append)
    monkeypatch.setattr(carbon, "apply_layers", lambda d, layers: built.append(layers))

    carbon.predict_crm2(FakeFrame())
    assert built.pop() == carbon.crm2_layers()
    assert registered == ["session"]

    carbon.predict_crm2(FakeFrame(), keep=KEEP)
    assert built.pop() == prune_layers(carbon.crm2_layers(), KEEP)
    assert registered == ["session"]
