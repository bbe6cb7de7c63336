"""SQL-text plan building shared by the pipeline layers.

:func:`apply_layers` folds dependency-ordered projection layers of SQL-text
expressions into one generated statement; the FIA interpolators and the
NSVB carbon DAG are built with it.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame


def apply_layers(
    base: DataFrame,
    layers: list[tuple[dict[str, str], list[str]]],
) -> DataFrame:
    """Apply dependency-ordered projection layers of SQL-text expressions.

    ``layers`` is a list of ``(exprs, drops)``: each layer adds/replaces the
    columns in ``exprs`` (SQL text, resolved against the previous layer —
    exactly ``withColumns`` semantics) and then drops the named columns.

    The pyramid is folded into ONE generated nested-``SELECT`` statement
    (explicit column lists, no ``*`` re-expansion) executed with a single
    ``spark.sql`` call over a uniquely named temp view of ``base``, whose
    NAME alone is dropped afterwards: ``spark.sql(text, df=...)`` drops
    its views with ``Catalog.dropTempView``, which also uncaches the
    view's plan and so silently un-persists a cached ``base``.  Classic
    PySpark analyzes EAGERLY on every Dataset transform, so the former
    one-``withColumns``-per-layer form re-ran the analyzer over the
    deepening ~250-column plan once per layer — ~33 ms × 49 layers ≈ 1.6 s of the q26 build, measured
    with cProfile (r15 optimization round: 2.5 s of a 3.0 s build was py4j
    ``recv_into``, 49 ``withColumns`` calls = 1.62 s).  One sql() call pays
    parse + analysis once: q26 build 2.06 → 1.67 s median (interleaved A/B,
    output checksums identical); exec time unchanged — the analyzed plan
    optimizes to the same physical plan, layer-per-Project.  An earlier
    round's nested-CTE attempt measured slower because every CTE level
    re-expanded ``SELECT *``; explicit column lists avoid that.

    Semantics notes (pinned by the carbon-chain oracle gates): replaced
    columns keep their position (withColumns convention) and names match
    case-insensitively, exactly like the session's default resolver; each
    layer's expressions resolve against the PREVIOUS layer only
    (simultaneous within a layer).

    Depth reduction (r15, second pass): the analyzer's cost is O(levels ×
    columns) and the OPTIMIZER re-collapses the Project pyramid on every
    execution, so fewer levels help both build and run.  Two lossless
    reductions before generating the statement:

    - a layer's ``drops`` fold into the SAME ``SELECT`` (omitting an
      output column is exactly dropping it — nothing can reference it
      between the two half-levels);
    - layers re-stratify to their earliest safe level (ASAP packing): a
      layer sinks to level L when, for every level M ≥ L already formed,
      it reads nothing M defines or drops AND nothing in any M reads a
      name it defines or drops (conservative word-token scan over the
      SQL text — a false match only prevents a merge).  Each packed
      layer still resolves against exactly the values it did before.
      New-column append ORDER can differ across levels, so a final
      projection restores the original algorithm's column order when
      needed.  Measured on the q26 NSVB DAG: 35 exprs+drops layers
      (~70 nested SELECTs) → 20 levels; the big-call generation cost fell 0.85 → 0.55 s and the q26 rebuild 2.1–2.6 → ~1.9 s."""
    # simulate the UN-packed algorithm's column evolution: the packed
    # form must emit the same names in the same final order
    expected = list(base.columns)
    for exprs, drops in layers:
        if exprs:
            low = {c.lower() for c in expected}
            expected = [
                next((k for k in exprs if k.lower() == c.lower()), c)
                for c in expected
            ] + [k for k in exprs if k.lower() not in low]
        if drops:
            dset = {d.lower() for d in drops}
            expected = [c for c in expected if c.lower() not in dset]

    spark = base.sparkSession
    view = f"__apply_layers_{uuid.uuid4().hex}"
    cur = list(base.columns)
    sql = f"SELECT * FROM {view}"
    for exprs, drops in _merge_layers(layers):
        dset = {d.lower() for d in drops}
        if exprs:
            lowmap = {c.lower(): c for c in cur}
            new_names = [k for k in exprs if k.lower() not in lowmap]
            parts = []
            nxt = []
            for c in cur:
                match = next(
                    (k for k in exprs if k.lower() == c.lower()), None
                )
                if match is not None:
                    if match.lower() in dset:
                        continue
                    parts.append(f"({exprs[match]}) AS {_bq(match)}")
                    nxt.append(match)
                else:
                    if c.lower() in dset:
                        continue
                    parts.append(_bq(c))
                    nxt.append(c)
            for k in new_names:
                if k.lower() in dset:
                    continue
                parts.append(f"({exprs[k]}) AS {_bq(k)}")
                nxt.append(k)
            sql = "SELECT " + ", ".join(parts) + " FROM (" + sql + ")"
            cur = nxt
        elif drops:
            cur = [c for c in cur if c.lower() not in dset]
            sql = (
                "SELECT " + ", ".join(_bq(c) for c in cur)
                + " FROM (" + sql + ")"
            )
    if cur != expected:
        sql = (
            "SELECT " + ", ".join(_bq(c) for c in expected)
            + " FROM (" + sql + ")"
        )
    base.createTempView(view)
    try:
        return spark.sql(sql)  # analyzes eagerly: the view can go after
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(view)


_IDENT = None  # compiled lazily; helpers imports before re is warm
_BQTOK = None  # `quoted identifier` extractor (`` = escaped backquote)


def _tokens(expr: str) -> set[str]:
    """Every identifier an expression's SQL text may read, lower-cased:
    its word tokens (function names and literals included) and its
    backquoted names."""
    _compile_tokens()
    return {t.lower() for t in _IDENT.findall(expr)} | {
        m.replace("``", "`").lower() for m in _BQTOK.findall(expr)
    }


def _compile_tokens() -> None:
    global _IDENT, _BQTOK
    if _IDENT is None:
        import re

        _IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
        _BQTOK = re.compile(r"`((?:[^`]|``)*)`")


def prune_layers(
    layers: list[tuple[dict[str, str], list[str]]],
    keep: list[str] | set[str],
) -> list[tuple[dict[str, str], list[str]]]:
    """The ``(exprs, drops)`` layers reduced to what the ``keep`` columns
    depend on: walking back from the last layer, an expression stays when
    a kept column or a later kept expression reads its name (same
    conservative token scan as :func:`_merge_layers`: a false match only
    keeps more).  Drops stay as they are (dropping an absent column is a
    no-op) and layers left empty go, so every ``keep`` column has the
    value it had under the full list.  The NSVB DAG uses it to build only
    what a caller writes."""
    needed = {k.lower() for k in keep}
    out = []
    for exprs, drops in reversed(layers):
        # a column dropped here is not the one any later layer reads
        needed -= {d.lower() for d in drops}
        kept = {k: e for k, e in exprs.items() if k.lower() in needed}
        needed -= {k.lower() for k in kept}
        for e in kept.values():
            needed |= _tokens(e)
        if kept or drops:
            out.append((kept, list(drops)))
    return out[::-1]


def _merge_layers(
    layers: list[tuple[dict[str, str], list[str]]],
) -> list[tuple[dict[str, str], list[str]]]:
    """Re-stratify ``(exprs, drops)`` layers to their earliest safe level.

    Scanning existing levels from the last one backwards, a layer may
    move before level M iff (case-insensitively) no identifier token of
    its expression text and none of its defined/dropped names is a name
    M defines or drops, AND none of its defined/dropped names appears as
    a token in M's expressions (a later reader must keep seeing the
    pre-layer value, and a dropped name must stay visible to M).  It
    lands on the earliest level for which every later level passes.
    Token scan treats EVERY word in the SQL text as a potential column
    reference (function names, literals included) — false positives only
    forgo a merge, never change semantics.  That conservativeness only
    holds when every defined/dropped NAME is a plain word token: a name
    like ``a b`` can only be read via backquotes, which the word scan
    fragments, so a real dependency could be missed (a FALSE NEGATIVE →
    unsafe merge).  Guard: backquoted segments are extracted as whole
    tokens, and if any layer defines or drops a non-word name the packing
    is skipped outright (layers return unchanged — correct, just
    unpacked).  All current carbon-DAG names are snake_case, so packing
    stays active where it matters."""
    _compile_tokens()
    word_ok = _IDENT.fullmatch
    for exprs, drops in layers:
        for n in list(exprs or ()) + list(drops or ()):
            if not word_ok(n):
                return [
                    (dict(e) if e else {}, list(d) if d else [])
                    for e, d in layers
                ]
    levels: list[tuple[dict[str, str], list[str], set[str], set[str]]] = []
    for exprs, drops in layers:
        exprs = dict(exprs) if exprs else {}
        drops = list(drops) if drops else []
        names = {k.lower() for k in exprs} | {d.lower() for d in drops}
        tokens = set().union(*map(_tokens, exprs.values()))
        place = len(levels)
        for i in range(len(levels) - 1, -1, -1):
            _, _, mnames, mtokens = levels[i]
            if ((names | tokens) & mnames) or (names & mtokens):
                break
            place = i
        if place == len(levels):
            levels.append((exprs, drops, names, tokens))
        else:
            pe, pd, pnames, ptokens = levels[place]
            pe.update(exprs)
            pd.extend(drops)
            pnames |= names
            ptokens |= tokens
    return [(e, d) for e, d, _, _ in levels]


def _bq(name: str) -> str:
    """Backtick-quote a SQL identifier, escaping embedded backticks, so a
    column literally named ``a`b`` round-trips through generated SQL."""
    return "`" + name.replace("`", "``") + "`"

