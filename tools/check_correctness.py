"""Local twin of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same parquet tables, then compares row count, schema
(column names), and order-insensitive values. Also flags float outputs whose
pre-rounding value sits dangerously close to a rounding boundary (those could
hash-mismatch between engines even when semantically equal).

Each query must also release what it caches: the persisted RDDs are
recorded before the query, and one the query added that is still persisted
once the result is compared, dropped and garbage-collected fails it as a
leak.  And a cache its result owns must be read: an owned persisted frame
shows as an ``InMemoryTableScan`` in the executed plan, an owned local
checkpoint as its ``ExistingRDD`` scan (the plan the run already made; no
extra job).

Usage: python tools/check_correctness.py [--sf DIR] [--only q08,q09]
[--json OUT] (``--only`` takes full query names or exact ``qNN`` ids: see
:func:`select_queries`).  ``--json`` writes one record per query: its
verdict, summary and errors, and the ``{op, choice, venue}`` of every
``dedup.decision`` line its build printed (which tier each pair operator
ran, and where).
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import sys
import tempfile
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from foresttime_builder_spark.sources.readers import TPCH_TABLES  # noqa: E402


def select_queries(names, only: str | None, skip: str = "") -> list[str]:
    """``names`` picked by ``only`` and not dropped by ``skip``.

    Both are comma-separated lists of full query names or exact ``qNN``
    ids: ``q10`` is ``q10_fill_downup``, not q100-q109.  An empty ``only``
    picks every name.  A token that names no query raises ``ValueError``
    rather than selecting nothing."""
    ids = {n.split("_")[0] for n in names}

    def picked(arg):
        toks = {t.strip() for t in (arg or "").split(",") if t.strip()}
        unknown = toks - set(names) - ids
        if unknown:
            raise ValueError(f"no registry query is named {sorted(unknown)}")
        return {n for n in names if {n, n.split("_")[0]} & toks}

    want, drop = picked(only), picked(skip)
    return [n for n in names if (not only or n in want) and n not in drop]


def fresh_con(sf_dir: str, mem: str, threads: int | None = None):
    """A DuckDB connection over ``sf_dir``'s tables, capped at ``mem`` (a
    :func:`duckdb_mem_caps` figure), with ``threads`` pinned when given.

    One connection per query: a query that hits DuckDB's memory ceiling
    otherwise poisons the connection and every later oracle fails with
    bad-allocation too.  A temp_directory lets the big NSVB-twin CTE
    chains spill instead of dying at larger SFs."""
    c = duckdb.connect()
    spill = os.path.join(tempfile.gettempdir(), "ftb_duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    c.execute(f"SET temp_directory='{spill}'")
    c.execute(f"SET memory_limit='{mem}'")
    if threads is not None:
        c.execute(f"SET threads={threads}")
    for t in TPCH_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints vs floats and bools for cross-engine compare
    for c in df.columns:
        if df[c].dtype == object:
            continue
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        errs.append(f"schema: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return errs
    if len(sdf) != len(odf):
        errs.append(f"rowcount: spark={len(sdf)} oracle={len(odf)}")
        return errs
    a, b = canon(sdf), canon(odf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            neq = ~((av.isna() & bv.isna()) | (av == bv))
            if neq.any():
                close = ((av - bv).abs() < 1e-9) | (av.isna() & bv.isna())
                n_exact = int(neq.sum())
                n_far = int((~close).sum())
                errs.append(
                    f"col {c}: {n_exact} value diffs ({n_far} beyond 1e-9); "
                    f"e.g. {av[neq].head(3).tolist()} vs {bv[neq].head(3).tolist()}"
                )
        else:
            neq = ~((av.isna() & bv.isna()) | (av == bv))
            if neq.any():
                i = neq.idxmax()
                errs.append(
                    f"col {c}: {int(neq.sum())} diffs; first at row {i}: "
                    f"{av[i]!r} vs {bv[i]!r}"
                )
    return errs


def boundary_risk(df: pd.DataFrame, decimals: int = 6) -> int:
    """Count float values suspiciously close to a rounding boundary."""
    n = 0
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            v = df[c].dropna()
            frac = (v * 10**decimals) % 1
            n += int(((frac > 1e-7) & ((frac < 0.01) | (frac > 0.99))).sum())
    return n


def duckdb_mem_caps(phys_bytes: int, override: str | None = None) -> tuple[str, str]:
    """DuckDB ``memory_limit`` for an oracle and for its one OOM retry.

    DuckDB's own default (80% of RAM) collides with the Spark JVM's RSS and
    dies on malloc, so the cap is 60% of physical memory, and the retry,
    which runs after a long run's RSS has grown, 45%.  On a 15 GiB host
    that is about 9 and 7 GiB; q52's NSVB twin needs more than 4 GiB on
    clean sf0.01.  ``override`` (``FTB_DUCKDB_MEM``) sets both: the retry
    never outbids an operator's ceiling."""
    if override:
        return override, override
    mib = phys_bytes >> 20
    return f"{mib * 60 // 100}MiB", f"{mib * 45 // 100}MiB"


def run_oracle(sql: str, sf_dir: str, mem_cap: str, retry_cap: str) -> pd.DataFrame:
    """``sql`` on a fresh DuckDB connection, retried once at ``retry_cap``
    when it runs out of memory."""
    try:
        # close on BOTH paths: an oracle OOM (the very scenario the
        # per-query connection exists for) must not leak the
        # connection's memory reservation and spill directory
        with contextlib.closing(fresh_con(sf_dir, mem_cap)) as con:
            return con.execute(sql).fetchdf()
    except Exception as ex:
        if "emory" not in str(ex):
            raise
    # in a long 78-oracle run the process RSS (JVM + pandas
    # materializations) eats the allocator's headroom; retry once after a
    # GC with a cap that still fits the giant carbon-CTE twins'
    # unspillable working set (q27/q52 were flaky-OOM at sf0.1 exactly
    # this way, passing solo)
    gc.collect()
    with contextlib.closing(fresh_con(sf_dir, retry_cap)) as con:
        return con.execute(sql).fetchdf()


#: the executed-plan node that reads each kind of owned cache
CACHE_SCANS = {"persist": "InMemoryTableScan", "checkpoint": "ExistingRDD"}


def unread_caches(df) -> list[str]:
    """One error per kind of cache ``df`` owns that its executed plan never
    reads."""
    from foresttime_builder_spark.operators.cache import owned_kinds

    kinds = owned_kinds(df)
    plan = df._jdf.queryExecution().executedPlan().toString() if kinds else ""
    return [
        f"cache: owns a {kind} its executed plan never reads "
        f"(no {CACHE_SCANS[kind]})"
        for kind in sorted(kinds)
        if CACHE_SCANS[kind] not in plan
    ]


class DecisionTee(io.TextIOBase):
    """A text stream that passes every write on to ``out`` and keeps the
    ``{op, choice, venue}`` of each ``dedup.decision`` line written."""

    def __init__(self, out):
        self.out, self.pending, self.decisions = out, "", []

    def write(self, s: str) -> int:
        self.out.write(s)
        *lines, self.pending = (self.pending + s).split("\n")
        for line in lines:
            if line.startswith('{"event": "dedup.decision"'):
                d = json.loads(line)
                self.decisions.append(
                    {k: d.get(k) for k in ("op", "choice", "venue")}
                )
        return len(s)

    def flush(self) -> None:
        self.out.flush()


def check_query(fn, spark, oracle, sf_dir, mem_cap, retry_cap) -> tuple[str, list[str]]:
    """Run one query on Spark and, when it has one, its oracle on DuckDB.
    Returns a summary and the errors (none when the query passes).  Every
    frame it builds is dropped when it returns."""
    t0 = time.time()
    try:
        df = fn(spark, sf_dir)
        sdf = df.toPandas()
    except Exception as ex:
        return "spark error", [str(ex)]
    summary = f"rows={len(sdf)} ({time.time() - t0:.1f}s)"
    errs = unread_caches(df)
    del df
    if oracle is None:
        return summary, errs
    try:
        odf = run_oracle(oracle, sf_dir, mem_cap, retry_cap)
    except Exception as ex:
        return summary, errs + [f"oracle error: {ex}"]
    risk = boundary_risk(sdf)
    tag = f" [boundary-risk={risk}]" if risk else ""
    return summary + tag, errs + compare(sdf, odf)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None, help="write per-query records here")
    args = ap.parse_args()

    import __spark_entry__ as e
    from foresttime_builder_spark.session import dir_bytes, get_spark

    spark = get_spark(app_name="check_correctness", data_bytes=dir_bytes(args.sf))
    qs, oracles = e.queries(), e.oracle_sql()
    qs = {k: qs[k] for k in select_queries(sorted(qs), args.only)}
    mem_cap, retry_cap = duckdb_mem_caps(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
        os.environ.get("FTB_DUCKDB_MEM"),
    )

    jsc = spark.sparkContext._jsc
    n_pass = n_fail = 0
    report = {}
    for name, fn in sorted(qs.items()):
        baseline = set(jsc.getPersistentRDDs().keySet())
        tee = DecisionTee(sys.stderr)
        with contextlib.redirect_stderr(tee):
            summary, errs = check_query(
                fn, spark, oracles.get(name), args.sf, mem_cap, retry_cap
            )
        # leak gate: with the result compared and dropped (and the
        # per-query pandas frames freed before the next oracle), every
        # cache the query persisted or checkpointed must be released, not
        # left to the JVM's ContextCleaner.  RDD ids, not a count: the
        # cleaner freeing an earlier leak mid-query would offset a new one
        gc.collect()
        leaked = set(jsc.getPersistentRDDs().keySet()) - baseline
        if leaked:
            errs.append(f"leak: {len(leaked)} persisted RDD(s) left behind")
        verdict = "FAIL" if errs else "PASS" if name in oracles else "ROWS-ONLY"
        print(f"{verdict} {name}: {summary}")
        report[name] = {"verdict": verdict, "summary": summary,
                        "errors": errs, "decisions": tee.decisions}
        for err in errs[:4]:
            print(f"     {err}")
        n_fail += bool(errs)
        n_pass += not errs
    print(f"\n{n_pass} pass, {n_fail} fail")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf": args.sf, "queries": report}, f, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
