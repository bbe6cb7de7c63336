"""Output checks, all evaluated in DuckDB outside the timed operations.

- :func:`state_checksums` hashes the fixed-point projection of the parquet
  ``run_states`` wrote, per variant; :func:`state_twin_checksums` hashes
  the same projection of the SQL twin of the whole pipeline
  (``state_on_fixture._TIDY_CTES`` + ``carbon_cte``) run over the same
  CSVs through ``read_csv``.  Equal (rows, hash) pairs mean equal tables.
- :func:`state_facts` carries the fallen-tree check: dead and down trees
  (STATUSCD 2, STANDING_DEAD_CD 0) carry no DIA/HT.
- :func:`population_twins` / :func:`qa_twin` are the DuckDB forms of the
  downstream reads in ``plans.population`` / ``plans.qa``.
- :func:`pairs_diff` compares a query's parquet output with its registry
  oracle run over the same ``documents`` file.
"""

from __future__ import annotations

import math
import os

import duckdb

from foresttime_builder_spark.plans.carbon_on_synthetic import carbon_cte
from foresttime_builder_spark.plans.state_on_fixture import (
    _OUT_DOUBLES,
    _OUT_INTS,
    _TIDY_CTES,
    _sql_e4,
)
from foresttime_builder_spark.sources import fixture_state

VARIANTS = ("annualized_midpt", "annualized_mortyr")

_DUCK_TYPES = {"int": "INTEGER", "double": "DOUBLE", "string": "VARCHAR"}


def _csv_types(table: str) -> str:
    """DuckDB ``types`` struct matching the Spark schema fia_load infers."""
    pairs = [c.strip().split(" ") for c in fixture_state.SCHEMAS[table].split(",")]
    return "{" + ", ".join(f"'{n}': '{_DUCK_TYPES[t]}'" for n, t in pairs) + "}"


def _projection(alias_row: str, biomass: str, carbon: str) -> str:
    """The per-row fixed-point tuple both sides hash (q51's gate columns)."""
    r = alias_row
    cols = [f"{r}.plot_ID", f"{r}.tree_ID", f"CAST({r}.YEAR AS INT)",
            f"{r}.interpolated"]
    cols += [_sql_e4(f"{r}.{c}") for c in _OUT_DOUBLES]
    cols += [f"CAST({r}.{c} AS INT)" for c in _OUT_INTS]
    cols += [_sql_e4(biomass), _sql_e4(carbon)]
    return ", ".join(cols)


def _checksum_sql(source: str, projection: str) -> str:
    return (f"SELECT count(*), coalesce(sum(hash({projection})), 0) "
            f"FROM {source}")


def variant_glob(out_dir: str, variant: str) -> str:
    return os.path.join(out_dir, "annualized", f"variant={variant}", "**",
                        "*.parquet")


def _read_variant(out_dir: str, variant: str) -> str:
    return (f"read_parquet('{variant_glob(out_dir, variant)}', "
            "hive_partitioning = true)")


def state_checksums(out_dir: str) -> dict[str, tuple[int, int]]:
    """{variant: (rows, hash)} of the parquet ``run_states`` wrote."""
    con = duckdb.connect()
    try:
        return {
            v: tuple(con.execute(_checksum_sql(
                f"{_read_variant(out_dir, v)} o",
                _projection("o", "o.DRYBIO_AG", "o.CARBON_AG"),
            )).fetchone())
            for v in VARIANTS
        }
    finally:
        con.close()


def _panel_sql(csv_dir: str, state: str) -> str:
    reads = ",\n".join(
        f"f{t.lower()} AS (SELECT * FROM read_csv('{csv_dir}/{state}_{t}.csv', "
        f"header = true, nullstr = 'NA', types = {_csv_types(t)}))"
        for t in ("PLOT", "COND", "TREE", "PLOTGEOM")
    )
    return f"WITH {reads},{_TIDY_CTES} SELECT * FROM tidy"


def state_twin_checksums(csv_dir: str, state: str) -> dict[str, tuple[int, int]]:
    """{variant: (rows, hash)} of the SQL twin over the same CSVs.  The
    mortyr variant is the twin's ``use_mortyr=True``: the generated state
    always records some MORTYR, so ``run_states``' "auto" probe picks it."""
    panel = _panel_sql(csv_dir, state)
    con = duckdb.connect()
    try:
        out = {}
        for v, use_mortyr in zip(VARIANTS, (False, True)):
            chain = carbon_cte(panel_sql=panel, jcase=fixture_state.JCASE,
                               use_mortyr=use_mortyr)
            src = ("prep f LEFT JOIN carbonout c ON f.plot_ID = c.plot_ID "
                   "AND f.tree_ID = c.tree_ID AND f.YEAR = c.YEAR")
            out[v] = tuple(con.execute(
                f"WITH {chain} "
                + _checksum_sql(src, _projection("f", "c.BIOMASS", "c.CARBON"))
            ).fetchone())
        return out
    finally:
        con.close()


def state_facts(out_dir: str) -> dict[str, int]:
    """Row counts the traced run reports, plus the fallen-tree check:
    dead and down trees carry no DIA/HT.  ``qa_fallen_flagged`` is what
    ``qa.measurements_null_when_fallen`` counts on the same rows — it
    also flags live trees, whose STANDING_DEAD_CD ``prep_carbon`` sets
    to 0, so it is recorded, never treated as a failure."""
    globs = ", ".join(f"'{variant_glob(out_dir, v)}'" for v in VARIANTS)
    con = duckdb.connect()
    try:
        rows, estimated, fallen_bad, fallen, qa_flagged = con.execute(f"""
            SELECT count(*), count(CARBON_AG),
                   count(*) FILTER (WHERE STATUSCD = 2 AND STANDING_DEAD_CD = 0
                                    AND (DIA IS NOT NULL OR HT IS NOT NULL)),
                   count(*) FILTER (WHERE STATUSCD = 2 AND STANDING_DEAD_CD = 0),
                   count(*) FILTER (WHERE STANDING_DEAD_CD = 0 AND (
                       DIA IS NOT NULL OR HT IS NOT NULL OR ACTUALHT IS NOT NULL
                       OR CR IS NOT NULL OR CULL IS NOT NULL))
            FROM read_parquet([{globs}], hive_partitioning = true)
        """).fetchone()
    finally:
        con.close()
    return {"rows": rows, "estimated": estimated,
            "fallen_with_measures": fallen_bad, "fallen": fallen,
            "qa_fallen_flagged": qa_flagged}


# --- downstream reads --------------------------------------------------

_FINITE = "CASE WHEN isfinite(CARBON_AG) THEN CARBON_AG ELSE 0.0 END"
_ADI = ("CASE WHEN COND_STATUS_CD = 1 AND INTENSITY = 1 THEN 1.0 ELSE 0.0 END")
_TDI = f"CASE WHEN STATUSCD = 1 THEN 1.0 ELSE 0.0 END * {_ADI}"


def population_twins(out_dir: str, csv_dir: str, state: str,
                     area: float) -> dict[str, list[tuple]]:
    """DuckDB forms of the three population reads over the midpt
    variant, rows sorted by their key columns."""
    src = _read_variant(out_dir, "annualized_midpt")
    pop = {t: f"read_csv('{csv_dir}/{state}_{t}.csv', header = true, "
              f"nullstr = 'NA', all_varchar = true)"
           for t in ("POP_STRATUM", "POP_PLOT_STRATUM_ASSGN")}
    year_rollup = """
      SELECT YEAR, sum(t) AS total_tons, sum(a) AS total_area,
             sum(t) / nullif(sum(a), 0.0) AS tons_per_acre
      FROM g GROUP BY YEAR ORDER BY YEAR"""
    simple = f"""
      WITH d0 AS (SELECT *, {_ADI} AS aDI, {_TDI} AS tDI FROM {src}),
      e AS (SELECT YEAR, {area} / count(DISTINCT plot_ID) AS EXPNS
            FROM d0 GROUP BY YEAR),
      d AS (SELECT d0.*, e.EXPNS FROM d0 JOIN e USING (YEAR)),
      g AS (
        SELECT YEAR,
               sum({_FINITE} * coalesce(TPA_UNADJ, 0.0) * EXPNS * tDI
                   / 2000.0) AS t,
               any_value(coalesce(CONDPROP_UNADJ, 0.0) * EXPNS * aDI) AS a
        FROM d GROUP BY YEAR, plot_ID, CONDID, CONDPROP_UNADJ, EXPNS, aDI)
      {year_rollup}"""
    stratified = f"""
      WITH dim AS (
        SELECT a.PLT_CN, CAST(s.EXPNS AS DOUBLE) AS EXPNS,
               CAST(s.ADJ_FACTOR_SUBP AS DOUBLE) AS ADJ_FACTOR_SUBP
        FROM {pop['POP_PLOT_STRATUM_ASSGN']} a
        JOIN {pop['POP_STRATUM']} s ON s.CN = a.STRATUM_CN),
      d AS (SELECT o.*, dim.EXPNS, dim.ADJ_FACTOR_SUBP, {_ADI} AS aDI,
                   {_TDI} AS tDI
            FROM {src} o LEFT JOIN dim ON o.PLT_CN = dim.PLT_CN),
      g AS (
        SELECT YEAR,
               sum({_FINITE} * coalesce(TPA_UNADJ, 0.0)
                   * coalesce(ADJ_FACTOR_SUBP, 0.0) * coalesce(EXPNS, 0.0)
                   * tDI / 2000.0) AS t,
               any_value(coalesce(CONDPROP_UNADJ, 0.0)
                   * coalesce(ADJ_FACTOR_SUBP, 0.0) * coalesce(EXPNS, 0.0)
                   * aDI) AS a
        FROM d GROUP BY YEAR, plot_ID, CONDID, CONDPROP_UNADJ, EXPNS,
                        ADJ_FACTOR_SUBP, aDI)
      {year_rollup}"""
    sweep = f"""
      SELECT SPCD, YEAR,
             concat_ws('|', CASE WHEN grouping(SPCD) = 0 THEN 'SPCD' END,
                            CASE WHEN grouping(YEAR) = 0 THEN 'YEAR' END)
               AS grain,
             sum({_FINITE} * coalesce(TPA_UNADJ, 0.0)) AS weighted_value,
             count(*) AS n_rows
      FROM {src}
      GROUP BY GROUPING SETS ((SPCD), (YEAR), (SPCD, YEAR), ())
      ORDER BY grain, SPCD NULLS FIRST, YEAR NULLS FIRST"""
    con = duckdb.connect()
    try:
        return {name: con.execute(sql).fetchall() for name, sql in
                (("simple", simple), ("stratified", stratified),
                 ("sweep", sweep))}
    finally:
        con.close()


def qa_twin(out_dir: str) -> dict[str, int]:
    """Violation counts of ``qa.ESTIMATED_SUITE`` over the midpt variant."""
    src = _read_variant(out_dir, "annualized_midpt")
    checks = {
        "one_row_per_tree_year": """SELECT count(*) FROM (
            SELECT tree_ID, YEAR FROM src WHERE tree_ID IS NOT NULL
            GROUP BY ALL HAVING count(*) > 1)""",
        "unique_spcd_per_tree": """SELECT count(*) FROM (
            SELECT tree_ID FROM src WHERE tree_ID IS NOT NULL
            GROUP BY ALL HAVING count(DISTINCT SPCD) > 1)""",
        "contiguous_year_grid": """SELECT count(*) FROM (
            SELECT tree_ID FROM src WHERE tree_ID IS NOT NULL
            GROUP BY ALL HAVING count(*) != max(YEAR) - min(YEAR) + 1)""",
        "measurements_null_when_fallen": """SELECT count(*) FROM src
            WHERE STANDING_DEAD_CD = 0 AND (DIA IS NOT NULL OR HT IS NOT NULL
              OR ACTUALHT IS NOT NULL OR CR IS NOT NULL OR CULL IS NOT NULL)""",
        "carbon_nonnegative": """SELECT count(*) FROM src
            WHERE CARBON_AG < 0 OR DRYBIO_AG < 0""",
        "carbon_only_for_measured": """SELECT count(*) FROM src
            WHERE CARBON_AG IS NOT NULL AND HT IS NULL""",
    }
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW src AS SELECT * FROM {src}")
        return {k: con.execute(sql).fetchone()[0] for k, sql in checks.items()}
    finally:
        con.close()


def rows_close(a: list[tuple], b: list[tuple], rel: float = 1e-9) -> bool:
    """Row lists equal, floats within ``rel`` (sums run in another order)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# --- pair dedup ----------------------------------------------------------

def pairs_checksum(path: str) -> tuple[int, int]:
    con = duckdb.connect()
    try:
        return tuple(con.execute(
            f"SELECT count(*), coalesce(sum(hash(doc_a, doc_b, n_common, "
            f"jaccard_e4)), 0) FROM read_parquet('{path}/*.parquet')"
        ).fetchone())
    finally:
        con.close()


def pairs_diff(path: str, docs_dir: str, oracle_sql: str) -> int:
    """Rows in the Spark output or the oracle but not both (0 = equal)."""
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{docs_dir}/documents.parquet')")
        con.execute(f"CREATE TABLE oracle AS {oracle_sql}")
        con.execute("CREATE VIEW spark AS SELECT doc_a, doc_b, n_common, "
                    f"jaccard_e4 FROM read_parquet('{path}/*.parquet')")
        return con.execute("""
            SELECT (SELECT count(*) FROM (SELECT * FROM spark
                      EXCEPT ALL SELECT doc_a, doc_b, n_common, jaccard_e4
                      FROM oracle))
                 + (SELECT count(*) FROM (SELECT doc_a, doc_b, n_common,
                      jaccard_e4 FROM oracle EXCEPT ALL SELECT * FROM spark))
        """).fetchone()[0]
    finally:
        con.close()
