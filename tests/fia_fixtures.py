"""Test-side shim over the package fixture module.

The fixture rows moved to
:mod:`foresttime_builder_spark.sources.fixture_state` so the end-to-end
state-pipeline gate (q51) and the pytest suite share one source of truth.
``build_db`` keeps the historical pandas-DataFrame return shape for the
CSV-writing tests.
"""

from __future__ import annotations

import pandas as pd

from foresttime_builder_spark.sources.fia import FIA_TYPES
from foresttime_builder_spark.sources.fixture_state import (  # noqa: F401
    SCHEMAS,
    YEARS,
    build_rows,
)


def build_db() -> dict[str, pd.DataFrame]:
    """Declared int columns are nullable ``Int64``, so ``to_csv`` writes
    them the way the DataMart CSVs do (``2003``, not ``2003.0``)."""
    return {
        table: pd.DataFrame(rows, columns=cols).astype(
            {c: "Int64" for c, t in FIA_TYPES[table].items() if t == "int"}
        )
        for table, (cols, rows) in build_rows().items()
    }


def spark_db(spark) -> dict:
    """In-memory DataFrames of the fixture tables (no I/O)."""
    out = {}
    for table, (cols, rows) in build_rows().items():
        out[table] = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], SCHEMAS[table]
        )
    return out
