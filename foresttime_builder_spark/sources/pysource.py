"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API): a
deterministic synthetic-record generator.

Demonstrates the engine's newest extension surface — a pure-Python
batch source that Spark schedules like any other scan: `partitions()`
declares the parallel split (so a 1e12-row generation run fans out
across the cluster with NO driver materialization), and each executor's
`read(partition)` yields only its own id range.  Every generated field
derives from md5 of the row id, so the source is bit-reproducible and
has an exact DuckDB twin (:func:`synthetic_docs_oracle_sql`) — the same
cross-engine discipline as every other operator here.

Use cases at scale: load-test corpora, schema-shaped fixtures, and
synthetic benchmark tables generated IN the cluster instead of shipped
to it.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from foresttime_builder_spark.functions.encoding import hash60_sql

__all__ = [
    "SyntheticDocsDataSource",
    "register_synthetic_source",
    "synthetic_docs_oracle_sql",
]

_LANGS = ("en", "de", "es", "fr", "zh")


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _SyntheticDocsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_partitions", 8))
        if self.n_rows < 0 or self.n_parts < 1:
            raise ValueError(
                f"bad options: n_rows={self.n_rows} n_partitions={self.n_parts}"
            )

    def partitions(self):
        step = max(1, -(-self.n_rows // self.n_parts))
        return [
            _RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition):
        for i in range(partition.start, partition.end):
            h = _h60(f"syn:{i}")
            yield (i, _LANGS[h % 5], h % 1000)


class SyntheticDocsDataSource(DataSource):
    """`spark.read.format("synthetic_docs").option("n_rows", N)` — rows
    ``(doc_id, lang, score)`` deterministically derived from md5."""

    @classmethod
    def name(cls):
        return "synthetic_docs"

    def schema(self):
        return "doc_id bigint, lang string, score bigint"

    def reader(self, schema):
        return _SyntheticDocsReader(self.options)


def register_synthetic_source(spark) -> None:
    spark.dataSource.register(SyntheticDocsDataSource)


def synthetic_docs_oracle_sql(n_rows: int) -> str:
    """DuckDB twin: the identical md5-derived rows from generate_series."""
    h = hash60_sql("'syn:' || CAST(i AS VARCHAR)")
    langs = ", ".join(f"'{l}'" for l in _LANGS)
    return f"""
SELECT i AS doc_id,
       [{langs}][({h}) % 5 + 1] AS lang,
       ({h}) % 1000 AS score
FROM (SELECT unnest(generate_series(0, {n_rows - 1})) AS i)
"""
