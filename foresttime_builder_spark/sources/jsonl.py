"""JSONL (newline-delimited JSON) source and sink.

The interchange format LLM corpora actually ship in (one JSON object per
line; sharded files).  Spark's native json reader/writer is already
distributed and splittable per line — the engine's job is only to pin the
contract:

- writes emit one object per row, sharded by partition (a 100 TB corpus
  writes in parallel and re-reads with full parallelism);
- reads REQUIRE an explicit schema: schema inference over JSONL is a full
  extra pass over the data at scale, and silently widens types on dirty
  rows — both unacceptable in a pipeline.  ``columnNameOfCorruptRecord``
  rows are retained in a ``_corrupt`` column when ``permissive=True`` so a
  hygiene pass can quarantine them instead of dying mid-job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write ``df`` as sharded JSONL under ``path``, replacing what is
    there."""
    df.write.mode("overwrite").json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    permissive: bool = False,
) -> DataFrame:
    """Read JSONL at ``path`` with a pinned ``schema`` (DDL string).

    ``permissive=True`` appends a ``_corrupt string`` column capturing
    unparseable lines; the default fails fast on the first bad record
    (``FAILFAST``), which is the right contract for data the engine itself
    wrote."""
    if permissive:
        reader = (
            spark.read.schema(schema + ", _corrupt string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
        )
    else:
        reader = spark.read.schema(schema).option("mode", "FAILFAST")
    return reader.json(path)
