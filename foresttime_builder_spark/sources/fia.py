"""FIA DataMart sources: download, extract, and CSV scan.

Mirrors the reference's source surface (``R/fia_download.R``,
``R/fia_load.R``) Spark-first:

- :func:`fia_download` / :func:`unzip_csvs` are driver-side (a handful of
  HTTP fetches is not a Spark job), idempotent (skip-if-present), and only
  extract the 9 needed tables;
- :func:`fia_load` is a schema-contracted multi-state CSV scan: each table
  is read under one declared type map, :data:`FIA_TYPES`, laid out in the
  order of the files' header line (read on the driver, so loading runs no
  Spark job).  Undeclared columns, control numbers included, read as
  string; states whose headers differ for one table raise ``ValueError``.

Scale notes: multi-state loads are one reader over a path list, so partition
planning, predicate pushdown (e.g. the INVYR >= 2000 filter) and parallelism
come from the data source, not a driver loop.
"""

from __future__ import annotations

import csv
import os
import zipfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: the 9 FIADB tables the pipeline consumes (reference ``R/fia_download.R:2-12``)
FIA_TABLES = (
    "PLOT",
    "COND",
    "TREE",
    "PLOTGEOM",
    "POP_ESTN_UNIT",
    "POP_EVAL",
    "POP_EVAL_TYP",
    "POP_PLOT_STRATUM_ASSGN",
    "POP_STRATUM",
)

#: the declared FIADB column types, table → column → type: the numeric
#: columns the package reads (SURVEY §1.2).  Every other column reads as
#: string, control numbers (``CN`` / ``*_CN``) included: FIADB CNs are 15+
#: digit integers that silently lose precision as doubles (the reference
#: casts them to character for the same reason, ``R/fia_tidy.R:25,31,45,61``;
#: rationale ``NEWS.md:26``).  A declared type does not drift with the data:
#: an all-``NA`` MORTYR stays int and an integer-valued DIA stays double.
FIA_TYPES: dict[str, dict[str, str]] = {
    table: {
        **dict.fromkeys(ints.split(), "int"),
        **dict.fromkeys(doubles.split(), "double"),
    }
    for table, ints, doubles in (
        ("TREE", "STATECD UNITCD COUNTYCD PLOT SUBP TREE INVYR CONDID MORTYR "
                 "STATUSCD RECONCILECD DECAYCD STANDING_DEAD_CD SPCD",
         "DIA CR HT ACTUALHT CULL"),
        ("PLOT", "INVYR STATECD UNITCD COUNTYCD PLOT DESIGNCD INTENSITY", ""),
        ("COND", "INVYR STATECD UNITCD COUNTYCD PLOT CONDID COND_STATUS_CD "
                 "STDORGCD",
         "CONDPROP_UNADJ"),
        ("PLOTGEOM", "INVYR", ""),
        # the only POP columns plans/population.py does arithmetic on
        ("POP_STRATUM", "", "EXPNS ADJ_FACTOR_SUBP"),
    )
}

DATAMART_URL = "https://apps.fs.usda.gov/fia/datamart/CSV/{state}_CSV.zip"


def _fetch_zip(url: str, dest: str, timeout: int) -> None:
    """Download ``url`` to ``dest`` with validated resume: a leftover
    ``.part`` file from an interrupted run continues via an HTTP Range
    request (the DataMart serves static zips and honors ranges), falling
    back to a full re-fetch if the server ignores the range.  Three
    integrity guards close the silent-corruption windows a bare resume
    leaves open: (a) resumes send ``If-Range`` stamped with the ``.part``
    file's mtime, so a remote zip superseded since the partial was written
    makes the server reply 200 (full body) and the fetch restarts from
    byte 0 instead of splicing two versions; (b) when the server does
    reply 206, the Content-Range total must equal the resumed offset plus
    the remaining body length, catching inconsistent ranged replies; (c)
    the completed file must pass ``zipfile.is_zipfile``
    (central-directory check) before being moved into place, otherwise
    the ``.part`` is deleted and an error raised — the skip-if-present
    logic upstream then never mistakes a truncated archive for done."""
    import urllib.request
    from email.utils import formatdate

    tmp = dest + ".part"
    start = os.path.getsize(tmp) if os.path.exists(tmp) else 0
    req = urllib.request.Request(url)
    if start:
        req.add_header("Range", f"bytes={start}-")
        req.add_header(
            "If-Range", formatdate(os.path.getmtime(tmp), usegmt=True)
        )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        partial = resp.status == 206
        if start and partial:
            # Content-Range: bytes <start>-<end>/<total>; a total different
            # from start + remaining body is an inconsistent ranged reply —
            # restart clean rather than write a corrupt splice
            crange = resp.headers.get("Content-Range", "")
            total = crange.rsplit("/", 1)[-1]
            length = resp.headers.get("Content-Length")
            if total.isdigit() and length and total != str(start + int(length)):
                partial = False
        mode = "ab" if (start and partial) else "wb"
        with open(tmp, mode) as out:
            while chunk := resp.read(1 << 20):
                out.write(chunk)
    if not zipfile.is_zipfile(tmp):
        os.remove(tmp)
        raise IOError(
            f"downloaded archive failed zip validation: {url} "
            "(connection dropped mid-chunk or stale resume) — partial removed, re-run to retry"
        )
    os.replace(tmp, dest)


def fia_download(
    states: Sequence[str],
    download_dir: str,
    extract: bool = True,
    keep_zip: bool = False,
    timeout: int = 600,
    max_workers: int = 6,
) -> list[str]:
    """Fetch ``{STATE}_CSV.zip`` archives from the FIA DataMart
    (reference ``R/fia_download.R:27-96``). Concurrent + resumable to match
    the reference's ``curl::multi_download(multiplex = TRUE)``
    (``R/fia_download.R:77-84``): states download in parallel threads
    (I/O-bound), interrupted ``.part`` files resume via Range requests, and
    already-complete zips are skipped. Returns the list of zip paths.
    Network access is attempted lazily so offline environments can still
    import this module."""
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(download_dir, exist_ok=True)
    zips = [os.path.join(download_dir, f"{state}_CSV.zip") for state in states]
    todo = [
        (DATAMART_URL.format(state=s), d)
        for s, d in zip(states, zips)
        if not os.path.exists(d)
    ]
    if todo:
        with ThreadPoolExecutor(max_workers=min(max_workers, len(todo))) as ex:
            futures = [ex.submit(_fetch_zip, u, d, timeout) for u, d in todo]
            for f in futures:
                f.result()  # surface the first failure
    if extract:
        unzip_csvs(zips, download_dir, keep_zip=keep_zip)
    return zips


def unzip_csvs(
    zips: Sequence[str], out_dir: str, keep_zip: bool = True
) -> list[str]:
    """Extract only the needed ``{STATE}_{TABLE}.csv`` members
    (reference ``R/fia_download.R:98-114``)."""
    extracted = []
    for zpath in zips:
        state = os.path.basename(zpath).split("_")[0]
        wanted = {f"{state}_{t}.csv" for t in FIA_TABLES}
        with zipfile.ZipFile(zpath) as zf:
            for member in zf.namelist():
                base = os.path.basename(member)
                if base in wanted:
                    target = os.path.join(out_dir, base)
                    if not os.path.exists(target):
                        with zf.open(member) as src, open(target, "wb") as dst:
                            dst.write(src.read())
                    extracted.append(target)
        if not keep_zip:
            os.remove(zpath)
    return extracted


_SPARK_TYPES = {
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
}


def _declared_schema(table: str, paths: Sequence[str]) -> T.StructType:
    """``table``'s :data:`FIA_TYPES` contract in its files' header order.

    Spark applies a CSV schema by position, so every state's file must list
    the same columns in the same order; a mismatch raises instead of
    loading values into the wrong columns."""
    header = first = None
    for path in paths:
        with open(path, newline="") as f:
            cols = next(csv.reader(f), [])
        if header is None:
            header, first = cols, path
        elif cols != header:
            raise ValueError(
                f"{table}: the header of {path} differs from {first}; "
                "every state's file of one table must list the same columns "
                "in the same order"
            )
    types = FIA_TYPES.get(table, {})
    return T.StructType(
        [T.StructField(c, _SPARK_TYPES[types.get(c, "string")]) for c in header]
    )


def fia_load(
    spark: SparkSession,
    states: Sequence[str],
    csv_dir: str,
    tables: Sequence[str] = FIA_TABLES,
) -> dict[str, DataFrame]:
    """Multi-state CSV scan → ``{table: DataFrame}`` (reference
    ``R/fia_load.R:8-11``). One reader per table over all state files (union
    by path list) under the declared :data:`FIA_TYPES` schema, built from
    the files' shared header line; no Spark job runs until the frames are
    used.  The scan fails fast: a value its declared type cannot parse
    (e.g. ``2003.0`` in an int column) raises instead of reading as null."""
    db: dict[str, DataFrame] = {}
    for table in tables:
        paths = [
            os.path.join(csv_dir, f"{state}_{table}.csv") for state in states
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            continue
        db[table] = (
            spark.read.options(header="true", nullValue="NA", mode="FAILFAST")
            .schema(_declared_schema(table, paths))
            .csv(paths)
        )
    return db
