"""Spark-free checks of the DuckDB memory caps the correctness gate sizes
from the host (``tools/check_correctness.py``)."""

from __future__ import annotations

import pytest

from tools.check_correctness import duckdb_mem_caps

GIB = 1 << 30


@pytest.mark.parametrize(
    "phys, override, caps",
    [
        (15 * GIB, None, ("9216MiB", "6912MiB")),
        (64 * GIB, None, ("39321MiB", "29491MiB")),
        (15 * GIB, "8GB", ("8GB", "8GB")),
        (15 * GIB, "", ("9216MiB", "6912MiB")),
    ],
)
def test_caps_follow_physical_memory_unless_overridden(phys, override, caps):
    assert duckdb_mem_caps(phys, override) == caps


def test_caps_fit_the_host_and_the_largest_twin():
    """Both caps stay under physical memory, the retry below the first
    cap, and on a 15 GiB host both exceed the 4 GiB q52's NSVB twin ran
    out of on clean sf0.01."""
    cap, retry = (int(c.removesuffix("MiB")) << 20 for c in duckdb_mem_caps(15 * GIB))
    assert 4 * GIB < retry < cap < 15 * GIB


def test_bench_oracle_connections_take_the_derived_cap(tmp_path):
    """``tools/bench_oracle.py`` sizes DuckDB from ``duckdb_mem_caps`` too:
    its connections take the cap they are given and have no fixed default
    of their own."""
    import inspect

    from tools.bench_oracle import fresh_con

    assert inspect.signature(fresh_con).parameters["mem"].default is inspect.Parameter.empty
    con = fresh_con(str(tmp_path), "512MiB", threads=1)
    try:
        limit = con.execute("SELECT current_setting('memory_limit')").fetchone()[0]
    finally:
        con.close()
    assert limit.replace(" ", "") in ("512.0MiB", "512MiB"), limit
