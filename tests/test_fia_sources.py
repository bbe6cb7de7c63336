"""FIA CSV source layer + per-state pipeline driver integration tests."""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql import functions as F

from foresttime_builder_spark.plans import state_pipeline
from foresttime_builder_spark.sources import fia as fia_src
from tests.fia_fixtures import build_db, spark_db


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    """Fixture db written as {STATE}_{TABLE}.csv files (state 44 = RI)."""
    d = tmp_path_factory.mktemp("fia_csv")
    for table, pdf in build_db().items():
        pdf.to_csv(d / f"RI_{table}.csv", index=False, na_rep="NA")
    return str(d)


def test_fia_load_pins_cn_to_string(spark, csv_dir):
    db = fia_src.fia_load(spark, ["RI"], csv_dir, tables=("PLOT", "TREE"))
    assert dict(db["PLOT"].dtypes)["CN"] == "string"
    assert dict(db["TREE"].dtypes)["CN"] == "string"
    assert dict(db["TREE"].dtypes)["PLT_CN"] == "string"
    # numeric columns still declared as numbers
    assert dict(db["TREE"].dtypes)["DIA"] == "double"


def test_fia_load_runs_no_spark_job(spark, csv_dir, tmp_path):
    """Loading reads header lines on the driver: no schema-inference scan.
    A fresh copy of the files, so no earlier load in this process can have
    served the schema."""
    import shutil

    fresh = shutil.copytree(csv_dir, tmp_path / "fresh")
    sc, group = spark.sparkContext, "test_fia_load_runs_no_spark_job"
    sc.setJobGroup(group, "fia_load")
    try:
        fia_src.fia_load(spark, ["RI"], str(fresh))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_declared_types_do_not_drift_with_the_data(spark, tmp_path):
    """Integer-valued DIA stays double and all-NA MORTYR / CULL keep their
    declared int / double, where inference would pick int and string."""
    (tmp_path / "XX_TREE.csv").write_text(
        "CN,PLT_CN,DIA,MORTYR,CULL\n0001,0009,6,NA,NA\n0002,0009,12,NA,NA\n"
    )
    tree = fia_src.fia_load(spark, ["XX"], str(tmp_path), tables=("TREE",))
    assert tree["TREE"].dtypes == [
        ("CN", "string"), ("PLT_CN", "string"), ("DIA", "double"),
        ("MORTYR", "int"), ("CULL", "double"),
    ]
    assert [tuple(r) for r in tree["TREE"].collect()] == [
        ("0001", "0009", 6.0, None, None), ("0002", "0009", 12.0, None, None)
    ]


def test_states_with_different_headers_raise(spark, tmp_path):
    """The schema is applied by position, so two states listing the same
    TREE columns in another order must not load into the wrong columns."""
    (tmp_path / "AA_TREE.csv").write_text("CN,DIA,HT\n1,6.0,40.0\n")
    (tmp_path / "BB_TREE.csv").write_text("CN,HT,DIA\n2,40.0,6.0\n")
    with pytest.raises(ValueError, match="TREE: .*BB_TREE.csv.*AA_TREE.csv"):
        fia_src.fia_load(spark, ["AA", "BB"], str(tmp_path), tables=("TREE",))


def test_undeclared_columns_read_as_string(spark, tmp_path):
    (tmp_path / "XX_TREE.csv").write_text(
        "CN,PREV_TRE_CN,CARBON_AG,DIA\n1,2,10.5,6.0\n"
    )
    (tmp_path / "XX_POP_STRATUM.csv").write_text(
        "CN,EVALID,EXPNS,ADJ_FACTOR_SUBP\n7,441801,1500.5,1.0\n"
    )
    db = fia_src.fia_load(
        spark, ["XX"], str(tmp_path), tables=("TREE", "POP_STRATUM")
    )
    assert db["TREE"].dtypes == [
        ("CN", "string"), ("PREV_TRE_CN", "string"),
        ("CARBON_AG", "string"), ("DIA", "double"),
    ]
    assert db["POP_STRATUM"].dtypes == [
        ("CN", "string"), ("EVALID", "string"),
        ("EXPNS", "double"), ("ADJ_FACTOR_SUBP", "double"),
    ]


def test_value_the_declared_type_cannot_parse_raises(spark, tmp_path):
    """``2003.0`` in the int MORTYR column fails the scan instead of
    silently reading as null."""
    (tmp_path / "XX_TREE.csv").write_text("CN,MORTYR\n1,2003\n2,2003.0\n")
    tree = fia_src.fia_load(spark, ["XX"], str(tmp_path), tables=("TREE",))
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        tree["TREE"].collect()


def test_fia_load_matches_in_memory_db(spark, csv_dir):
    """CSV-loaded pipeline output ≡ in-memory fixture pipeline output."""
    from foresttime_builder_spark.plans import fia

    db_csv = fia_src.fia_load(
        spark, ["RI"], csv_dir, tables=("PLOT", "COND", "TREE", "PLOTGEOM")
    )
    a = fia.fia_tidy(db_csv)
    b = fia.fia_tidy(spark_db(spark))
    cols = sorted(set(a.columns) & set(b.columns))
    assert a.count() == b.count()
    assert (
        a.select(cols).exceptAll(b.select(cols)).count() == 0
    ), "CSV-loaded tidy differs from in-memory tidy"


def test_multi_state_union(spark, csv_dir, tmp_path):
    """Two states load as one scan with both states' rows."""
    import shutil

    for t in ("PLOT", "COND", "TREE", "PLOTGEOM"):
        shutil.copy(
            os.path.join(csv_dir, f"RI_{t}.csv"),
            os.path.join(csv_dir, f"DE_{t}.csv"),
        )
    db = fia_src.fia_load(
        spark, ["RI", "DE"], csv_dir, tables=("PLOT", "TREE")
    )
    one = fia_src.fia_load(spark, ["RI"], csv_dir, tables=("PLOT", "TREE"))
    assert db["TREE"].count() == 2 * one["TREE"].count()


def test_unzip_extracts_only_needed_tables(tmp_path, csv_dir):
    zpath = tmp_path / "RI_CSV.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(os.path.join(csv_dir, "RI_TREE.csv"), "RI_TREE.csv")
        zf.writestr("RI_SEEDLING.csv", "CN\n1\n")  # not a needed table
    out = tmp_path / "out"
    out.mkdir()
    extracted = fia_src.unzip_csvs([str(zpath)], str(out))
    assert [os.path.basename(p) for p in extracted] == ["RI_TREE.csv"]
    assert not os.path.exists(out / "RI_SEEDLING.csv")


def test_run_states_writes_both_variants(spark, tmp_path):
    paths = state_pipeline.run_states(
        spark, spark_db(spark), str(tmp_path), estimate=True
    )
    midpt = spark.read.parquet(paths["annualized_midpt"])
    mortyr = spark.read.parquet(paths["annualized_mortyr"])
    assert {"plot_ID", "tree_ID", "YEAR", "DRYBIO_AG", "CARBON_AG"} <= set(
        midpt.columns
    )
    assert midpt.count() == mortyr.count() > 0
    # partitioned by STATECD, all state 44
    assert midpt.select("STATECD").distinct().collect()[0][0] == 44
    # the two variants genuinely differ where MORTYR is recorded (tree 2_7)
    key = ["tree_ID", "YEAR"]
    m = midpt.select(*key, F.col("STATUSCD").alias("s_mid")).join(
        mortyr.select(*key, F.col("STATUSCD").alias("s_mor")), key
    )
    assert m.filter(F.col("s_mid") != F.col("s_mor")).count() > 0


def _plan_nodes(plan):
    """(class name, inside whole-stage codegen, node) for every node of an
    executed plan, through the adaptive wrapper and its query stages."""
    out = []
    stack = [(plan, False)]
    while stack:
        node, in_codegen = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "WholeStageCodegenExec":
            in_codegen = True
        elif name == "InputAdapter":
            in_codegen = False
        out.append((name, in_codegen, node))
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            seq = node.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        stack.extend((k, in_codegen) for k in kids)
    return out


def test_run_states_writes_one_single_pass_plan(
    spark, csv_dir, tmp_path, monkeypatch
):
    """The sink's executed plan is one pass over the CSVs: no cached
    panel, no union of variants, one (plot_ID, tree_ID) exchange for
    every window of the chain, no interpreted array lambda, and every
    projection inside whole-stage codegen."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        self._df.collect()  # runs the adaptive plan to its final form
        plans.append(self._df._jdf.queryExecution().executedPlan())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    db = fia_src.fia_load(spark, ["RI"], csv_dir)
    state_pipeline.run_states(spark, db, str(tmp_path), estimate=True)
    (plan,) = plans
    nodes = _plan_nodes(plan)
    names = [n for n, _, _ in nodes]
    assert "InMemoryTableScanExec" not in names, names
    assert "UnionExec" not in names, names
    shuffles = [
        node.outputPartitioning().toString()
        for n, _, node in nodes
        if n == "ShuffleExchangeExec"
    ]
    assert len(shuffles) == 1, shuffles
    assert shuffles[0].startswith("hashpartitioning(plot_ID#"), shuffles
    assert ", tree_ID#" in shuffles[0] and shuffles[0].count("#") == 2, shuffles
    outside = [n for n, in_codegen, _ in nodes if n == "ProjectExec" and not in_codegen]
    assert not outside, f"{len(outside)} ProjectExec outside whole-stage codegen"
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000000")  # the full expression text
    try:
        text = plan.toString()
    finally:
        spark.conf.set(key, old)
    assert "lambdafunction" not in text  # filter(k, e -> ...) and kin


def test_run_states_releases_panel_when_write_fails(spark, csv_dir, tmp_path):
    import gc

    db = fia_src.fia_load(spark, ["RI"], csv_dir)
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    gc.collect()  # flush pending release_on_gc finalizers first
    n_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception):
        state_pipeline.run_states(spark, db, str(blocker), estimate=False)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_rdds


def _values_form(spark, rows, spec):
    """A dim as the generated ``VALUES`` text it was once built from: the
    reference for column types, nullability and values."""

    def lit(v, kind):
        if v is None:
            return f"CAST(NULL AS {kind.upper()})"
        if kind == "double":
            text = "Infinity" if v == float("inf") else repr(v)
            return f"CAST('{text}' AS DOUBLE)"
        if kind == "string":
            return "'" + v.replace("'", "''") + "'"
        return str(v).lower()  # int, boolean

    vals = ", ".join(
        "(" + ", ".join(lit(v, k) for v, (_, k) in zip(r, spec)) + ")"
        for r in rows
    )
    cols = ", ".join(c for c, _ in spec)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({cols})")


def test_reference_dims_match_values_form(spark, monkeypatch):
    """Every reference dim (species, TPA, decay, dead-carbon ratio,
    crprop, the three NSVB level dims) keeps the VALUES form's names,
    types, nullability and values (NULLs and Infinity included) and
    plans as a LocalRelation, which broadcasts with no job."""
    from foresttime_builder_spark.functions import nsvb
    from foresttime_builder_spark.sources import ref_tables as rt

    built = []
    values_df = rt.values_df

    def record(spark_, rows, spec):
        df = values_df(spark_, rows, spec)
        built.append((rows, spec, df))
        return df

    monkeypatch.setattr(rt, "values_df", record)
    monkeypatch.setattr(spark, "_ft_ref_cache", {}, raising=False)
    for dim in (rt.ref_species, rt.tpa_rules, rt.decay_prop,
                rt.carbon_ratio_dead, rt.median_crprop, nsvb.level_dims):
        dim(spark)
    assert len(built) == 8
    cells = [v for rows, _, _ in built for r in rows for v in r]
    assert None in cells and float("inf") in cells
    for rows, spec, df in built:
        want = _values_form(spark, rows, spec)
        assert df.schema == want.schema, spec[0]
        got = df.collect()
        assert got == want.collect() and [tuple(r) for r in got] == list(rows)
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", spec[0]


class _FakeResponse:
    """Minimal urlopen response serving a byte string, honoring Range, with
    the Content-Range/Content-Length headers the resume validation reads."""

    def __init__(self, payload: bytes, start: int = 0, partial: bool = True):
        self._data = payload[start:] if partial else payload
        self.status = 206 if (start and partial) else 200
        self._pos = 0
        self.headers = {"Content-Length": str(len(self._data))}
        if self.status == 206:
            self.headers["Content-Range"] = (
                f"bytes {start}-{len(payload) - 1}/{len(payload)}"
            )

    def read(self, n: int) -> bytes:
        chunk = self._data[self._pos : self._pos + n]
        self._pos += len(chunk)
        return chunk

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _zip_payload(tag: str) -> bytes:
    """A real (validatable) zip archive as bytes — _fetch_zip now runs
    zipfile.is_zipfile on the completed download."""
    import io

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(f"{tag}.txt", f"payload-{tag}" * 100)
    return buf.getvalue()


def test_fia_download_concurrent_and_resume(tmp_path, monkeypatch):
    """Offline twin of the DataMart fetch: parallel states, Range resume of
    an interrupted .part, skip of complete zips (R/fia_download.R:77-96)."""
    import urllib.request

    payloads = {st: _zip_payload(st) for st in ("AA", "BB", "CC")}
    calls = []

    def fake_urlopen(req, timeout=0):
        url = req.full_url if hasattr(req, "full_url") else req
        st = url.split("/")[-1].split("_")[0]
        rng = req.headers.get("Range") if hasattr(req, "headers") else None
        start = int(rng.split("=")[1].rstrip("-")) if rng else 0
        calls.append((st, start))
        return _FakeResponse(payloads[st], start)

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)

    d = str(tmp_path)
    # AA: pre-completed (must be skipped); BB: interrupted .part (must resume)
    with open(os.path.join(d, "AA_CSV.zip"), "wb") as f:
        f.write(payloads["AA"])
    with open(os.path.join(d, "BB_CSV.zip.part"), "wb") as f:
        f.write(payloads["BB"][:137])

    zips = fia_src.fia_download(["AA", "BB", "CC"], d, extract=False)
    assert [os.path.basename(z) for z in zips] == [
        "AA_CSV.zip", "BB_CSV.zip", "CC_CSV.zip"
    ]
    for st in ("AA", "BB", "CC"):
        with open(os.path.join(d, f"{st}_CSV.zip"), "rb") as f:
            assert f.read() == payloads[st]
    fetched = dict(calls)
    assert "AA" not in fetched  # skip-if-present
    assert fetched["BB"] == 137  # Range resume from the .part offset
    assert fetched["CC"] == 0


def test_fia_download_stale_part_restarts_clean(tmp_path, monkeypatch):
    """A .part left over from a superseded remote zip must be discarded,
    not spliced: the resume sends If-Range (the .part's mtime), an
    If-Range-aware server whose content changed replies 200 with the full
    new body, and the fetch must then write from byte 0."""
    import urllib.request

    new_payload = _zip_payload("NEWV")
    stale_prefix = b"OLD-VERSION-BYTES" * 10
    seen = {}

    def fake_urlopen(req, timeout=0):
        rng = req.headers.get("Range") if hasattr(req, "headers") else None
        seen["if_range"] = req.headers.get("If-range") or req.headers.get(
            "If-Range"
        )
        # remote changed after the .part's mtime: If-Range fails the
        # validator check, server ignores Range and replies 200 + full body
        if rng and seen["if_range"]:
            return _FakeResponse(new_payload, 0, partial=False)
        start = int(rng.split("=")[1].rstrip("-")) if rng else 0
        return _FakeResponse(new_payload, start)

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    d = str(tmp_path)
    with open(os.path.join(d, "DD_CSV.zip.part"), "wb") as f:
        f.write(stale_prefix)

    fia_src.fia_download(["DD"], d, extract=False)
    assert seen["if_range"], "resume request must carry If-Range"
    with open(os.path.join(d, "DD_CSV.zip"), "rb") as f:
        got = f.read()
    # spliced output would start with the stale prefix; clean restart wins
    assert got == new_payload
    assert zipfile.is_zipfile(os.path.join(d, "DD_CSV.zip"))


def test_fia_download_rejects_corrupt_archive(tmp_path, monkeypatch):
    """A download whose bytes do not form a valid zip (connection dropped
    mid-chunk, server error page) must raise and remove the .part so the
    skip-if-present check can never treat it as complete."""
    import urllib.request

    junk = b"<html>not a zip</html>" * 50

    def fake_urlopen(req, timeout=0):
        return _FakeResponse(junk, 0)

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    d = str(tmp_path)
    with pytest.raises(IOError, match="zip validation"):
        fia_src.fia_download(["EE"], d, extract=False)
    assert not os.path.exists(os.path.join(d, "EE_CSV.zip"))
    assert not os.path.exists(os.path.join(d, "EE_CSV.zip.part"))
