"""Class-data sharing for the driver JVM (``session.cds_plan`` and the
launch in ``get_spark``).

The decision and the dump bookkeeping are checked without Spark.  The
real launches run in subprocesses with their own ``HOME``, so they start
a fresh JVM and never touch the user's archive cache; each JVM launch
costs seconds, so each case is one subprocess.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from foresttime_builder_spark import session
from foresttime_builder_spark.session import cds_plan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVE, DUMP = "/c/cds-k.jsa", "/c/cds-k.p1.jsa.part"
TEMPLATES = ["spark-defaults.conf.template", "log4j2.properties.template"]


@pytest.mark.parametrize(
    "conf_names, writable, archive_exists, finished, choice, reason",
    [
        (TEMPLATES, True, False, None, "dump", "no archive yet"),
        (TEMPLATES + ["spark-defaults.conf"], True, True, None,
         "off", "spark conf dir holds spark-defaults.conf"),
        (None, True, False, None, "dump", "no archive yet"),
        (TEMPLATES, False, True, None, "off", "cache dir not writable"),
        ([], True, True, None, "use", "archive present"),
        ([], True, False, None, "dump", "no archive yet"),
        (TEMPLATES, True, False, "/c/cds-k.p0.jsa.part",
         "use", "adopted a finished dump"),
        (TEMPLATES, True, True, "/c/cds-k.p0.jsa.part", "use", "archive present"),
    ],
)
def test_cds_plan(conf_names, writable, archive_exists, finished, choice, reason):
    plan = cds_plan(conf_names, writable, archive_exists, finished, ARCHIVE, DUMP)
    assert (plan.choice, plan.reason) == (choice, reason)
    flag = {
        "use": f"-XX:SharedArchiveFile={ARCHIVE}",
        "dump": f"-XX:ArchiveClassesAtExit={DUMP}",
        "off": None,
    }[choice]
    if flag is None:
        assert plan.java_options == "" and plan.adopt is None
    else:
        opts = plan.java_options.split()
        assert opts[0] == flag
        assert {"-Xlog:cds=off", "-Xlog:cds+dynamic=off"} <= set(opts)
    assert plan.adopt == (finished if reason.startswith("adopted") else None)


def test_finished_dumps_waits_for_the_writer_and_drops_unfinished(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "CDS_CACHE", str(tmp_path))
    stem = str(tmp_path / "cds-k.")

    def dump(token, body, pid):
        with open(stem + token + ".jsa.part", "wb") as f:
            f.write(body)
        with open(stem + token + ".pid", "w") as f:
            f.write(str(pid))

    whole = session._CDS_MAGIC + b"\0" * 60
    gone = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead = int(gone.stdout)
    dump("done", whole, dead)
    dump("cut", b"\0" * 64, dead)  # the header is written last
    writer = subprocess.Popen(
        [sys.executable, "-c", "import sys; print(1, flush=True); sys.stdin.read()",
         stem + "live.jsa.part"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
    )
    try:
        writer.stdout.readline()  # running, with its final command line
        dump("live", whole, writer.pid)
        assert session._finished_dumps("k") == [stem + "done.jsa.part"]
        assert sorted(os.listdir(tmp_path)) == [
            "cds-k.done.jsa.part", "cds-k.done.pid",
            "cds-k.live.jsa.part", "cds-k.live.pid",
        ]
    finally:
        writer.stdin.close()
        writer.wait()
    assert session._finished_dumps("k") == [stem + "done.jsa.part", stem + "live.jsa.part"]


def test_racing_launches_adopt_one_finished_dump(tmp_path):
    """Eight processes adopt at once from three finished dumps: each plans
    to use the archive, and one archive is left."""
    cache = tmp_path / ".cache" / "foresttime_builder_spark"
    cache.mkdir(parents=True)
    archive = _archive(tmp_path)
    stem = archive[: -len(".jsa")]
    for token in ("a", "b", "c"):
        with open(f"{stem}.{token}.jsa.part", "wb") as f:
            f.write(session._CDS_MAGIC + bytes(60))
        with open(f"{stem}.{token}.pid", "w") as f:
            f.write("0")  # no process: /proc/0 does not exist
    code = ("from foresttime_builder_spark.session import _cds_prepare; "
            "print(_cds_prepare(None)[0].choice)")
    env = {**os.environ, "HOME": str(tmp_path), "PYTHONPATH": ROOT}
    procs = [subprocess.Popen([sys.executable, "-c", code], env=env,
                              stdout=subprocess.PIPE, text=True)
             for _ in range(8)]
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert outs == ["use"] * len(procs)
    assert sorted(os.listdir(cache)) == sorted(["conf", os.path.basename(archive)])


_LAUNCH = r"""
import json, sys
from pyspark import SparkContext
from foresttime_builder_spark.session import get_spark

def launch():
    spark = get_spark(app_name="cds_test", master="local[1]")
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    return spark, {"count": spark.range(1).count(), "args": args}

def stop(spark):
    # as perfbench's Session.stop: the JVM exits on stdin EOF and dumps then
    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    return proc.wait(timeout=60)

runs = []
for _ in range(int(sys.argv[1])):
    spark, run = launch()
    run["exit_rc"] = stop(spark)
    runs.append(run)
print(json.dumps(runs))
"""


def _launch(home, launches: int, **extra) -> tuple[list[dict], list[dict]]:
    """Runs ``launches`` sequential ``get_spark`` launches in one fresh
    process; returns each launch's facts and its ``session.cds`` log."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env.update(HOME=str(home), PYTHONPATH=ROOT, **extra)
    p = subprocess.run(
        [sys.executable, "-c", _LAUNCH, str(launches)],
        cwd=home, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    logs = [json.loads(line) for line in p.stderr.splitlines()
            if line.startswith('{"event": "session.cds"')]
    return json.loads(p.stdout.splitlines()[-1]), logs


def _archive(home) -> str:
    from pyspark.find_spark_home import _find_spark_home

    cache = os.path.join(home, ".cache", "foresttime_builder_spark")
    os.makedirs(cache, exist_ok=True)
    return os.path.join(cache, f"cds-{session._cds_key(_find_spark_home())}.jsa")


def test_corrupt_archive_falls_back_to_a_plain_launch(tmp_path):
    archive = _archive(tmp_path)
    with open(archive, "wb") as f:
        f.write(b"\0" * 4096)
    (run,), (log,) = _launch(tmp_path, 1)
    assert run["count"] == 1 and run["exit_rc"] == 0
    assert f"-XX:SharedArchiveFile={archive}" in run["args"]
    assert (log["choice"], log["archive"]) == ("use", archive)


def test_dump_then_use_under_perfbench_submit_args(tmp_path):
    """perfbench's ``--driver-java-options`` replaces
    ``spark.driver.extraJavaOptions``; the CDS flags must reach the JVM
    anyway, the dump must land within perfbench's 60 s exit wait, and the
    next launch must adopt it."""
    archive = _archive(tmp_path)
    jtmp = tmp_path / "jtmp"
    jtmp.mkdir()
    submit = f"--driver-java-options -Djava.io.tmpdir={jtmp} pyspark-shell"
    (first, second), logs = _launch(tmp_path, 2, PYSPARK_SUBMIT_ARGS=submit)
    for run in (first, second):
        assert run["count"] == 1 and run["exit_rc"] == 0
        assert f"-Djava.io.tmpdir={jtmp}" in run["args"]
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["args"])
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert [(g["choice"], g["reason"]) for g in logs] == [
        ("dump", "no archive yet"), ("use", "adopted a finished dump")]
    assert not [n for n in os.listdir(os.path.dirname(archive)) if n.endswith(".pid")]

    # cut short after its header, an archive crashes the JVM (SIGBUS)
    # instead of being skipped: the launch is retried plainly, and the
    # archive goes so that the next launch dumps a new one
    os.chmod(archive, 0o644)  # the JVM writes it read-only
    with open(archive, "r+b") as f:
        f.truncate(os.path.getsize(archive) // 2)
    (run,), (log,) = _launch(tmp_path, 1)
    assert run["count"] == 1 and run["exit_rc"] == 0
    assert (log["choice"], log["reason"]) == ("off", "the JVM did not start with use")
    assert not any(a.startswith("-XX:SharedArchiveFile") for a in run["args"])
    assert not os.path.exists(archive)
