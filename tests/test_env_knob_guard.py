"""Spark-free guard: package modules read only the deployment settings
from the environment.

An env var read inside the package is an option nobody sees in a
signature, and it outlives the measurement that chose its default.  The
allowed reads size the session to its host and locate its inputs;
anything else must be a parameter or a constant.
"""

from __future__ import annotations

import ast

from tests.test_sql_formatter_guard import package_nodes

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_DRIVER_MEMORY",
    "SPARK_LOCAL_DIRS",
    # read by session.py only to honour what Spark's launcher honours: the
    # conf dir it puts on the classpath and the JVM it starts
    "SPARK_CONF_DIR",
    "JAVA_HOME",
}


def _is_environ(node) -> bool:
    """``os.environ`` or a bare ``environ``."""
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads():
    """``(path, line, name)`` per ``os.environ.get(...)``,
    ``os.environ[...]`` load or ``os.getenv(...)``; ``name`` is None when
    the key is not a string literal."""
    for path, node in package_nodes():
        if isinstance(node, ast.Call):
            f = node.func
            is_get = isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv"
            )
            if not (is_get or (isinstance(f, ast.Name) and f.id == "getenv")):
                continue
            key = node.args[0] if node.args else None
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and _is_environ(node.value)
        ):
            key = node.slice
        else:
            continue
        name = key.value if isinstance(key, ast.Constant) else None
        yield path, node.lineno, name


def test_only_deployment_settings_are_read_from_the_environment():
    reads = list(_env_reads())
    assert "SPARK_GRAFT_CPUS" in {n for _, _, n in reads}, (
        "the scan no longer sees session.py's SPARK_GRAFT_CPUS read"
    )
    offenders = [
        f"{path}:{line} {name}"
        for path, line, name in reads
        if name not in DEPLOYMENT_SETTINGS
    ]
    assert not offenders, (
        "env-var switch in the package (make it a parameter or a "
        f"constant): {offenders}"
    )
