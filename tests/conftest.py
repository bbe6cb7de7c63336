from __future__ import annotations

import pytest

from foresttime_builder_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: larger-SF variants of the differential tests"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="foresttime_tests", master="local[4]")
    yield s
