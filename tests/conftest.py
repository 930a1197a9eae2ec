from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = "/root/testdata/sf0.01"


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Keep the deferred lane visible in every default-lane run."""
    nightly = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("nightly")
    ]
    if nightly:
        terminalreporter.write_line(
            f"{len(nightly)} nightly tests deselected — run `pytest -m nightly`"
        )


@pytest.fixture(scope="session")
def spark():
    from cqdg_etl_spark.session import get_spark

    s = get_spark(app_name="cqdg-etl-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
