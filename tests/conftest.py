from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from oic_options_chains_spark.session import get_spark

    s = get_spark(app_name="oic-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say when the run is the reduced default profile: ``full``-marked
    tests are deselected unless ``-m`` selects them."""
    n_full = sum(
        1
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("full") is not None
    )
    if n_full:
        terminalreporter.write_line(
            f"{n_full} full-profile tests deselected; "
            "run tools/run_suite.py for the complete gate"
        )
