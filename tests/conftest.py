from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("llm_data_pipeline_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_terminal_summary(terminalreporter, config):
    """Say how many `full`-tier tests the default `-m "not full"` dropped."""
    if config.option.markexpr != "not full":
        return
    n = sum(
        1
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("full")
    )
    if n:
        terminalreporter.write_line(
            f'{n} full-tier tests deselected; run -m "full or not full"'
        )
