from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from snowplow_elasticsearch_loader_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("local[4]", app_name="engine-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_tiny() -> str:
    return "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "oracle_full: opt-in bit-exact sweep of every DuckDB twin at sf0.01 "
        "(run with -m oracle_full)",
    )


def pytest_collection_modifyitems(config, items):
    """Deselect the opt-in oracle_full tier unless ``-m`` names it."""
    if "oracle_full" in (config.getoption("markexpr") or ""):
        return
    full = [i for i in items if i.get_closest_marker("oracle_full")]
    if full:
        config.hook.pytest_deselected(items=full)
        items[:] = [i for i in items if not i.get_closest_marker("oracle_full")]
