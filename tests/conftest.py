from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meerpipe_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Deselect tests marked ``slow`` unless SPARK_GRAFT_SLOW_TESTS=1.

    ``slow`` marks multi-second soaks, hypothesis property sweeps and
    the registry-wide smoke, each with its invariant also covered by
    faster unit tests and the oracle sweeps; the default run keeps
    every fast invariant and every oracle comparison. The marker is
    declared in pyproject.toml, where ``--strict-markers`` makes a
    misspelt mark a collection error.
    """
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    selected, deselected = [], []
    for it in items:
        (deselected if it.get_closest_marker("slow") else selected).append(it)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="meerpipe_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
