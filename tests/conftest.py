"""Shared pytest fixtures: one SparkSession per test run, testdata dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_local_data_pipeline_docker_spark.plans import cache_scope  # noqa: E402
from cdc_local_data_pipeline_docker_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # one task slot per core of the host (at most 32, the session
    # default); SPARK_GRAFT_CPUS still pins the count
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or min(32, os.cpu_count() or 1)
    s = get_spark(
        app_name="engine-tests", master=f"local[{cpus}]", shuffle_partitions=8
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="module", autouse=True)
def _drain_scoped_caches():
    """Tests call query functions directly (not via the registry wrapper),
    so scoped persists would otherwise accumulate for the whole session —
    the leak cache_scope was built to stop (ADVICE r3). Per-module drain
    keeps caches warm within a module's related tests but bounds them."""
    yield
    cache_scope.release()
