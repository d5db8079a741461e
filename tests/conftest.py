import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_lightgbm_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Two-tier suite (r14 verdict #8): the default gate run (`make test`,
# `-m "not slow"`) must stay fast enough to run per-commit; the multi-JVM
# cluster suites and SIGKILL/executor-loss recovery pay real JVM spin-ups
# and injected-failure recovery waits, and move to the `slow` tier, which
# CI's full pass (`make test-full`) still runs green. The histgbm fits
# merge over their own socket ring (one barrier allGather per fit), so
# their differential and system tests stay in the default tier.
# Membership is by MODULE: each of these files is dominated by multi-JVM
# or recovery wall time, so a per-test split would save nothing and cost
# a marker audit.
SLOW_MODULES = {
    "test_barrier_cluster",
    "test_cluster_differential",
    "test_cluster_queries",
    "test_cluster_streaming",
    "test_executor_loss",
    "test_fault_tolerance",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-JVM cluster / SIGKILL-recovery tests "
        "(excluded from the default `make test` tier; `make test-full` "
        "runs everything)",
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.module.__name__ in SLOW_MODULES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
