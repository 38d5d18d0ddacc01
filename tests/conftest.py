from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: nightly-tier robustness ladders (Hypothesis "
        "differentials, parameter fuzz sweeps, crash-replay stream "
        "ladders, random-graph properties). Skipped by default so the "
        "default `pytest tests/` run — the driver's verify gate — "
        "stays inside its wall-clock window; set "
        "SPARK_GRAFT_SLOW_TESTS=1 to run everything (do this before "
        "closing a round). Contract tests (oracles, shuffle budgets, "
        "plan shapes, partition invariance, refusal guards) are NEVER "
        "marked slow.",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip_slow = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_in(spark):
    """``with jobs_in() as jobs:`` collects the ids of the Spark jobs
    launched inside the block, by job group."""

    @contextmanager
    def block():
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        jobs = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return block
