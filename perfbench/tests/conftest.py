from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
os.environ["TZ"] = "UTC"


@pytest.fixture(scope="session")
def spark():
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def payload_frame(spark, drop):
    """A drop's rows as the (site, payload) frame a batch parse reads."""
    rows = [(r["site"], r["payload"]) for f in drop.files for r in f]
    return spark.createDataFrame(rows, "site STRING, payload STRING")
