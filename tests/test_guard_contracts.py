"""Guard contract for the single-window refusals of ``equidepth_bins``
and ``skyline_2d`` (past ``max_distinct``) and the value-domain refusal
of ``zscore_normalize``: the result must raise whatever the caller does
with it — count it, project any one of its columns, or collect it
whole. A guard that only some columns reach is pruned away by
the others, and the query returns rows silently (``global_rank`` has
its own file, ``test_global_rank_guards.py``)."""
from __future__ import annotations

import pytest

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
    equidepth_bins,
    skyline_2d,
    zscore_normalize,
)


def _equidepth(spark):
    df = spark.createDataFrame([(float(i),) for i in range(64)], "v double")
    return equidepth_bins(df, "v", n_bins=4, max_distinct=5)


def _skyline(spark):
    # every point is on the frontier, so nothing but the guard refuses
    df = spark.createDataFrame(
        [(i, float(i), float(64 - i)) for i in range(64)],
        "id long, x double, y double",
    )
    return skyline_2d(df, "x", "y", max_distinct=5)


def _zscore(spark):
    # one key whose |v| reaches 1e15: v² would overflow the decimal cast
    df = spark.createDataFrame(
        [("a", 1e15), ("a", 1.0), ("a", 2.0)], "k string, v double"
    )
    return zscore_normalize(df, "k", "v")


# name -> (function making the refused result, message)
CASES = {
    "equidepth_bins": (_equidepth, "distinct values exceed"),
    "skyline_2d": (_skyline, "distinct x values"),
    "zscore_normalize": (_zscore, "value domain too large"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_refusal_survives_count_and_every_projection(spark, case):
    build, message = CASES[case]
    out = build(spark)
    consumers = {"count": out.count, "collect": out.collect}
    for c in out.columns:
        consumers[f"select_{c}"] = out.select(c).collect
    for name, consume in consumers.items():
        with pytest.raises(Exception, match=message):
            consume()
            pytest.fail(f"{name} returned without raising")
