"""Guard contract for ``global_rank``: a refused input must raise
whatever the caller does with the result — count it, project a column
other than the rank, or collect the rank itself. A guard that only the
rank column reaches is pruned away by the first two, and the query
returns rows silently."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
    global_rank,
)

ROWS = [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]

# name -> (rows, bucket, key, max_buckets, message); bucket and key are
# SQL expressions, parsed once a session is active
CASES = {
    "null_bucket": (ROWS, "IF(id = 3, NULL, 0)", "v", 100, "no rank position"),
    "null_key": (ROWS[:3] + [(4, None)], "0", "v", 100, "NULL or NaN"),
    "nan_key": (ROWS[:3] + [(4, float("nan"))], "0", "v", 100, "NULL or NaN"),
    # buckets {2, 4} and {1, 3} interleave in v
    "non_monotone_bucket": (ROWS, "id % 2", "v", 100, "not monotone"),
    # one bucket per row
    "too_many_buckets": (ROWS, "id", "v", 2, "more than 2 buckets"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_global_rank_refusal_survives_every_consumer(spark, case):
    rows, bucket, key, max_buckets, message = CASES[case]
    df = spark.createDataFrame(rows, "id long, v double")
    ranked = global_rank(
        df, bucket=F.expr(bucket), key=F.expr(key), max_buckets=max_buckets
    )
    consumers = {
        "count": ranked.count,
        "select_non_rank": ranked.select("id").collect,
        "collect_rank": ranked.select("rank").collect,
    }
    for name, consume in consumers.items():
        with pytest.raises(Exception, match=message):
            consume()
            pytest.fail(f"{name} returned without raising")

