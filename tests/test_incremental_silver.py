"""Incremental silver maintenance: delta-touched sites are recomputed
from their Bronze rows and the result is row-identical to a full
recompute — including group DELETION, which a plain keyed merge cannot
express."""

from __future__ import annotations

import datetime as dt

import pytest

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
    merge_upsert,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.silver import (
    clean_to_hourly,
    incremental_silver_refresh,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.schemas import (
    FACT_WEATHER,
    RAW_WEATHER,
)

UTC = dt.timezone.utc


def ts(h, m=0):
    return dt.datetime(2025, 3, 1, h, m, tzinfo=UTC)


def key(site, h):
    # collected timestamps come back session-naive (UTC session)
    return (site, dt.datetime(2025, 3, 1, h))


ING0 = dt.datetime(2025, 3, 2, 0, 0, tzinfo=UTC)
ING1 = ING0 + dt.timedelta(hours=1)


def _base_rows():
    return [
        ("alpha", ts(0), 100.0, 10.0, 5.0, None, ING0),
        ("alpha", ts(1), 110.0, 11.0, 5.5, None, ING0),
        ("alpha", ts(2), 120.0, 12.0, 6.0, None, ING0),
        ("beta", ts(0), 50.0, 20.0, 3.0, None, ING0),
        ("gamma", ts(0), 60.0, 21.0, 2.0, None, ING0),  # single-group site
    ]


def _full(spark, bronze_path):
    return {
        (r.site, r.ts_utc): (r.ghi_wm2, r.temp_c, r.wind_mps)
        for r in clean_to_hourly(spark.read.parquet(bronze_path)).collect()
    }


def _silver(spark, silver_path):
    return {
        (r.site, r.ts_utc): (r.ghi_wm2, r.temp_c, r.wind_mps)
        for r in spark.read.parquet(silver_path).collect()
    }


@pytest.fixture()
def paths(spark, tmp_path):
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    base = spark.createDataFrame(_base_rows(), RAW_WEATHER)
    merge_upsert(spark, bronze_path, base, keys=["site", "ts_utc"],
                 order_col="ingested_at")
    clean_to_hourly(spark.read.parquet(bronze_path)).write.partitionBy(
        "site"
    ).parquet(silver_path)
    return bronze_path, silver_path


def test_value_update_refreshes_only_touched_group(spark, paths):
    bronze_path, silver_path = paths
    delta = spark.createDataFrame(
        [("alpha", ts(1), 999.0, 19.0, 9.0, None, ING1)], RAW_WEATHER
    )
    incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert got[key("alpha", 1)] == (999.0, 19.0, 9.0)
    assert got[key("alpha", 0)] == (100.0, 10.0, 5.0)  # untouched


def test_stale_delta_does_not_regress(spark, paths):
    bronze_path, silver_path = paths
    stale = spark.createDataFrame(
        [("alpha", ts(1), 1.0, 1.0, 1.0, None, ING0 - dt.timedelta(hours=5))],
        RAW_WEATHER,
    )
    incremental_silver_refresh(spark, bronze_path, silver_path, stale)
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert got[key("alpha", 1)] == (110.0, 11.0, 5.5)


def test_invalidation_deletes_group(spark, paths):
    bronze_path, silver_path = paths
    # newer ingest makes hour 2 invalid (ghi < 0) -> group must vanish
    delta = spark.createDataFrame(
        [("alpha", ts(2), -1.0, 12.0, 6.0, None, ING1)], RAW_WEATHER
    )
    mode = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(mode)
    before = spark.conf.get(mode)
    incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    # the refresh must not leave session state behind for later writers
    assert spark.conf.get(mode) == before
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert key("alpha", 2) not in got
    assert key("alpha", 0) in got


def test_site_vanishes_when_only_group_invalidated(spark, paths):
    bronze_path, silver_path = paths
    delta = spark.createDataFrame(
        [("gamma", ts(0), None, 21.0, 2.0, None, ING1)], RAW_WEATHER
    )
    incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert all(site != "gamma" for site, _ in got)


def test_new_site_and_new_hour_insert(spark, paths):
    bronze_path, silver_path = paths
    delta = spark.createDataFrame(
        [
            ("delta", ts(4), 70.0, 15.0, 4.0, None, ING1),
            ("beta", ts(5), 55.0, 22.0, 3.3, None, ING1),
        ],
        RAW_WEATHER,
    )
    incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert key("delta", 4) in got and key("beta", 5) in got


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
def test_refresh_keeps_untouched_hours_of_a_touched_site(spark, tmp_path, as_uri):
    # file:// URIs go through the Hadoop FileSystem on the Bronze read
    # and the Silver publish: a path that resolved to nothing would
    # rewrite alpha without hours 0 and 2
    bronze_path, silver_path = (
        p.as_uri() if as_uri else str(p) for p in (tmp_path / "bronze", tmp_path / "silver")
    )
    base = spark.createDataFrame(_base_rows(), RAW_WEATHER)
    merge_upsert(spark, bronze_path, base, keys=["site", "ts_utc"], order_col="ingested_at")
    clean_to_hourly(spark.read.parquet(bronze_path)).write.partitionBy("site").parquet(silver_path)
    delta = spark.createDataFrame([("alpha", ts(1), 999.0, 19.0, 9.0, None, ING1)], RAW_WEATHER)
    assert incremental_silver_refresh(spark, bronze_path, silver_path, delta) == 3
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert sorted((k[1].hour, v[0]) for k, v in got.items() if k[0] == "alpha") == [
        (0, 100.0), (1, 999.0), (2, 120.0)
    ]


def test_refresh_recomputes_the_null_site_partition(spark, tmp_path):
    # a payload row without a site parses to a NULL site, which Bronze
    # and Silver keep in their default partition: the refresh must
    # recompute that partition like any other touched site, not drop it
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in RAW_WEATHER])
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    base = spark.createDataFrame(
        [("alpha", ts(0), 100.0, 10.0, 5.0, None, ING0), (None, ts(0), 50.0, 20.0, 3.0, None, ING0)],
        schema,
    )
    merge_upsert(spark, bronze_path, base, keys=["site", "ts_utc"], order_col="ingested_at")
    clean_to_hourly(spark.read.parquet(bronze_path)).write.partitionBy("site").parquet(silver_path)
    delta = spark.createDataFrame([(None, ts(1), 60.0, 21.0, 2.0, None, ING1)], schema)
    assert incremental_silver_refresh(spark, bronze_path, silver_path, delta) == 2
    assert _silver(spark, silver_path) == _full(spark, bronze_path)
    assert set(_silver(spark, silver_path)) == {key("alpha", 0), key(None, 0), key(None, 1)}


def test_refresh_after_all_invalid_first_refresh(spark, tmp_path):
    # a first refresh whose only row is invalid leaves an empty silver
    # directory; the next refresh must still read it (no parquet file
    # to infer a schema from) and match a full recompute
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    bad = spark.createDataFrame(
        [("alpha", ts(0), -1.0, 10.0, 5.0, None, ING0)], RAW_WEATHER
    )
    incremental_silver_refresh(spark, bronze_path, silver_path, bad)
    good = spark.createDataFrame(
        [("alpha", ts(1), 110.0, 11.0, 5.5, None, ING1)], RAW_WEATHER
    )
    incremental_silver_refresh(spark, bronze_path, silver_path, good)
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert list(got) == [key("alpha", 1)]


def test_refresh_is_idempotent(spark, paths):
    bronze_path, silver_path = paths
    delta = spark.createDataFrame(
        [("alpha", ts(1), 999.0, 19.0, 9.0, None, ING1)], RAW_WEATHER
    )
    incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    once = _silver(spark, silver_path)
    incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    assert _silver(spark, silver_path) == once


def test_crash_before_silver_publish_keeps_old_snapshot(spark, paths, monkeypatch):
    # The silver rewrite is staged and published by rename: a writer
    # killed between the staged write and the publish leaves the old
    # snapshot readable, and a re-run converges to a full recompute.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import upsert

    bronze_path, silver_path = paths
    old = _silver(spark, silver_path)
    publish = upsert._publish_staged

    def crash(spark_, path, *args, **kwargs):
        if path == silver_path:
            raise RuntimeError("simulated crash before silver publish")
        return publish(spark_, path, *args, **kwargs)

    monkeypatch.setattr(upsert, "_publish_staged", crash)
    delta = spark.createDataFrame(
        [
            ("alpha", ts(1), 999.0, 19.0, 9.0, None, ING1),
            ("gamma", ts(0), None, 21.0, 2.0, None, ING1),  # empties gamma
        ],
        RAW_WEATHER,
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    assert _silver(spark, silver_path) == old
    monkeypatch.undo()
    incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    assert _silver(spark, silver_path) == _full(spark, bronze_path)


@pytest.mark.parametrize(
    "row, want",
    [
        (("alpha", ts(3), 130.0, 13.0, 6.5, None, ING1), 4),  # next hour
        (("alpha", ts(1), 999.0, 19.0, 9.0, None, ING1), 3),  # correction
        (("alpha", ts(2), -1.0, 12.0, 6.0, None, ING1), 2),  # invalidated hour
    ],
    ids=["next_hour", "correction", "invalidated"],
)
def test_one_row_refresh_returns_site_rows_in_few_jobs(spark, paths, jobs_in, row, want):
    # a one-row refresh returns the rows now in the refreshed site, and
    # pays only for one touched-site collect, the merge and the site
    # recompute (one shuffle each): no schema inference, no read-back
    # count, no Silver read
    bronze_path, silver_path = paths
    delta = spark.createDataFrame([row], RAW_WEATHER)
    with jobs_in() as jobs:
        n = incremental_silver_refresh(spark, bronze_path, silver_path, delta)
    assert n == want
    got = _silver(spark, silver_path)
    assert got == _full(spark, bronze_path)
    assert n == sum(1 for site, _ in got if site == "alpha")
    assert len(jobs) <= 7


def test_refreshed_site_equals_clean_of_its_bronze(spark, paths):
    # a refreshed site's Silver is the clean of its Bronze, hours the
    # delta does not touch included: a stale Silver row of alpha (hour
    # 5, which Bronze does not hold) must go, beta's stays untouched
    bronze_path, silver_path = paths
    stale = spark.createDataFrame(
        [("alpha", ts(5), 1.0, 1.0, 1.0), ("beta", ts(5), 2.0, 2.0, 2.0)], FACT_WEATHER
    )
    stale.write.mode("append").partitionBy("site").parquet(silver_path)
    delta = spark.createDataFrame([("alpha", ts(1), 999.0, 19.0, 9.0, None, ING1)], RAW_WEATHER)
    assert incremental_silver_refresh(spark, bronze_path, silver_path, delta) == 3
    got = _silver(spark, silver_path)
    assert {k: v for k, v in got.items() if k[0] == "alpha"} == {
        k: v for k, v in _full(spark, bronze_path).items() if k[0] == "alpha"
    }
    assert key("beta", 5) in got


def test_empty_delta_writes_nothing(spark, tmp_path):
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    empty = spark.createDataFrame([], RAW_WEATHER)
    assert incremental_silver_refresh(spark, bronze_path, silver_path, empty) == 0
    assert not (tmp_path / "bronze").exists() and not (tmp_path / "silver").exists()
