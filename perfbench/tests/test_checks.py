"""Every output check passes on a correct output and fires on a corrupted
one, so ``op_error_rate`` = 0 means something."""

from __future__ import annotations

import shutil

import pandas as pd
from pyspark.sql import functions as F

from conftest import payload_frame

from perfbench import workloads as W

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import merge_upsert
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.silver import clean_to_hourly
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.nasa_power import payloads_to_bronze


def _rewrite(spark, path, transform):
    """Replace the table at ``path`` by ``transform(table)``."""
    df = transform(spark.read.parquet(path)).localCheckpoint(eager=True)
    shutil.rmtree(path)
    df.write.partitionBy("site").parquet(path)


def _ingest_lakehouse(spark, tmp_path):
    wl = W.MedallionIngest(spark, 3, str(tmp_path))
    wl.SITES, wl.DAYS = 3, 4
    wl.setup(str(tmp_path / "setup"))
    root = str(tmp_path / "lake")
    for d in wl.drops:
        merge_upsert(spark, f"{root}/bronze.parquet", payloads_to_bronze(payload_frame(spark, d), d.ingested_at),
                     keys=["site", "ts_utc"], order_col="ingested_at")
    clean_to_hourly(spark.read.parquet(f"{root}/bronze.parquet")).write.partitionBy("site").parquet(
        f"{root}/silver.parquet")
    W.write_gold(spark, f"{root}/silver.parquet", root, W.no_span)
    return wl, root


def test_ingest_check_fires_on_dropped_silver_row_and_altered_gold(spark, tmp_path):
    wl, root = _ingest_lakehouse(spark, tmp_path)
    assert wl.check(root, wl.drops) == []
    _rewrite(spark, f"{root}/gold_kpis.parquet", lambda df: df.withColumn(
        "pv_cf", F.when(F.col("ts_utc") == F.lit("2025-01-06 12:00:00").cast("timestamp"), 0.5).otherwise(F.col("pv_cf"))))
    assert any("kpis" in e for e in wl.check(root, wl.drops))
    victim = spark.read.parquet(f"{root}/silver.parquet").first()
    _rewrite(spark, f"{root}/silver.parquet",
             lambda df: df.filter(~((F.col("site") == victim.site) & (F.col("ts_utc") == victim.ts_utc))))
    errors = wl.check(root, wl.drops)
    assert any("silver differs" in e for e in errors)
    assert any("clean_to_hourly" in e for e in errors)


def test_forecast_check_fires_on_wrong_champion_and_backtest(spark, tmp_path):
    wl = W.ForecastRefresh(spark, 4, str(tmp_path))
    wl.SITES, wl.DAYS = 2, 14
    wl.setup(str(tmp_path / "setup"))
    out = W.refresh_forecasts(spark, wl.root, W.no_span)
    assert wl.check(out) == []
    features = wl.features
    board = out["leaderboard"]
    site, var = board.iloc[0]["site"], board.iloc[0]["var"]
    loser = board[(board["site"] == site) & (board["var"] == var) & (board["rank"] == 2)]["model"].iloc[0]
    bad = dict(out, champion=out["champion"].assign(
        model=lambda d: d["model"].where((d.site != site) | (d["var"] != var), loser)))
    assert any("rank 1" in e for e in W.forecast_mismatch(bad, features))
    bt = out["backtest"].copy()
    bt.loc[0, "mae"] += 0.001
    assert any("backtest mae" in e for e in W.forecast_mismatch(dict(out, backtest=bt), features))


def test_serving_checks_fire_on_wrong_reads_and_silver(spark, tmp_path):
    wl = W.ServingMixed(spark, 6, str(tmp_path))
    wl.SITES, wl.DAYS = 3, 4
    wl.setup(str(tmp_path / "setup"))
    site = wl.gen.sites[0]
    for kind in W.READS:
        got = wl.read(kind, site, 30)
        assert wl.check(kind, site, 30, got) == [], kind
    rows = wl.read("hourly_rows", site, 30)
    assert wl.check("hourly_rows", site, 30, rows[:-1])
    assert wl.check("weather_summary", site, 30, (0, None, None))
    wl.write(site)
    assert wl.final_check() == []
    victim = wl.spark.read.parquet(f"{wl.root}/silver.parquet").first()
    _rewrite(spark, f"{wl.root}/silver.parquet",
             lambda df: df.filter(~((F.col("site") == victim.site) & (F.col("ts_utc") == victim.ts_utc))))
    assert wl.final_check()


def test_battery_check_fires_on_altered_entry_output(spark, tmp_path):
    wl = W.RegistryBattery(spark, 7, str(tmp_path))
    wl.setup(str(tmp_path / "setup"))
    module, check = wl.op()
    assert module == W.BATTERY[0][0] and check() == []
    name = W.BATTERY[0][1]
    got = wl.queries[name](spark, wl.sf).toPandas()
    assert wl.check(name, got) == []
    col = next(c for c in got.columns if pd.api.types.is_numeric_dtype(got[c]))
    assert wl.check(name, got.assign(**{col: got[col] + 1}))
    assert wl.check(name, got.iloc[:0])


def test_oracle_comparison_is_float_tolerant_but_not_loose():
    import tests.test_entry_oracle as oracle_suite

    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert W.oracle_mismatch(want.assign(v=want["v"] + 1e-12), want, oracle_suite._normalize) == []
    got = want.assign(v=want["v"] + 1e-6)
    assert W.oracle_mismatch(got, want, oracle_suite._normalize)
    assert W.oracle_mismatch(want.copy(), want, oracle_suite._normalize) == []
