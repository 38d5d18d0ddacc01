"""Gold layer: feature math, KPI clamps, seasonal-naive baseline,
grouped-map forecast plumbing, as-of join evaluation, and the
forecast-evaluation family (rolling backtest, model leaderboard,
champion forecast)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
    WIND_CAPACITY_MW,
    mart_features,
    mart_kpis,
    seasonal_naive_forecast,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.forecast import (
    sarimax_forecast,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.asof import (
    asof_join,
)

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def fact(spark):
    # 8 days of hourly data, 2 sites: a daily sine-ish profile via hour index
    rows = []
    base = dt.datetime(2025, 1, 1, tzinfo=UTC)
    for site in ["s1", "s2"]:
        for h in range(24 * 8):
            t = base + dt.timedelta(hours=h)
            ghi = max(0.0, 500.0 * (1 - abs(t.hour - 12) / 12) + (50 if site == "s2" else 0))
            rows.append((site, t, ghi, 10.0, 5.0 + (h % 24) / 10))
    return spark.createDataFrame(
        rows, "site STRING, ts_utc TIMESTAMP, ghi_wm2 DOUBLE, temp_c DOUBLE, wind_mps DOUBLE"
    )


def test_features_math(fact):
    feats = mart_features(fact)
    row = feats.filter((F.col("site") == "s1") & (F.hour("ts_utc") == 12)).first()
    assert row.ghi_kwh_m2 == pytest.approx(0.5)  # 500 W/m² × 1h = 0.5 kWh/m²
    assert row.pv_est_mwh == pytest.approx(0.5 * 0.2 * 10000 / 1000)  # 1.0 MWh
    assert row.wind_est_mwh <= WIND_CAPACITY_MW  # capacity cap


def test_kpis_in_domain(fact):
    kpis = mart_kpis(mart_features(fact))
    bad = kpis.filter(
        (F.col("pv_cf") < 0) | (F.col("pv_cf") > 1.2)
        | (F.col("wind_cf") < 0) | (F.col("wind_cf") > 1.2)
    ).count()
    assert bad == 0  # init.sql:83-86 CHECK domain


def test_seasonal_naive_h24_equals_lag(fact):
    feats = mart_features(fact)
    fc = seasonal_naive_forecast(feats, horizons=[24])
    # h=24 forecast for target ts T must equal actual at T-24h
    joined = (
        fc.filter(F.col("var") == "pv")
        .alias("f")
        .join(
            feats.select(
                "site",
                (F.col("ts_utc") + F.expr("INTERVAL 24 HOURS")).alias("ts_utc"),
                F.col("pv_est_mwh").alias("actual_lag"),
            ).alias("a"),
            ["site", "ts_utc"],
        )
    )
    mismatches = joined.filter(F.abs(F.col("yhat") - F.col("actual_lag")) > 1e-9).count()
    assert mismatches == 0
    assert fc.filter(F.col("yhat_lower") > F.col("yhat")).count() == 0


def test_forecast_schema_and_horizons(fact):
    fc = seasonal_naive_forecast(mart_features(fact), horizons=[1, 6, 24, 48])
    assert set(r.horizon_h for r in fc.select("horizon_h").distinct().collect()) == {1, 6, 24, 48}
    assert fc.columns == [
        "site", "ts_utc", "model", "var", "horizon_h", "yhat", "yhat_lower", "yhat_upper",
    ]


def test_sarimax_grouped_map(fact):
    fc = sarimax_forecast(mart_features(fact), horizons=[1, 24])
    rows = fc.collect()
    # 2 sites × 2 vars × 2 horizons
    assert len(rows) == 8
    assert all(r.model == "sarimax" and r.yhat >= 0 for r in rows)
    assert all(r.yhat_upper >= r.yhat >= r.yhat_lower for r in rows)


def test_asof_forecast_vs_actual(spark, fact):
    feats = mart_features(fact)
    fc = seasonal_naive_forecast(feats, horizons=[24]).filter(F.col("var") == "pv")
    actual = feats.select("site", "ts_utc", F.col("pv_est_mwh").alias("actual"))
    joined = asof_join(
        fc.select("site", "ts_utc", "yhat"), actual, keys=["site"], tolerance_hours=0
    )
    row = joined.filter(F.col("actual").isNotNull()).first()
    assert row is not None
    # tolerance 0: match must be the exact same hour
    assert row.matched_ts == row.ts_utc


def test_asof_takes_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [("k", dt.datetime(2025, 1, 1, 5, tzinfo=UTC), 1.0)],
        "site STRING, ts_utc TIMESTAMP, x DOUBLE",
    )
    right = spark.createDataFrame(
        [
            ("k", dt.datetime(2025, 1, 1, 3, tzinfo=UTC), 30.0),
            ("k", dt.datetime(2025, 1, 1, 5, tzinfo=UTC), 50.0),
            ("k", dt.datetime(2025, 1, 1, 7, tzinfo=UTC), 70.0),
        ],
        "site STRING, ts_utc TIMESTAMP, y DOUBLE",
    )
    out = asof_join(left, right, keys=["site"]).collect()[0]
    assert out.y == 50.0  # equal-ts right row visible; future row not


def test_asof_broadcast_matches_union_window(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.asof import (
        asof_join,
        asof_join_broadcast,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    a = asof_join(left, right, keys=["user_id"], left_ts="ts", right_ts="ts")
    b = asof_join_broadcast(left, right, keys=["user_id"], left_ts="ts", right_ts="ts")
    assert sorted(a.columns) == sorted(b.columns)
    ra = sorted(map(tuple, a.select(*sorted(a.columns)).collect()))
    rb = sorted(map(tuple, b.select(*sorted(a.columns)).collect()))
    assert ra == rb
    # and with a tolerance window both strategies agree too
    at = asof_join(left, right, keys=["user_id"], left_ts="ts", right_ts="ts", tolerance_hours=24)
    bt = asof_join_broadcast(left, right, keys=["user_id"], left_ts="ts", right_ts="ts", tolerance_hours=24)
    rat = sorted(map(tuple, at.select(*sorted(at.columns)).collect()))
    rbt = sorted(map(tuple, bt.select(*sorted(at.columns)).collect()))
    assert rat == rbt


def test_asof_broadcast_guard_trips_on_large_build_side(spark):
    import pytest as _pytest

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.asof import (
        asof_join_broadcast,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    left = ev.select("user_id", "ts", "value").limit(10)
    with _pytest.raises(ValueError, match="asof_join"):
        asof_join_broadcast(
            left, ev.select("user_id", "ts", "value"),
            keys=["user_id"], left_ts="ts", right_ts="ts",
            max_build_rows=100,
        )


def test_gap_fill_bounded_forward_fill(spark):
    import datetime as dt

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        gap_fill_hourly,
    )

    t0 = dt.datetime(2025, 5, 1, 0)

    def row(h, v):
        return ("s1", t0 + dt.timedelta(hours=h), v, v, v)

    # hours 0,1 present; 2..4 missing (fillable); 5 present; 6..14
    # missing (beyond the 6h fill bound after hour 11); 15 present
    fact = spark.createDataFrame(
        [row(0, 10.0), row(1, 11.0), row(5, 15.0), row(15, 25.0)],
        "site string, ts_utc timestamp, ghi_wm2 double, temp_c double, wind_mps double",
    )
    out = {
        r.ts_utc.hour: (r.ghi_wm2, r.ghi_wm2_filled)
        for r in gap_fill_hourly(fact, max_fill_hours=6).collect()
    }
    assert len(out) == 16  # dense spine 0..15
    assert out[1] == (11.0, False)
    assert out[2] == (11.0, True)  # filled from hour 1
    assert out[4] == (11.0, True)
    assert out[5] == (15.0, False)
    assert out[11] == (15.0, True)  # 6 hours after 5 — still in bound
    assert out[12][0] is None  # beyond the fill bound -> stays NULL
    assert out[15] == (25.0, False)


def test_holt_winters_periodic_series(spark):
    # a perfectly 24h-periodic series: level converges to the mean,
    # trend to ~0, and the h-step forecast tracks the periodic value
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.forecast import (
        holt_winters_forecast,
    )
    import math

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(24 * 6):
        v = 10.0 + 5.0 * math.sin(2 * math.pi * (i % 24) / 24)
        rows.append(("s1", t0 + dt.timedelta(hours=i), v, 0.0))
    feats = spark.createDataFrame(
        rows, "site string, ts_utc timestamp, pv_est_mwh double, wind_est_mwh double"
    )
    fc = {
        (r.var, r.horizon_h): r
        for r in holt_winters_forecast(feats, horizons=[1, 24]).collect()
    }
    for h in (1, 24):
        r = fc[("pv", h)]
        want = 10.0 + 5.0 * math.sin(2 * math.pi * (((24 * 6 - 1 + h) % 24)) / 24)
        assert abs(r.yhat - want) < 0.75, (h, r.yhat, want)
        assert r.yhat_upper >= r.yhat >= r.yhat_lower >= 0
        assert r.model == "holt_winters"
    # deterministic under repartitioning
    again = {
        (r.var, r.horizon_h): r.yhat
        for r in holt_winters_forecast(feats.repartition(7), horizons=[1, 24]).collect()
    }
    assert all(again[k] == fc[k].yhat for k in again)


def test_holt_winters_short_series_empty(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.forecast import (
        holt_winters_forecast,
    )

    t0 = dt.datetime(2024, 1, 1)
    feats = spark.createDataFrame(
        [("s1", t0 + dt.timedelta(hours=i), 1.0, 1.0) for i in range(47)],
        "site string, ts_utc timestamp, pv_est_mwh double, wind_est_mwh double",
    )
    assert holt_winters_forecast(feats).count() == 0


def test_count_decomposition_identity_and_flat_series(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.forecast import (
        count_decomposition,
    )
    import datetime as dt

    # flat series: 3 events every hour for 4 days -> trend = 3,
    # seasonal = 0, resid = 0 everywhere
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(hours=h, minutes=m), "t")
        for h in range(96)
        for m in (0, 20, 40)
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = count_decomposition(ev).collect()
    assert len(out) == 96
    for r in out:
        assert r.n == 3
        assert r.trend == pytest.approx(3.0)
        assert r.seasonal == pytest.approx(0.0)
        assert r.resid == pytest.approx(0.0)
        # the additive identity holds EXACTLY by construction
        assert r.n - r.trend - r.seasonal == r.resid


def test_count_decomposition_seasonal_shape(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.forecast import (
        count_decomposition,
    )
    import datetime as dt

    # diurnal pattern: 5 events at hour 12, 1 otherwise, 10 days ->
    # seasonal peaks at slot 12 and dips elsewhere; trend ~ daily mean
    base = dt.datetime(2024, 1, 1)
    rows = []
    for d in range(10):
        for h in range(24):
            k = 5 if h == 12 else 1
            for i in range(k):
                rows.append((base + dt.timedelta(days=d, hours=h, minutes=i), "t"))
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    by_slot = {}
    for r in count_decomposition(ev).collect():
        by_slot.setdefault(r.hour.hour, []).append(r.seasonal)
    assert by_slot[12][0] == pytest.approx(5 - 28 / 24)
    assert by_slot[3][0] == pytest.approx(1 - 28 / 24)


# ----------------------- rolling backtest, leaderboard and champion


def _hourly_feats(spark, rows):
    """rows: (site, ts_iso_hour, pv, wind) -> features frame."""
    df = spark.createDataFrame(
        rows,
        "site string, ts_utc string, pv_est_mwh double, wind_est_mwh double",
    )
    return df.withColumn("ts_utc", F.to_timestamp("ts_utc"))


def _series(spark, fn, days=14):
    rows = [
        (
            "s1",
            f"2024-01-{d:02d} {h:02d}:00:00",
            float(fn(d - 1, h)),
            float(fn(d - 1, h)),
        )
        for d in range(1, days + 1)
        for h in range(24)
    ]
    return _hourly_feats(spark, rows)


def test_backtest_leakage_free_and_fold_isolation(spark):
    # the leakage contract, tested adversarially: perturbing actuals
    # INSIDE the newest test window must change fold 4's metrics and
    # NOTHING else — earlier folds never see data after their origin,
    # and (because horizon <= season) their forecasts never read it
    # either. A leaky implementation (row-lag over a series containing
    # the perturbed tail, or train-window overlap) fails this.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        rolling_backtest,
    )

    base_rows = [
        ("s1", f"2024-01-{d:02d} {h:02d}:00:00", float(10 + h), float(5 + h))
        for d in range(1, 8)
        for h in range(24)
    ]
    feats = _hourly_feats(spark, base_rows)
    before = {
        (r["site"], r["var"], r["fold"]): (r["n"], r["mae"], r["rmse"], r["bias"])
        for r in rolling_backtest(feats, n_folds=4).collect()
    }
    assert len(before) == 2 * 4  # one site, two vars, four folds
    # perturb ONLY the last day's pv values (the fold-4 test window)
    perturbed = [
        (s, ts, pv + (100.0 if ts.startswith("2024-01-07") else 0.0), w)
        for s, ts, pv, w in base_rows
    ]
    after = {
        (r["site"], r["var"], r["fold"]): (r["n"], r["mae"], r["rmse"], r["bias"])
        for r in rolling_backtest(
            _hourly_feats(spark, perturbed), n_folds=4
        ).collect()
    }
    for key in before:
        site, var, fold = key
        if var == "pv" and fold == 4:
            assert after[key] != before[key], key
        else:
            assert after[key] == before[key], key


def test_backtest_gap_honesty_and_seasonal_exactness(spark):
    # a missing hour yields NO forecast row for the orphaned target
    # (time join, not row lag): drop one hour from the seasonal-lag
    # source day and the matched count n drops by exactly 1 in the
    # corresponding fold, while a row-lag would have silently shifted
    # every later forecast. Also: on a perfectly 24h-periodic series
    # the seasonal-naive backtest error is exactly zero.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        rolling_backtest,
    )

    periodic = [
        ("s1", f"2024-01-{d:02d} {h:02d}:00:00", float(h), float(h) / 2)
        for d in range(1, 8)
        for h in range(24)
    ]
    out = rolling_backtest(_hourly_feats(spark, periodic), n_folds=4).toPandas()
    assert (out["mae"] == 0.0).all() and (out["rmse"] == 0.0).all()
    assert (out["n"] == 24).all()
    # drop the seasonal source of fold 4's first hour (day 6, 00:00):
    # fold 4 (day 7) loses exactly that one matched point; fold 3
    # (day 6) also loses its 00:00 ACTUAL row — n drops by 1 in both,
    # folds 1-2 untouched
    gapped = [r for r in periodic if r[1] != "2024-01-06 00:00:00"]
    out2 = rolling_backtest(_hourly_feats(spark, gapped), n_folds=4).toPandas()
    n_by_fold = dict(
        zip(zip(out2["var"], out2["fold"]), out2["n"])
    )
    assert n_by_fold[("pv", 4)] == 23 and n_by_fold[("pv", 3)] == 23
    assert n_by_fold[("pv", 1)] == 24 and n_by_fold[("pv", 2)] == 24


def test_backtest_guards(spark, jobs_in):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        rolling_backtest,
    )

    feats = _hourly_feats(
        spark, [("s1", "2024-01-01 00:00:00", 1.0, 1.0)]
    )
    with pytest.raises(ValueError, match="leakage"):
        rolling_backtest(feats, n_folds=2, horizon_h=48, season_h=24)
    with pytest.raises(ValueError, match="n_folds"):
        rolling_backtest(feats, n_folds=0)
    # a non-positive horizon has no fold windows to tile: refused before
    # any Spark job, not a silent single "fold" or a divide-by-zero
    for bad in (0, -24):
        with jobs_in() as jobs, pytest.raises(ValueError, match="horizon_h"):
            rolling_backtest(feats, horizon_h=bad)
        assert jobs == []


def test_leaderboard_guard_and_schema(spark, jobs_in):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
        model_leaderboard,
    )

    feats = _series(spark, lambda d, h: 1.0)
    with pytest.raises(ValueError, match="n_folds"):
        model_leaderboard(feats, n_folds=0)
    for fn in (model_leaderboard, champion_forecast):
        for bad in (0, -24):
            with jobs_in() as jobs, pytest.raises(ValueError, match="horizon_h"):
                fn(feats, horizon_h=bad)
            assert jobs == [], fn.__name__
    out = model_leaderboard(feats)
    assert out.columns == [
        "site", "var", "model", "folds_evaluated", "total_n",
        "mean_mae", "rank",
    ]


def test_leaderboard_daily_drift_picks_snaive24(spark):
    # y = hour + day: snaive_24 is off by exactly 1 everywhere, the
    # weekly naive by 7, the climatology by the distance to the train
    # mean (several days) — the daily naive must champion BOTH vars
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(spark, lambda d, h: h + d)
    ).toPandas()
    champs = out[out["rank"] == 1]
    assert set(champs["model"]) == {"snaive_24"}
    assert (champs["mean_mae"] == 1.0).all()
    # all three models evaluated all four folds on this 14-day series
    assert (out["folds_evaluated"] == 4).all()
    assert set(out["model"]) == {"snaive_24", "snaive_168", "hod_mean"}


def test_leaderboard_weekly_pattern_picks_snaive168(spark):
    # y = day-of-week: the weekly naive reproduces it exactly (MAE 0)
    # while the daily naive is off whenever consecutive days differ
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(spark, lambda d, h: d % 7)
    ).toPandas()
    champs = out[out["rank"] == 1]
    assert set(champs["model"]) == {"snaive_168"}
    assert (champs["mean_mae"] == 0.0).all()
    sn24 = out[out["model"] == "snaive_24"]
    assert (sn24["mean_mae"] > 0).all()


def test_leaderboard_tie_breaks_by_model_name(spark):
    # constant series: every model is exact, mean_mae 0.0 across the
    # board — rank 1 must be the alphabetically first model name
    # (hod_mean), pinning the name-deterministic tie rule the oracle
    # relies on
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(spark, lambda d, h: 2.5)
    ).toPandas()
    assert (out["mean_mae"] == 0.0).all()
    champs = out[out["rank"] == 1]
    assert set(champs["model"]) == {"hod_mean"}


def test_leaderboard_hod_mean_train_cutoff_no_leakage(spark):
    # adversarial leakage check with exact numbers: a 100-unit spike
    # at hour 5 of the LAST day (fold 4's test window). The hod_mean
    # train cutoff for fold 4 is the fold ORIGIN (max_ts - 24 h), so
    # the spike day is excluded from its own climatology: ŷ(hour 5)
    # stays 1.0 and fold-4 MAE is exactly 100/24; a leaky cutoff
    # (train through the test window) would pull the hour-5 mean off
    # 1.0 and break the closed-form value. Earlier folds see a flat
    # series, so mean_mae = round((100/24)/4, 4) = 1.0417 — for
    # hod_mean AND snaive_24 (whose lag-24 forecast is equally
    # uncontaminated).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(
            spark,
            lambda d, h: 101.0 if (d == 13 and h == 5) else 1.0,
        )
    ).toPandas()
    for model in ("hod_mean", "snaive_24"):
        got = out[(out["model"] == model) & (out["var"] == "pv")]
        assert list(got["mean_mae"]) == [1.0417], (model, got)


def test_champion_forecast_forwards_the_winner(spark):
    # daily drift: champion is snaive_24 (proven above); the forward
    # forecast must be y(t - 24 h) for every one of the next 24 hours
    # — closed form: day-14 hour-h actual is h + 13, so the day-15
    # forecast repeats it
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
    )

    out = champion_forecast(
        _series(spark, lambda d, h: h + d)
    ).toPandas()
    assert set(out["model"]) == {"snaive_24"}
    pv = out[out["var"] == "pv"].sort_values("ts_utc")
    assert len(pv) == 24
    # series ends Jan 14 23:00 -> future window is Jan 15 00:00-23:00
    assert [t.hour for t in pv["ts_utc"]] == list(range(24))
    assert all(t.day == 15 for t in pv["ts_utc"])
    got = {t.hour: y for t, y in zip(pv["ts_utc"], pv["yhat"])}
    assert got == {h: float(h + 13) for h in range(24)}


def test_champion_forecast_constant_series_climatology(spark):
    # constant series: tie -> hod_mean champion; its climatology mean
    # is exactly the constant for all 24 future hours
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
    )

    out = champion_forecast(
        _series(spark, lambda d, h: 2.5)
    ).toPandas()
    assert set(out["model"]) == {"hod_mean"}
    assert len(out) == 2 * 24
    assert (out["yhat"] == 2.5).all()


def test_champion_forecast_pays_one_checkpoint(spark, jobs_in):
    # the forward forecast reads the leaderboard's pinned series, so
    # building the plan runs one job: that single eager localCheckpoint
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
    )

    feats = _series(spark, lambda d, h: h + d)
    with jobs_in() as jobs:
        champion_forecast(feats)
    assert len(jobs) == 1


# A feature-source prefix over a registered `feats` table, spliced
# onto the REGISTERED oracle's CTE chain (split off after
# _PSEUDO_FEATURES_CTE) — the model family under differential test is
# literally the registered SQL, not a restatement that could desync.
_FEATS_PREFIX = """
WITH s AS (
  SELECT site, CAST(ts_utc AS TIMESTAMP) AS ts_utc,
         pv_est_mwh, wind_est_mwh
  FROM feats
),
long AS (
  SELECT site, ts_utc, 'pv' AS var, pv_est_mwh AS y FROM s
  UNION ALL
  SELECT site, ts_utc, 'wind' AS var, wind_est_mwh AS y FROM s
)
"""


def _champion_twin_sql(name: str) -> str:
    oracle = entry_mod.oracle_sql()[name]
    prefix = entry_mod._PSEUDO_FEATURES_CTE
    assert oracle.startswith(prefix)
    return _FEATS_PREFIX + oracle[len(prefix):]


@pytest.mark.slow
def test_leaderboard_hypothesis_differential(spark):
    # adversarial differential over random series the constructed
    # cases can't cover: gappy hours (the TIME-join drop semantics),
    # tie-saturated values (rank boundaries land ON equal mean_mae
    # constantly), series too short for snaive_168 or even for any
    # fold, and non-dyadic values exercising the decimal(30,15)
    # quantization — Spark kernel vs the registered SQL chain in
    # DuckDB, value-by-value, for BOTH champion entries.
    import math

    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
        model_leaderboard,
    )

    vals = st.sampled_from([0.0, 1.0, 1.0, 2.5, -1.0, 0.1])

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        days=st.integers(2, 10),
        drop=st.sets(st.integers(0, 239), max_size=60),
        seed_vals=st.lists(vals, min_size=8, max_size=8),
        two_sites=st.booleans(),
    )
    def check(days, drop, seed_vals, two_sites):
        rows = []
        for s in ["a", "b"] if two_sites else ["a"]:
            for i in range(days * 24):
                if i in drop:
                    continue  # hour gap: joins must DROP, never shift
                d, h = divmod(i, 24)
                rows.append(
                    (
                        s,
                        f"2024-01-{d + 1:02d} {h:02d}:00:00",
                        seed_vals[(i + (7 if s == "b" else 0)) % 8],
                        seed_vals[(i + 3) % 8],
                    )
                )
        feats = _hourly_feats(spark, rows)
        con = duckdb.connect()
        con.register(
            "feats",
            feats.toPandas(),
        )
        for name, fn in [
            ("forecast_champion", model_leaderboard),
            ("forecast_champion_forward", champion_forecast),
        ]:
            got = fn(feats).toPandas()
            want = con.execute(_champion_twin_sql(name)).fetchdf()
            want.columns = [c.strip('"') for c in want.columns]
            assert list(got.columns) == list(want.columns), name
            assert len(got) == len(want), (name, len(got), len(want))
            for c in got.columns:
                for x, y in zip(got[c], want[c]):
                    if isinstance(x, float) or isinstance(y, float):
                        assert (
                            (pd_isna(x) and pd_isna(y))
                            or math.isclose(
                                float(x), float(y),
                                rel_tol=1e-9, abs_tol=1e-9,
                            )
                        ), (name, c, x, y)
                    else:
                        assert x == y, (name, c, x, y)

    import pandas as _pd

    pd_isna = _pd.isna
    check()
