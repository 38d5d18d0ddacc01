"""Model-based forecasting via grouped-map pandas UDF — the reference's
``mart_forecast`` model='sarimax' slot (``init.sql:61-73``; roadmap
``README.md:54-58``).

Per-(site, var) series are embarrassingly parallel:
``groupBy(site, var).applyInPandas`` ships each group to one executor
as an Arrow batch, fits there, returns MART_FORECAST-shaped rows. This
is the engine's *only* Python-in-the-loop operator, and it is exactly
the case the guide carves out: per-group model fitting that built-in
expressions cannot express.

Model: statsmodels SARIMAX when importable; otherwise a deterministic
numpy surrogate — ordinary-least-squares AR on [lag-1, lag-24, const]
(a seasonal AR(1); same API shape, no external dependency). Both paths
produce yhat with ±1.96σ intervals from in-sample residuals.

Scale guards: group = one (site, var) series; memory is bounded by the
series length, and ``spark.sql.execution.arrow.maxRecordsPerBatch``
bounds transfer batches. Skewed site sizes are fine — AQE balances the
shuffle, and each fit is O(n) in its own series only.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .gold import _series

FORECAST_SCHEMA = T.StructType(
    [
        T.StructField("site", T.StringType(), False),
        T.StructField("ts_utc", T.TimestampType(), False),
        T.StructField("model", T.StringType(), False),
        T.StructField("var", T.StringType(), False),
        T.StructField("horizon_h", T.IntegerType(), False),
        T.StructField("yhat", T.DoubleType(), True),
        T.StructField("yhat_lower", T.DoubleType(), True),
        T.StructField("yhat_upper", T.DoubleType(), True),
    ]
)

SEASON = 24


def _grouped_forecast(
    features: DataFrame, model: str, fit: Callable
) -> DataFrame:
    """The one ``applyInPandas`` shell: per (site, var) series,
    ``fit(y)`` returns ``({h: yhat}, σ)`` — or None for a series too
    short to fit — and each horizon becomes a ±1.96σ MART_FORECAST row."""
    cols = [f.name for f in FORECAST_SCHEMA.fields]

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts_utc")
        fitted = fit(pdf["y"].astype(float).to_numpy())
        if fitted is None:
            return pd.DataFrame(columns=cols)
        preds, sigma = fitted
        site = pdf["site"].iloc[0]
        var = pdf["var"].iloc[0]
        origin = pdf["ts_utc"].iloc[-1]
        return pd.DataFrame(
            [
                {
                    "site": site,
                    "ts_utc": origin + pd.Timedelta(hours=h),
                    "model": model,
                    "var": var,
                    "horizon_h": h,
                    "yhat": yhat,
                    "yhat_lower": max(yhat - 1.96 * sigma, 0.0),
                    "yhat_upper": yhat + 1.96 * sigma,
                }
                for h, yhat in sorted(preds.items())
            ]
        )

    return _series(features).groupBy("site", "var").applyInPandas(
        fit_group, FORECAST_SCHEMA
    )


def sarimax_forecast(
    features: DataFrame, horizons: list[int] | None = None
) -> DataFrame:
    """MART_FEATURES → MART_FORECAST rows, model='sarimax' (statsmodels
    when available, numpy seasonal-AR surrogate otherwise).

    ``fit`` is nested here and ``_grouped_forecast``'s UDF is a
    closure on purpose: cloudpickle serializes module-level functions
    *by reference*, which requires every executor's Python worker to
    be able to import this package — not guaranteed outside the repo
    checkout. Nested functions and closures pickle by value, making
    the UDF self-contained; neither may call a module-level function.
    """
    horizons = horizons or [1, 6, 24, 48]
    hset = set(horizons)
    season = SEASON

    def fit(y):
        import numpy as np

        try:
            from statsmodels.tsa.statespace.sarimax import SARIMAX
        except ImportError:
            pass
        else:
            res = SARIMAX(
                np.asarray(y), order=(1, 0, 0), seasonal_order=(1, 0, 0, season),
                enforce_stationarity=False, enforce_invertibility=False,
            ).fit(disp=False)
            mean = res.get_forecast(steps=max(hset)).predicted_mean
            sigma = float(np.std(res.resid)) if len(res.resid) > 1 else 0.0
            return {h: max(float(mean[h - 1]), 0.0) for h in hset}, sigma
        # seasonal AR via OLS on [lag1, lag24, 1]; recursive multi-step
        n = len(y)
        if n <= season + 1:
            return None
        X = np.column_stack(
            [y[season - 1 : n - 1], y[: n - season], np.ones(n - season)]
        )
        t = y[season:]
        coef, *_ = np.linalg.lstsq(X, t, rcond=None)
        resid = t - X @ coef
        sigma = float(np.std(resid)) if len(resid) > 1 else 0.0
        hist = list(y)
        preds = {}
        for h in range(1, max(hset) + 1):
            nxt = coef[0] * hist[-1] + coef[1] * hist[-season] + coef[2]
            nxt = max(float(nxt), 0.0)
            hist.append(nxt)
            if h in hset:
                preds[h] = nxt
        return preds, sigma

    return _grouped_forecast(features, "sarimax", fit)


def mllib_forecast(
    features: DataFrame, horizons: list[int] | None = None
) -> DataFrame:
    """MLlib-based forecast filling the same MART_FORECAST shape
    (``init.sql:61-73``) with model='mllib_lr': one global
    ``pyspark.ml`` LinearRegression (normal-equation solver —
    deterministic, no SGD) over lag features [y(t−h), y(t−24·⌈h/24⌉),
    var indicator], trained distributed and applied distributed.

    Complements ``sarimax_forecast`` (per-group applyInPandas): this is
    the path where ONE model learns across every (site, var) series —
    MLlib's fit is a distributed normal-equation solve, so training
    scales with the cluster rather than with the largest single group.
    Intervals are ±1.96σ of in-sample residuals (global, like the
    baseline's residual-σ convention).
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.sql import Window

    horizons = horizons or [1, 24]
    season = 24
    # Materialize the unpivoted series once: every fit, residual-σ
    # aggregate, and the final projection is a separate action, and
    # each would otherwise re-execute the full upstream feature lineage
    # (silver → gold chain over raw events) — ~5 executions per call.
    # The hourly series is orders of magnitude smaller than its input
    # (one row per site×var×hour), so this is the standard iterative-ML
    # trade: checkpoint the training frame, not the raw scan.
    long = _series(features).localCheckpoint(eager=True)
    w = Window.partitionBy("site", "var").orderBy("ts_utc")

    out = None
    for h in horizons:
        # seasonal lag: the next season multiple STRICTLY beyond h —
        # when h is itself a multiple of the season, season*ceil(h/24)
        # would equal h, making lag_season ≡ lag_h (a singular normal
        # system whose "solution" is solver-dependent noise)
        back = season * (h // season + 1) if h % season == 0 else season * -(-h // season)
        feat = (
            long.withColumn("lag_h", F.lag("y", h).over(w))
            .withColumn("lag_season", F.lag("y", back).over(w))
            .withColumn("is_pv", (F.col("var") == "pv").cast("double"))
            .filter(F.col("lag_h").isNotNull() & F.col("lag_season").isNotNull())
        )
        assembler = VectorAssembler(
            inputCols=["lag_h", "lag_season", "is_pv"], outputCol="features"
        )
        vec = assembler.transform(feat)
        lr = LinearRegression(
            featuresCol="features", labelCol="y", solver="normal", regParam=0.0
        )
        model = lr.fit(vec)
        pred = model.transform(vec)
        sigma = pred.agg(
            F.stddev(F.col("y") - F.col("prediction")).alias("s")
        ).collect()[0]["s"] or 0.0
        row = pred.select(
            "site",
            "ts_utc",
            F.lit("mllib_lr").alias("model"),
            "var",
            F.lit(h).cast("int").alias("horizon_h"),
            F.greatest(F.col("prediction"), F.lit(0.0)).alias("yhat"),
            F.greatest(
                F.greatest(F.col("prediction"), F.lit(0.0)) - 1.96 * sigma,
                F.lit(0.0),
            ).alias("yhat_lower"),
            (F.greatest(F.col("prediction"), F.lit(0.0)) + 1.96 * sigma).alias(
                "yhat_upper"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


def holt_winters_forecast(
    features: DataFrame,
    horizons: list[int] | None = None,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per
    (site, var) series — the classic seasonal smoother between the
    seasonal-naive baseline (``gold.seasonal_naive_forecast``) and the
    AR fits here: level + trend + 24-hour seasonal state updated one
    observation at a time, forecast = level + h·trend + season[(n+h) %
    24]. Fixed smoothing constants (no optimizer) keep it deterministic
    and dependency-free: the SAME numbers on every engine and every
    partitioning, which is what lets the driver audit it with a SQL
    invariant oracle like the SARIMAX slot.

    Plan shape is identical to ``sarimax_forecast`` — one
    ``applyInPandas`` grouped fit, O(n) state recursion per series,
    memory bounded by the series — so every scale note there applies
    verbatim. Series shorter than two seasons return no rows (the
    seasonal state cannot initialize).
    """
    horizons = horizons or [1, 6, 24, 48]
    hset = sorted(set(horizons))
    season = SEASON
    a_, b_, g_ = float(alpha), float(beta), float(gamma)

    def fit(y):
        import numpy as np

        n = len(y)
        if n < 2 * season:
            return None
        # standard init: first-season mean level, cross-season trend,
        # first-season deviations as the seasonal state
        level = float(np.mean(y[:season]))
        trend = float(
            (np.mean(y[season : 2 * season]) - np.mean(y[:season])) / season
        )
        seas = [float(v - level) for v in y[:season]]
        resid = []
        for i in range(season, n):
            s = seas[i % season]
            pred = level + trend + s
            resid.append(y[i] - pred)
            new_level = a_ * (y[i] - s) + (1 - a_) * (level + trend)
            trend = b_ * (new_level - level) + (1 - b_) * trend
            seas[i % season] = g_ * (y[i] - new_level) + (1 - g_) * s
            level = new_level
        sigma = float(np.std(np.asarray(resid))) if len(resid) > 1 else 0.0
        return {
            h: max(level + h * trend + seas[(n - 1 + h) % season], 0.0)
            for h in hset
        }, sigma

    return _grouped_forecast(features, "holt_winters", fit)


def count_decomposition(
    ev,
    ts_col: str = "ts",
    key_col: str = "event_type",
    season: int = 24,
):
    """Additive seasonal decomposition of the hourly COUNT series —
    ``n = trend + seasonal + resid`` with a centered ``season``-row
    moving-average trend and a mean-by-season-slot seasonal component
    (classical decomposition, the diagnostic step ahead of the model
    fits in this module; the reference's forecasting domain makes the
    load-seasonality profile a first-class analytic).

    Everything folds over INTEGER counts (long sums are exact and
    associative), so trend/seasonal/resid are deterministic doubles
    under any partitioning and bit-identical in any engine — this is
    the decomposition that stays oracle-checkable, where decomposing
    a float series would hit cross-engine fold-order drift.

    Plan: one partial-agg shuffle to the hourly grid (rows =
    |keys|·|hours|, tiny), then three window passes over that grid —
    the rows-based centered frame for trend, the (key, slot) partition
    for the seasonal mean, the key partition for the grand mean.
    Rows-based framing assumes a dense hourly grid (true of this
    stream; run a gap-fill first otherwise — `silver_gap_fill` is the
    operator for it).
    """
    from pyspark.sql import Window

    hourly = ev.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    half = season // 2
    w_ma = (
        Window.partitionBy("key")
        .orderBy("hour")
        .rowsBetween(-(half - 1), half)
    )
    w_slot = Window.partitionBy("key", F.hour("hour"))
    w_all = Window.partitionBy("key")
    trend = F.sum("n").over(w_ma) / F.count("n").over(w_ma)
    slot_mean = F.sum("n").over(w_slot) / F.count("n").over(w_slot)
    grand_mean = F.sum("n").over(w_all) / F.count("n").over(w_all)
    return (
        hourly.withColumn("trend", trend)
        .withColumn("seasonal", slot_mean - grand_mean)
        .withColumn("resid", F.col("n") - F.col("trend") - F.col("seasonal"))
        .orderBy("key", "hour")
    )
