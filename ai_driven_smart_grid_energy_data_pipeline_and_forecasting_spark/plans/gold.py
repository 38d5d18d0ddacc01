"""Gold layer — the reference's declared-but-unbuilt marts
(``infra/init.sql:44-91``, roadmap ``README.md:54-58``), built here as
first-class plans (SURVEY.md §2.10).

- mart_features: GHI W/m² → kWh/m² (1 h integration), PV/wind energy
  estimates. Pure column math — zero shuffles.
- mart_kpis: capacity factors, constrained to [0, 1.2] like the DDL
  CHECK (``init.sql:83-86``).
- mart_forecast baseline: seasonal-naive — yhat(t+h) = y(t+h−24k) via
  lag windows per (site, var); intervals from the residual stddev.

PV/wind estimation formulas are deliberately simple deterministic
proxies (panel efficiency × area; cubic wind power capped at rating) —
the reference never specified them, only their schema/constraints.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# deterministic plant parameters (per-site config would come from a dim
# table; constants keep the math oracle-checkable)
PV_CAPACITY_MW = 2.0
WIND_CAPACITY_MW = 3.0
PV_EFFICIENCY = 0.2
PV_AREA_M2 = 10_000.0
AIR_DENSITY = 1.225
ROTOR_AREA_M2 = 5_000.0
WIND_CP = 0.4
# the seasonal-naive members of the leaderboard family: (lag hours, name)
_SNAIVE = ((24, "snaive_24"), (168, "snaive_168"))


def _series(features: DataFrame) -> DataFrame:
    """MART_FEATURES → the long (site, ts_utc, var, y) series every
    forecaster reads, var ∈ {pv, wind}."""
    return features.select(
        "site", "ts_utc", F.col("pv_est_mwh").alias("pv"), F.col("wind_est_mwh").alias("wind")
    ).unpivot(["site", "ts_utc"], ["pv", "wind"], "var", "y")


def _lagged(long: DataFrame, lag_h: int) -> DataFrame:
    """Seasonal-naive forecasts: each actual re-stamped ``lag_h`` hours
    later as ``yhat``. A TIME lag: a gap drops a forecast, never shifts."""
    later = F.col("ts_utc") + F.expr(f"INTERVAL {int(lag_h)} HOURS")
    return long.select("site", "var", later.alias("ts_utc"), F.col("y").alias("yhat"))


def _det_mean(c):
    """Group mean of ``c`` as an EXACT decimal(30,15) sum over the row
    count — bit-identical on every engine and partitioning."""
    return F.sum(c.cast("decimal(30,15)")).cast("double") / F.count(F.lit(1))


def _folds(j: DataFrame, long: DataFrame, n_folds: int, horizon_h: int) -> DataFrame:
    """Tag the rows of ``j`` with their backtest ``fold`` (1..n_folds,
    oldest first), keeping only the last ``n_folds·horizon_h`` hours
    before the series' global max hour (one broadcast row)."""
    # window index back from the anchor: k = 0 is the newest window
    # (origin_max−H, origin_max]
    k = F.floor(
        (F.unix_timestamp("_mx") - F.unix_timestamp("ts_utc"))
        / F.lit(3600 * int(horizon_h))
    )
    return (
        j.crossJoin(F.broadcast(long.agg(F.max("ts_utc").alias("_mx"))))
        .withColumn("_k", k)
        .filter((F.col("_k") >= 0) & (F.col("_k") < n_folds))
        .withColumn("fold", (F.lit(n_folds) - F.col("_k")).cast("int"))
    )


def _check_folds(n_folds: int, horizon_h: int) -> None:
    """The fold-protocol guard every backtest-driven function shares."""
    if n_folds < 1:
        raise ValueError(f"n_folds must be >= 1, got {n_folds}")
    if horizon_h < 1:
        raise ValueError(f"horizon_h must be >= 1, got {horizon_h}")


def mart_features(fact: DataFrame) -> DataFrame:
    """FACT_WEATHER → MART_FEATURES (init.sql:44-54)."""
    ghi_kwh = F.col("ghi_wm2") / 1000.0  # 1-hour integration, W/m² → kWh/m²
    pv_mwh = ghi_kwh * PV_EFFICIENCY * PV_AREA_M2 / 1000.0
    # P = ½ρAv³Cp (W) capped at rated capacity, × 1 h → MWh.
    # v³ as v·v·v, not pow(v,3): multiplication is correctly rounded
    # everywhere, while Math.pow tolerates 1 ulp — enough to break
    # bit-exact cross-engine comparison.
    v = F.col("wind_mps")
    wind_w = 0.5 * AIR_DENSITY * ROTOR_AREA_M2 * (v * v * v) * WIND_CP
    wind_mwh = F.least(wind_w / 1_000_000.0, F.lit(WIND_CAPACITY_MW))
    return fact.select(
        "site",
        "ts_utc",
        ghi_kwh.alias("ghi_kwh_m2"),
        pv_mwh.alias("pv_est_mwh"),
        wind_mwh.alias("wind_est_mwh"),
    )


def mart_kpis(features: DataFrame) -> DataFrame:
    """MART_FEATURES → MART_KPIS (init.sql:80-91): hourly capacity
    factors, clamped to the DDL domain [0, 1.2]."""
    pv_cf = F.least(F.col("pv_est_mwh") / F.lit(PV_CAPACITY_MW), F.lit(1.2))
    wind_cf = F.least(F.col("wind_est_mwh") / F.lit(WIND_CAPACITY_MW), F.lit(1.2))
    return features.select(
        "site",
        "ts_utc",
        F.lit(PV_CAPACITY_MW).alias("pv_capacity_mw"),
        F.lit(WIND_CAPACITY_MW).alias("wind_capacity_mw"),
        F.greatest(pv_cf, F.lit(0.0)).alias("pv_cf"),
        F.greatest(wind_cf, F.lit(0.0)).alias("wind_cf"),
    )


def seasonal_naive_forecast(
    features: DataFrame,
    horizons: list[int] | None = None,
    season_hours: int = 24,
) -> DataFrame:
    """Baseline forecast (init.sql:64: model='baseline'): for each
    (site, var, horizon h), yhat at origin t targets t+h and equals the
    value at t+h−24·ceil(h/24) — the same hour on the most recent fully
    observed day. One lag window per horizon over the per-(site, var)
    series; intervals = ±1.96σ of the 24h-lag residuals.

    Shuffle profile: a single partition-by-(site, var) sort serves every
    lag/stddev window — Catalyst reuses the window exchange.
    """
    horizons = horizons or [1, 6, 24, 48]
    long = _series(features)

    w = Window.partitionBy("site", "var").orderBy("ts_utc")
    # residual scale from the season-lag differences seen so far
    resid = F.stddev(F.col("y") - F.lag("y", season_hours).over(w)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    out = None
    for h in horizons:
        back = season_hours * -(-h // season_hours)  # ceil to full seasons
        yhat = F.lag("y", back - h).over(w)  # value at (t+h) - back
        row = (
            long.withColumn("horizon_h", F.lit(h))
            .withColumn("model", F.lit("baseline"))
            .withColumn("target_ts", F.col("ts_utc") + F.make_interval(hours=F.lit(h)))
            # keep the raw lag for the existence filter: greatest()
            # ignores NULLs, so clamping first would turn "no history"
            # into a spurious 0.0 forecast
            .withColumn("yraw", yhat)
            .withColumn("yhat", F.greatest(yhat, F.lit(0.0)))
            .withColumn("sigma", resid)
        )
        out = row if out is None else out.unionByName(row)
    return (
        out.filter(F.col("yraw").isNotNull())
        .select(
            "site",
            F.col("target_ts").alias("ts_utc"),
            "model",
            "var",
            F.col("horizon_h").cast("int").alias("horizon_h"),
            "yhat",
            F.greatest(F.col("yhat") - 1.96 * F.coalesce(F.col("sigma"), F.lit(0.0)), F.lit(0.0)).alias(
                "yhat_lower"
            ),
            (F.col("yhat") + 1.96 * F.coalesce(F.col("sigma"), F.lit(0.0))).alias("yhat_upper"),
        )
    )


def forecast_accuracy(forecast: DataFrame, features: DataFrame) -> DataFrame:
    """Forecast-vs-actual evaluation — the Gold-layer join the reference
    roadmap implies but never built (SURVEY.md §7 phase 3; the
    ``mart_forecast`` rows of ``init.sql:61-73`` are useless without
    it). Equi-join of forecasts to later actuals on (site, ts_utc, var)
    — both sides hour-aligned so no as-of tolerance is needed — then
    per (model, var, horizon) error metrics.

    Shuffle profile: one join shuffle on the composite key, one tiny
    final agg; at 100 TB both sides are partitioned by site so the join
    co-locates.
    """
    j = forecast.join(_series(features), ["site", "ts_utc", "var"])
    err = F.col("yhat") - F.col("y")
    return (
        j.groupBy("model", "var", "horizon_h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.abs(err)), 4).alias("mae"),
            F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
            F.round(
                F.avg(
                    (
                        (F.col("y") >= F.col("yhat_lower"))
                        & (F.col("y") <= F.col("yhat_upper"))
                    ).cast("double")
                ),
                4,
            ).alias("interval_coverage"),
        )
        .orderBy("model", "var", "horizon_h")
    )


def rolling_backtest(
    features: DataFrame,
    n_folds: int = 4,
    horizon_h: int = 24,
    season_h: int = 24,
) -> DataFrame:
    """Rolling-origin backtest — time-series cross-validation of the
    seasonal-naive forecaster, the standard out-of-sample evaluation a
    forecasting pipeline runs before trusting a model (Tashman 2000;
    Hyndman & Athanasopoulos fpp3 §5.10). The reference's roadmap
    stops at a single forecast-vs-actual join (``forecast_accuracy``);
    this adds the multi-origin protocol: the last
    ``n_folds·horizon_h`` hours are tiled into ``n_folds`` disjoint
    test windows anchored at the series' global max hour, and fold f
    evaluates ŷ(t) = y(t − season_h h) over its window.

    Leakage-free by construction: ``horizon_h ≤ season_h`` is
    enforced, so every forecast reads an actual at or before the
    fold's origin — no fold trains on its own test window. The
    seasonal lag is a TIME-based self-join on the hour-aligned key
    (site, var, ts − season_h), not a row lag: a gap in the series
    yields no forecast for the orphaned hour (counted via ``n``)
    instead of a silently shifted one.

    Per (site, var, fold): matched-point count, MAE, RMSE, bias
    (mean error), rounded to 4 decimals. The means divide EXACT
    decimal(30,15) sums (the ``det_mean`` convention) rather than
    averaging doubles: a plain ``avg`` differs between engines by
    fold order, and on this very dataset the sf0.01 bias lands within
    an ulp of the −0.01495 rounding boundary — Spark published
    −0.0150, DuckDB −0.0149. Exact sums make both engines round the
    identical double, and the result partition-invariant. (Each term
    is itself bit-identical cross-engine — one subtract/multiply of
    the same operands — so the only approximation is the 1e-15
    decimal quantization of each term, far below the 4-decimal
    output.)

    Scale: the lag join is an equi-join on (site, var, hour) —
    co-located under site partitioning exactly like
    ``forecast_accuracy``; fold assignment is pure arithmetic against
    ONE broadcast max-ts row; the final agg emits
    sites·vars·n_folds rows."""
    if horizon_h > season_h:
        raise ValueError(
            f"horizon_h ({horizon_h}) must be <= season_h ({season_h}): "
            "a longer horizon would read actuals past the fold origin "
            "(train-on-test leakage)"
        )
    _check_folds(n_folds, horizon_h)
    long = _series(features)
    j = long.join(_lagged(long, season_h), ["site", "var", "ts_utc"])
    err = F.col("yhat") - F.col("y")
    return (
        _folds(j, long, n_folds, horizon_h)
        .groupBy("site", "var", "fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_det_mean(F.abs(err)), 4).alias("mae"),
            F.round(F.sqrt(_det_mean(err * err)), 4).alias("rmse"),
            F.round(_det_mean(err), 4).alias("bias"),
        )
        .orderBy("site", "var", "fold")
    )


def _leaderboard(
    features: DataFrame, n_folds: int, horizon_h: int
) -> tuple[DataFrame, DataFrame]:
    """``model_leaderboard``'s plan plus the checkpointed series it
    scored, so ``champion_forecast`` forecasts from the same pin."""
    _check_folds(n_folds, horizon_h)
    long = _series(features).localCheckpoint(eager=True)
    test = _folds(long, long, n_folds, horizon_h)
    # seasonal-naive members: the same TIME-join convention as
    # rolling_backtest (gaps drop, never shift)
    fcs = [
        test.join(_lagged(long, lag_h), ["site", "var", "ts_utc"]).select(
            "site", "var", "fold", "y", "yhat",
            F.lit(name).alias("model"),
        )
        for lag_h, name in _SNAIVE
    ]
    # climatology member: per-fold expanding hour-of-day mean with
    # train cutoff at the fold origin (integer-seconds arithmetic —
    # exact on both engines)
    folds = F.broadcast(
        long.sparkSession.range(1, int(n_folds) + 1).select(
            F.col("id").cast("int").alias("fold")
        )
    )
    train = (
        long.crossJoin(F.broadcast(long.agg(F.max("ts_utc").alias("_mx"))))
        .crossJoin(folds)
        .filter(
            F.unix_timestamp("ts_utc")
            <= F.unix_timestamp("_mx")
            - (F.lit(int(n_folds) + 1) - F.col("fold"))
            * F.lit(3600 * int(horizon_h))
        )
        .groupBy("site", "var", F.hour("ts_utc").alias("hod"), "fold")
        .agg(_det_mean(F.col("y")).alias("yhat"))
    )
    fcs.append(
        test.withColumn("hod", F.hour("ts_utc"))
        .join(train, ["site", "var", "hod", "fold"])
        .select(
            "site", "var", "fold", "y", "yhat",
            F.lit("hod_mean").alias("model"),
        )
    )
    err = F.col("yhat") - F.col("y")
    per_fold = reduce(DataFrame.unionByName, fcs).groupBy(
        "site", "var", "model", "fold"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(_det_mean(F.abs(err)), 4).alias("mae"),
    )
    board = per_fold.groupBy("site", "var", "model").agg(
        F.count(F.lit(1)).cast("int").alias("folds_evaluated"),
        F.sum("n").alias("total_n"),
        F.round(_det_mean(F.col("mae")), 4).alias("mean_mae"),
    )
    w = Window.partitionBy("site", "var").orderBy("mean_mae", "model")
    return (
        board.withColumn("rank", F.row_number().over(w).cast("int"))
        .orderBy("site", "var", "rank")
    ), long


def model_leaderboard(
    features: DataFrame,
    n_folds: int = 4,
    horizon_h: int = 24,
) -> DataFrame:
    """Forecast model-selection leaderboard (r14) — the champion step
    the reference's multi-model ``mart_forecast`` DDL implies
    (``infra/init.sql:61-73`` declares a ``model`` column but nothing
    ever SELECTS a winner): run the ``rolling_backtest`` protocol for
    a family of SQL-exact forecasters and rank them per (site, var)
    by mean fold MAE.

    Models (all leakage-free at ``horizon_h ≤ lag`` by the same
    argument as ``rolling_backtest``; all exactly reproducible in
    ANSI SQL, so the entry carries a full hash-exact oracle — the
    iteratively-fitted models, Holt-Winters/SARIMAX, stay on their
    invariant-audit entries and are out of scope here by design):

    - ``snaive_24``  — ŷ(t) = y(t − 24 h): the daily seasonal naive.
    - ``snaive_168`` — ŷ(t) = y(t − 168 h): the weekly seasonal naive
      (fpp3's other standard benchmark for hourly energy series).
    - ``hod_mean``   — ŷ(t) = expanding mean of y at the same
      hour-of-day over all actuals at or before the fold's ORIGIN
      (the climatology baseline). Per-fold train cutoff — so later
      folds see more history, exactly like a refit would.

    Each model is evaluated only where its forecast exists (a short
    series yields no ``snaive_168`` rows in early folds — visible in
    ``folds_evaluated``/``total_n``, never silently imputed). Fold
    MAE uses the exact-decimal det_mean convention and 4-decimal
    rounding of ``rolling_backtest``; ``mean_mae`` is the det_mean of
    those fold MAEs. ``rank`` = row_number per (site, var) ordering
    (mean_mae asc, model asc) — rank 1 is the champion; ties are
    name-deterministic on both engines.

    Scale: everything joins on (site, var, hour) — co-located under
    the site partitioning; the fold table (n_folds rows) and the
    global max-ts row are broadcast; the hod_mean train agg emits
    sites·vars·24·n_folds rows. Output is sites·vars·models rows.
    The unpivoted series is ``localCheckpoint``ed once (the dedup.py
    subtree-reuse convention): Catalyst does not share common
    subplans across union branches, so without it each of the three
    model branches (plus the max-ts row) re-derives the series from
    the raw fact scan — ~10 scans of a 100 TB table for one
    leaderboard; checkpointing pins the sites·hours·2-row frame and
    every branch reads that instead (plan-audited: one fact scan)."""
    return _leaderboard(features, n_folds, horizon_h)[0]


def champion_forecast(
    features: DataFrame,
    n_folds: int = 4,
    horizon_h: int = 24,
) -> DataFrame:
    """Forward forecast by the per-series CHAMPION model (r14) — the
    end of the model-selection story: ``model_leaderboard`` crowns a
    winner per (site, var); this emits that winner's ŷ for the next
    ``horizon_h`` hours after the series' global max hour, tagged
    with the model that produced it (the reference's multi-model
    ``mart_forecast`` shape, ``infra/init.sql:61-73``, with the model
    column now actually SELECTED by backtest skill).

    Forecast rules are the leaderboard's own (all read only actuals
    ≤ max ts — leakage-free trivially): ``snaive_24``/``snaive_168``
    probe the lagged actual at t − lag (a TIME join — a gap in the
    tail yields no forecast row for that hour rather than a shifted
    one, visible as a missing stamp), ``hod_mean`` joins the
    full-history hour-of-day climatology (det_mean). All three are
    computed declaratively and the champion join keeps one model's
    rows per series; total candidate volume is
    sites·vars·horizon_h·3 rows before the champion cut, so there is
    nothing to prune at scale. The forward branches read the
    leaderboard's own ``localCheckpoint``ed series, so one call pays
    one checkpoint (Catalyst does not share subplans across union
    branches — without the pin each branch re-scans the raw fact
    table per model).

    Output: (site, var, ts_utc, model, yhat) with yhat rounded to 6
    decimals (the ``forecast_baseline`` family convention), ordered
    by site, var, ts_utc."""
    board, long = _leaderboard(features, n_folds, horizon_h)
    champ = board.filter(F.col("rank") == 1).select("site", "var", "model")
    future = (
        long.sparkSession.range(1, int(horizon_h) + 1)
        .select(F.col("id").cast("int").alias("h"))
        .crossJoin(F.broadcast(long.agg(F.max("ts_utc").alias("_mx"))))
        .select("h", F.expr("timestampadd(HOUR, h, _mx)").alias("ts_utc"))
    )
    fcs = [
        _lagged(long, lag_h)
        .join(F.broadcast(future.select("ts_utc")), "ts_utc")
        .select(
            "site", "var", "ts_utc", "yhat",
            F.lit(name).alias("model"),
        )
        for lag_h, name in _SNAIVE
    ]
    clim = long.groupBy(
        "site", "var", F.hour("ts_utc").alias("hod")
    ).agg(_det_mean(F.col("y")).alias("yhat"))
    fcs.append(
        F.broadcast(future)
        .withColumn("hod", F.hour("ts_utc"))
        .join(clim, "hod")
        .select(
            "site", "var", "ts_utc", "yhat",
            F.lit("hod_mean").alias("model"),
        )
    )
    return (
        reduce(DataFrame.unionByName, fcs)
        .join(champ, ["site", "var", "model"])
        .select(
            "site", "var", "ts_utc", "model",
            F.round("yhat", 6).alias("yhat"),
        )
        .orderBy("site", "var", "ts_utc")
    )


def rolling_features(
    fact: DataFrame,
    value_col: str = "ghi_wm2",
    window_hours: int = 24,
) -> DataFrame:
    """Rolling-frame feature engineering over the silver series (the
    lag/rolling surface SURVEY §2.5 marks as Gold's need): per site,
    trailing ``window_hours``-row mean/min/max plus lag-1 and lag-24 —
    the standard forecasting feature block.

    Determinism: the trailing mean divides an exact decimal windowed
    sum by the windowed count (float window-sums would accumulate in
    frame order but round at the oracle's last ulp; decimals cannot).
    Scale: one shuffle (site), one in-partition sort amortized across
    ALL the frames — Spark evaluates every window over the same
    (partition, order) spec in a single Window exec."""
    w = Window.partitionBy("site").orderBy("ts_utc")
    frame = w.rowsBetween(-(window_hours - 1), 0)
    v = F.col(value_col)
    vdec = v.cast("decimal(20,6)")
    return fact.select(
        "site",
        "ts_utc",
        v.alias(value_col),
        (F.sum(vdec).over(frame).cast("double") / F.count(v).over(frame))
        .alias("roll_mean"),
        F.min(v).over(frame).alias("roll_min"),
        F.max(v).over(frame).alias("roll_max"),
        F.lag(v, 1).over(w).alias("lag_1h"),
        F.lag(v, 24).over(w).alias("lag_24h"),
    ).orderBy("site", "ts_utc")


def gap_fill_hourly(
    fact: DataFrame,
    value_cols: tuple[str, ...] = ("ghi_wm2", "temp_c", "wind_mps"),
    max_fill_hours: int = 6,
) -> DataFrame:
    """Resample each site's series onto a dense hourly spine and
    forward-fill gaps up to ``max_fill_hours`` (the standard sensor-
    series repair before feature/forecast stages; longer gaps stay
    NULL so models can mask them).

    Plan: the spine is ``sequence(min, max, 1 hour)`` per site —
    generated from the site's own aggregate, exploded; no driver loop,
    no cross join. The fill is ``last(value, ignorenulls)`` over a
    bounded trailing frame — one Window exec shared by all columns,
    plus a filled-flag per column. Scale: dense spine rows ≈ hours ×
    sites; the window is the same (site, ts) partitioning the rest of
    the silver pipeline already uses."""
    spine = (
        fact.groupBy("site")
        .agg(F.min("ts_utc").alias("lo"), F.max("ts_utc").alias("hi"))
        .select(
            "site",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("ts_utc"),
        )
    )
    dense = spine.join(fact, ["site", "ts_utc"], "left_outer")
    w = (
        Window.partitionBy("site")
        .orderBy("ts_utc")
        .rowsBetween(-max_fill_hours, 0)
    )
    out_cols = [F.col("site"), F.col("ts_utc")]
    for c in value_cols:
        filled = F.last(F.col(c), ignorenulls=True).over(w)
        out_cols.append(filled.alias(c))
        out_cols.append(
            (F.col(c).isNull() & filled.isNotNull()).alias(f"{c}_filled")
        )
    return dense.select(*out_cols).orderBy("site", "ts_utc")


def conformal_eval(
    forecast: DataFrame,
    features: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal prediction intervals for the Gold forecasts
    (Vovk et al.; the split/inductive form of Papadopoulos et al.,
    ECML 2002): per (model, var, horizon), the chronologically FIRST
    half of forecast-vs-actual points calibrates a half-width

        q = the k-th smallest |yhat − y|,  k = ⌈(n_c + 1)(1 − α)⌉

    and the second half measures empirical coverage of yhat ± q —
    distribution-free, guaranteed ≥ 1 − α in expectation regardless of
    how bad the underlying forecaster is. This replaces the Gaussian
    ±1.96σ bands of ``seasonal_naive_forecast`` with intervals that
    hold by construction.

    Determinism: k is an integer ceiling (exact arithmetic on counts),
    q is a RANK-EXACT order statistic (no interpolation; ties broken
    by (ts, site) — the ``value_winsorized`` discipline), the coverage
    indicator compares doubles computed by an identical op sequence in
    both engines. The calibration/test split is by per-group rank
    (first ⌈n/2⌉ points in (ts, site) order), not a date literal, so
    the query is scale-free; a production deployment would pin a
    calendar boundary instead — same plan shape.

    Plan: the eval join (one shuffle on (site, ts, var)), then two
    window passes partitioned by the (model, var, horizon) group —
    acceptable because groups are few and the windows carry only
    rank/count; at larger group cardinality the split boundary and q
    would come from a pre-aggregated quantile table instead."""
    pts = forecast.join(_series(features), ["site", "ts_utc", "var"]).select(
        "model", "var", "horizon_h", "site", "ts_utc",
        F.abs(F.col("yhat") - F.col("y")).alias("_ar"),
    )
    g = ["model", "var", "horizon_h"]
    w_time = Window.partitionBy(*g).orderBy("ts_utc", "site")
    ranked = pts.withColumn("_rn", F.row_number().over(w_time)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*g))
    )
    calib = ranked.where(F.col("_rn") <= F.expr("_n div 2"))
    test = ranked.where(F.col("_rn") > F.expr("_n div 2"))
    w_abs = Window.partitionBy(*g).orderBy("_ar", "ts_utc", "site")
    a, b = int(alpha_den - alpha_num), int(alpha_den)
    q_tbl = (
        calib.withColumn("_ra", F.row_number().over(w_abs))
        .withColumn("_nc", F.count(F.lit(1)).over(Window.partitionBy(*g)))
        # k = ceil((nc+1)(1-α)) = ceil((nc+1)·a / b), clamped to nc
        .where(
            F.col("_ra")
            == F.least(
                F.expr(f"((_nc + 1L) * {a}L + {b - 1}L) div {b}L"),
                F.col("_nc"),
            )
        )
        .select(*g, F.col("_ar").alias("_q"), F.col("_nc").alias("n_calib"))
    )
    return (
        test.join(q_tbl, g)
        .groupBy(*g)
        .agg(
            F.first("n_calib").alias("n_calib"),
            F.count(F.lit(1)).alias("n_test"),
            F.round(F.first("_q"), 4).alias("q_width"),
            F.round(
                F.avg((F.col("_ar") <= F.col("_q")).cast("double")), 4
            ).alias("coverage"),
        )
        .orderBy(*g)
    )
