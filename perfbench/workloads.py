"""The workloads: set-up, one closed-loop operation, output checks.

Each workload object is built once per run. ``setup(root)`` builds its
inputs under ``root`` and may be called several times (the run reports
the median). ``warmup(step)`` runs untimed operations (each through
``step()``) before the measured pass. ``op()`` performs one operation and
returns ``(kind, check)``: the caller times ``op`` alone, then calls
``check()``, which returns a list of failed-check messages (empty when the
output is right). A failed check counts the operation as failed. A pass
ends on a multiple of ``ROUND`` operations, so every pass holds whole
request mixes or whole batteries.
"""

from __future__ import annotations

import json
import math
import random
import shutil
import time
from contextlib import contextmanager
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import forecast as forecast_plans
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import gold, serving
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import silver as silver_plans
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming import ingest_stream
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import load_table

from . import payloads as P
from . import stargen

BRONZE_COLS = ["site", "ts_utc", "ghi_wm2", "t2m_c", "ws10_mps", "ingested_at"]
SILVER_COLS = ["site", "ts_utc", "ghi_wm2", "temp_c", "wind_mps"]
FEATURE_COLS = ["site", "ts_utc", "ghi_kwh_m2", "pv_est_mwh", "wind_est_mwh"]
KPI_COLS = ["site", "ts_utc", "pv_capacity_mw", "wind_capacity_mw", "pv_cf", "wind_cf"]
BRONZE_SCHEMA = T.StructType([
    T.StructField("site", T.StringType()),
    T.StructField("ts_utc", T.TimestampType()),
    T.StructField("ghi_wm2", T.DoubleType()),
    T.StructField("t2m_c", T.DoubleType()),
    T.StructField("ws10_mps", T.DoubleType()),
    T.StructField("raw_json", T.StringType()),
    T.StructField("ingested_at", T.TimestampType()),
])


def _ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def row_hashes(df, cols) -> list[int]:
    """Sorted per-row xxhash64 over ``cols``: equal lists mean equal
    multisets of rows (up to hash collisions)."""
    return sorted(r[0] for r in df.select(F.xxhash64(*cols)).collect())


def bronze_mismatch(rows, model: P.Lakehouse) -> list[str]:
    got = {(r.site, r.ts_utc): (r.ghi_wm2, r.t2m_c, r.ws10_mps, r.ingested_at) for r in rows}
    want = {k: v[:3] + (_ts(v[3]),) for k, v in model.bronze.items()}
    if len(rows) != len(got):
        return [f"bronze holds duplicate keys: {len(rows)} rows, {len(got)} keys"]
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return [f"bronze differs from the generator model ({len(got)} vs {len(want)} rows), e.g. {diff}"]
    return []


def silver_mismatch(rows, model: P.Lakehouse) -> list[str]:
    got = {(r.site, r.ts_utc): (r.ghi_wm2, r.temp_c, r.wind_mps) for r in rows}
    want = model.silver()
    if len(rows) != len(got) or got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return [f"silver differs from the generator model ({len(rows)} vs {len(want)} rows), e.g. {diff}"]
    return []


def write_gold(spark, silver_path: str, root: str, stage, sites=None) -> None:
    """Gold refresh: features then KPIs, rewriting only the partitions of
    ``sites`` (all partitions when None)."""
    def rows(path):
        df = spark.read.parquet(path)
        return df if sites is None else df.filter(F.col("site").isin(sites))

    with stage("gold.features"):
        gold.mart_features(rows(silver_path)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic").partitionBy("site").parquet(f"{root}/gold_features.parquet")
    with stage("gold.kpis"):
        gold.mart_kpis(rows(f"{root}/gold_features.parquet")).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic").partitionBy("site").parquet(f"{root}/gold_kpis.parquet")


class Workload:
    name = ""
    ROUND = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        # stage(name) -> context manager; the traced pass sets Tracer.span
        self.stage = no_span
        self.report: dict[str, list[float]] = {}
        self.progress: list = []  # StreamingQueryProgress of every query run

    def record(self, metric: str, value: float) -> None:
        self.report.setdefault(metric, []).append(value)

    def warmup(self, step) -> None:
        """Untimed operations before the measured pass. None by default: a
        fresh process's first operation is what a scheduled ingest or
        refresh job pays, and on a shared host a cold operation spread no
        more across runs than a warm one did."""

    def final_check(self) -> list[str]:
        """Checks on state the operations leave behind, after the pass."""
        return []


@contextmanager
def no_span(name):
    yield


# -- medallion_ingest --------------------------------------------------------

class MedallionIngest(Workload):
    """Drop 1 (several files = several micro-batches) through
    ``stream_to_silver`` into Bronze and Silver, then Gold; drop 2 resumes
    the same checkpoint and Gold is refreshed for the sites it touched."""

    name = "medallion_ingest"
    SITES, DAYS, FILES, TOUCHED = 6, 14, 2, 2

    def setup(self, root: str) -> None:
        g = P.PayloadGenerator(self.seed, self.SITES, self.DAYS, self.FILES)
        d1, gaps = g.first_drop()
        self.drops = (d1, g.second_drop(d1, gaps, self.TOUCHED))
        self.cycles = 0

    def _stream(self, root: str, drop: P.Drop, prefix: str) -> None:
        P.write_drop(drop, f"{root}/drop", prefix)
        q = ingest_stream.stream_to_silver(
            ingest_stream.read_payload_stream(self.spark, f"{root}/drop"),
            f"{root}/bronze.parquet", f"{root}/silver.parquet", f"{root}/checkpoint",
            ingested_at=drop.ingested_at,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        self.progress.extend(q.recentProgress)

    def op(self):
        root = f"{self.work}/ingest-{self.cycles}"
        self.cycles += 1
        d1, d2 = self.drops
        t0 = time.perf_counter()
        with self.stage("streaming.full"):
            self._stream(root, d1, "d1")
        write_gold(self.spark, f"{root}/silver.parquet", root, self.stage)
        t1 = time.perf_counter()
        with self.stage("streaming.incr"):
            self._stream(root, d2, "d2")
        touched = sorted({s for s, _ in d2.bronze})
        write_gold(self.spark, f"{root}/silver.parquet", root, self.stage, touched)
        t2 = time.perf_counter()
        self.record("ingest_full_s", t1 - t0)
        self.record("ingest_incr_s", t2 - t1)
        drops = self.drops

        def check():
            try:
                return self.check(root, drops)
            finally:
                shutil.rmtree(root, ignore_errors=True)

        return "cycle", check

    def check(self, root: str, drops) -> list[str]:
        s = self.spark
        model = P.Lakehouse()
        for d in drops:
            model.apply(d.bronze)
        bronze = s.read.parquet(f"{root}/bronze.parquet")
        silver = s.read.parquet(f"{root}/silver.parquet")
        errors = bronze_mismatch(bronze.select(*BRONZE_COLS).collect(), model)
        errors += silver_mismatch(silver.select(*SILVER_COLS).collect(), model)
        if row_hashes(silver, SILVER_COLS) != row_hashes(silver_plans.clean_to_hourly(bronze), SILVER_COLS):
            errors.append("incremental silver != clean_to_hourly(full bronze)")
        feats = gold.mart_features(silver)
        if row_hashes(s.read.parquet(f"{root}/gold_features.parquet"), FEATURE_COLS) != row_hashes(feats, FEATURE_COLS):
            errors.append("gold features != mart_features(silver)")
        if row_hashes(s.read.parquet(f"{root}/gold_kpis.parquet"), KPI_COLS) != row_hashes(gold.mart_kpis(feats), KPI_COLS):
            errors.append("gold kpis != mart_kpis(mart_features(silver))")
        return errors


# -- forecast_refresh --------------------------------------------------------

def backtest_reference(features: pd.DataFrame, n_folds=4, horizon_h=24, season_h=24) -> pd.DataFrame:
    """pandas recomputation of ``gold.rolling_backtest``."""
    long = features.melt(
        id_vars=["site", "ts_utc"], value_vars=["pv_est_mwh", "wind_est_mwh"],
        var_name="var", value_name="y",
    )
    long["var"] = long["var"].map({"pv_est_mwh": "pv", "wind_est_mwh": "wind"})
    mx = long["ts_utc"].max()
    lagged = long.assign(ts_utc=long["ts_utc"] + pd.Timedelta(hours=season_h)).rename(columns={"y": "yhat"})
    j = long.merge(lagged, on=["site", "var", "ts_utc"])
    k = ((mx - j["ts_utc"]).dt.total_seconds() // (3600 * horizon_h)).astype(int)
    j = j[(k >= 0) & (k < n_folds)].assign(fold=n_folds - k)
    e = j["yhat"] - j["y"]
    j = j.assign(ae=e.abs(), se=e * e, e=e)
    g = j.groupby(["site", "var", "fold"])
    out = pd.DataFrame({
        "n": g.size(), "mae": g["ae"].mean(), "rmse": g["se"].mean() ** 0.5, "bias": g["e"].mean(),
    }).reset_index()
    return out.sort_values(["site", "var", "fold"]).reset_index(drop=True)


def forecast_mismatch(out: dict, features: pd.DataFrame) -> list[str]:
    errors = []
    board, champ = out["leaderboard"], out["champion"]
    rank1 = {(r.site, r.var): r.model for r in board[board["rank"] == 1].itertuples()}
    got = {(r.site, r.var): r.model for r in champ.itertuples()}
    if len(champ.groupby(["site", "var"])["model"].nunique().loc[lambda s: s > 1]):
        errors.append("champion mixes models within a series")
    if got != rank1:
        errors.append(f"champion != leaderboard rank 1 ({len(got)} vs {len(rank1)} series)")
    ref = backtest_reference(features)
    bt = out["backtest"].sort_values(["site", "var", "fold"]).reset_index(drop=True)
    if len(bt) != len(ref) or list(bt["n"]) != list(ref["n"]):
        errors.append(f"backtest folds differ from pandas ({len(bt)} vs {len(ref)} rows)")
    else:
        for c in ("mae", "rmse", "bias"):
            # 4-decimal outputs: allow one unit of the last place, since a
            # value on a rounding boundary may round either way in float
            worst = (bt[c] - ref[c]).abs().max()
            if not worst <= 1e-4 + 1e-9:
                errors.append(f"backtest {c} off pandas by {worst}")
    sx = out["sarimax"]
    if len(sx) != 4 * len(rank1) or not (sx["yhat"] >= 0).all():
        errors.append(f"sarimax rows {len(sx)} for {len(rank1)} series")
    if out["accuracy"].empty:
        errors.append("forecast_accuracy returned no rows")
    return errors


def refresh_forecasts(spark, root: str, stage) -> dict:
    """One forecast refresh over ``<root>/gold_features.parquet``, each
    result collected to pandas."""
    feats = load_table(spark, "gold_features", root)
    out = {}
    with stage("gold.backtest"):
        out["backtest"] = gold.rolling_backtest(feats).toPandas()
    with stage("gold.leaderboard"):
        out["leaderboard"] = gold.model_leaderboard(feats).toPandas()
    with stage("gold.champion"):
        out["champion"] = gold.champion_forecast(feats).toPandas()
    with stage("gold.accuracy"):
        out["accuracy"] = gold.forecast_accuracy(
            gold.seasonal_naive_forecast(feats, horizons=[1, 24]), feats).toPandas()
    with stage("forecast.udf"):
        out["sarimax"] = forecast_plans.sarimax_forecast(feats).toPandas()
    return out


class ForecastRefresh(Workload):
    """Backtest, leaderboard, champion, seasonal-naive accuracy and the
    pandas-UDF forecast over a persisted Gold features table."""

    name = "forecast_refresh"
    SITES, DAYS = 6, 35  # five weeks: snaive_168 gets 4 folds

    def setup(self, root: str) -> None:
        P.gold_features(self.seed, self.SITES, self.DAYS, f"{root}/gold_features.parquet")
        self.root = root
        self.features = None

    def op(self):
        out = refresh_forecasts(self.spark, self.root, self.stage)
        return "refresh", lambda: self.check(out)

    def check(self, out) -> list[str]:
        if self.features is None:
            self.features = load_table(self.spark, "gold_features", self.root).toPandas()
        return forecast_mismatch(out, self.features)


# -- serving_mixed -----------------------------------------------------------

READS = ("sites", "site_exists", "weather_summary", "hourly_rows", "raw_rows", "metrics")
# one round of 20 requests: each read call three times, one write and one
# forecast refresh (5% each), in seeded order; fixed counts per call keep
# the round's median from moving with the seed's draw of calls
ROUND_KINDS = list(READS) * 3 + ["write", "refresh"]


def expected_read(kind: str, model: P.Lakehouse, site: str, hours: int):
    """What a read must return, from the generator's model, in the shape
    ``ServingMixed.read`` reduces Spark rows to."""
    silver = sorted((k, v) for k, v in model.silver().items() if k[0] == site)
    if kind == "sites":
        return model.sites()
    if kind == "site_exists":
        return bool(silver)
    if kind == "weather_summary":
        return (len(silver), silver[0][0][1], silver[-1][0][1]) if silver else (0, None, None)
    if kind == "hourly_rows":
        return [(k[1],) + v for k, v in silver[-hours:]]
    bronze = sorted((k[1], v) for k, v in model.bronze.items() if k[0] == site)
    if kind == "raw_rows":
        return [(ts,) + v[:3] + (_ts(v[3]),) for ts, v in bronze[-hours:]]
    raw, kept = len(bronze), len(silver)
    return (raw, kept, max(raw - kept, 0), round(kept / raw * 100.0, 4) if raw else None)


class ServingMixed(Workload):
    """Stateless API handlers over the persisted lakehouse: each request
    opens its tables with ``tables.load_table``. About 90% reads over the
    six serving calls, about 5% single-site hourly writes through
    ``incremental_silver_refresh`` and about 5% forecast refreshes over the
    Gold features table (the forecast_refresh operation)."""

    name = "serving_mixed"
    ROUND = len(ROUND_KINDS)
    SITES, DAYS, FILES = 8, 14, 2

    def setup(self, root: str) -> None:
        g = P.PayloadGenerator(self.seed, self.SITES, self.DAYS, self.FILES)
        drop, _ = g.first_drop()
        self.gen, self.root = g, root
        self.model = P.Lakehouse()
        self.model.apply(drop.bronze)
        self.model.write(root)
        self.rng = random.Random(self.seed * 7919 + 1)
        self.writes = 0
        self.last_ts = {s: max(ts for x, ts in drop.bronze if x == s) for s in g.sites}
        self.queue: list[str] = []
        P.gold_features(self.seed, ForecastRefresh.SITES, ForecastRefresh.DAYS, f"{root}/gold_features.parquet")
        self.features = None

    def warmup(self, step) -> None:
        """Each read call once, as a serving process answers health checks
        before it takes traffic."""
        self.queue = list(READS)
        for _ in READS:
            step()

    def read(self, kind: str, site: str, hours: int):
        s, root = self.spark, self.root
        silver = load_table(s, "silver", root)
        if kind == "sites":
            return [r.site for r in serving.sites(silver).collect()]
        if kind == "site_exists":
            return serving.site_exists(silver, site)
        if kind == "weather_summary":
            r = serving.weather_summary(silver, site).collect()[0]
            return (r.n_rows, r.min_ts, r.max_ts)
        if kind == "hourly_rows":
            return [(r.ts_utc, r.ghi_wm2, r.temp_c, r.wind_mps)
                    for r in serving.hourly_rows(silver, site, hours).collect()]
        bronze = load_table(s, "bronze", root)
        if kind == "raw_rows":
            return [(r.ts_utc, r.ghi_wm2, r.t2m_c, r.ws10_mps, r.ingested_at)
                    for r in serving.raw_rows(bronze, site, hours).collect()]
        r = serving.metrics(bronze, silver, site).collect()[0]
        return (r.raw_rows, r.kept_rows, r.dropped_rows, r.kept_percentage)

    def write(self, site: str) -> dict:
        """One hourly observation: half the time the site's next hour,
        otherwise a correction of an hour it already has."""
        self.writes += 1
        if self.rng.random() < 0.5:
            self.last_ts[site] += timedelta(hours=1)
            ts = self.last_ts[site]
        else:
            ts = P.START + timedelta(hours=self.rng.randrange(24 * self.DAYS))
        ingested = (datetime(2025, 6, 3) + timedelta(seconds=self.writes)).strftime("%Y-%m-%d %H:%M:%S")
        rows = self.gen.hourly_write(site, ts, ingested)
        data = [
            (s, t, v[0], v[1], v[2], json.dumps({"source": "NASA_POWER", "ghi_wm2": v[0], "t2m_c": v[1], "ws10_mps": v[2]}), _ts(v[3]))
            for (s, t), v in rows.items()
        ]
        delta = self.spark.createDataFrame(data, BRONZE_SCHEMA)
        silver_plans.incremental_silver_refresh(
            self.spark, f"{self.root}/bronze.parquet", f"{self.root}/silver.parquet", delta)
        self.model.apply(rows)
        return rows

    def op(self):
        if not self.queue:
            self.queue = list(ROUND_KINDS)
            self.rng.shuffle(self.queue)
        kind = self.queue.pop()
        site = self.rng.choice(self.gen.sites)
        if kind == "write":
            with self.stage("request.write"):
                self.write(site)
            return "write", lambda: []
        if kind == "refresh":
            with self.stage("request.refresh"):
                out = refresh_forecasts(self.spark, self.root, self.stage)
            return "refresh", lambda: self.check_refresh(out)
        hours = self.rng.randint(1, serving.MAX_HOURS)
        with self.stage(f"request.{kind}"):
            got = self.read(kind, site, hours)
        return kind, lambda: self.check(kind, site, hours, got)

    def check_refresh(self, out) -> list[str]:
        if self.features is None:
            self.features = load_table(self.spark, "gold_features", self.root).toPandas()
        return forecast_mismatch(out, self.features)

    def check(self, kind, site, hours, got) -> list[str]:
        want = expected_read(kind, self.model, site, hours)
        if kind == "metrics" and got[:3] == want[:3] and want[3] is not None:
            ok = got[3] is not None and abs(got[3] - want[3]) <= 1e-4 + 1e-9
        else:
            ok = got == want
        return [] if ok else [f"{kind}({site}, {hours}) = {str(got)[:200]} != model {str(want)[:200]}"]

    def final_check(self) -> list[str]:
        """After the writes: the whole of Bronze and Silver still matches
        the model, and Silver equals a full recompute."""
        s, root = self.spark, self.root
        bronze = s.read.parquet(f"{root}/bronze.parquet")
        silver = s.read.parquet(f"{root}/silver.parquet")
        errors = bronze_mismatch(bronze.select(*BRONZE_COLS).collect(), self.model)
        errors += silver_mismatch(silver.select(*SILVER_COLS).collect(), self.model)
        if row_hashes(silver, SILVER_COLS) != row_hashes(silver_plans.clean_to_hourly(bronze), SILVER_COLS):
            errors.append("incrementally refreshed silver != clean_to_hourly(full bronze)")
        return errors


# -- registry_battery --------------------------------------------------------

# One or two registry entries per module, labelled by the module whose
# kernel they exercise. Chosen from entries whose oracle matches on the
# generated tables across seeds, at well under a second each when warm.
BATTERY = [
    ("operators.relational", "summary_events"),
    ("operators.aggstate", "value_percentile_state"),
    ("operators.asof", "asof_purchase_view"),
    ("operators.bloom", "bloom_membership_audit"),
    ("operators.dedup", "exact_dedup"),
    ("operators.drift", "value_drift"),
    ("operators.funnel", "event_funnel"),
    ("operators.heavy", "token_heavy_hitters"),
    ("operators.ivm", "incremental_join_revenue"),
    ("operators.packing", "doc_pack_stats"),
    ("operators.range_join", "value_tier_report"),
    ("operators.sampling", "doc_sample_fixed"),
    ("operators.sessions", "session_window_agg"),
    ("operators.similarity", "ann_topk"),
    ("operators.skew", "type_value_stats_salted"),
    ("operators.upsert", "upsert_merge"),
    ("operators.versioned", "orders_cdc"),
    ("functions.bpe", "bpe_audit"),
    ("functions.expectations", "orders_expectations"),
    ("functions.text", "doc_text_stats"),
    ("functions.validation", "quarantine_summary"),
    ("multimodal.binary_ops", "media_stats"),
    ("multimodal.gif", "media_gif_audit"),
    ("multimodal.jpeg", "media_jpeg420_audit"),
    ("plans.warehouse", "pricing_summary"),
    ("plans.analytics", "hourly_completeness"),
]
BATTERY_SF = 0.01


def oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame, normalize) -> list[str]:
    """The oracle suite's comparison: normalized column order and row
    order, exact on non-floats, 1e-9 relative/absolute on floats."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    for c in got.columns:
        for x, y in zip(got[c], want[c]):
            if pd.isna(x) and pd.isna(y):
                continue
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9):
                    return [f"{c}: {x} != {y}"]
            elif x != y:
                return [f"{c}: {x} != {y}"]
    return []


class RegistryBattery(Workload):
    """A fixed subset of ``__spark_entry__.queries()`` over generated
    sf 0.01 tables; each entry is one operation, collected with ``toPandas``
    and checked against its ``oracle_sql()`` in DuckDB."""

    name = "registry_battery"
    ROUND = len(BATTERY)

    def setup(self, root: str) -> None:
        import duckdb

        # the oracle suite's normalizer, imported as scripts/rehearse_gate.py does
        import __spark_entry__ as entry
        import tests.test_entry_oracle as oracle_suite

        stargen.write(self.seed, BATTERY_SF, f"{root}/sf")
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.normalize = oracle_suite._normalize
        self.sf = f"{root}/sf"
        self.con = duckdb.connect()
        for t in stargen.TABLES:
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        self.next = 0

    def warmup(self, step) -> None:
        """The first entry once, so the session's first-query costs do not
        land on whichever module is listed first."""
        step()
        self.next = 0

    def op(self):
        module, name = BATTERY[self.next % len(BATTERY)]
        self.next += 1
        with self.stage(f"battery.{module}"):
            got = self.queries[name](self.spark, self.sf).toPandas()
        return module, lambda: self.check(name, got)

    def check(self, name, got) -> list[str]:
        want = self.con.execute(self.oracles[name]).fetchdf()
        return [f"{name}: {m}" for m in oracle_mismatch(got, want, self.normalize)]


WORKLOADS = {w.name: w for w in (MedallionIngest, ForecastRefresh, ServingMixed, RegistryBattery)}

