"""Which package functions the traced run wraps, the counters taken at
those boundaries, and the per-layer metrics built from spans, counters,
streaming progress and the event log.

A layer is a package module. Span names are ``<layer>.<function>`` for
wrapped package functions; the workloads add stage spans
(``streaming.full``, ``gold.backtest``, ``request.<call>``,
``battery.<module>``) around each blocking step.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import tables
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import upsert
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import forecast, gold, serving, silver
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources import nasa_power

from .trace import PROBE
from .workloads import BATTERY, READS

SELF_LAYERS = ("sources", "streaming", "upsert", "silver", "gold", "forecast", "serving", "tables", "battery")
CPU1_LAYERS = ("sources", "streaming", "upsert", "silver", "gold", "forecast")
STREAM_DURATIONS = ("addBatch", "getBatch", "queryPlanning", "walCommit")

# What a traced run reports, in BENCHMARK.json's ``per_layer`` order. A
# layer a workload does not reach reads 0. ``battery.*`` is added only for
# the registry_battery workload.
PER_LAYER = (
    ["sources.parse_s", "sources.rows_out", "streaming.batches"]
    + [f"streaming.{d}_ms" for d in STREAM_DURATIONS]
    + ["streaming.jobs_per_batch", "upsert.merge_s", "upsert.calls", "upsert.rows_written",
       "upsert.bytes_rewritten", "upsert.write_amplification", "upsert.files_per_partition",
       "silver.clean_s", "silver.refresh_s", "silver.rows_in", "silver.rows_out", "silver.recompute_ratio",
       "gold.features_s", "gold.kpis_s", "gold.backtest_s", "gold.leaderboard_s", "gold.champion_s",
       "gold.build_jobs", "forecast.udf_s", "pyworker.python_s"]
    + [f"serving.{k}.p50_ms" for k in READS]
    + ["serving.jobs_per_read", "tables.load_s", "tables.load_jobs"]
    + [f"spark.{k}" for k in ("jobs", "stages", "tasks", "build_jobs", "executor_run_s", "executor_cpu_s",
                              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")]
    + [f"{layer}.self_s" for layer in SELF_LAYERS if layer != "battery"]
    + ["trace.op_p50_ms", "trace.overhead_ms", "trace.probe_s", "cpu1.op_p50_ms"]
    + [f"cpu1.{layer}.self_s" for layer in CPU1_LAYERS]
)
BATTERY_LAYER = ["battery.self_s"] + [f"battery.{m}.{k}" for m, _ in BATTERY for k in ("s", "jobs")]


def _files(path: str) -> dict[str, int]:
    """Live parquet files under a table (work dirs excluded) -> bytes."""
    out = {}
    for d, dirs, fs in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out.update({os.path.join(d, f): os.path.getsize(os.path.join(d, f)) for f in fs if f.endswith(".parquet")})
    return out


class Counters:
    """Hooks run around wrapped calls; each reads what the layer does not
    report itself, with any extra Spark action run as a probe span."""

    def __init__(self):
        self.c: dict[str, float] = defaultdict(float)

    def _count(self, tracer, df) -> tuple[int, float]:
        t0 = time.perf_counter()
        n = tracer.probe(df.count)
        return n, time.perf_counter() - t0

    def parse_after(self, tracer, args, kwargs, result, _):
        n, dt = self._count(tracer, result)
        self.c["sources.rows_out"] += n
        self.c["sources.exec_s"] += dt
        self.c["silver.delta_rows"] += n

    def clean_before(self, tracer, args, kwargs):
        self.c["silver.rows_in"] += self._count(tracer, args[0])[0]

    def clean_after(self, tracer, args, kwargs, result, _):
        n, dt = self._count(tracer, result)
        self.c["silver.rows_out"] += n
        self.c["silver.exec_s"] += dt

    def refresh_before(self, tracer, args, kwargs):
        delta = args[3] if len(args) > 3 else kwargs["bronze_delta"]
        self.c["silver.delta_rows"] += self._count(tracer, delta)[0]

    def merge_before(self, tracer, args, kwargs):
        path = args[1] if len(args) > 1 else kwargs["target_path"]
        updates = args[2] if len(args) > 2 else kwargs["updates"]
        self.c["upsert.delta_rows"] += self._count(tracer, updates)[0]
        return path, _files(path)

    def merge_after(self, tracer, args, kwargs, result, before):
        path, old = before
        new = {f: b for f, b in _files(path).items() if f not in old}
        self.c["upsert.calls"] += 1
        self.c["upsert.rows_written"] += result or 0
        self.c["upsert.bytes_rewritten"] += sum(new.values())
        self.c["upsert.files_written"] += len(new)
        self.c["upsert.partitions_written"] += len({os.path.dirname(f) for f in new})


def targets(counters: Counters | None) -> dict[str, tuple]:
    """Span name -> (module, function, before hook, after hook); with no
    ``counters`` the spans run without hooks, so no probe runs."""
    c = counters or Counters()
    out = {
        "sources.payloads_to_bronze": (nasa_power, "payloads_to_bronze", None, c.parse_after),
        "upsert.merge_upsert": (upsert, "merge_upsert", c.merge_before, c.merge_after),
        "silver.clean_to_hourly": (silver, "clean_to_hourly", c.clean_before, c.clean_after),
        "silver.incremental_silver_refresh": (silver, "incremental_silver_refresh", c.refresh_before, None),
        "forecast.sarimax_forecast": (forecast, "sarimax_forecast", None, None),
        "tables.load_table": (tables, "load_table", None, None),
    }
    for f in ("mart_features", "mart_kpis", "rolling_backtest", "model_leaderboard", "champion_forecast",
              "seasonal_naive_forecast", "forecast_accuracy"):
        out[f"gold.{f}"] = (gold, f, None, None)
    for f in READS:
        out[f"serving.{f}"] = (serving, f, None, None)
    if counters is None:
        return {k: (mod, fn, None, None) for k, (mod, fn, *_) in out.items()}
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(tracer, counters: Counters, progress, events: dict, window: tuple[float, float]) -> tuple[dict, list]:
    """Per-layer metrics of one traced pass, and the names of counters
    Spark did not expose."""
    spans = tracer.spans
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    probe_groups = {s.group for s in spans if s.name == PROBE}

    def subtree_jobs(s):
        if s.name == PROBE:
            return 0
        return len(s.jobs) + sum(subtree_jobs(k) for k in kids[s.sid])

    def total(prefix):
        return sum(s.end - s.start for s in spans if s.name == prefix)

    def named(name):
        return [s for s in spans if s.name == name]

    self_t = tracer.self_times()
    c = counters.c
    m: dict[str, float] = {}
    missing: list[str] = []

    m["sources.parse_s"] = self_t.get("sources.payloads_to_bronze", 0.0) + c["sources.exec_s"]
    m["sources.rows_out"] = c["sources.rows_out"]

    batches = len(progress)
    m["streaming.batches"] = batches
    for d in STREAM_DURATIONS:
        m[f"streaming.{d}_ms"] = float(sum(p.durationMs.get(d, 0) for p in progress))
    stream_spans = named("streaming.full") + named("streaming.incr")
    lo_hi = [(s.wall_start, s.wall_start + (s.end - s.start)) for s in stream_spans]
    stream_jobs = sum(
        1 for j in events["jobs"]
        if j["group"] not in probe_groups and any(lo <= j["submitted"] <= hi for lo, hi in lo_hi)
    )
    m["streaming.jobs_per_batch"] = stream_jobs / batches if batches else 0.0

    m["upsert.merge_s"] = self_t.get("upsert.merge_upsert", 0.0)
    m["upsert.calls"] = c["upsert.calls"]
    m["upsert.rows_written"] = c["upsert.rows_written"]
    m["upsert.bytes_rewritten"] = c["upsert.bytes_rewritten"]
    # the delta is never persisted: its bytes are taken at the rewritten
    # files' bytes per row, so the ratio reduces to rows written per delta row
    m["upsert.write_amplification"] = c["upsert.rows_written"] / c["upsert.delta_rows"] if c["upsert.delta_rows"] else 0.0
    parts = c["upsert.partitions_written"]
    m["upsert.files_per_partition"] = c["upsert.files_written"] / parts if parts else 0.0

    m["silver.clean_s"] = self_t.get("silver.clean_to_hourly", 0.0) + c["silver.exec_s"]
    m["silver.refresh_s"] = self_t.get("silver.incremental_silver_refresh", 0.0)
    m["silver.rows_in"] = c["silver.rows_in"]
    m["silver.rows_out"] = c["silver.rows_out"]
    m["silver.recompute_ratio"] = c["silver.rows_in"] / c["silver.delta_rows"] if c["silver.delta_rows"] else 0.0

    m["gold.features_s"] = total("gold.features")
    m["gold.kpis_s"] = total("gold.kpis")
    m["gold.backtest_s"] = total("gold.backtest")
    m["gold.leaderboard_s"] = total("gold.leaderboard")
    m["gold.champion_s"] = total("gold.champion")
    m["gold.build_jobs"] = float(sum(len(s.jobs) for s in spans if s.name.startswith("gold.") and s.returned_frame))

    m["forecast.udf_s"] = total("forecast.udf")
    py = [j for j in events["jobs"] if window[0] <= j["submitted"] <= window[1] and j["group"] not in probe_groups]
    m["pyworker.python_s"] = sum(j["python_s"] for j in py)
    if not events["python_metric_names"] and m["forecast.udf_s"]:
        missing.append("pyworker.python_s")

    reads = [s for k in READS for s in named(f"request.{k}")]
    for k in READS:
        m[f"serving.{k}.p50_ms"] = _median([(s.end - s.start) * 1e3 for s in named(f"request.{k}")])
    m["serving.jobs_per_read"] = sum(subtree_jobs(s) for s in reads) / len(reads) if reads else 0.0

    loads = named("tables.load_table")
    m["tables.load_s"] = sum(s.end - s.start for s in loads) / len(loads) if loads else 0.0
    m["tables.load_jobs"] = sum(len(s.jobs) for s in loads) / len(loads) if loads else 0.0

    for module, _ in BATTERY:
        b = named(f"battery.{module}")
        m[f"battery.{module}.s"] = _median([s.end - s.start for s in b])
        m[f"battery.{module}.jobs"] = _median([float(subtree_jobs(s)) for s in b])

    in_window = [j for j in events["jobs"] if window[0] <= j["submitted"] <= window[1] and j["group"] not in probe_groups]
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = float(sum(j[k] for j in in_window))
    m["spark.jobs"] = float(len(in_window))
    m["spark.build_jobs"] = float(sum(len(s.jobs) for s in spans if s.returned_frame))

    for layer, v in self_by_layer(self_t).items():
        m[f"{layer}.self_s"] = v
    m["trace.probe_s"] = sum(s.end - s.start for s in named(PROBE))
    return m, missing


def self_by_layer(self_t: dict[str, float]) -> dict[str, float]:
    """Span self seconds summed per layer (the span name's first part)."""
    return {layer: sum(v for k, v in self_t.items() if k.startswith(layer + ".")) for layer in SELF_LAYERS}


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_amplification")):
        return "ratio"
    return "count"
