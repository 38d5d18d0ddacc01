"""Seeded NASA-POWER payload drops and the model of what they should yield.

A drop is a list of files; each file is JSON lines of ``{"site", "payload"}``
rows, the shape ``streaming.ingest_stream.read_payload_stream`` reads (one
file = one fetch chunk = one micro-batch). The generator keeps, beside the
files, the Bronze rows the package must derive from them, so every check can
compare against an independent model instead of against the package itself.

Drop 1 covers both payload shapes (hourly ``yyyymmddhh`` keys and 24-value
day lists), malformed keys, JSON nulls, out-of-range values and hours left
out of the hourly payloads. Drop 2 re-sends a subset of sites with a later
``ingested_at``: the hours drop 1 left out (late rows), unchanged hours
(duplicates) and changed hours (corrections, some of which repair an hour
Silver dropped).
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

START = datetime(2025, 1, 6)  # a Monday; payload hours are UTC
PARAMS = ("ALLSKY_SFC_SW_DWN", "T2M", "WS10M")
INGESTED_AT = ("2025-06-01 00:00:00", "2025-06-02 00:00:00")

# Bronze row value: (ghi_wm2, t2m_c, ws10_mps, ingested_at); None = SQL NULL
Obs = tuple


def valid(obs: Obs) -> bool:
    """Silver's rule set (``functions.validation.WEATHER_RULES`` plus the
    critical-null drop): every reading present and in its domain."""
    ghi, t2m, ws = obs[:3]
    return (
        ghi is not None and t2m is not None and ws is not None
        and ghi >= 0.0 and -80.0 <= t2m <= 80.0 and ws >= 0.0
    )


@dataclass
class Drop:
    files: list[list[dict]]  # per file, its JSON-lines rows
    bronze: dict  # (site, ts) -> Obs the package must derive from this drop
    ingested_at: str


@dataclass
class Lakehouse:
    """Expected table contents: Bronze keyed by (site, ts) with newest-wins
    replacement, Silver derived from it by ``valid``."""

    bronze: dict = field(default_factory=dict)

    def apply(self, rows: dict) -> None:
        self.bronze.update(rows)

    def silver(self) -> dict:
        return {k: v[:3] for k, v in self.bronze.items() if valid(v)}

    def sites(self) -> list[str]:
        return sorted({s for s, _ in self.silver()})

    def write(self, root: str) -> None:
        """Persist Bronze and Silver as ``<root>/<name>.parquet``,
        partitioned by site the way ``operators.upsert.merge_upsert``
        lays them out, without running Spark."""
        bronze = [
            {"site": s, "ts_utc": _utc(ts), "ghi_wm2": v[0], "t2m_c": v[1], "ws10_mps": v[2],
             "raw_json": json.dumps({"source": "NASA_POWER", **{c: x for c, x in zip(BRONZE_VALUES, v[:3]) if x is not None}}),
             "ingested_at": _utc(datetime.fromisoformat(v[3]))}
            for (s, ts), v in self.bronze.items()
        ]
        silver = [
            {"site": s, "ts_utc": _utc(ts), "ghi_wm2": v[0], "temp_c": v[1], "wind_mps": v[2]}
            for (s, ts), v in self.silver().items()
        ]
        write_by_site(f"{root}/bronze.parquet", bronze, BRONZE_TYPES)
        write_by_site(f"{root}/silver.parquet", silver, SILVER_TYPES)


TS = pa.timestamp("us", tz="UTC")
BRONZE_VALUES = ("ghi_wm2", "t2m_c", "ws10_mps")
BRONZE_TYPES = {"ts_utc": TS, "ghi_wm2": pa.float64(), "t2m_c": pa.float64(), "ws10_mps": pa.float64(),
                "raw_json": pa.string(), "ingested_at": TS}
SILVER_TYPES = {"ts_utc": TS, "ghi_wm2": pa.float64(), "temp_c": pa.float64(), "wind_mps": pa.float64()}
FEATURE_TYPES = {"ts_utc": TS, "ghi_kwh_m2": pa.float64(), "pv_est_mwh": pa.float64(), "wind_est_mwh": pa.float64()}


def _utc(ts: datetime) -> datetime:
    return ts.replace(tzinfo=timezone.utc)


def write_by_site(path: str, rows: list[dict], types: dict) -> None:
    """One parquet file per ``site=<value>`` directory, as a Spark
    ``partitionBy("site")`` write leaves it."""
    by_site: dict[str, list[dict]] = {}
    for r in rows:
        by_site.setdefault(r["site"], []).append(r)
    schema = pa.schema(list(types.items()))
    for site, part in sorted(by_site.items()):
        os.makedirs(f"{path}/site={site}", exist_ok=True)
        cols = {c: [r[c] for r in part] for c in types}
        pq.write_table(pa.table(cols, schema=schema), f"{path}/site={site}/part-00000.parquet")


def gold_features(seed: int, n_sites: int, n_days: int, path: str) -> None:
    """A seeded Gold features table (the input of the forecasting marts):
    hourly PV and wind energy per site with a daily PV cycle, weather-like
    noise and about 3% of hours missing, as Silver's dropped hours leave."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_sites):
        site, scale = f"site_{i:02d}", rng.uniform(0.6, 1.0)
        wind = rng.uniform(3.0, 7.0)
        for h in range(24 * n_days):
            ts = START + timedelta(hours=h)
            wind = min(max(wind + rng.gauss(0.0, 0.8), 0.0), 20.0)
            if rng.random() < 0.03:
                continue
            ghi_kwh = max(0.0, math.sin(math.pi * (ts.hour - 6) / 12.0)) * 0.85 * scale * rng.uniform(0.5, 1.0)
            rows.append({"site": site, "ts_utc": _utc(ts), "ghi_kwh_m2": round(ghi_kwh, 6),
                         "pv_est_mwh": round(ghi_kwh * 2.0, 6),
                         "wind_est_mwh": round(min(1.225e-3 * wind ** 3, 3.0), 6)})
    write_by_site(path, rows, FEATURE_TYPES)


class PayloadGenerator:
    """All randomness comes from one ``random.Random(seed)``, so the same
    seed and sizes give byte-identical files."""

    def __init__(self, seed: int, n_sites: int, n_days: int, n_files: int):
        if n_days % n_files:
            raise ValueError("n_days must split evenly into n_files chunks")
        self.rng = random.Random(seed)
        self.sites = [f"site_{i:02d}" for i in range(n_sites)]
        self.n_days = n_days
        self.n_files = n_files
        self.phase = {s: self.rng.uniform(-1.0, 1.0) for s in self.sites}

    # -- readings --------------------------------------------------------
    def reading(self, site: str, ts: datetime) -> list:
        """Diurnal GHI, seasonal-ish temperature and gusty wind, rounded
        so JSON text and Spark doubles agree exactly."""
        r, h = self.rng, ts.hour
        ghi = max(0.0, 850.0 * math.sin(math.pi * (h - 6) / 12.0)) * r.uniform(0.6, 1.0)
        t2m = 4.0 + 6.0 * math.sin(math.pi * (h - 9) / 12.0) + 3.0 * self.phase[site] + r.gauss(0, 1)
        ws = abs(5.0 + 2.0 * self.phase[site] + r.gauss(0, 2.0))
        return [round(ghi, 2), round(t2m, 2), round(ws, 2)]

    def anomalies(self, vals: list) -> list:
        """~2% JSON nulls and ~1.5% out-of-range values per reading."""
        bad = (-5.0, 99.5, -1.5)
        out = []
        for i, v in enumerate(vals):
            u = self.rng.random()
            out.append(None if u < 0.02 else bad[i] if u < 0.035 else v)
        return out

    # -- payload shapes --------------------------------------------------
    @staticmethod
    def hourly_payload(series: dict) -> str:
        """Shape A: ``{param: {"yyyymmddhh": value}}`` plus one malformed
        key per parameter, which the parser must drop."""
        params = {p: {"bad_key": 1.0} for p in PARAMS}
        for ts, vals in series.items():
            for p, v in zip(PARAMS, vals):
                params[p][ts.strftime("%Y%m%d%H")] = v
        return json.dumps({"properties": {"parameter": params}})

    @staticmethod
    def daily_payload(series: dict) -> str:
        """Shape B: ``{param: {"yyyymmdd": [24 values]}}`` plus one
        malformed day key per parameter."""
        params = {p: {"2025XX01": [1.0] * 24} for p in PARAMS}
        days = sorted({ts.replace(hour=0) for ts in series})
        for day in days:
            hours = [series[day + timedelta(hours=h)] for h in range(24)]
            for i, p in enumerate(PARAMS):
                params[p][day.strftime("%Y%m%d")] = [vals[i] for vals in hours]
        return json.dumps({"properties": {"parameter": params}})

    # -- drops -----------------------------------------------------------
    def first_drop(self) -> tuple[Drop, dict]:
        """Drop 1 and the hours it left out, per site (for drop 2)."""
        chunk_days = self.n_days // self.n_files
        files, bronze, gaps = [], {}, {}
        for f in range(self.n_files):
            rows = []
            day0 = START + timedelta(days=f * chunk_days)
            for site in self.sites:
                hours = [day0 + timedelta(hours=h) for h in range(24 * chunk_days)]
                series = {ts: self.anomalies(self.reading(site, ts)) for ts in hours}
                if self.rng.random() < 0.5:
                    payload = self.daily_payload(series)
                else:
                    missing = set(self.rng.sample(hours, max(1, len(hours) // 40)))
                    gaps.setdefault(site, []).extend(sorted(missing))
                    series = {ts: v for ts, v in series.items() if ts not in missing}
                    payload = self.hourly_payload(series)
                rows.append({"site": site, "payload": payload})
                bronze.update({(site, ts): tuple(v) + (INGESTED_AT[0],) for ts, v in series.items()})
            files.append(rows)
        return Drop(files, bronze, INGESTED_AT[0]), gaps

    def second_drop(self, first: Drop, gaps: dict, n_sites: int) -> Drop:
        """Late, duplicate and corrected hours for ``n_sites`` sites, all in
        one hourly-shape file with the later ``ingested_at``."""
        touched = self.rng.sample(self.sites, n_sites)
        rows, bronze = [], {}
        for site in sorted(touched):
            have = sorted(ts for s, ts in first.bronze if s == site)
            series = {ts: self.reading(site, ts) for ts in gaps.get(site, [])[:6]}
            # Corrections only ever replace readings with valid ones:
            # stream_to_silver upserts Silver, so an hour a correction
            # invalidates would stay in Silver (no delete path there).
            for ts in self.rng.sample(have, 12):
                if self.rng.random() < 0.5:  # duplicate: same readings, later ingest
                    series[ts] = list(first.bronze[(site, ts)][:3])
                else:  # correction, which also repairs a dropped hour
                    series[ts] = self.reading(site, ts)
            rows.append({"site": site, "payload": self.hourly_payload(series)})
            bronze.update({(site, ts): tuple(v) + (INGESTED_AT[1],) for ts, v in series.items()})
        return Drop([rows], bronze, INGESTED_AT[1])

    def hourly_write(self, site: str, ts: datetime, ingested_at: str) -> dict:
        """One serving-side write: a single (site, hour) Bronze row."""
        vals = self.anomalies(self.reading(site, ts))
        return {(site, ts): tuple(vals) + (ingested_at,)}


def write_drop(drop: Drop, directory: str, prefix: str) -> list[str]:
    """Write each file of ``drop`` into ``directory``; returns the paths.
    Files are written under a dot name and renamed, so a file source that
    lists the directory never sees a half-written file."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, rows in enumerate(drop.files):
        path = os.path.join(directory, f"{prefix}-{i:03d}.json")
        tmp = os.path.join(directory, f".{prefix}-{i:03d}.json.tmp")
        with open(tmp, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
        os.replace(tmp, path)
        paths.append(path)
    return paths
