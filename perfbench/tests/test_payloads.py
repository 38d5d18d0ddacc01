"""The payload generator's model agrees with the package's parser."""

from __future__ import annotations

import json
from datetime import datetime

from conftest import payload_frame

from perfbench import payloads as P

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.nasa_power import payloads_to_bronze


def _drops(seed=5):
    g = P.PayloadGenerator(seed, n_sites=3, n_days=4, n_files=2)
    d1, gaps = g.first_drop()
    return d1, g.second_drop(d1, gaps, 2)


def test_payloads_to_bronze_yields_the_recorded_keys_and_values(spark):
    for drop in _drops():
        rows = payloads_to_bronze(payload_frame(spark, drop), drop.ingested_at).collect()
        got = {(r.site, r.ts_utc): (r.ghi_wm2, r.t2m_c, r.ws10_mps) for r in rows}
        assert len(got) == len(rows)
        assert set(got) == set(drop.bronze)
        assert got == {k: v[:3] for k, v in drop.bronze.items()}
        assert {r.ingested_at for r in rows} == {datetime.fromisoformat(drop.ingested_at)}


def test_first_drop_covers_every_input_case():
    d1, d2 = _drops()
    payloads = [json.loads(r["payload"])["properties"]["parameter"] for f in d1.files for r in f]
    values = [v for p in payloads for series in p.values() for v in series.values()]
    keys = [k for p in payloads for series in p.values() for k in series]
    assert any(isinstance(v, list) for v in values) and any(not isinstance(v, list) for v in values)
    assert "bad_key" in keys and "2025XX01" in keys
    flat = [x for v in values for x in (v if isinstance(v, list) else [v])]
    assert None in flat
    assert any(not P.valid(o) and None not in o[:3] for o in d1.bronze.values())  # out of range
    late = set(d2.bronze) - set(d1.bronze)
    dup = {k for k in set(d2.bronze) & set(d1.bronze) if d2.bronze[k][:3] == d1.bronze[k][:3]}
    fixed = {k for k in set(d2.bronze) & set(d1.bronze) if d2.bronze[k][:3] != d1.bronze[k][:3]}
    assert late and dup and fixed
    assert d2.ingested_at > d1.ingested_at


def test_same_seed_same_files():
    a, b = _drops(9), _drops(9)
    assert [d.files for d in a] == [d.files for d in b]
    assert [d.files for d in a] != [d.files for d in _drops(10)]
