"""NASA payload parser (F10) tests — both shapes, malformed keys,
missing params, full-outer alignment (FIXTURES.md §3)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.nasa_power import (
    parse_payloads,
    payloads_to_bronze,
)

SHAPE_A = {
    "properties": {
        "parameter": {
            "ALLSKY_SFC_SW_DWN": {"2025010100": 0.0, "2025010101": 12.5, "2025010102": None},
            "T2M": {"2025010100": -3.1, "2025010101": -2.8, "bad_key": 99.0},
            "WS10M": {"2025010100": 4.2, "2025010101": None},
        }
    }
}

SHAPE_B = {
    "properties": {
        "parameter": {
            "ALLSKY_SFC_SW_DWN": {"20250102": [0.0, 1.5] + [None] * 22},
            "T2M": {"20250102": [-3.1] * 24},
            "WS10M": {"20250102": [4.0] * 24},
        }
    }
}


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [("site_a", json.dumps(SHAPE_A)), ("site_b", json.dumps(SHAPE_B))]
    return spark.createDataFrame(rows, "site STRING, payload STRING")


def test_shape_a_hourly_keys(payloads):
    series = parse_payloads(payloads).filter(F.col("site") == "site_a").collect()
    ghi = {r.ts_utc.hour: r.value for r in series if r.param == "ALLSKY_SFC_SW_DWN"}
    assert ghi == {0: 0.0, 1: 12.5, 2: None}


def test_malformed_key_skipped(payloads):
    t2m = (
        parse_payloads(payloads)
        .filter((F.col("site") == "site_a") & (F.col("param") == "T2M"))
        .collect()
    )
    assert len(t2m) == 2  # bad_key dropped, like nasa.py:73-74
    assert {r.value for r in t2m} == {-3.1, -2.8}


def test_shape_b_hour_is_list_index(payloads):
    series = parse_payloads(payloads).filter(F.col("site") == "site_b").collect()
    ghi = {r.ts_utc.hour: r.value for r in series if r.param == "ALLSKY_SFC_SW_DWN"}
    assert ghi[0] == 0.0 and ghi[1] == 1.5 and ghi[5] is None
    assert len(ghi) == 24


def test_alignment_full_outer_with_nulls(payloads):
    bronze = payloads_to_bronze(payloads, ingested_at="2025-01-03 00:00:00")
    a = {r.ts_utc.hour: r for r in bronze.filter(F.col("site") == "site_a").collect()}
    # hour 2 exists only in GHI: other params NULL (nasa.py:102-107)
    assert a[2].ghi_wm2 is None  # JSON null kept
    assert a[2].t2m_c is None and a[2].ws10_mps is None
    assert a[0].ghi_wm2 == 0.0 and a[0].t2m_c == -3.1 and a[0].ws10_mps == 4.2


def test_alignment_merges_params_across_payload_rows_and_shapes(spark):
    # one site, one hour: GHI and T2M arrive in a shape-A payload, WS10M
    # in a shape-B payload of the same batch -> one aligned Bronze row
    a = {"properties": {"parameter": {"ALLSKY_SFC_SW_DWN": {"2025010300": 7.0},
                                      "T2M": {"2025010300": 1.5}}}}
    b = {"properties": {"parameter": {"WS10M": {"20250103": [2.5]}}}}
    rows = [("site_c", json.dumps(a)), ("site_c", json.dumps(b))]
    bronze = payloads_to_bronze(
        spark.createDataFrame(rows, "site STRING, payload STRING"),
        ingested_at="2025-01-04 00:00:00",
    ).collect()
    assert [(r.site, r.ts_utc.hour, r.ghi_wm2, r.t2m_c, r.ws10_mps) for r in bronze] == [
        ("site_c", 0, 7.0, 1.5, 2.5)
    ]


def test_raw_json_payload_shape(payloads):
    bronze = payloads_to_bronze(payloads, ingested_at="2025-01-03 00:00:00")
    row = bronze.filter((F.col("site") == "site_a") & (F.hour("ts_utc") == 0)).collect()[0]
    d = json.loads(row.raw_json)
    assert d["source"] == "NASA_POWER"
    assert d["ghi_wm2"] == 0.0 and d["t2m_c"] == -3.1 and d["ws10_mps"] == 4.2


def test_bronze_schema_columns(payloads):
    bronze = payloads_to_bronze(payloads)
    assert bronze.columns == [
        "site", "ts_utc", "ghi_wm2", "t2m_c", "ws10_mps", "raw_json", "ingested_at",
    ]


# ---------------------------------------------------- S1 HTTP transport


def test_build_power_url_matches_reference_assembly():
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.fetch import (
        build_power_url,
    )

    url = build_power_url(52.5, 13.4, "20250101", "20250102")
    base, _, qs = url.partition("?")
    assert base == "https://power.larc.nasa.gov/api/temporal/hourly/point"
    # insertion-ordered query string, params comma-joined (nasa.py:34-46)
    assert qs == (
        "parameters=ALLSKY_SFC_SW_DWN,T2M,WS10M&community=RE"
        "&longitude=13.4&latitude=52.5&start=20250101&end=20250102"
        "&format=JSON&time-standard=UTC"
    )


def test_fetch_power_mocked_transport_feeds_distributed_parse(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.fetch import (
        fetch_payload_rows,
    )

    seen: list[tuple[str, float]] = []

    def transport(url: str, timeout: float) -> str:
        seen.append((url, timeout))
        return json.dumps(SHAPE_A)

    bronze = payloads_to_bronze(
        fetch_payload_rows(
            spark,
            [("site_a", 52.5, 13.4)],
            "20250101",
            "20250102",
            transport=transport,
        ),
        ingested_at="2025-01-03 00:00:00",
    )
    rows = {r.ts_utc.hour: r for r in bronze.collect()}
    assert len(seen) == 1 and seen[0][1] == 60  # one call, 60 s timeout
    assert "start=20250101&end=20250102" in seen[0][0]
    assert rows[0].ghi_wm2 == 0.0 and rows[0].t2m_c == -3.1
    assert rows[2].ghi_wm2 is None  # JSON null survives the full path


def test_fetch_power_retries_transient_then_succeeds():
    # VERDICT r2 #5: bounded exponential retry on timeouts/5xx. A
    # transport that fails twice with a timeout must be retried with
    # growing backoff and succeed on the third attempt.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.fetch import (
        fetch_power,
    )

    calls, naps = [], []

    def flaky(url, timeout):
        calls.append(url)
        if len(calls) < 3:
            raise TimeoutError("simulated timeout")
        return '{"ok": true}'

    out = fetch_power(
        10.0, 20.0, "20250101", "20250102",
        transport=flaky, backoff_s=0.25, sleep=naps.append,
    )
    assert out == '{"ok": true}'
    assert len(calls) == 3
    assert naps == [0.25, 0.5]  # exponential, deterministic


def test_fetch_power_gives_up_after_bounded_retries():
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.fetch import (
        fetch_power,
    )

    calls, naps = [], []

    def always_down(url, timeout):
        calls.append(url)
        raise ConnectionError("refused")

    with pytest.raises(ConnectionError):
        fetch_power(
            10.0, 20.0, "20250101", "20250102",
            transport=always_down, retries=2, sleep=naps.append,
        )
    assert len(calls) == 3  # initial + 2 retries, then the error surfaces
    assert len(naps) == 2


def test_fetch_power_client_error_fails_immediately():
    # 4xx means the request itself is wrong — retrying resends the same
    # wrong thing, so it must surface on the first attempt.
    import requests

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.fetch import (
        fetch_power,
    )

    calls = []

    def bad_request(url, timeout):
        calls.append(url)
        resp = requests.Response()
        resp.status_code = 404
        raise requests.HTTPError(response=resp)

    with pytest.raises(requests.HTTPError):
        fetch_power(10.0, 20.0, "20250101", "20250102",
                    transport=bad_request, sleep=lambda s: None)
    assert len(calls) == 1
