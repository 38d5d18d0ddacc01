"""Structured Streaming ingest: file-drop payloads → bronze via
foreachBatch merge; watermarked hourly aggregate; replay idempotency."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from pyspark.sql import functions as F

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
    hourly_stream_aggregate,
    read_payload_stream,
    stream_to_bronze,
)

PAYLOAD = {
    "properties": {
        "parameter": {
            "ALLSKY_SFC_SW_DWN": {"2025010100": 100.0, "2025010101": 200.0},
            "T2M": {"2025010100": 1.0, "2025010101": 2.0},
            "WS10M": {"2025010100": 3.0, "2025010101": 4.0},
        }
    }
}


def _drop_file(drop_dir, name, site="site_a", payload=PAYLOAD):
    drop_dir.mkdir(exist_ok=True)
    (drop_dir / name).write_text(json.dumps({"site": site, "payload": json.dumps(payload)}))


def test_stream_file_drop_to_bronze(spark, tmp_path):
    drop = tmp_path / "drop"
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    _drop_file(drop, "chunk1.json")

    q = stream_to_bronze(
        read_payload_stream(spark, str(drop)), bronze, ckpt, ingested_at="2025-01-02 00:00:00"
    )
    q.awaitTermination(60)
    out = spark.read.parquet(bronze).orderBy("ts_utc").collect()
    assert len(out) == 2
    assert out[0].ghi_wm2 == 100.0 and out[1].ghi_wm2 == 200.0

    # second chunk: overlapping hour with newer values + a new hour
    p2 = {
        "properties": {
            "parameter": {
                "ALLSKY_SFC_SW_DWN": {"2025010101": 250.0, "2025010102": 300.0},
                "T2M": {"2025010101": 2.5, "2025010102": 3.0},
                "WS10M": {"2025010101": 4.5, "2025010102": 5.0},
            }
        }
    }
    _drop_file(drop, "chunk2.json", payload=p2)
    q2 = stream_to_bronze(
        read_payload_stream(spark, str(drop)), bronze, ckpt, ingested_at="2025-01-02 06:00:00"
    )
    q2.awaitTermination(60)
    out = {r.ts_utc.hour: r for r in spark.read.parquet(bronze).collect()}
    assert len(out) == 3
    assert out[1].ghi_wm2 == 250.0  # newer ingest wins (silver_clean.py:99-101 semantics)
    assert out[0].ghi_wm2 == 100.0  # untouched hour preserved


def test_hourly_stream_aggregate_batch_semantics(spark):
    # watermark logic is exercised via the batch-equivalent plan: same
    # groupBy(window) expression, deterministic on a static frame
    UTC = dt.timezone.utc
    rows = [
        ("a", dt.datetime(2025, 1, 1, 0, 10, tzinfo=UTC), 100.0, 1.0, 2.0),
        ("a", dt.datetime(2025, 1, 1, 0, 50, tzinfo=UTC), 200.0, 3.0, 4.0),
        ("a", dt.datetime(2025, 1, 1, 1, 5, tzinfo=UTC), 300.0, 5.0, 6.0),
    ]
    df = spark.createDataFrame(
        rows, "site STRING, ts_utc TIMESTAMP, ghi_wm2 DOUBLE, t2m_c DOUBLE, ws10_mps DOUBLE"
    )
    agg = {r.ts_utc.hour: r for r in hourly_stream_aggregate(df).collect()}
    assert agg[0].ghi_wm2 == 150.0 and agg[0].n_obs == 2
    assert agg[1].ghi_wm2 == 300.0 and agg[1].n_obs == 1


def test_stream_is_streaming_plan(spark, tmp_path):
    drop = tmp_path / "drop2"
    _drop_file(drop, "c.json")
    stream = read_payload_stream(spark, str(drop))
    assert stream.isStreaming
    assert hourly_stream_aggregate(
        stream.select(
            F.col("site"),
            F.lit(dt.datetime(2025, 1, 1)).alias("ts_utc"),
            F.lit(1.0).alias("ghi_wm2"),
            F.lit(1.0).alias("t2m_c"),
            F.lit(1.0).alias("ws10_mps"),
        )
    ).isStreaming


@pytest.mark.slow
def test_stream_to_silver_end_to_end(spark, tmp_path):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
        read_payload_stream,
        stream_to_silver,
    )

    drop = tmp_path / "drop_silver"
    _drop_file(drop, "a.json")
    bronze = str(tmp_path / "bronze_s")
    silver = str(tmp_path / "silver_s")
    q = stream_to_silver(
        read_payload_stream(spark, str(drop)),
        bronze,
        silver,
        str(tmp_path / "ckpt_s"),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(silver).collect()
    assert len(rows) > 0
    for r in rows:
        # silver contract holds through the streaming path
        assert r.ts_utc.minute == 0 and r.ghi_wm2 is not None
        assert {"site", "ts_utc", "ghi_wm2", "temp_c", "wind_mps"} <= set(
            r.asDict()
        )
    # replay: dropping the same file again is an observable no-op
    before = sorted(map(tuple, rows))
    _drop_file(drop, "a2.json")  # same payload content
    q2 = stream_to_silver(
        read_payload_stream(spark, str(drop)),
        bronze,
        silver,
        str(tmp_path / "ckpt_s2"),
    )
    q2.awaitTermination(120)
    after = sorted(map(tuple, spark.read.parquet(silver).collect()))
    assert before == after


def test_stream_to_silver_deletes_invalidated_hour(spark, tmp_path):
    # a later file sets an hour the first file kept to an invalid GHI:
    # the hour must leave Silver, exactly as a full clean of Bronze drops it
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.silver import (
        clean_to_hourly,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
        stream_to_silver,
    )

    drop = tmp_path / "drop_inval"
    bronze, silver, ckpt = (str(tmp_path / n) for n in ("bronze", "silver", "ckpt"))
    bad = {
        "properties": {
            "parameter": {
                "ALLSKY_SFC_SW_DWN": {"2025010101": -5.0},
                "T2M": {"2025010101": 2.0},
                "WS10M": {"2025010101": 4.0},
            }
        }
    }
    for name, payload, ingested_at in (
        ("a.json", PAYLOAD, "2025-01-02 00:00:00"),
        ("b.json", bad, "2025-01-02 06:00:00"),
    ):
        _drop_file(drop, name, payload=payload)
        stream_to_silver(
            read_payload_stream(spark, str(drop)), bronze, silver, ckpt,
            ingested_at=ingested_at,
        ).awaitTermination(120)
    cols = ["site", "ts_utc", "ghi_wm2", "temp_c", "wind_mps"]
    got = sorted(map(tuple, spark.read.parquet(silver).select(cols).collect()))
    want = sorted(map(tuple, clean_to_hourly(spark.read.parquet(bronze)).collect()))
    assert got == want
    assert len(got) == 1 and got[0][2] == 100.0


def test_stream_to_silver_runs_few_jobs_per_batch(spark, tmp_path):
    # a micro-batch pays for its pinned parse, one touched-site collect,
    # the Bronze merge and the Silver site recompute (one shuffle each).
    # The stream thread sets the query's run id as its job group and the
    # foreachBatch jobs inherit it
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.silver import (
        clean_to_hourly,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
        stream_to_silver,
    )

    drop = tmp_path / "drop_jobs"
    bronze, silver, ckpt = (str(tmp_path / n) for n in ("bronze", "silver", "ckpt"))
    later = {
        "properties": {
            "parameter": {
                "ALLSKY_SFC_SW_DWN": {"2025010101": 250.0, "2025010102": 300.0},
                "T2M": {"2025010101": 2.5, "2025010102": 3.0},
                "WS10M": {"2025010101": 4.5, "2025010102": 5.0},
            }
        }
    }
    _drop_file(drop, "a.json")
    _drop_file(drop, "b.json", payload=later)
    q = stream_to_silver(read_payload_stream(spark, str(drop)), bronze, silver, ckpt)
    q.awaitTermination(120)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(str(q.runId))
    batches = sum(1 for p in q.recentProgress if p.numInputRows)
    assert batches == 2
    assert len(jobs) / batches <= 8
    cols = ["site", "ts_utc", "ghi_wm2", "temp_c", "wind_mps"]
    got = sorted(map(tuple, spark.read.parquet(silver).select(cols).collect()))
    assert got == sorted(map(tuple, clean_to_hourly(spark.read.parquet(bronze)).collect()))
    assert len(got) == 3
    # the refresh's write leaves one file per site
    assert len(list((tmp_path / "silver" / "site=site_a").glob("*.parquet"))) == 1


def test_stream_distinct_users_within_sketch_tolerance(spark, tmp_path):
    import datetime as dt

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
        hourly_stream_distinct_users,
    )

    t0 = dt.datetime(2025, 1, 1, 0, 0)
    rows = [
        (t0 + dt.timedelta(hours=h, minutes=m), (h * 37 + m) % 50)
        for h in range(3)
        for m in range(0, 60, 2)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "ts_utc timestamp, user_id long").write.parquet(src)

    stream = spark.readStream.schema("ts_utc timestamp, user_id long").parquet(src)
    out = str(tmp_path / "out")
    q = (
        hourly_stream_distinct_users(stream)
        .writeStream.format("memory")
        .queryName("distinct_users_hll")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    approx = {
        r.ts_hour: r.n_users_approx
        for r in spark.sql("SELECT * FROM distinct_users_hll").collect()
    }
    exact = {
        r.ts_hour: r.n_users
        for r in spark.read.parquet(src)
        .groupBy(F.date_trunc("hour", F.col("ts_utc")).alias("ts_hour"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    }
    assert set(approx) == set(exact)
    for hour, est in approx.items():
        assert abs(est - exact[hour]) <= max(0.1 * exact[hour], 2), (
            hour, est, exact[hour],
        )


def test_stream_sliding_window_matches_batch(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2025, 2, 1, 0, 0)
    rows = [
        (t0 + dt.timedelta(hours=h, minutes=m), float(h * 10 + m))
        for h in range(3)
        for m in (0, 30)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "ts_utc timestamp, value double").write.parquet(src)

    def agg(df):
        return (
            df.groupBy(F.window(F.col("ts_utc"), "2 hours", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )

    stream = spark.readStream.schema("ts_utc timestamp, value double").parquet(src)
    q = (
        agg(stream.withWatermark("ts_utc", "1 hour"))
        .writeStream.format("memory")
        .queryName("sliding_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    got = {
        r.w_start: r.n
        for r in spark.sql("SELECT * FROM sliding_counts").collect()
    }
    want = {r.w_start: r.n for r in agg(spark.read.parquet(src)).collect()}
    assert got == want
    # every event belongs to exactly two 2h/1h windows
    assert sum(got.values()) == 2 * len(rows)


def test_stream_dedup_append_first_wins_across_batches(spark, tmp_path):
    import json
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
        stream_dedup_append,
    )

    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop, exist_ok=True)

    def emit(name, rows):
        tmp = os.path.join(drop, f".{name}.tmp")
        with open(tmp, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.replace(tmp, os.path.join(drop, name))

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, payload string"
        ).json(drop)
        q = stream_dedup_append(
            stream, out, ckpt, ["event_id"], "ts", "1 hour"
        )
        q.awaitTermination(60)

    # batch 0: ids 1, 2 and an in-batch duplicate of 1
    emit("b0.json", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "payload": "first"},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "payload": "first"},
        {"event_id": 1, "ts": "2024-01-01T00:02:00", "payload": "dup"},
    ])
    run()
    # batch 1: re-sends id 2 within the watermark (dropped — state held
    # across the restart via the checkpoint) and adds id 3
    emit("b1.json", [
        {"event_id": 2, "ts": "2024-01-01T00:03:00", "payload": "dup"},
        {"event_id": 3, "ts": "2024-01-01T00:04:00", "payload": "first"},
    ])
    run()

    rows = {
        (r.event_id, r.payload)
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {(1, "first"), (2, "first"), (3, "first")}


@pytest.mark.parametrize("wm,dup_rows", [("48 hours", 1), ("1 second", 2)])
def test_stream_dedup_watermark_retention_sweep(spark, tmp_path, wm, dup_rows):
    # The docstring's documented trade, pinned from BOTH sides: key
    # state lives only until the watermark passes it, so a duplicate
    # re-sent AFTER a long quiet gap is dropped under a 48 h watermark
    # (state still held) but RE-EMITS under a 1 s watermark (state
    # evicted when the gap advanced the watermark past the original) —
    # exactly the "at-least-once source with bounded duplicate lag"
    # contract: pick the watermark past the lag and output is
    # exactly-once per key.
    import json
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
        stream_dedup_append,
    )

    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop, exist_ok=True)

    def emit(name, rows):
        tmp = os.path.join(drop, f".{name}.tmp")
        with open(tmp, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.replace(tmp, os.path.join(drop, name))

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, payload string"
        ).json(drop)
        q = stream_dedup_append(stream, out, ckpt, ["event_id"], "ts", wm)
        q.awaitTermination(60)

    emit("b0.json", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "payload": "first"},
    ])
    run()
    # 10 h quiet gap advances the watermark past id 1's state iff the
    # delay is shorter than the gap
    emit("b1.json", [
        {"event_id": 50, "ts": "2024-01-01T10:00:00", "payload": "first"},
    ])
    run()
    emit("b2.json", [
        {"event_id": 1, "ts": "2024-01-01T10:00:01", "payload": "dup"},
    ])
    run()

    rows = [r for r in spark.read.parquet(out).collect() if r.event_id == 1]
    assert len(rows) == dup_rows, (wm, rows)
    if dup_rows == 1:
        assert rows[0].payload == "first"


def test_stream_empty_batch_writes_nothing(spark, tmp_path):
    # the sink pins the parsed batch instead of probing it with
    # isEmpty(): an empty payload file must still write no table
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.ingest_stream import (
        stream_to_silver,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "empty.json").write_text("")
    bronze, silver = tmp_path / "bronze", tmp_path / "silver"
    for start in (
        lambda s: stream_to_bronze(s, str(bronze), str(tmp_path / "ck_b")),
        lambda s: stream_to_silver(s, str(bronze), str(silver), str(tmp_path / "ck_s")),
    ):
        q = start(read_payload_stream(spark, str(drop)))
        q.awaitTermination(60)
        assert q.exception() is None
    assert not bronze.exists() and not silver.exists()
