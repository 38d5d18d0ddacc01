"""Distribution-drift audit: flags, new/vanished categories, and the
declarative window boundary."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
    categorical_drift,
    window_drift,
)


def test_categorical_drift_flags_and_edges(spark):
    ref = spark.createDataFrame(
        [("a",)] * 80 + [("b",)] * 20, "cat string"
    )
    cur = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 30, "cat string"
    )
    rows = {r.cat: r for r in categorical_drift(ref, cur, "cat").collect()}
    assert set(rows) == {"a", "b", "c"}
    a = rows["a"]
    assert a.ref_n == 80 and a.cur_n == 50
    assert math.isclose(a.ref_rate, 0.8) and math.isclose(a.cur_rate, 0.5)
    assert a.drifted and math.isclose(a.rate_diff, 0.3)
    assert math.isclose(a.chi2_term, 0.09 / 0.8)
    # new category: ref side zero, chi2 undefined (NULL), flagged
    c = rows["c"]
    assert c.ref_n == 0 and c.cur_n == 30
    assert c.chi2_term is None and c.drifted
    # stable category: not flagged
    assert not rows["b"].drifted


def test_categorical_drift_vanished_category(spark):
    ref = spark.createDataFrame([("a",)] * 50 + [("gone",)] * 50, "cat string")
    cur = spark.createDataFrame([("a",)] * 100, "cat string")
    rows = {r.cat: r for r in categorical_drift(ref, cur, "cat").collect()}
    g = rows["gone"]
    assert g.cur_n == 0 and g.cur_rate == 0.0 and g.drifted
    assert math.isclose(g.chi2_term, 0.25 / 0.5)


def test_categorical_drift_psi_sign(spark):
    # optional PSI column: positive for a grown category, NULL when a
    # side is zero (ln undefined) — the reason it's outside the oracle
    ref = spark.createDataFrame([("a",)] * 60 + [("b",)] * 40, "cat string")
    cur = spark.createDataFrame([("a",)] * 40 + [("b",)] * 60, "cat string")
    rows = {
        r.cat: r
        for r in categorical_drift(ref, cur, "cat", include_psi=True).collect()
    }
    assert rows["b"].psi_term > 0 and rows["a"].psi_term > 0  # PSI terms are always >= 0


def test_window_drift_boundary_is_half_open(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "x"), ("2024-01-02 00:00:00", "y")],
        "ts string, cat string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {r.cat: r for r in window_drift(df, "ts", "cat", split_days=1).collect()}
    # day-2 midnight row is >= boundary -> current side
    assert rows["x"].ref_n == 1 and rows["x"].cur_n == 0
    assert rows["y"].ref_n == 0 and rows["y"].cur_n == 1


def test_categorical_drift_null_category_single_row(spark):
    # regression: a NULL category present on both sides must be ONE
    # row carrying both counts (plain full-outer equality never
    # matches NULL to NULL and yielded one orphan row per side)
    ref = spark.createDataFrame([("a",)] * 3 + [(None,)] * 2, "cat string")
    cur = spark.createDataFrame([("a",)] * 4 + [(None,)] * 1, "cat string")
    rows = categorical_drift(ref, cur, "cat").collect()
    nulls = [r for r in rows if r.cat is None]
    assert len(nulls) == 1
    assert nulls[0].ref_n == 2 and nulls[0].cur_n == 1


def test_stream_drift_monitor_reports_per_batch(spark, tmp_path):
    import json
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.drift_stream import (
        read_drift_reports,
        stream_drift_monitor,
    )

    def drop(name, cats):
        os.makedirs(tmp_path / "drop", exist_ok=True)
        tmp = tmp_path / "drop" / f".{name}.tmp"
        with open(tmp, "w") as fh:
            for c in cats:
                fh.write(json.dumps({"cat": c}) + "\n")
        os.replace(tmp, tmp_path / "drop" / name)

    reference = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 50, "cat string"
    )
    stream = lambda: spark.readStream.schema("cat string").json(  # noqa: E731
        str(tmp_path / "drop")
    )
    # batch 0 matches the reference mix; batch 1 brings a new category
    drop("c0.json", ["a"] * 5 + ["b"] * 5)
    q = stream_drift_monitor(
        stream(), reference, "cat",
        str(tmp_path / "rep"), str(tmp_path / "ckpt"), threshold=0.05,
    )
    q.awaitTermination(60)
    # leave a crashed writer's state: an unfinished staged write, and
    # batch 0's report moved to _trash; batch 1's sink must recover it
    rep = tmp_path / "rep"
    os.makedirs(rep / "_staging" / "data" / "batch_id=1")
    (rep / "_staging" / "data" / "batch_id=1" / "part-00000.parquet").write_bytes(b"torn")
    os.renames(rep / "batch_id=0", rep / "_trash" / "batch_id=0")
    drop("c1.json", ["a"] * 2 + ["zz"] * 8)
    q2 = stream_drift_monitor(
        stream(), reference, "cat",
        str(tmp_path / "rep"), str(tmp_path / "ckpt"), threshold=0.05,
    )
    q2.awaitTermination(60)

    reports = read_drift_reports(spark, str(tmp_path / "rep")).collect()
    b0 = {r.cat: r for r in reports if r.batch_id == 0}
    b1 = {r.cat: r for r in reports if r.batch_id == 1}
    assert not b0["a"].drifted and not b0["b"].drifted
    assert b1["zz"].drifted and b1["zz"].ref_n == 0  # new category flagged
    assert b1["b"].drifted and b1["b"].cur_n == 0  # vanished category flagged
    assert not (rep / "_staging").exists() and not (rep / "_trash").exists()
    # lineage binding: a fresh checkpoint into the same report dir refuses
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="bound to checkpoint"):
        stream_drift_monitor(
            stream(), reference, "cat",
            str(tmp_path / "rep"), str(tmp_path / "ckpt_other"),
        )


def test_numeric_drift_bins_and_null_bin(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        numeric_drift,
    )

    ref = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 12, 13, 14]] + [(None,)],
        "value double",
    )
    cur = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 22, 23, 24, 25]], "value double"
    )
    rows = {r.bin: r for r in numeric_drift(ref, cur, "value", 10.0).collect()}
    assert rows[0].ref_n == 3 and rows[0].cur_n == 2
    assert rows[1].ref_n == 3 and rows[1].cur_n == 0 and rows[1].drifted
    assert rows[2].ref_n == 0 and rows[2].cur_n == 4 and rows[2].drifted
    assert rows[None].ref_n == 1 and rows[None].cur_n == 0  # NULL bin kept


def test_schema_drift_statuses(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        schema_drift,
    )

    old = spark.createDataFrame([(1, "x", 1.0)], "a long, b string, c double")
    new = spark.createDataFrame([(1, 2, True)], "a long, b long, d boolean")
    got = {r["column"]: r for r in schema_drift(old, new)}
    assert got["b"]["status"] == "type_changed" and got["b"]["new_type"] == "bigint"
    assert got["c"]["status"] == "removed"
    assert got["d"]["status"] == "added"
    assert "a" not in got  # unchanged columns are not drift
    assert schema_drift(old, old) == []
