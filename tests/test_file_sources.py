"""Schema-enforced CSV/JSON sources: good rows parse, malformed lines
quarantine verbatim, nothing is silently dropped."""

from __future__ import annotations

from pyspark.sql import types as T

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.sources.files import (
    read_csv_strict,
    read_json_strict,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
    ]
)


def test_csv_strict_splits_good_and_corrupt(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text(
        "id,name,score\n"
        "1,alice,2.5\n"
        "not_a_number,bob,3.0\n"  # id fails long parse
        "2,carol,4.25\n"
    )
    good, bad = read_csv_strict(spark, str(p), SCHEMA)
    rows = {r.id: (r.name, r.score) for r in good.collect()}
    assert rows == {1: ("alice", 2.5), 2: ("carol", 4.25)}
    quarantined = [r.raw_line for r in bad.collect()]
    assert quarantined == ["not_a_number,bob,3.0"]


def test_json_strict_splits_good_and_corrupt(spark, tmp_path):
    p = tmp_path / "data.json"
    p.write_text(
        '{"id": 1, "name": "alice", "score": 2.5}\n'
        "this is not json at all\n"
        '{"id": 2, "name": "carol", "score": 4.25}\n'
    )
    good, bad = read_json_strict(spark, str(p), SCHEMA)
    assert good.count() == 2
    quarantined = [r.raw_line for r in bad.collect()]
    assert quarantined == ["this is not json at all"]


def test_nothing_lost(spark, tmp_path):
    p = tmp_path / "d.csv"
    lines = ["id,name,score"] + [f"{i},u{i},{i}.5" for i in range(10)] + ["x,y"]
    p.write_text("\n".join(lines) + "\n")
    good, bad = read_csv_strict(spark, str(p), SCHEMA)
    assert good.count() + bad.count() == 11


# --- canonical timestamp normalization (tables.load_table) -----------------
# The driver has regenerated events.ts under three parquet encodings across
# rounds (TIMESTAMP(NANOS) → r3's timestamp[us] NTZ); the r3 flip broke
# sessionization downstream. load_table must yield the same TIMESTAMP (LTZ,
# UTC session) column for all three.

def _write_events_variant(tmp_path, name, arrow_type):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    micros = [1_700_000_000_000_000, 1_700_003_600_000_000]
    if pa.types.is_int64(arrow_type):
        col = pa.array([m * 1000 for m in micros], type=arrow_type)
    else:
        col = pa.array(micros, type=pa.int64()).cast(arrow_type)
    t = pa.table({"event_id": pa.array([1, 2], type=pa.int64()), "ts": col})
    pq.write_table(t, str(d / "events.parquet"))
    return str(d)


def test_load_table_normalizes_all_ts_encodings(spark, tmp_path):
    import pyarrow as pa

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import load_table

    variants = {
        "nanos": pa.int64(),  # stands in for TIMESTAMP(NANOS)-as-long
        "ntz": pa.timestamp("us"),  # r3 testdata: no UTC adjustment
        "ltz": pa.timestamp("us", tz="UTC"),
    }
    results = {}
    for name, typ in variants.items():
        sf_dir = _write_events_variant(tmp_path, name, typ)
        df = load_table(spark, "events", sf_dir)
        assert dict(df.dtypes)["ts"] == "timestamp", name
        from pyspark.sql import functions as F

        results[name] = [
            r[0] for r in df.select(F.col("ts").cast("long")).orderBy("ts").collect()
        ]
    assert results["nanos"] == results["ntz"] == results["ltz"] == [
        1_700_000_000,
        1_700_003_600,
    ]


def test_load_table_opens_with_zero_jobs(spark, tmp_path, jobs_in):
    # the schema comes from a footer read on the driver: opening a table
    # runs no Spark job and yields the schema an inferring read would —
    # a single file, a partitioned multi-file table with writer
    # leftovers, and the nanos timestamp encoding
    import pyarrow as pa
    import pytest
    from pyspark.errors import AnalysisException

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        _CANONICAL_TS_COLS,
        _normalize_ts,
        load_table,
    )

    sf_dir = _write_events_variant(tmp_path, "nanos", pa.int64())
    spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, None), ("b", 3, 2.5)],
        "site string, id long, v double",
    ).repartition(2).write.partitionBy("site").parquet(f"{sf_dir}/readings.parquet")
    (tmp_path / "nanos" / "readings.parquet" / "_staging").mkdir()
    for name in ("events", "readings"):
        with jobs_in() as jobs:
            df = load_table(spark, name, sf_dir)
        assert jobs == [], name
        want = _normalize_ts(
            spark.read.parquet(f"{sf_dir}/{name}.parquet"),
            _CANONICAL_TS_COLS.get(name, []),
        )
        assert df.schema == want.schema, name
        assert sorted(df.collect()) == sorted(want.collect()), name

    (tmp_path / "nanos" / "hollow.parquet").mkdir()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        load_table(spark, "hollow", sf_dir)
