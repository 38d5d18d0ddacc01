"""merge_upsert: ON CONFLICT DO UPDATE semantics on plain Parquet —
insert, update-wins-by-recency, idempotent re-run (README.md:36)."""

from __future__ import annotations

import datetime as dt

import pytest

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
    merge_upsert,
)

UTC = dt.timezone.utc
SCHEMA = "site STRING, ts_utc TIMESTAMP, v DOUBLE, ingested_at TIMESTAMP"


def ts(h):
    return dt.datetime(2025, 1, 1, h, tzinfo=UTC)


def ing(d):
    return dt.datetime(2025, 1, 2 + d, tzinfo=UTC)


@pytest.fixture()
def target(tmp_path):
    return str(tmp_path / "bronze")


def read_all(spark, path):
    return {
        (r.site, r.ts_utc.hour): (r.v, r.ingested_at)
        for r in spark.read.parquet(path).collect()
    }


def test_initial_insert(spark, target):
    df = spark.createDataFrame([("a", ts(0), 1.0, ing(0)), ("b", ts(0), 2.0, ing(0))], SCHEMA)
    n = merge_upsert(spark, target, df, keys=["site", "ts_utc"], order_col="ingested_at")
    assert n == 2
    assert read_all(spark, target)[("a", 0)][0] == 1.0


def test_update_newer_wins(spark, target):
    first = spark.createDataFrame([("a", ts(0), 1.0, ing(0))], SCHEMA)
    merge_upsert(spark, target, first, keys=["site", "ts_utc"], order_col="ingested_at")
    update = spark.createDataFrame([("a", ts(0), 9.0, ing(1)), ("a", ts(1), 5.0, ing(1))], SCHEMA)
    merge_upsert(spark, target, update, keys=["site", "ts_utc"], order_col="ingested_at")
    out = read_all(spark, target)
    assert out[("a", 0)][0] == 9.0  # updated
    assert out[("a", 1)][0] == 5.0  # inserted
    assert len(out) == 2


def test_stale_update_does_not_regress(spark, target):
    newer = spark.createDataFrame([("a", ts(0), 9.0, ing(5))], SCHEMA)
    merge_upsert(spark, target, newer, keys=["site", "ts_utc"], order_col="ingested_at")
    stale = spark.createDataFrame([("a", ts(0), 1.0, ing(0))], SCHEMA)
    merge_upsert(spark, target, stale, keys=["site", "ts_utc"], order_col="ingested_at")
    assert read_all(spark, target)[("a", 0)][0] == 9.0


def test_idempotent_rerun(spark, target):
    df = spark.createDataFrame([("a", ts(0), 1.0, ing(0)), ("b", ts(2), 3.0, ing(0))], SCHEMA)
    merge_upsert(spark, target, df, keys=["site", "ts_utc"], order_col="ingested_at")
    before = read_all(spark, target)
    merge_upsert(spark, target, df, keys=["site", "ts_utc"], order_col="ingested_at")
    assert read_all(spark, target) == before


def test_untouched_partition_preserved(spark, target):
    base = spark.createDataFrame([("a", ts(0), 1.0, ing(0)), ("b", ts(0), 2.0, ing(0))], SCHEMA)
    merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")
    only_a = spark.createDataFrame([("a", ts(1), 7.0, ing(1))], SCHEMA)
    merge_upsert(spark, target, only_a, keys=["site", "ts_utc"], order_col="ingested_at")
    out = read_all(spark, target)
    assert out[("b", 0)][0] == 2.0  # site b untouched by dynamic overwrite
    assert out[("a", 1)][0] == 7.0


@pytest.mark.slow
def test_compact_partitions_reduces_files_preserves_rows(spark, tmp_path):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        compact_partitions,
        merge_upsert,
    )
    import datetime as dt
    import os

    path = str(tmp_path / "t")
    # simulate micro-batch spray: 5 merges, each writing its own files
    for b in range(5):
        rows = [
            ("s1", dt.datetime(2025, 1, 1, b, m), float(b * 10 + m),
             dt.datetime(2025, 1, 2, b))
            for m in range(3)
        ]
        df = spark.createDataFrame(
            rows, "site string, ts_utc timestamp, v double, ingested_at timestamp"
        ).repartition(4)
        merge_upsert(spark, path, df, keys=["site", "ts_utc"],
                     order_col="ingested_at")

    before = {
        (r.site, r.ts_utc): r.v for r in spark.read.parquet(path).collect()
    }
    files_before = len(
        [f for f in os.listdir(os.path.join(path, "site=s1"))
         if f.endswith(".parquet")]
    )

    report = compact_partitions(spark, path)
    assert report == {"s1": 1}
    files_after = len(
        [f for f in os.listdir(os.path.join(path, "site=s1"))
         if f.endswith(".parquet")]
    )
    assert files_after == 1 and files_after <= files_before
    after = {
        (r.site, r.ts_utc): r.v for r in spark.read.parquet(path).collect()
    }
    assert after == before


def test_compact_null_and_zero_padded_partitions(spark, tmp_path):
    # ADVICE r2 medium: path-derived partition matching silently skipped
    # NULL partitions (__HIVE_DEFAULT_PARTITION__) and values whose
    # inferred-type string differs from the directory name. Identity now
    # comes from the data, so both must be compacted and reported.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        compact_partitions,
    )
    import os

    path = str(tmp_path / "t")
    rows = [(None, 1.0), (None, 2.0), ("00123", 3.0), ("00123", 4.0)]
    df = spark.createDataFrame(rows, "site string, v double").repartition(4)
    df.write.partitionBy("site").parquet(path)

    before = {(r.site, r.v) for r in spark.read.parquet(path).collect()}
    report = compact_partitions(spark, path)
    assert report == {"__HIVE_DEFAULT_PARTITION__": 1, "00123": 1}
    # zero-padded directory name survives the rewrite byte-identically
    assert os.path.isdir(os.path.join(path, "site=00123"))
    assert os.path.isdir(os.path.join(path, "site=__HIVE_DEFAULT_PARTITION__"))
    for d in ("site=00123", "site=__HIVE_DEFAULT_PARTITION__"):
        n = len([f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")])
        assert n == 1, d
    after = {(r.site, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_crash_between_write_and_publish_keeps_old_snapshot(spark, tmp_path, monkeypatch):
    # VERDICT r3 #6: staged write + rename publish. Killing the writer
    # after the staged write but before publish must leave the previous
    # snapshot fully readable; the next writer clears the stale staging
    # and succeeds.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import upsert

    target = str(tmp_path / "bronze")
    base = spark.createDataFrame([("a", ts(0), 1.0, ing(0))], SCHEMA)
    upsert.merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(upsert, "_publish_staged", crash)
    update = spark.createDataFrame([("a", ts(0), 9.0, ing(1))], SCHEMA)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert.merge_upsert(spark, target, update, keys=["site", "ts_utc"], order_col="ingested_at")
    # old snapshot intact — staged bytes are invisible to readers
    assert read_all(spark, target)[("a", 0)][0] == 1.0
    monkeypatch.undo()
    # recovery: stale staging is cleared, retry lands the update
    upsert.merge_upsert(spark, target, update, keys=["site", "ts_utc"], order_col="ingested_at")
    assert read_all(spark, target)[("a", 0)][0] == 9.0


def test_crash_mid_publish_recovers_stranded_partition(spark, tmp_path):
    # ADVICE r4 medium: a crash inside the publish rename loop (live
    # moved to _trash, staged not yet moved to live) left the partition's
    # only copies in the work dirs — and the next writer deleted them.
    # Recovery must roll the publish forward (staged fileset complete).
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import upsert

    target = str(tmp_path / "bronze")
    base = spark.createDataFrame(
        [("a", ts(0), 1.0, ing(0)), ("b", ts(0), 2.0, ing(0))], SCHEMA
    )
    upsert.merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")

    # stage a completed update fileset for site=a, then simulate the
    # crash point: live→_trash done, staged→live NOT done
    upd = spark.createDataFrame([("a", ts(0), 9.0, ing(1))], SCHEMA)
    upd.write.partitionBy("site").parquet(os.path.join(target, "_staging", "data"))
    os.renames(os.path.join(target, "site=a"), os.path.join(target, "_trash", "site=a"))
    assert not os.path.isdir(os.path.join(target, "site=a"))

    # the next writer (touching only site=b) must not lose site=a
    upd_b = spark.createDataFrame([("b", ts(1), 5.0, ing(1))], SCHEMA)
    upsert.merge_upsert(spark, target, upd_b, keys=["site", "ts_utc"], order_col="ingested_at")
    out = read_all(spark, target)
    assert out[("a", 0)][0] == 9.0  # rolled FORWARD to the staged update
    assert out[("b", 0)][0] == 2.0 and out[("b", 1)][0] == 5.0
    assert not os.path.isdir(os.path.join(target, "_trash"))
    assert not os.path.isdir(os.path.join(target, "_staging"))


def test_crash_mid_publish_rolls_back_without_complete_staging(spark, tmp_path):
    # Same crash point, but the staged fileset is incomplete (no
    # _SUCCESS): recovery must roll BACK from _trash to the previous
    # committed bytes.
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import upsert

    target = str(tmp_path / "bronze")
    base = spark.createDataFrame([("a", ts(0), 1.0, ing(0))], SCHEMA)
    upsert.merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")

    upd = spark.createDataFrame([("a", ts(0), 9.0, ing(1))], SCHEMA)
    upd.write.partitionBy("site").parquet(os.path.join(target, "_staging", "data"))
    os.remove(os.path.join(target, "_staging", "data", "_SUCCESS"))
    os.renames(os.path.join(target, "site=a"), os.path.join(target, "_trash", "site=a"))

    upsert._clear_work_dirs(spark, target)
    assert read_all(spark, target)[("a", 0)][0] == 1.0  # previous snapshot back
    assert not os.path.isdir(os.path.join(target, "_trash"))


def test_crash_after_publish_keeps_removed_partition_removed(spark, tmp_path):
    # A publish that removed site=b (a replaced leaf with no staged rows)
    # crashed while deleting its work dirs, after _staging was gone: the
    # _trash left behind is finished work, not a publish to roll back.
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import upsert

    target = str(tmp_path / "bronze")
    base = spark.createDataFrame([("a", ts(0), 1.0, ing(0)), ("b", ts(0), 2.0, ing(0))], SCHEMA)
    upsert.merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")
    os.renames(os.path.join(target, "site=b"), os.path.join(target, "_trash", "site=b"))

    upsert._clear_work_dirs(spark, target)
    assert sorted({site for site, _ in read_all(spark, target)}) == ["a"]
    assert not os.path.isdir(os.path.join(target, "_trash"))


def test_empty_update_batch_is_a_noop(spark, target):
    # ADVICE r4 medium: a zero-row update stages only _SUCCESS, and the
    # staged read-back threw UNABLE_TO_INFER_SCHEMA. Must be a no-op
    # returning 0 — re-run idempotency is the module contract.
    base = spark.createDataFrame([("a", ts(0), 1.0, ing(0))], SCHEMA)
    merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")
    empty = spark.createDataFrame([], SCHEMA)
    n = merge_upsert(spark, target, empty, keys=["site", "ts_utc"], order_col="ingested_at")
    assert n == 0
    assert read_all(spark, target)[("a", 0)][0] == 1.0
    # empty INITIAL load (no existing table) is also a no-op
    fresh = target + "_fresh"
    assert merge_upsert(spark, fresh, empty, keys=["site", "ts_utc"], order_col="ingested_at") == 0


def test_compact_partition_value_with_plus_sign(spark, tmp_path):
    # ADVICE r4 low: url_decode form-decodes '+' to space, so partitions
    # whose values contain '+' missed the file-size join and were
    # silently excluded from compaction.
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        compact_partitions,
    )

    path = str(tmp_path / "t")
    rows = [("a+b", float(i)) for i in range(4)] + [("plain", 9.0)]
    df = spark.createDataFrame(rows, "site string, v double").repartition(4)
    df.write.partitionBy("site").parquet(path)

    before = {(r.site, r.v) for r in spark.read.parquet(path).collect()}
    report = compact_partitions(spark, path)
    assert report == {"a+b": 1, "plain": 1}
    n = len([f for f in os.listdir(os.path.join(path, "site=a+b")) if f.endswith(".parquet")])
    assert n == 1
    assert {(r.site, r.v) for r in spark.read.parquet(path).collect()} == before


def test_compact_covers_underscore_partition_dirs(spark, tmp_path):
    # Spark reads a "_p=x" dir: only "_"-prefixed names WITHOUT "=" are
    # hidden. Compaction lists files by the same rule, so it rewrites
    # every partition a read returns.
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        compact_partitions,
    )

    path = str(tmp_path / "t")
    for i in range(3):  # one file per partition per append
        spark.createDataFrame([("x", float(i)), ("y", 10.0 + i)], "_p string, v double").coalesce(
            1).write.mode("append").partitionBy("_p").parquet(path)

    def n_files(p):
        return len([f for f in os.listdir(os.path.join(path, f"_p={p}")) if f.endswith(".parquet")])

    assert n_files("x") == n_files("y") == 3
    before = sorted((r._p, r.v) for r in spark.read.parquet(path).collect())
    assert compact_partitions(spark, path, partition_by=("_p",)) == {"x": 1, "y": 1}
    assert n_files("x") == n_files("y") == 1
    assert sorted((r._p, r.v) for r in spark.read.parquet(path).collect()) == before


def test_merge_and_compact_with_nested_partitions(spark, tmp_path):
    # staged publish renames LEAF partition dirs; two-level partitioning
    # (site=/day=) exercises the nested-dir detection and parent mkdirs
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        compact_partitions,
        merge_upsert,
    )
    import os

    path = str(tmp_path / "t2")
    kw = dict(keys=["site", "day", "ts_utc"], order_col="ingested_at",
              partition_by=("site", "day"))
    s = "site string, day int, ts_utc timestamp, v double, ingested_at timestamp"
    base = spark.createDataFrame(
        [("a", 1, ts(0), 1.0, ing(0)), ("a", 2, ts(0), 2.0, ing(0)),
         ("b", 1, ts(0), 3.0, ing(0))], s)
    merge_upsert(spark, path, base, **kw)
    upd = spark.createDataFrame([("a", 1, ts(0), 9.0, ing(1))], s)
    merge_upsert(spark, path, upd, **kw)

    out = {(r.site, r.day): r.v for r in spark.read.parquet(path).collect()}
    assert out == {("a", 1): 9.0, ("a", 2): 2.0, ("b", 1): 3.0}
    assert os.path.isdir(os.path.join(path, "site=a", "day=1"))
    assert not os.path.isdir(os.path.join(path, "_staging"))

    report = compact_partitions(spark, path, partition_by=("site", "day"))
    assert report == {"a/1": 1, "a/2": 1, "b/1": 1}
    after = {(r.site, r.day): r.v for r in spark.read.parquet(path).collect()}
    assert after == out


def test_merge_upsert_schema_evolution_adds_column(spark, tmp_path):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        merge_upsert,
    )
    import pytest as _pt

    path = str(tmp_path / "evo")
    base = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)],
        "site string, ts int, v double",
    )
    merge_upsert(spark, path, base, keys=["site", "ts"], order_col="ts")

    widened = spark.createDataFrame(
        [("a", 2, 2.5, 0.9), ("a", 3, 4.0, 0.8)],
        "site string, ts int, v double, quality double",
    )
    # default: loud failure, no silent widening
    with _pt.raises(Exception):
        merge_upsert(spark, path, widened, keys=["site", "ts"], order_col="ts")

    merge_upsert(
        spark, path, widened, keys=["site", "ts"], order_col="ts",
        allow_schema_evolution=True,
    )
    got = {
        (r.site, r.ts): (r.v, r.quality)
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got[("a", 1)] == (1.0, None)     # surviving old row: NULL quality
    assert got[("a", 2)] == (2.5, 0.9)      # updated row carries the new col
    assert got[("a", 3)] == (4.0, 0.8)      # inserted row
    assert got[("b", 1)] == (3.0, None)     # untouched partition, old schema
    # idempotent re-run with the evolved batch
    merge_upsert(
        spark, path, widened, keys=["site", "ts"], order_col="ts",
        allow_schema_evolution=True,
    )
    again = {
        (r.site, r.ts): (r.v, r.quality)
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert again == got


def test_default_merge_on_evolved_table_fails_loudly(spark, tmp_path):
    # after evolution the table is mixed-schema; a later default merge
    # must raise at unionByName, never silently drop the evolved column
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        merge_upsert,
    )
    import pytest as _pt

    path = str(tmp_path / "evo2")
    merge_upsert(
        spark, path,
        spark.createDataFrame([("a", 1, 1.0)], "site string, ts int, v double"),
        keys=["site", "ts"], order_col="ts",
    )
    merge_upsert(
        spark, path,
        spark.createDataFrame(
            [("a", 2, 2.0, 0.5)], "site string, ts int, v double, quality double"
        ),
        keys=["site", "ts"], order_col="ts", allow_schema_evolution=True,
    )
    with _pt.raises(Exception):
        merge_upsert(
            spark, path,
            spark.createDataFrame([("a", 3, 3.0)], "site string, ts int, v double"),
            keys=["site", "ts"], order_col="ts",
        )
    # and the evolved data is still intact
    got = {
        (r.site, r.ts): r.quality
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got[("a", 2)] == 0.5


def test_crash_mid_publish_resumes_whole_batch(spark, tmp_path):
    # review r5: a crash AFTER publishing site=a but BEFORE site=b must
    # not leave the batch half-applied with site=b's staged data deleted
    # — recovery resumes the complete staged publish in full
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import upsert

    target = str(tmp_path / "bronze")
    base = spark.createDataFrame(
        [("a", ts(0), 1.0, ing(0)), ("b", ts(0), 2.0, ing(0))], SCHEMA
    )
    upsert.merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")

    # stage a complete two-partition update, then simulate a crash after
    # only site=a's rename pair completed
    upd = spark.createDataFrame(
        [("a", ts(0), 9.0, ing(1)), ("b", ts(0), 8.0, ing(1))], SCHEMA
    )
    upd.write.partitionBy("site").parquet(os.path.join(target, "_staging", "data"))
    os.renames(os.path.join(target, "site=a"), os.path.join(target, "_trash", "site=a"))
    os.renames(
        os.path.join(target, "_staging", "data", "site=a"),
        os.path.join(target, "site=a"),
    )  # site=a published; site=b untouched, its update only in staging

    # any next writer triggers recovery; an unrelated merge must see the
    # WHOLE prior batch committed, not half of it
    noop = spark.createDataFrame([("c", ts(0), 5.0, ing(2))], SCHEMA)
    upsert.merge_upsert(spark, target, noop, keys=["site", "ts_utc"], order_col="ingested_at")
    got = read_all(spark, target)
    assert got[("a", 0)][0] == 9.0
    assert got[("b", 0)][0] == 8.0   # resumed, not deleted
    assert got[("c", 0)][0] == 5.0
    assert not os.path.exists(os.path.join(target, "_staging"))
    assert not os.path.exists(os.path.join(target, "_trash"))


def test_merge_into_directory_without_data_files(spark, target):
    # an existing table directory with no data file (an empty first
    # merge, or a directory made by hand) has no footer to take a schema
    # from: the next merge must treat it as a new table, not fail with
    # UNABLE_TO_INFER_SCHEMA
    import os

    empty = spark.createDataFrame([], SCHEMA)
    assert merge_upsert(spark, target, empty, keys=["site", "ts_utc"], order_col="ingested_at") == 0
    os.makedirs(target, exist_ok=True)
    rows = spark.createDataFrame([("a", ts(0), 1.0, ing(0)), ("b", ts(1), 2.0, ing(0))], SCHEMA)
    assert merge_upsert(spark, target, rows, keys=["site", "ts_utc"], order_col="ingested_at") == 2
    assert {k: v[0] for k, v in read_all(spark, target).items()} == {("a", 0): 1.0, ("b", 1): 2.0}


def _returns_within(fn, seconds=120):
    """fn() run on a daemon thread: its result, or a failure if it has
    not returned within ``seconds`` (a blocked count read never does)."""
    import threading

    out = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as e:  # re-raised on the test thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), "call did not return"
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.mark.parametrize(
    "rows, replaced, want",
    [
        ([("a", ts(0), 1.0, ing(0)), ("a", ts(1), 2.0, ing(0)), ("c", ts(0), 3.0, ing(0))], (), 3),
        ([], (), 0),
        ([], ("site=a",), 0),
    ],
    ids=["rows", "zero_rows", "zero_rows_replaced"],
)
def test_staged_overwrite_counts_the_published_rows(spark, target, rows, replaced, want):
    # the count rides the write as an Observation; a zero-row write may
    # deliver no metrics row, so it must return 0 without reading one
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.upsert import (
        _staged_overwrite,
    )

    base = spark.createDataFrame([("a", ts(5), 9.0, ing(0)), ("b", ts(5), 8.0, ing(0))], SCHEMA)
    merge_upsert(spark, target, base, keys=["site", "ts_utc"], order_col="ingested_at")
    df = spark.createDataFrame(rows, SCHEMA)
    n = _returns_within(lambda: _staged_overwrite(spark, target, df, ["site"], replaced=replaced))
    assert n == want
    got = read_all(spark, target)
    sites = {r[0] for r in rows} | {p.split("=")[1] for p in replaced}
    assert len([k for k in got if k[0] in sites]) == want
    assert got[("b", 5)][0] == 8.0  # neither written nor replaced


def test_parquet_schema_merges_footers_of_the_named_dirs(spark, tmp_path):
    # the driver-side footer read: the merged schema of the named
    # partition dirs (an evolved one included), writer leftovers
    # skipped, None where there is no data file
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.fsutil import parquet_schema

    path = str(tmp_path / "t")
    spark.createDataFrame([("a", 1, 1.0)], "site string, ts int, v double").write.partitionBy(
        "site").parquet(path)
    spark.createDataFrame([("b", 2, 2.0, 0.5)], "site string, ts int, v double, q double").write.mode(
        "append").partitionBy("site").parquet(path)
    spark.createDataFrame([("x", "junk")], "site string, z string").write.partitionBy(
        "site").parquet(f"{path}/_staging/data")

    def names(schema):
        return None if schema is None else schema.fieldNames()

    assert names(parquet_schema(path, spark, dirs=["site=a"])) == ["ts", "v"]
    assert names(parquet_schema(path, spark, dirs=["site=a", "site=b"])) == ["ts", "v", "q"]
    assert names(parquet_schema(path, spark)) == ["ts", "v", "q"]
    assert names(parquet_schema(path, spark, first=True)) in (["ts", "v"], ["ts", "v", "q"])
    assert parquet_schema(path, spark, dirs=["site=zzz"]) is None
    assert parquet_schema(str(tmp_path / "absent"), spark) is None
    assert parquet_schema(path, spark) == spark.read.option("mergeSchema", "true").parquet(
        path).drop("site").schema
