"""Mergeable aggregate state: ⊕ must equal full recompute bit-exactly
for the algebraic measures and within sketch error for distinct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
    aggregate_state,
    finalize_state,
    merge_aggregate_states,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
    load_table,
)

SF = "/root/testdata/sf0.001"
KEYS = ["event_type"]


@pytest.fixture(scope="module")
def ev(spark):
    return load_table(spark, "events", SF)


def _rollup(df):
    return {
        r.event_type: (r.n, r.sum_value, r.min_value, r.max_value)
        for r in finalize_state(
            aggregate_state(df, KEYS, "value"), KEYS
        ).collect()
    }


def test_three_way_merge_equals_full_recompute(ev):
    # arbitrary 3-way split by row hash — merged state must reproduce
    # the single-pass state exactly (decimal sums make this bit-exact,
    # not just approximately true)
    parts = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)]
    merged = merge_aggregate_states(
        [aggregate_state(p, KEYS, "value") for p in parts], KEYS
    )
    got = {
        r.event_type: (r.n, r.sum_value, r.min_value, r.max_value)
        for r in finalize_state(merged, KEYS).collect()
    }
    assert got == _rollup(ev)


def test_merge_is_commutative_and_associative(ev):
    a = aggregate_state(ev.filter(F.col("event_id") % 3 == 0), KEYS, "value")
    b = aggregate_state(ev.filter(F.col("event_id") % 3 == 1), KEYS, "value")
    c = aggregate_state(ev.filter(F.col("event_id") % 3 == 2), KEYS, "value")
    ab = merge_aggregate_states([a, b], KEYS)
    ba = merge_aggregate_states([b, a], KEYS)
    fa = sorted(map(tuple, finalize_state(ab, KEYS).collect()))
    fb = sorted(map(tuple, finalize_state(ba, KEYS).collect()))
    assert fa == fb
    # associativity under nesting: (a⊕b)⊕c == a⊕(b⊕c), the property
    # the module contract actually claims
    left = merge_aggregate_states([ab, c], KEYS)
    right = merge_aggregate_states([a, merge_aggregate_states([b, c], KEYS)], KEYS)
    fl = sorted(map(tuple, finalize_state(left, KEYS).collect()))
    fr = sorted(map(tuple, finalize_state(right, KEYS).collect()))
    assert fl == fr


def test_merge_with_disjoint_keys_unions(spark):
    a = aggregate_state(
        spark.createDataFrame([("x", 1.0)], "k string, value double"),
        ["k"],
        "value",
    )
    b = aggregate_state(
        spark.createDataFrame([("y", 2.0), ("y", 4.0)], "k string, value double"),
        ["k"],
        "value",
    )
    rows = {
        r.k: (r.n, r.sum_value, r.avg_value)
        for r in finalize_state(
            merge_aggregate_states([a, b], ["k"]), ["k"]
        ).collect()
    }
    assert rows == {"x": (1, 1.0, 1.0), "y": (2, 6.0, 3.0)}


def test_hll_state_merges_to_union_estimate(ev):
    # sketch-union over a split must estimate the distinct count of
    # the union, not the sum of per-part distincts (users appear in
    # both halves — a naive sum would overcount heavily)
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    merged = merge_aggregate_states(
        [
            aggregate_state(half_a, KEYS, "value", "user_id"),
            aggregate_state(half_b, KEYS, "value", "user_id"),
        ],
        KEYS,
    )
    est = {
        r.event_type: r.approx_distinct
        for r in finalize_state(merged, KEYS).collect()
    }
    exact = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for k, d in exact.items():
        assert abs(est[k] - d) <= max(0.1 * d, 2), (k, est[k], d)


def test_merge_requires_states(spark):
    with pytest.raises(ValueError):
        merge_aggregate_states([], ["k"])


# ------------------------------------------------- streaming maintenance


def _drop_events(dirpath, name, rows):
    import json
    import os

    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    os.replace(tmp, os.path.join(dirpath, name))


def _read_stream(spark, path):
    return (
        spark.readStream.schema("k string, value double, uid long")
        .json(path)
    )


def test_stream_state_matches_batch_recompute(spark, tmp_path):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        read_state,
        stream_aggregate_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _drop_events(drop, "c1.json", [
        {"k": "a", "value": 1.5, "uid": 1},
        {"k": "a", "value": 2.5, "uid": 2},
        {"k": "b", "value": 10.0, "uid": 1},
    ])
    q = stream_aggregate_state(
        _read_stream(spark, drop), state, ckpt, ["k"], "value", "uid"
    )
    q.awaitTermination(60)
    _drop_events(drop, "c2.json", [
        {"k": "a", "value": 6.0, "uid": 1},  # uid 1 repeats across batches
        {"k": "c", "value": -1.0, "uid": 9},
    ])
    q2 = stream_aggregate_state(
        _read_stream(spark, drop), state, ckpt, ["k"], "value", "uid"
    )
    q2.awaitTermination(60)

    st = read_state(spark, state)
    rows = {r.k: r for r in finalize_state(st, ["k"]).collect()}
    assert rows["a"].n == 3 and rows["a"].sum_value == 10.0
    assert rows["a"].approx_distinct == 2  # sketch union, not sum (2+1)
    assert rows["b"].n == 1 and rows["c"].min_value == -1.0

    # restart with the SAME checkpoint (no new files): nothing replays,
    # state unchanged
    q3 = stream_aggregate_state(
        _read_stream(spark, drop), state, ckpt, ["k"], "value", "uid"
    )
    q3.awaitTermination(60)
    again = {r.k: r for r in finalize_state(read_state(spark, state), ["k"]).collect()}
    assert again["a"].n == 3 and again["a"].sum_value == 10.0


def test_stream_state_refuses_foreign_checkpoint(spark, tmp_path):
    # batch ids only identify contents within ONE checkpoint lineage —
    # a fresh checkpoint renumbers batches, so replaying it into
    # existing state would alias snapshots and silently drop rows; the
    # sink must refuse loudly instead (review finding)
    import pytest as _pytest

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        stream_aggregate_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    _drop_events(drop, "c1.json", [{"k": "a", "value": 1.0, "uid": 1}])
    q = stream_aggregate_state(
        _read_stream(spark, drop), state, str(tmp_path / "ckpt"), ["k"], "value"
    )
    q.awaitTermination(60)
    _drop_events(drop, "c2.json", [{"k": "a", "value": 2.0, "uid": 2}])
    with _pytest.raises(RuntimeError, match="bound to checkpoint"):
        stream_aggregate_state(
            _read_stream(spark, drop), state, str(tmp_path / "ckpt2"), ["k"], "value"
        )


def test_stream_state_crash_between_write_and_flip_rolls_forward(spark, tmp_path):
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_batch,
        read_state,
        stream_aggregate_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    _drop_events(drop, "c1.json", [{"k": "a", "value": 1.0, "uid": 1}])
    q = stream_aggregate_state(
        _read_stream(spark, drop), state, str(tmp_path / "ckpt"), ["k"], "value"
    )
    q.awaitTermination(60)
    # simulate the crash: pointer lost after the snapshot was written
    os.remove(os.path.join(state, "_LATEST"))
    assert read_state(spark, state) is None
    # at-least-once redelivery of the SAME batch (same lineage, same
    # composition) completes the flip without recomputing — exercised
    # at the unit level against the extracted sink body
    batch = spark.read.schema("k string, value double, uid long").json(drop)
    _apply_batch(batch, 0, state, ["k"], "value")
    st = read_state(spark, state)
    assert st is not None
    rows = finalize_state(st, ["k"]).collect()
    assert rows[0].n == 1 and rows[0].sum_value == 1.0


def test_stream_state_replay_after_commit_without_success_marker(
    spark, tmp_path
):
    # replay AFTER the pointer flip, with the _SUCCESS marker gone
    # (committer configured with marksuccessfuljobs=false, or a cleanup
    # tool removed it): the committed pointer alone must prove the
    # batch is folded in — recomputing here would merge prev (already
    # containing the batch) with the batch again and double-count
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_batch,
        read_state,
        stream_aggregate_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    _drop_events(drop, "c1.json", [{"k": "a", "value": 1.0, "uid": 1}])
    q = stream_aggregate_state(
        _read_stream(spark, drop), state, str(tmp_path / "ckpt"), ["k"], "value"
    )
    q.awaitTermination(60)
    os.remove(os.path.join(state, "v0", "_SUCCESS"))
    batch = spark.read.schema("k string, value double, uid long").json(drop)
    _apply_batch(batch, 0, state, ["k"], "value")
    rows = finalize_state(read_state(spark, state), ["k"]).collect()
    assert rows[0].n == 1 and rows[0].sum_value == 1.0


@pytest.mark.slow
def test_stream_histogram_state_merge_of_batches_equals_batch_of_union(
    spark, tmp_path
):
    # VERDICT r6 Next #7: the streaming percentile monitor. Three
    # micro-batches fold into the persisted histogram state; the
    # percentile over the streamed state must equal (bit-exactly) the
    # one-pass histogram over the union of all rows — and the fold must
    # survive both crash windows of the commit protocol.
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_percentile,
        histogram_state,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_histogram_batch,
        read_state,
        stream_histogram_state,
    )

    LO, HI, NB = 0.0, 100.0, 20
    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [{"k": "a", "value": 5.0, "uid": 1},
         {"k": "a", "value": 42.0, "uid": 2},
         {"k": "b", "value": 99.9, "uid": 3}],
        [{"k": "a", "value": 55.0, "uid": 4},
         {"k": "b", "value": -3.0, "uid": 5},   # below-range mass
         {"k": "b", "value": 250.0, "uid": 6}],  # above-range mass
        [{"k": "a", "value": 77.5, "uid": 7},
         {"k": "c", "value": 0.0, "uid": 8}],
    ]
    for i, rows in enumerate(batches):
        _drop_events(drop, f"c{i}.json", rows)
        q = stream_histogram_state(
            _read_stream(spark, drop), state, ckpt, ["k"], "value",
            LO, HI, NB,
        )
        q.awaitTermination(60)

    st = read_state(spark, state)
    union = spark.createDataFrame(
        [(r["k"], r["value"]) for b in batches for r in b],
        "k string, value double",
    )
    one_pass = histogram_state(union, ["k"], "value", LO, HI, NB)
    for p in (0.5, 0.9):
        got = sorted(
            tuple(r)
            for r in histogram_percentile(st, ["k"], p, LO, HI).collect()
        )
        want = sorted(
            tuple(r)
            for r in histogram_percentile(one_pass, ["k"], p, LO, HI).collect()
        )
        assert got == want  # estimate(merge-of-batches) == estimate(union)

    # crash window 1: pointer lost after snapshot write — redelivery
    # rolls the flip forward without recomputing
    last = max(
        int(d[1:]) for d in os.listdir(state) if d.startswith("v")
    )
    os.remove(os.path.join(state, "_LATEST"))
    batch = spark.createDataFrame(
        [(r["k"], r["value"]) for r in batches[-1]], "k string, value double"
    )
    _apply_histogram_batch(batch, last, state, ["k"], "value", LO, HI, NB)
    # crash window 2: _SUCCESS gone after the pointer flip — the
    # committed pointer alone must prove the batch is folded in
    os.remove(os.path.join(state, f"v{last}", "_SUCCESS"))
    _apply_histogram_batch(batch, last, state, ["k"], "value", LO, HI, NB)
    replayed = sorted(
        tuple(r)
        for r in histogram_percentile(
            read_state(spark, state), ["k"], 0.9, LO, HI
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in histogram_percentile(one_pass, ["k"], 0.9, LO, HI).collect()
    )
    assert replayed == want  # no double-count through either window


def test_stream_cms_state_equals_union_build(spark, tmp_path):
    # third mergeable state behind the shared commit protocol: the
    # streamed CMS must equal the one-pass sketch of the union CELL
    # FOR CELL (counts add exactly), and probes through it match
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        cms_probe,
        cms_state,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        read_state,
        stream_cms_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [{"k": "alpha", "value": 1.0, "uid": 1},
         {"k": "alpha", "value": 1.0, "uid": 2},
         {"k": "beta", "value": 1.0, "uid": 3}],
        [{"k": "alpha", "value": 1.0, "uid": 4},
         {"k": "gamma", "value": 1.0, "uid": 5}],
    ]
    for i, rows in enumerate(batches):
        _drop_events(drop, f"c{i}.json", rows)
        q = stream_cms_state(
            _read_stream(spark, drop), state, ckpt, "k",
            depth=3, width=64,
        )
        q.awaitTermination(60)

    st = read_state(spark, state)
    union = spark.createDataFrame(
        [(r["k"],) for b in batches for r in b], "k string"
    )
    want = {
        (r.j, r.cell): r.cnt
        for r in cms_state(union, "k", depth=3, width=64).collect()
    }
    got = {(r.j, r.cell): r.cnt for r in st.collect()}
    assert got == want  # cell-for-cell, not just estimates
    items = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("never",)], "k string"
    )
    est = {
        r.item: r.cms_estimate
        for r in cms_probe(st, items, "k", depth=3, width=64).collect()
    }
    # one-sided guarantee: estimate >= truth; tiny domain -> exact here
    assert est["alpha"] >= 3 and est["beta"] >= 1 and est["gamma"] >= 1
    # replay after pointer loss must not double-count
    os.remove(os.path.join(state, "_LATEST"))
    batch = spark.createDataFrame(
        [(r["k"],) for r in batches[-1]], "k string"
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_state_batch,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        merge_cms_states,
    )

    _apply_state_batch(
        batch, 1, state,
        lambda b: cms_state(b, "k", 3, 64),
        lambda p, n: merge_cms_states([p, n]),
    )
    again = {
        (r.j, r.cell): r.cnt for r in read_state(spark, state).collect()
    }
    assert again == want


def test_state_and_lsh_markers_work_through_file_scheme_hadoop_paths(
    spark, tmp_path
):
    # VERDICT r7 Next #3: pointer/marker IO goes through the Hadoop
    # FileSystem API, so a scheme-carrying state/marker location (here
    # file:, the in-container stand-in for hdfs:/s3a:) must behave
    # exactly like a bare local path — including the pointer-loss
    # replay and the per-table LSH append markers.
    import os
    import uuid

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        append_lsh_index,
        persist_lsh_index,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_batch,
        read_state,
        stream_aggregate_state,
    )

    drop = str(tmp_path / "drop")
    state = f"file://{tmp_path}/state"  # scheme-carrying Hadoop path
    ckpt = f"file://{tmp_path}/ckpt"
    _drop_events(drop, "b0.json", [
        {"k": "a", "value": 1.0, "uid": 1},
        {"k": "b", "value": 2.0, "uid": 2},
    ])
    q = stream_aggregate_state(_read_stream(spark, drop), state, ckpt, ["k"], "value")
    q.awaitTermination(60)
    _drop_events(drop, "b1.json", [{"k": "a", "value": 3.0, "uid": 3}])
    q = stream_aggregate_state(_read_stream(spark, drop), state, ckpt, ["k"], "value")
    q.awaitTermination(60)

    got = {
        r.k: float(r.sum_value)
        for r in finalize_state(read_state(spark, state), ["k"]).collect()
    }
    assert got == {"a": 4.0, "b": 2.0}
    # the pointer really lives at the scheme-resolved location
    local_state = str(tmp_path / "state")
    assert os.path.exists(os.path.join(local_state, "_LATEST"))
    # pointer-loss replay through the Hadoop path: no double count
    os.remove(os.path.join(local_state, "_LATEST"))
    batch = spark.createDataFrame([("a", 3.0)], "k string, value double")
    _apply_batch(batch, 1, state, ["k"], "value")
    again = {
        r.k: float(r.sum_value)
        for r in finalize_state(read_state(spark, state), ["k"]).collect()
    }
    assert again == got

    # LSH append markers through a file:-scheme marker_dir
    prefix = f"lsh_fsuri_{uuid.uuid4().hex[:10]}"
    persist_lsh_index(
        spark.createDataFrame([], "doc_id long, text string"), prefix
    )
    docs = spark.createDataFrame(
        [(1, "tokens repeated across this deterministic test document "
             "long enough to shingle")],
        "doc_id long, text string",
    )
    mdir = f"file://{tmp_path}/markers"
    try:
        append_lsh_index(docs, prefix, marker_dir=mdir, marker_key="0")
        b1 = spark.table(f"{prefix}_bands").count()
        s1 = spark.table(f"{prefix}_sets").count()
        assert b1 > 0 and s1 == 1
        assert os.path.exists(str(tmp_path / "markers" / "0.bands"))
        # replay: both markers found through the scheme — no re-append
        append_lsh_index(docs, prefix, marker_dir=mdir, marker_key="0")
        assert spark.table(f"{prefix}_bands").count() == b1
        assert spark.table(f"{prefix}_sets").count() == s1
    finally:
        for suffix in ("bands", "sets"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{suffix}")


@pytest.mark.slow
def test_mg_summary_interval_and_heavy_presence(spark):
    # the MG guarantee: cnt <= true <= cnt + n/k for every stored item,
    # and every item with true count > n/k is PRESENT in the summary
    import collections

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        mg_probe,
        mg_summary,
    )

    rows = (["hot"] * 400 + ["warm"] * 120
            + [f"cold{i}" for i in range(480)])
    truth = collections.Counter(rows)
    n, k = len(rows), 10
    df = spark.createDataFrame([(r,) for r in rows], "v string")
    state = mg_summary(df, "v", k=k)
    stored = state.where("item is not null").collect()
    assert len(stored) <= k - 1
    sentinel = state.where("item is null").collect()
    assert len(sentinel) == 1 and sentinel[0].cnt == n
    for r in stored:
        assert r.cnt <= truth[r.item] <= r.cnt + n / k, r
    items = {r.item for r in stored}
    for it, c in truth.items():
        if c > n / k:
            assert it in items, f"heavy {it} missing"
    probe = {r.item: (r.est_floor, r.est_ceil)
             for r in mg_probe(state, k=k).collect()}
    for it, (lo, hi) in probe.items():
        assert lo <= truth[it] <= hi


@pytest.mark.slow
def test_mg_merge_preserves_summed_bound(spark):
    import collections

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        merge_mg_summaries,
        mg_summary,
    )

    a_rows = ["x"] * 50 + ["y"] * 30 + [f"a{i}" for i in range(40)]
    b_rows = ["x"] * 40 + ["z"] * 35 + [f"b{i}" for i in range(45)]
    truth = collections.Counter(a_rows + b_rows)
    n, k = len(a_rows) + len(b_rows), 8
    a = mg_summary(
        spark.createDataFrame([(r,) for r in a_rows], "v string"), "v", k=k
    )
    b = mg_summary(
        spark.createDataFrame([(r,) for r in b_rows], "v string"), "v", k=k
    )
    merged = merge_mg_summaries([a, b], k=k)
    stored = merged.where("item is not null").collect()
    assert len(stored) <= k - 1
    assert merged.where("item is null").collect()[0].cnt == n
    for r in stored:
        assert r.cnt <= truth[r.item] <= r.cnt + n / k
    items = {r.item for r in stored}
    for it, c in truth.items():
        if c > n / k:
            assert it in items


@pytest.mark.slow
def test_stream_mg_state_tracks_heavy_keys(spark, tmp_path):
    # fifth mergeable state: the committed snapshot satisfies the MG
    # interval over EVERYTHING ingested, heavy keys are present, and a
    # pointer-loss replay of the last batch changes nothing
    import collections
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        merge_mg_summaries,
        mg_summary,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_state_batch,
        read_state,
        stream_mg_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [{"k": "hot", "value": 1.0, "uid": i} for i in range(30)]
        + [{"k": f"c{i}", "value": 1.0, "uid": 100 + i} for i in range(20)],
        [{"k": "hot", "value": 1.0, "uid": 200 + i} for i in range(25)]
        + [{"k": "warm", "value": 1.0, "uid": 300 + i} for i in range(18)]
        + [{"k": f"d{i}", "value": 1.0, "uid": 400 + i} for i in range(15)],
    ]
    for i, rows in enumerate(batches):
        _drop_events(drop, f"m{i}.json", rows)
        q = stream_mg_state(
            _read_stream(spark, drop), state, ckpt, "k", k=6
        )
        q.awaitTermination(60)

    truth = collections.Counter(
        r["k"] for b in batches for r in b
    )
    n = sum(truth.values())
    st = read_state(spark, state)
    stored = st.where("item is not null").collect()
    assert len(stored) <= 5
    assert st.where("item is null").collect()[0].cnt == n
    for r in stored:
        assert r.cnt <= truth[r.item] <= r.cnt + n / 6
    items = {r.item for r in stored}
    for it, c in truth.items():
        if c > n / 6:
            assert it in items, f"heavy {it} missing from streamed state"

    # pointer-loss replay: the committed v1 snapshot is found via
    # _SUCCESS, never re-folded — state bit-identical afterwards
    before = sorted(map(repr, st.collect()))
    os.remove(os.path.join(state, "_LATEST"))
    batch = spark.createDataFrame(
        [(r["k"],) for r in batches[-1]], "k string"
    )
    _apply_state_batch(
        batch, 1, state,
        lambda b: mg_summary(b, "k", 6),
        lambda p, nw: merge_mg_summaries([p, nw], 6),
    )
    after = sorted(map(repr, read_state(spark, state).collect()))
    assert after == before


def test_cms_probe_matches_build_side_item_semantics(spark):
    # ADVICE r7: the probe must hash the SAME string-cast, NULL-filtered
    # item the build hashes — NULL probes were emitted as an
    # (item=NULL, estimate=0) row the build side never counted, and
    # non-string probe columns relied on concat's implicit cast
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        cms_probe,
        cms_state,
    )

    build = spark.createDataFrame(
        [(5,), (5,), (7,), (None,)], "v int"
    )
    st = cms_state(build, "v", depth=3, width=64)
    probes = spark.createDataFrame(
        [(5,), (7,), (None,), (9,)], "v int"
    )
    got = {
        r.item: r.cms_estimate
        for r in cms_probe(st, probes, "v", depth=3, width=64).collect()
    }
    assert None not in got  # NULL probes excluded, as on the build side
    assert set(got) == {"5", "7", "9"}
    # int probes hash identically to the build's cast('string') items
    assert got["5"] >= 2 and got["7"] >= 1 and got["9"] >= 0


def test_vacuum_state_keeps_pointer_and_recent(spark, tmp_path):
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        read_state,
        stream_aggregate_state,
        vacuum_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for i in range(4):
        _drop_events(drop, f"c{i}.json", [{"k": "a", "value": float(i), "uid": i}])
        q = stream_aggregate_state(
            _read_stream(spark, drop), state, ckpt, ["k"], "value"
        )
        q.awaitTermination(60)
    assert sorted(d for d in os.listdir(state) if d.startswith("v")) == [
        "v0", "v1", "v2", "v3",
    ]
    removed = vacuum_state(state, keep_last=2)
    assert [os.path.basename(p) for p in removed] == ["v0", "v1"]
    # current state still reads fine and carries all four batches
    rows = finalize_state(read_state(spark, state), ["k"]).collect()
    assert rows[0].n == 4 and rows[0].sum_value == 6.0
    # idempotent
    assert vacuum_state(state, keep_last=2) == []


@pytest.mark.slow
def test_histogram_state_merge_equals_single_pass(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_percentile,
        histogram_state,
        merge_histogram_states,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    LO, HI, NB = 0.0, 512.0, 32
    parts = [
        histogram_state(
            ev.filter(F.col("event_id") % 3 == r),
            ["event_type"], "value", LO, HI, NB,
        )
        for r in range(3)
    ]
    single = histogram_state(ev, ["event_type"], "value", LO, HI, NB)
    for order in ([0, 1, 2], [2, 0, 1]):  # merge order must not matter
        merged = merge_histogram_states([parts[i] for i in order], ["event_type"])
        got = sorted(
            tuple(r)
            for r in histogram_percentile(
                merged, ["event_type"], 0.75, LO, HI
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in histogram_percentile(
                single, ["event_type"], 0.75, LO, HI
            ).collect()
        )
        assert got == want  # bit-exact, not approximately


def test_histogram_state_out_of_range_mass_is_counted(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_percentile,
        histogram_state,
    )

    df = spark.createDataFrame(
        [("k", -5.0), ("k", 1.0), ("k", 2.0), ("k", 3.0), ("k", 99.0)],
        "k string, v double",
    )
    st = histogram_state(df, ["k"], "v", lo=0.0, hi=4.0, n_bins=4)
    r = st.collect()[0]
    assert (r.below, r.above, r.n) == (1, 1, 5)
    assert sum(r.bins) == 3  # only in-range mass in the bins
    # p=1.0 of the in-range mass interpolates inside [3,4)
    est = histogram_percentile(st, ["k"], 1.0, 0.0, 4.0).collect()[0]
    assert 3.0 <= est.pct <= 4.0


def test_histogram_state_wide_bins_no_codegen_blowup(spark):
    # VERDICT r6 Next #6: above _INLINE_BINS the state switches to the
    # bin-as-data form (constant expression tree, one extra shuffle of
    # bin-count rows only). n_bins=1024 must (a) run — the inline form
    # at 1024 sum columns risks Janino codegen blowup — and (b) agree
    # EXACTLY with the inline form's semantics: each wide bin of 4
    # inline bins' worth of mass sums to the rebinned inline counts,
    # and below/above/n are identical.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        _INLINE_BINS,
        histogram_percentile,
        histogram_state,
        merge_histogram_states,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    LO, HI = 0.0, 512.0
    assert 1024 > _INLINE_BINS
    wide = histogram_state(ev, ["event_type"], "value", LO, HI, 1024)
    inline = histogram_state(ev, ["event_type"], "value", LO, HI, 64)
    w = {r.event_type: r for r in wide.collect()}
    i = {r.event_type: r for r in inline.collect()}
    assert set(w) == set(i)
    for k in w:
        assert (w[k].below, w[k].above, w[k].n) == (
            i[k].below, i[k].above, i[k].n,
        )
        assert len(w[k].bins) == 1024
        # 16 consecutive wide bins == 1 inline bin (same [lo, hi) line)
        rebin = [sum(w[k].bins[16 * b : 16 * b + 16]) for b in range(64)]
        assert rebin == list(i[k].bins)
    # a pure-Python exact histogram agrees bin-for-bin
    vals = [
        r.value
        for r in ev.select("event_type", "value").collect()
        if r.event_type == next(iter(w)) and r.value is not None
        and r.value == r.value
    ]
    import math

    want = [0] * 1024
    below = above = 0
    for v in vals:
        if v < LO:
            below += 1
        elif v >= HI:
            above += 1
        else:
            want[min(int(math.floor((v - LO) / ((HI - LO) / 1024))), 1023)] += 1
    kk = next(iter(w))
    assert list(w[kk].bins) == want
    assert (w[kk].below, w[kk].above) == (below, above)
    # wide states still merge and estimate identically to one pass
    parts = [
        histogram_state(
            ev.filter(F.col("event_id") % 2 == r),
            ["event_type"], "value", LO, HI, 1024,
        )
        for r in range(2)
    ]
    merged = merge_histogram_states(parts, ["event_type"])
    got = sorted(
        tuple(r)
        for r in histogram_percentile(merged, ["event_type"], 0.9, LO, HI).collect()
    )
    want_p = sorted(
        tuple(r)
        for r in histogram_percentile(wide, ["event_type"], 0.9, LO, HI).collect()
    )
    assert got == want_p


def test_histogram_state_all_out_of_range_key_has_zero_bins(spark):
    # r7 regression: a key whose batch is ENTIRELY below/above range
    # used to emit sum(all-NULL) = NULL bins from the inline form,
    # which poisoned every later merge (zip_with NULL propagation) and
    # crashed the percentile on an empty cum array
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_percentile,
        histogram_state,
        merge_histogram_states,
    )

    only_out = spark.createDataFrame(
        [("b", -3.0), ("b", 250.0)], "k string, value double"
    )
    st = histogram_state(only_out, ["k"], "value", 0.0, 100.0, 5)
    r = st.collect()[0]
    assert list(r.bins) == [0, 0, 0, 0, 0]
    assert (r.below, r.above, r.n) == (1, 1, 2)
    # merging with an in-range state must preserve its mass exactly
    in_range = spark.createDataFrame(
        [("b", 99.9)], "k string, value double"
    )
    s1 = histogram_state(in_range, ["k"], "value", 0.0, 100.0, 5)
    m = merge_histogram_states([s1, st], ["k"]).collect()[0]
    assert list(m.bins) == [0, 0, 0, 0, 1]
    assert (m.below, m.above, m.n) == (1, 1, 3)
    est = histogram_percentile(
        merge_histogram_states([s1, st], ["k"]), ["k"], 0.5, 0.0, 100.0
    ).collect()[0]
    assert 80.0 <= est.pct <= 100.0  # the single in-range row's bin


def test_histogram_state_rejects_bad_spec(spark):
    import pytest

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_state,
    )

    df = spark.createDataFrame([("k", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        histogram_state(df, ["k"], "v", lo=4.0, hi=4.0, n_bins=4)
    with pytest.raises(ValueError):
        histogram_state(df, ["k"], "v", lo=0.0, hi=4.0, n_bins=0)


def test_histogram_state_fp_edge_nan_and_huge_values(spark):
    # review r6 second pass: (1) a value at the FP edge just below hi
    # must land in the LAST bin, not vanish; (2) NaN is excluded, not
    # double-counted into bin 0 + above; (3) huge values go to above
    # without an int-cast overflow
    import math

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_percentile,
        histogram_state,
    )

    hi = 760.9501280644452
    edge = math.nextafter(hi, 0)
    df = spark.createDataFrame(
        [
            ("k", edge),
            ("k", float("nan")),
            ("k", 8.0 * 2**32),
            ("k", 1.0),
        ],
        "k string, v double",
    )
    st = histogram_state(df, ["k"], "v", lo=0.0, hi=hi, n_bins=75)
    r = st.collect()[0]
    assert r.n == 3  # NaN excluded entirely
    assert r.above == 1 and r.below == 0
    assert sum(r.bins) == 2 and r.bins[-1] == 1  # edge value in last bin
    est = histogram_percentile(st, ["k"], 1.0, 0.0, hi).collect()[0]
    assert est.pct <= hi  # p=1.0 no longer crashes on the edge state


def test_histogram_merge_rejects_mismatched_bins_and_bad_p(spark):
    import pytest

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_percentile,
        histogram_state,
        merge_histogram_states,
    )

    df = spark.createDataFrame([("k", 1.0)], "k string, v double")
    a = histogram_state(df, ["k"], "v", 0.0, 4.0, n_bins=4)
    b = histogram_state(df, ["k"], "v", 0.0, 4.0, n_bins=8)
    with pytest.raises(ValueError, match="different bin counts"):
        merge_histogram_states([a, b], ["k"])
    with pytest.raises(ValueError, match="percentile p"):
        histogram_percentile(a, ["k"], 1.05, 0.0, 4.0)


def test_stream_bloom_state_equals_union_build(spark, tmp_path):
    # fourth mergeable state: the streamed Bloom bit set must equal
    # bloom_build over the union BIT FOR BIT (OR is set union), probes
    # admit every seen key (no false negatives), and a crash replay
    # after pointer loss must not corrupt the set (union is idempotent
    # — but the commit protocol is still what prevents a partial
    # snapshot from serving)
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_state_batch,
        read_state,
        stream_bloom_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [{"k": "alpha", "value": 1.0, "uid": 1},
         {"k": "beta", "value": 1.0, "uid": 2}],
        [{"k": "gamma", "value": 1.0, "uid": 3},
         {"k": "alpha", "value": 1.0, "uid": 4}],
    ]
    for i, rows in enumerate(batches):
        _drop_events(drop, f"c{i}.json", rows)
        q = stream_bloom_state(
            _read_stream(spark, drop), state, ckpt, "k", m=512, k=3
        )
        q.awaitTermination(60)

    st = read_state(spark, state)
    union = spark.createDataFrame(
        [(r["k"],) for b in batches for r in b], "k string"
    )
    want = {r.pos for r in bloom_build(union, "k", m=512, k=3).collect()}
    got = {r.pos for r in st.collect()}
    assert got == want  # bit for bit

    cands = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("zeta_unseen",)], "k string"
    )
    admitted = {
        r.k for r in bloom_probe(cands, st, "k", m=512, k=3).collect()
    }
    assert {"alpha", "beta", "gamma"} <= admitted  # no false negatives

    # replay batch 1 after pointer loss: the set must stay identical
    os.remove(os.path.join(state, "_LATEST"))
    batch = spark.createDataFrame(
        [(r["k"],) for r in batches[-1]], "k string"
    )
    _apply_state_batch(
        batch, 1, state,
        lambda b: bloom_build(b, "k", 512, 3),
        lambda p, n: p.unionByName(n).distinct(),
    )
    assert {r.pos for r in read_state(spark, state).collect()} == want


def test_minhash_state_matches_python_reference_and_merges_exactly(spark):
    import hashlib

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        MH_MOD,
        minhash_params,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        merge_minhash_states,
        minhash_state,
    )

    def ref_sig(items, j):
        a, b = minhash_params(j)
        return min(
            (a * int(hashlib.md5(x.encode()).hexdigest()[:8], 16) + b)
            % MH_MOD
            for x in items
        )

    rows = [("A", "u1"), ("A", "u2"), ("A", "u1"), ("B", "u2")]
    df = spark.createDataFrame(rows, "k string, item string")
    st = minhash_state(df, ["k"], "item", n_hashes=4)
    got = {(r.k, r.j): r.sig for r in st.collect()}
    for j in range(4):
        assert got[("A", j)] == ref_sig(["u1", "u2"], j)  # dup u1 ignored
        assert got[("B", j)] == ref_sig(["u2"], j)
    # merge of split halves == build of union, cell for cell
    h1 = minhash_state(df.where(df.item == "u1"), ["k"], "item", 4)
    h2 = minhash_state(df.where(df.item == "u2"), ["k"], "item", 4)
    merged = {
        (r.k, r.j): r.sig
        for r in merge_minhash_states([h1, h2], ["k"]).collect()
    }
    assert merged == got


def test_minhash_state_jaccard_identical_and_disjoint_sets(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        minhash_state,
        minhash_state_jaccard,
    )

    rows = (
        [("A", f"u{i}") for i in range(20)]
        + [("B", f"u{i}") for i in range(20)]      # B == A
        + [("C", f"w{i}") for i in range(20)]      # C disjoint
    )
    df = spark.createDataFrame(rows, "k string, item string")
    st = minhash_state(df, ["k"], "item", n_hashes=16)
    got = {
        (r.key_a, r.key_b): (r.n_agree, r.jhat)
        for r in minhash_state_jaccard(st, "k", 16).collect()
    }
    assert got[("A", "B")] == (16, 1.0)  # identical sets: every component
    assert got[("A", "C")][1] <= 0.25    # disjoint: only hash collisions


def test_stream_minhash_state_equals_union_build(spark, tmp_path):
    # sixth mergeable state behind the shared commit protocol: the
    # streamed signatures must equal the one-pass build over the union
    # CELL FOR CELL (min is orderless and idempotent)
    import os

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        merge_minhash_states,
        minhash_state,
        minhash_state_jaccard,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming.agg_stream import (
        _apply_state_batch,
        read_state,
        stream_minhash_state,
    )

    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [{"k": "alpha", "value": 1.0, "uid": 1},
         {"k": "alpha", "value": 1.0, "uid": 2},
         {"k": "beta", "value": 1.0, "uid": 2}],
        [{"k": "alpha", "value": 1.0, "uid": 2},
         {"k": "beta", "value": 1.0, "uid": 5}],
    ]
    for i, rows in enumerate(batches):
        _drop_events(drop, f"m{i}.json", rows)
        q = stream_minhash_state(
            _read_stream(spark, drop), state, ckpt, ["k"], "uid",
            n_hashes=8,
        )
        q.awaitTermination(60)

    st = read_state(spark, state)
    union = spark.createDataFrame(
        [(r["k"], r["uid"]) for b in batches for r in b],
        "k string, uid long",
    )
    want = {
        (r.k, r.j): r.sig
        for r in minhash_state(union, ["k"], "uid", 8).collect()
    }
    got = {(r.k, r.j): r.sig for r in st.collect()}
    assert got == want
    # the state answers the between-key overlap question
    sim = minhash_state_jaccard(st, "k", 8).collect()
    assert len(sim) == 1 and sim[0].key_a == "alpha"
    # replay after pointer loss must be a no-op on the values
    os.remove(os.path.join(state, "_LATEST"))
    batch = spark.createDataFrame(
        [(r["k"], r["uid"]) for r in batches[-1]], "k string, uid long"
    )
    _apply_state_batch(
        batch, 1, state,
        lambda b: minhash_state(b, ["k"], "uid", 8),
        lambda p, n: merge_minhash_states([p, n], ["k"]),
    )
    again = {(r.k, r.j): r.sig for r in read_state(spark, state).collect()}
    assert again == want
