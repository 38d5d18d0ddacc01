"""Round-14 operator tests.

Covers the r13 ADVICE closures — the NaN-above-+inf tiebreak in the
per-batch top-k cut, and the degenerate-centroid guard that keeps the
IVF family's hash-exact oracle claim honest (investigation note: the
advisor's premise that the oracle ranks NaN FIRST does not hold on the
zero-norm path — DuckDB's ``/`` yields NULL on zero divisors and sorts
NULLs LAST under ``ORDER BY cos DESC``, so the only safe contract is
to refuse degenerate centroid heads loudly, the advisor's option A) —
plus the r14 additions.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _emb_df(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


# ---------------------------------------------- ADVICE r13 #1 (low)


def test_batch_topk_cut_nan_above_inf_adverse_ids():
    # ADVICE r13 repro: both NaN and +inf map to the same -inf value
    # key, so before the fix the neighbor-id tiebreak decided between
    # them — a +inf row with a SMALLER id outranked a NaN row at the
    # k boundary, the opposite of Spark's NaN-greatest window order.
    # The r13 unit test missed it because its NaN row happened to
    # hold the smaller id; this one pins the adverse assignment.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        _batch_topk_cut,
    )

    qids = np.array([1, 1], dtype=np.int64)
    nids = np.array([10, 11], dtype=np.int64)  # +inf gets the small id
    sim = np.array([np.inf, np.nan])
    keep = _batch_topk_cut(qids, nids, sim, k=1)
    assert list(nids[keep]) == [11]  # NaN strictly above +inf
    # at k=2 both survive
    keep2 = _batch_topk_cut(qids, nids, sim, k=2)
    assert sorted(nids[keep2]) == [10, 11]
    # multiple NaNs tie among themselves by id asc, still above +inf
    q3 = np.zeros(3, dtype=np.int64)
    n3 = np.array([9, 7, 8], dtype=np.int64)
    s3 = np.array([np.nan, np.inf, np.nan])
    keep3 = _batch_topk_cut(q3, n3, s3, k=2)
    assert sorted(n3[keep3]) == [8, 9]


# ---------------------------------------------- ADVICE r13 #2 (low)


def test_degenerate_centroid_head_refused(spark):
    # a zero-norm (or NaN-bearing) row inside the centroid head makes
    # its cosine NaN in the numpy kernels but NULL in the oracle SQL,
    # and the two rank a mixed NaN/finite probe column differently —
    # the hash-exact claim cannot hold, so the whole head-sample IVF
    # family must refuse loudly rather than silently probe different
    # cells than its oracle.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
        similarity as S,
    )

    dims = 8
    rows = []
    for i in range(20):
        v = [0.0] * dims
        if i != 3:  # id 3: zero-norm row INSIDE the 16-row head
            v[i % dims] = 1.0 + (i % 5)
        rows.append((i, v))
    emb = _emb_df(spark, rows)
    for kern in (
        S.ivf_sq8_mips_topk,
        S.ivf_sq8r_mips_topk,
        S.ann_ivf_topk,
    ):
        with pytest.raises(ValueError, match="degenerate centroid head"):
            kern(
                emb, F.col("vec_id") < 8, k=5, n_centroids=16,
                n_probe=4, dims=dims,
            )
    # the kernels that only assign (no probe) share the same head and
    # refuse it too: an all-NaN cosine column would otherwise win every
    # argmax and pull the corpus into the degenerate row's cell
    with pytest.raises(ValueError, match="degenerate centroid head"):
        S.cluster_assign_stats(emb, n_centroids=16, dims=dims).collect()
    with pytest.raises(ValueError, match="degenerate centroid head"):
        S.semantic_cell_pairs(emb, n_centroids=8, dims=dims).collect()
    # NaN component inside the head is refused the same way
    nan_rows = [(i, r[1][:]) for i, r in enumerate(rows)]
    nan_rows[3] = (3, [float("nan")] * dims)
    with pytest.raises(ValueError, match="degenerate centroid head"):
        S.ivf_sq8_mips_topk(
            _emb_df(spark, nan_rows), F.col("vec_id") < 8,
            k=5, n_centroids=16, n_probe=4, dims=dims,
        )


def test_angular_probes_all_nan_query_ties_by_cid(spark):
    # with the guard in place the ONE reachable NaN shape is an
    # all-NaN probe row (zero-norm QUERY): np.lexsort's stable
    # fallback to the c_ids key must give cid-ascending — identical
    # to the oracle's ORDER BY cos DESC, cid over an all-NULL column
    # (NULLs last, ties by cid).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        _angular_probes,
        _ordered_norms,
    )

    c_ids = np.array([0, 1, 2, 3], dtype=np.int64)
    c_mat = np.eye(4)
    out = _angular_probes(
        spark,
        np.array([200], dtype=np.int64),
        np.zeros((1, 4)),
        c_ids,
        c_mat,
        _ordered_norms(c_mat),
        2,
    ).toPandas()
    assert sorted(out["cluster"]) == [0, 1]


def _zero_tail_corpus(spark, dims=8, n=20):
    """20 vectors, ids 0..19, nonzero head, with a ZERO vector at
    id 16 — OUTSIDE the n_centroids=16 head and the vec_id<8 query
    set, so the guard admits it and the corpus-ASSIGNMENT NaN row
    (argmax over all-NaN cosines) is the live degenerate path."""
    rows = []
    for i in range(n):
        v = [0.0] * dims
        if i != 16:
            v[i % dims] = 1.0 + (i % 5)
            v[(i + 3) % dims] = 0.25 * (i % 7)
        rows.append((i, v))
    return _emb_df(spark, rows)


@pytest.mark.parametrize(
    "qname", ["ann_ivf_sq8_mips_topk", "ann_ivf_sq8r_mips_topk"]
)
def test_sq8_oracle_parity_zero_norm_corpus_row(spark, qname):
    # end-to-end differential on the admissible degenerate shape: a
    # zero-norm NON-centroid corpus row. Kernel assignment sees an
    # all-NaN cosine row (np.argmax returns the first index → smallest
    # cid); the oracle sees an all-NULL column (NULLs-last DESC ties →
    # smallest cid) — both must land it in the same cell and score it
    # sim = 0 exactly, row-for-row against the REGISTERED oracle SQL.
    import duckdb

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
        similarity as S,
    )

    dims = 8
    emb = _zero_tail_corpus(spark, dims=dims)
    kern = (
        S.ivf_sq8_mips_topk
        if qname == "ann_ivf_sq8_mips_topk"
        else S.ivf_sq8r_mips_topk
    )
    got = kern(
        emb, F.col("vec_id") < 8, k=5, n_centroids=16, n_probe=4, dims=dims
    ).toPandas()
    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    want = con.execute(entry_mod.oracle_sql()[qname]).fetchdf()
    assert len(got) == len(want) > 0
    for c in want.columns:
        g = got[c.strip('"')].to_numpy()
        w = want[c].to_numpy()
        assert (g == w).all(), (qname, c, g, w)


# ------------------------------- binary-packed int8/SQ8 codes (r14)


def test_pack_unpack_identity():
    # the packed layout is lossless for every value the half-up
    # quantizer can emit ([-127, 127]) including the extremes, and
    # for the full int8 domain
    import pandas as pd

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        _pack_codes,
        _unpack_codes,
    )

    rng = np.random.default_rng(7)
    m = rng.integers(-127, 128, size=(50, 16), dtype=np.int64)
    m[0, :] = 127
    m[1, :] = -127
    m[2, :] = [-128] * 16  # not reachable from the quantizer, but the
    # layout itself must round-trip the whole int8 domain
    packed = _pack_codes(m)
    assert all(isinstance(b, bytes) and len(b) == 16 for b in packed)
    back = _unpack_codes(pd.Series(packed), 16)
    assert back.dtype == np.int64
    assert (back == m).all()
    # empty column -> empty matrix with the right shape
    assert _unpack_codes(pd.Series([], dtype=object), 16).shape == (0, 16)


def test_packed_code_layout_bit_identical(spark):
    # packed=True changes ONLY the storage layout of the code column
    # (array<int> -> 1-byte-per-dim binary); every scored row must be
    # bit-identical, so the packed variant inherits the array-layout
    # entry's hash-exact oracle by identity
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    flt = F.col("vec_id") < 8
    plain = S.ann_int8_mips_topk(emb, flt, k=5).collect()
    packed = S.ann_int8_mips_topk(emb, flt, k=5, packed=True).collect()
    assert len(plain) > 0
    assert [tuple(r) for r in packed] == [tuple(r) for r in plain]


def test_quantize_embeddings_packed_schema_and_width(spark):
    # the packed quantizer emits binary codes of exactly dims bytes —
    # the FAISS SQ8 1-byte/dim layout (the array<int> sibling ships
    # 4-byte elements plus list overhead)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = quantize_embeddings(emb, packed=True)
    assert dict(q.dtypes)["qcode"] == "binary"
    rows = q.limit(5).collect()
    assert all(len(r["qcode"]) == 64 for r in rows)
    # scales identical to the array-layout quantizer
    qa = quantize_embeddings(emb).select("vec_id", "scale").orderBy("vec_id")
    qb = q.select("vec_id", "scale").orderBy("vec_id")
    assert [tuple(r) for r in qa.collect()] == [tuple(r) for r in qb.collect()]


# ------------------------------ forecast model leaderboard (r14)


def _hourly_feats(spark, rows):
    """rows: (site, ts_iso_hour, pv, wind) -> features frame."""
    df = spark.createDataFrame(
        rows,
        "site string, ts_utc string, pv_est_mwh double, wind_est_mwh double",
    )
    return df.withColumn("ts_utc", F.to_timestamp("ts_utc"))


def _series(spark, fn, days=14):
    rows = [
        (
            "s1",
            f"2024-01-{d:02d} {h:02d}:00:00",
            float(fn(d - 1, h)),
            float(fn(d - 1, h)),
        )
        for d in range(1, days + 1)
        for h in range(24)
    ]
    return _hourly_feats(spark, rows)


def test_leaderboard_guard_and_schema(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    with pytest.raises(ValueError, match="n_folds"):
        model_leaderboard(_series(spark, lambda d, h: 1.0), n_folds=0)
    out = model_leaderboard(_series(spark, lambda d, h: 1.0))
    assert out.columns == [
        "site", "var", "model", "folds_evaluated", "total_n",
        "mean_mae", "rank",
    ]


def test_leaderboard_daily_drift_picks_snaive24(spark):
    # y = hour + day: snaive_24 is off by exactly 1 everywhere, the
    # weekly naive by 7, the climatology by the distance to the train
    # mean (several days) — the daily naive must champion BOTH vars
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(spark, lambda d, h: h + d)
    ).toPandas()
    champs = out[out["rank"] == 1]
    assert set(champs["model"]) == {"snaive_24"}
    assert (champs["mean_mae"] == 1.0).all()
    # all three models evaluated all four folds on this 14-day series
    assert (out["folds_evaluated"] == 4).all()
    assert set(out["model"]) == {"snaive_24", "snaive_168", "hod_mean"}


def test_leaderboard_weekly_pattern_picks_snaive168(spark):
    # y = day-of-week: the weekly naive reproduces it exactly (MAE 0)
    # while the daily naive is off whenever consecutive days differ
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(spark, lambda d, h: d % 7)
    ).toPandas()
    champs = out[out["rank"] == 1]
    assert set(champs["model"]) == {"snaive_168"}
    assert (champs["mean_mae"] == 0.0).all()
    sn24 = out[out["model"] == "snaive_24"]
    assert (sn24["mean_mae"] > 0).all()


def test_leaderboard_tie_breaks_by_model_name(spark):
    # constant series: every model is exact, mean_mae 0.0 across the
    # board — rank 1 must be the alphabetically first model name
    # (hod_mean), pinning the name-deterministic tie rule the oracle
    # relies on
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(spark, lambda d, h: 2.5)
    ).toPandas()
    assert (out["mean_mae"] == 0.0).all()
    champs = out[out["rank"] == 1]
    assert set(champs["model"]) == {"hod_mean"}


def test_leaderboard_hod_mean_train_cutoff_no_leakage(spark):
    # adversarial leakage check with exact numbers: a 100-unit spike
    # at hour 5 of the LAST day (fold 4's test window). The hod_mean
    # train cutoff for fold 4 is the fold ORIGIN (max_ts - 24 h), so
    # the spike day is excluded from its own climatology: ŷ(hour 5)
    # stays 1.0 and fold-4 MAE is exactly 100/24; a leaky cutoff
    # (train through the test window) would pull the hour-5 mean off
    # 1.0 and break the closed-form value. Earlier folds see a flat
    # series, so mean_mae = round((100/24)/4, 4) = 1.0417 — for
    # hod_mean AND snaive_24 (whose lag-24 forecast is equally
    # uncontaminated).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        model_leaderboard,
    )

    out = model_leaderboard(
        _series(
            spark,
            lambda d, h: 101.0 if (d == 13 and h == 5) else 1.0,
        )
    ).toPandas()
    for model in ("hod_mean", "snaive_24"):
        got = out[(out["model"] == model) & (out["var"] == "pv")]
        assert list(got["mean_mae"]) == [1.0417], (model, got)


def test_champion_forecast_forwards_the_winner(spark):
    # daily drift: champion is snaive_24 (proven above); the forward
    # forecast must be y(t - 24 h) for every one of the next 24 hours
    # — closed form: day-14 hour-h actual is h + 13, so the day-15
    # forecast repeats it
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
    )

    out = champion_forecast(
        _series(spark, lambda d, h: h + d)
    ).toPandas()
    assert set(out["model"]) == {"snaive_24"}
    pv = out[out["var"] == "pv"].sort_values("ts_utc")
    assert len(pv) == 24
    # series ends Jan 14 23:00 -> future window is Jan 15 00:00-23:00
    assert [t.hour for t in pv["ts_utc"]] == list(range(24))
    assert all(t.day == 15 for t in pv["ts_utc"])
    got = {t.hour: y for t, y in zip(pv["ts_utc"], pv["yhat"])}
    assert got == {h: float(h + 13) for h in range(24)}


def test_champion_forecast_constant_series_climatology(spark):
    # constant series: tie -> hod_mean champion; its climatology mean
    # is exactly the constant for all 24 future hours
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
    )

    out = champion_forecast(
        _series(spark, lambda d, h: 2.5)
    ).toPandas()
    assert set(out["model"]) == {"hod_mean"}
    assert len(out) == 2 * 24
    assert (out["yhat"] == 2.5).all()


def test_batch_topk_cut_matches_reference_order_property():
    # pure-numpy property test (no Spark round-trip, so examples are
    # cheap): against a reference ranking that literally spells the
    # engine total order — NaN group first, then sim desc (+inf at
    # the top of the finite/inf group), ties by neighbor id asc —
    # the cut must keep exactly the reference's per-query top-k set.
    # Domains are tie-saturated and NaN/±inf-heavy on purpose.
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        _batch_topk_cut,
    )

    sims = st.sampled_from(
        [float("nan"), float("inf"), float("-inf"), -1.0, 0.0, 0.0, 2.5]
    )
    rows = st.lists(
        st.tuples(st.integers(0, 2), sims), min_size=1, max_size=24
    )

    @settings(
        max_examples=200,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=rows, k=st.integers(1, 5))
    def check(rows, k):
        qids = np.array([q for q, _ in rows], dtype=np.int64)
        # neighbor ids unique per row, assigned in REVERSE so adverse
        # (small id on the hotter sim) pairings occur constantly
        nids = np.arange(len(rows), 0, -1, dtype=np.int64)
        sim = np.array([s for _, s in rows], dtype=np.float64)
        keep = _batch_topk_cut(qids, nids, sim, k)
        got = {}
        for i in keep:
            got.setdefault(qids[i], set()).add(int(nids[i]))
        for q in set(qids.tolist()):
            mask = qids == q
            order = sorted(
                zip(nids[mask], sim[mask]),
                key=lambda t: (
                    0 if math.isnan(t[1]) else 1,
                    0.0 if math.isnan(t[1]) else -t[1],
                    t[0],
                ),
            )
            want = {int(n) for n, _ in order[:k]}
            assert got.get(q, set()) == want, (q, k, list(zip(qids, nids, sim)))

    import math

    check()


# A feature-source prefix over a registered `feats` table, spliced
# onto the REGISTERED oracle's CTE chain (split off after
# _PSEUDO_FEATURES_CTE) — the model family under differential test is
# literally the registered SQL, not a restatement that could desync.
_FEATS_PREFIX = """
WITH s AS (
  SELECT site, CAST(ts_utc AS TIMESTAMP) AS ts_utc,
         pv_est_mwh, wind_est_mwh
  FROM feats
),
long AS (
  SELECT site, ts_utc, 'pv' AS var, pv_est_mwh AS y FROM s
  UNION ALL
  SELECT site, ts_utc, 'wind' AS var, wind_est_mwh AS y FROM s
)
"""


def _champion_twin_sql(name: str) -> str:
    oracle = entry_mod.oracle_sql()[name]
    prefix = entry_mod._PSEUDO_FEATURES_CTE
    assert oracle.startswith(prefix)
    return _FEATS_PREFIX + oracle[len(prefix):]


@pytest.mark.slow
def test_leaderboard_hypothesis_differential(spark):
    # adversarial differential over random series the constructed
    # cases can't cover: gappy hours (the TIME-join drop semantics),
    # tie-saturated values (rank boundaries land ON equal mean_mae
    # constantly), series too short for snaive_168 or even for any
    # fold, and non-dyadic values exercising the decimal(30,15)
    # quantization — Spark kernel vs the registered SQL chain in
    # DuckDB, value-by-value, for BOTH champion entries.
    import math

    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        champion_forecast,
        model_leaderboard,
    )

    vals = st.sampled_from([0.0, 1.0, 1.0, 2.5, -1.0, 0.1])

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        days=st.integers(2, 10),
        drop=st.sets(st.integers(0, 239), max_size=60),
        seed_vals=st.lists(vals, min_size=8, max_size=8),
        two_sites=st.booleans(),
    )
    def check(days, drop, seed_vals, two_sites):
        rows = []
        for s in ["a", "b"] if two_sites else ["a"]:
            for i in range(days * 24):
                if i in drop:
                    continue  # hour gap: joins must DROP, never shift
                d, h = divmod(i, 24)
                rows.append(
                    (
                        s,
                        f"2024-01-{d + 1:02d} {h:02d}:00:00",
                        seed_vals[(i + (7 if s == "b" else 0)) % 8],
                        seed_vals[(i + 3) % 8],
                    )
                )
        feats = _hourly_feats(spark, rows)
        con = duckdb.connect()
        con.register(
            "feats",
            feats.toPandas(),
        )
        for name, fn in [
            ("forecast_champion", model_leaderboard),
            ("forecast_champion_forward", champion_forecast),
        ]:
            got = fn(feats).toPandas()
            want = con.execute(_champion_twin_sql(name)).fetchdf()
            want.columns = [c.strip('"') for c in want.columns]
            assert list(got.columns) == list(want.columns), name
            assert len(got) == len(want), (name, len(got), len(want))
            for c in got.columns:
                for x, y in zip(got[c], want[c]):
                    if isinstance(x, float) or isinstance(y, float):
                        assert (
                            (pd_isna(x) and pd_isna(y))
                            or math.isclose(
                                float(x), float(y),
                                rel_tol=1e-9, abs_tol=1e-9,
                            )
                        ), (name, c, x, y)
                    else:
                        assert x == y, (name, c, x, y)

    import pandas as _pd

    pd_isna = _pd.isna
    check()


# --------------------------- index-resident PRF retrieval (r14)


def _fresh_index(spark, docs, prefix):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import (
        fsutil,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions import (
        text as TX,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir")
    for sfx in ("postings", "stats"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{sfx}")
        fsutil.delete(
            fsutil.join(wh, f"{prefix}_{sfx}"), recursive=True, spark=spark
        )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    TX.persist_search_index(base, prefix, batch_id="base")
    TX.append_search_index(delta, prefix, batch_id="delta")
    return TX


def test_prf_index_identity_and_replay(spark):
    # the at-scale PRF must reproduce inline bm25_prf_search
    # BIT-identically over the same ingested corpus — including after
    # a crash-replayed append (the index family's content-dedup
    # guard: replayed rows are byte-identical, so sums stay
    # exactly-once)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import (
        tables,
    )

    docs = tables.load_table(spark, "documents", SF_DIR)
    prefix = "t14_prf_idx"
    TX = _fresh_index(spark, docs, prefix)
    q = "vector stream merge window"
    inline = TX.bm25_prf_search(
        docs, q, k=20, fb_docs=10, fb_terms=5
    ).collect()
    idx = TX.prf_index_topk(
        spark, prefix, q, k=20, fb_docs=10, fb_terms=5
    ).collect()
    assert len(inline) == 20
    assert [tuple(r) for r in idx] == [tuple(r) for r in inline]
    # crash-replay: append the delta batch AGAIN with the same
    # batch_id — content dedup must keep every score identical
    TX.append_search_index(
        docs.filter(F.col("doc_id") % 5 == 0), prefix, batch_id="delta"
    )
    replayed = TX.prf_index_topk(
        spark, prefix, q, k=20, fb_docs=10, fb_terms=5
    ).collect()
    assert [tuple(r) for r in replayed] == [tuple(r) for r in inline]
    # param sweep: smaller feedback set / different k still identical
    for fb_docs, fb_terms, k in [(5, 3, 10), (10, 2, 7)]:
        a = TX.bm25_prf_search(
            docs, q, k=k, fb_docs=fb_docs, fb_terms=fb_terms
        ).collect()
        b = TX.prf_index_topk(
            spark, prefix, q, k=k, fb_docs=fb_docs, fb_terms=fb_terms
        ).collect()
        assert [tuple(r) for r in b] == [tuple(r) for r in a], (fb_docs, k)


def test_prf_index_guards_and_scan_profile(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import (
        tables,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions import (
        text as TX,
    )

    with pytest.raises(ValueError, match="non-empty query"):
        TX.prf_index_topk(spark, "whatever", "   ")
    # the audit's point, pinned as a test: the indexed PRF plan must
    # not scan the documents parquet AT ALL (corpus tokenized once at
    # ingest) — versus 28 scans in the inline plan
    import contextlib
    import io
    import re

    docs = tables.load_table(spark, "documents", SF_DIR)
    prefix = "t14_prf_scan"
    _fresh_index(spark, docs, prefix)
    df = TX.prf_index_topk(spark, prefix, "vector stream merge window")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    doc_scans = len(
        re.findall(r"Scan parquet[^\n]*documents", plan)
    )
    assert doc_scans == 0, plan[:2000]
