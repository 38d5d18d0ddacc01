"""Round-13 operator tests.

Covers the r12 ADVICE closures (float32 norm prefilter, oracle band
generation, int8 query_filter semantics), the per-bucket cap on the
LSH-pairs explodes (r12 verdict Next #4), and the IVF-SQ8 MIPS
addition (Next #6).
"""
from __future__ import annotations

import math

import numpy as np
import pytest

import __spark_entry__ as entry_mod
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
    mips_threshold_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb_df(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


# ---------------------------------------------- ADVICE r12 #1 (medium)


def test_mips_prefilter_float32_norm_boundary(spark):
    # ADVICE r12 repro: two identical vectors whose components are NOT
    # float32-exact (0.05614603 rounds), threshold set to their EXACT
    # kernel dot.  Before the fix the prefilter squared the raw
    # array<float> components in float32, accumulating ~6e-8 relative
    # error — more than the 1e-9 slack — and silently DROPPED the
    # boundary pair.  The fix widens to double before the norm fold
    # (similarity.py: norm(_vec(...))), matching the scoring kernel.
    dims = 64
    rows = [(0, [0.05614603] * dims), (1, [0.05614603] * dims)]
    emb = _emb_df(spark, rows)
    # phase 1: learn the kernel's exact sim with a slack threshold
    loose = mips_threshold_pairs(emb, threshold=0.1, dims=dims).collect()
    assert len(loose) == 1 and (loose[0]["vec_a"], loose[0]["vec_b"]) == (0, 1)
    exact_sim = loose[0]["sim"]
    # phase 2: threshold == the exact kernel dot — the pair sits
    # precisely AT the Cauchy-Schwarz bound and must survive
    tight = mips_threshold_pairs(
        emb, threshold=exact_sim, dims=dims
    ).collect()
    assert len(tight) == 1, (
        "boundary pair dropped by the prefilter — float32 norm regression"
    )
    assert tight[0]["sim"] == exact_sim
    # sanity: the components genuinely are float32-inexact (the old
    # test's 0.1875/2.0 values were exact, which hid the bug)
    assert float(np.float32(0.05614603)) != 0.05614603


# ----------------------------------------------- ADVICE r12 #3 (low)


def test_int8_mips_query_filter_references_embedding(spark):
    # ADVICE r12: query_filter used to be applied to the QUANTIZED
    # frame (vec_id/scale/qvec) — a filter referencing the embedding
    # column (legal in pq_topk/ivfadc_topk) raised unresolved-column.
    # Now it filters emb first; scale is per-vector so quantizing the
    # subset is bit-identical.
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_int8_mips_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plain = ann_int8_mips_topk(emb, F.col("vec_id") < 4, k=3).collect()
    # embedding-referencing filter (a tautology on this corpus) must
    # resolve AND give the identical result
    with_emb = ann_int8_mips_topk(
        emb,
        (F.col("vec_id") < 4) & (F.size(F.col("embedding")) == 64),
        k=3,
    ).collect()
    assert [tuple(r) for r in with_emb] == [tuple(r) for r in plain]
    assert len(plain) > 0


# ----------------------------------------------- ADVICE r12 #2 (low)


def test_oracle_band_ctes_derive_from_kernel_constants():
    # the DuckDB oracles' band CTEs are generated from the kernel's
    # SRP_BANDS/SRP_BITS (no hardcoded `& 255` / `>> 8` restatement),
    # so a constant change re-splits kernel and oracle together
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        SRP_BAND_BITS,
        SRP_BAND_MASK,
        SRP_BANDS,
        SRP_BITS,
    )

    assert SRP_BAND_BITS * SRP_BANDS == SRP_BITS
    assert SRP_BAND_MASK == (1 << SRP_BAND_BITS) - 1
    slices = entry_mod._srp_band_slices()
    assert slices == [
        (i, i * SRP_BAND_BITS, SRP_BAND_MASK) for i in range(SRP_BANDS)
    ]
    mips = entry_mod._mips_lsh_sql(0.5)
    # one band row per (band, side) — Q-role and P-role
    assert mips.count(" AS band") == SRP_BANDS * 2
    assert f"& {SRP_BAND_MASK}" in mips
    assert f">> {SRP_BAND_BITS}" in mips
    cos = entry_mod._cos_bands_cte()
    assert cos.count(" AS band") == SRP_BANDS
    assert f"& {SRP_BAND_MASK}" in cos


# -------------------------------------- hot-bucket cap (Next #4, r12)


def _pairs(df):
    return {(r["vec_a"], r["vec_b"]) for r in df.collect()}


def test_lsh_hot_bucket_cap_cosine(spark):
    # adversarial: a near-duplicate-rich corpus — 30 identical vectors
    # collapse into ONE (band, bucket) per band, whose in-bucket
    # explode is the quadratic term the cap guards against. A small
    # healthy cluster elsewhere must be untouched.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_lsh_pairs,
    )

    dims = 16
    hot = [(i, [1.0] + [0.0] * (dims - 1)) for i in range(30)]
    cold = [
        (100, [0.0, 0.0, 1.0] + [0.0] * (dims - 3)),
        (101, [0.0, 0.0, 1.0] + [0.0] * (dims - 3)),
    ]
    emb = _emb_df(spark, hot + cold)
    uncapped = _pairs(ann_lsh_pairs(emb, dims=dims, threshold=0.5))
    # hot cluster contributes 30*29/2 pairs; cold cluster exactly one
    assert len(uncapped) == 30 * 29 // 2 + 1 and (100, 101) in uncapped
    capped = _pairs(
        ann_lsh_pairs(emb, dims=dims, threshold=0.5, max_bucket=20)
    )
    # recall-only guard: capped output is a SUBSET of uncapped, every
    # hot-bucket pair is gone (any bucket holding a hot row has >= 30
    # members > 20), and the cold bucket (2 members) survives —
    # empirically the hot and cold signatures land in different
    # buckets under the md5-derived hyperplanes, so the cold pair is
    # exactly what remains
    assert capped <= uncapped
    assert not any(a < 100 and b < 100 for a, b in capped)
    assert capped == {(100, 101)}
    # boundary: bucket size exactly == cap is KEPT (<=, not <)
    at_cap = _pairs(
        ann_lsh_pairs(emb, dims=dims, threshold=0.5, max_bucket=30)
    )
    assert at_cap == uncapped
    # mis-parameterization refused loudly
    with pytest.raises(ValueError, match="max_bucket"):
        ann_lsh_pairs(emb, dims=dims, threshold=0.5, max_bucket=1)


@pytest.mark.slow
def test_lsh_hot_bucket_cap_mips(spark):
    # MIPS flavor: identical max-norm vectors have sv = 0, so the P
    # and Q lifts coincide and each band's hot bucket holds 30 Q-rows
    # + 30 P-rows = 60 members — the cap counts BOTH sides (the
    # explode is |Q|x|P|).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        mips_lsh_pairs,
    )

    dims = 16
    hot = [(i, [2.0] + [0.0] * (dims - 1)) for i in range(30)]
    cold = [
        (100, [0.0, 0.0, 2.0] + [0.0] * (dims - 3)),
        (101, [0.0, 0.0, 2.0] + [0.0] * (dims - 3)),
    ]
    emb = _emb_df(spark, hot + cold)  # dots: within-cluster 4, cross 0
    uncapped = _pairs(mips_lsh_pairs(emb, dims=dims, threshold=3.0))
    assert len(uncapped) == 30 * 29 // 2 + 1 and (100, 101) in uncapped
    capped = _pairs(
        mips_lsh_pairs(emb, dims=dims, threshold=3.0, max_bucket=20)
    )
    assert capped <= uncapped
    assert not any(a < 100 and b < 100 for a, b in capped)
    assert capped == {(100, 101)}
    # combined-side boundary: the hot bucket is 60 members (30 Q +
    # 30 P), so cap 60 keeps everything
    at_cap = _pairs(
        mips_lsh_pairs(emb, dims=dims, threshold=3.0, max_bucket=60)
    )
    assert at_cap == uncapped
    with pytest.raises(ValueError, match="max_bucket"):
        mips_lsh_pairs(emb, dims=dims, threshold=3.0, max_bucket=0)


# ---------------------------------------- IVF-SQ8 MIPS (Next #6, r12)


def test_ivf_sq8_exhaustive_probing_recovers_int8(spark):
    # the coarse stage must be a pure candidate restriction: probing
    # EVERY cell makes the probed set the whole corpus, so the result
    # must equal ann_int8_mips_topk bit-for-bit (same quantizer, same
    # pinned multiply order, same tie rule)
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_int8_mips_topk,
        ivf_sq8_mips_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    flat = ann_int8_mips_topk(emb, F.col("vec_id") < 6, k=4).collect()
    ivf = ivf_sq8_mips_topk(
        emb, F.col("vec_id") < 6, k=4, n_centroids=16, n_probe=16
    ).collect()
    assert [tuple(r) for r in ivf] == [tuple(r) for r in flat]
    assert len(flat) == 6 * 4


@pytest.mark.parametrize("n_probe", [1, 2, 8])
def test_ivf_sq8_param_sweep(spark, n_probe):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ivf_sq8_mips_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = ivf_sq8_mips_topk(
        emb, F.col("vec_id") < 5, k=3, n_centroids=16, n_probe=n_probe
    ).toPandas()
    # contract: per-query ranks contiguous from 1, <= k rows, sims
    # non-increasing, never a self match, int_dot consistent with sim
    # sign (scales are non-negative)
    for qid, grp in out.groupby("query_id"):
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= 3
        sims = grp["sim"].to_numpy()
        assert (sims[:-1] >= sims[1:]).all()
        assert (grp["neighbor_id"] != qid).all()
        assert (
            np.sign(grp["int_dot"].to_numpy())
            == np.sign(np.where(np.abs(sims) < 1e-300, 0.0, sims))
        ).all()


def test_ivf_sq8_more_probes_never_worse(spark):
    # candidates grow monotonically with n_probe, so each query's
    # best-found sim is non-decreasing in n_probe
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ivf_sq8_mips_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    best = {}
    for n_probe in (1, 4, 16):
        out = ivf_sq8_mips_topk(
            emb, F.col("vec_id") < 5, k=1, n_centroids=16, n_probe=n_probe
        ).toPandas()
        cur = dict(zip(out["query_id"], out["sim"]))
        for q, s in best.items():
            assert cur.get(q, -np.inf) >= s - 1e-15, (q, n_probe)
        best = cur


def test_ivf_sq8_guards_and_zero_vector(spark):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ivf_sq8_mips_topk,
    )

    dims = 8
    # ids not starting at 0 -> centroid head empty -> loud refusal
    shifted = _emb_df(
        spark, [(1000 + i, [float(i + 1)] * dims) for i in range(6)]
    )
    with pytest.raises(ValueError, match="no centroid rows"):
        ivf_sq8_mips_topk(
            shifted, F.col("vec_id") < 1002, k=2, n_centroids=4,
            n_probe=2, dims=dims,
        )
    # zero query vector: scale 0 -> codes all zero -> every sim == 0;
    # ranks resolve purely by neighbor id.  Since r14 the zero row
    # must live OUTSIDE the centroid head (a zero-norm centroid is
    # refused loudly — see test_round14_ops): its all-NaN probe row
    # ties by cid, probing the full cell set here (n_probe = n_cells).
    rows = [
        (i, [float(i + 1)] + [0.0] * (dims - 1)) for i in range(6)
    ] + [(10, [0.0] * dims)]
    emb = _emb_df(spark, rows)
    out = ivf_sq8_mips_topk(
        emb, F.col("vec_id") == 10, k=3, n_centroids=4, n_probe=4,
        dims=dims,
    ).toPandas()
    assert len(out) == 3
    assert (out["sim"] == 0.0).all() and (out["int_dot"] == 0).all()
    assert list(out["neighbor_id"]) == sorted(out["neighbor_id"])
    # r14 guard: the same zero row INSIDE the head is refused
    with pytest.raises(ValueError, match="degenerate centroid head"):
        ivf_sq8_mips_topk(
            _emb_df(spark, [(0, [0.0] * dims)] + rows[:5]),
            F.col("vec_id") == 0, k=3, n_centroids=6, n_probe=6,
            dims=dims,
        )
    # family contract: query_filter may reference the embedding column
    emb64 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plain = ivf_sq8_mips_topk(emb64, F.col("vec_id") < 3, k=2).collect()
    with_emb = ivf_sq8_mips_topk(
        emb64, (F.col("vec_id") < 3) & (F.size(F.col("embedding")) == 64),
        k=2,
    ).collect()
    assert [tuple(r) for r in with_emb] == [tuple(r) for r in plain]


def test_batch_topk_cut_semantics():
    # the per-batch candidate cut must reproduce the engines' total
    # order exactly: sim desc with NaN ranked ABOVE +inf (Spark and
    # DuckDB both sort NaN greatest), ties by neighbor id asc — a cut
    # that dropped NaN rows would silently diverge from the rank
    # window on degenerate (zero-norm cosine) inputs
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        _batch_topk_cut,
    )

    qids = np.array([1, 1, 1, 1, 2, 2, 2], dtype=np.int64)
    nids = np.array([10, 11, 12, 13, 20, 21, 22], dtype=np.int64)
    sim = np.array([0.5, np.nan, np.inf, 0.5, 1.0, 1.0, 2.0])
    keep = _batch_topk_cut(qids, nids, sim, k=2)
    got = sorted(zip(qids[keep], nids[keep]))
    # query 1: NaN (nid 11) outranks +inf (nid 12); the 0.5 tie never
    # reaches k. query 2: 2.0 first, then the 1.0 tie resolves to the
    # smaller nid 20.
    assert got == [(1, 11), (1, 12), (2, 20), (2, 22)]
    # k larger than any group keeps everything
    assert len(_batch_topk_cut(qids, nids, sim, k=10)) == len(sim)
    # tie at the boundary: equal sims cut by id asc
    t_q = np.zeros(3, dtype=np.int64)
    t_n = np.array([7, 3, 5], dtype=np.int64)
    t_s = np.array([1.0, 1.0, 1.0])
    kept = _batch_topk_cut(t_q, t_n, t_s, k=2)
    assert sorted(t_n[kept]) == [3, 5]


# ------------------------------- IVF-SQ8 residual variant (by_residual)


def test_ivf_sq8r_exact_when_corpus_is_centroid_head(spark):
    # the ADC exact-representability identity: when every corpus
    # vector IS a centroid, r = 0 -> scale 0 -> codes 0 -> sim is
    # EXACTLY q·c = q·x, so the result must equal exact brute-force
    # MIPS bit-for-bit (residual quantization is the ONLY
    # approximation in the kernel)
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_bruteforce_topk,
        ivf_sq8r_mips_topk,
    )

    dims = 8
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=dims).astype("float32")])
        for i in range(12)
    ]
    emb = _emb_df(spark, rows)
    got = ivf_sq8r_mips_topk(
        emb, F.col("vec_id") < 4, k=3, n_centroids=12, n_probe=12,
        dims=dims,
    ).toPandas()
    want = ann_bruteforce_topk(
        emb, F.col("vec_id") < 4, k=3, dims=dims, metric="dot"
    ).toPandas()
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["neighbor_id"]) == list(want["neighbor_id"])
    assert (got["sim"].to_numpy() == want["sim"].to_numpy()).all()


def test_ivf_sq8r_residual_beats_symmetric_on_coherent_cells(spark):
    # the reason FAISS defaults to residual encoding: inside a
    # coherent cell the residual range is much smaller than the raw
    # range, so the same 8 bits quantize finer. Build clustered data
    # (tight blobs around far-apart centers) and compare per-pair
    # reconstruction-style sim error against the exact dot — the
    # residual variant must be strictly more accurate in aggregate.
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_bruteforce_topk,
        ivf_sq8_mips_topk,
        ivf_sq8r_mips_topk,
    )

    dims = 8
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, dims)) * 10.0
    rows = []
    for i in range(40):
        c = centers[i % 4]
        rows.append(
            (i, [float(x) for x in (c + rng.normal(size=dims) * 0.05)])
        )
    emb = _emb_df(spark, rows)
    qf = F.col("vec_id") < 4  # the four earliest rows, one per blob
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann_bruteforce_topk(
            emb, qf, k=40, dims=dims, metric="dot"
        ).collect()
    }

    def total_err(df):
        return sum(
            abs(r["sim"] - exact[(r["query_id"], r["neighbor_id"])])
            for r in df.collect()
        )

    # exhaustive probing isolates quantization error from cell recall
    e_sym = total_err(
        ivf_sq8_mips_topk(
            emb, qf, k=40, n_centroids=4, n_probe=4, dims=dims
        )
    )
    e_res = total_err(
        ivf_sq8r_mips_topk(
            emb, qf, k=40, n_centroids=4, n_probe=4, dims=dims
        )
    )
    assert e_res < e_sym / 10.0, (e_res, e_sym)


@pytest.mark.parametrize("n_probe", [1, 4, 16])
def test_ivf_sq8r_param_sweep(spark, n_probe):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ivf_sq8r_mips_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = ivf_sq8r_mips_topk(
        emb, F.col("vec_id") < 5, k=3, n_centroids=16, n_probe=n_probe
    ).toPandas()
    for qid, grp in out.groupby("query_id"):
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= 3
        sims = grp["sim"].to_numpy()
        assert (sims[:-1] >= sims[1:]).all()
        assert (grp["neighbor_id"] != qid).all()


def test_ivf_sq8r_guards(spark):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ivf_sq8r_mips_topk,
    )

    dims = 8
    shifted = _emb_df(
        spark, [(1000 + i, [float(i + 1)] * dims) for i in range(6)]
    )
    with pytest.raises(ValueError, match="no centroid rows"):
        ivf_sq8r_mips_topk(
            shifted, F.col("vec_id") < 1002, k=2, n_centroids=4,
            n_probe=2, dims=dims,
        )
    # family contract: query_filter may reference the embedding column
    emb64 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plain = ivf_sq8r_mips_topk(emb64, F.col("vec_id") < 3, k=2).collect()
    with_emb = ivf_sq8r_mips_topk(
        emb64, (F.col("vec_id") < 3) & (F.size(F.col("embedding")) == 64),
        k=2,
    ).collect()
    assert [tuple(r) for r in with_emb] == [tuple(r) for r in plain]


@pytest.mark.slow
def test_hot_bucket_cap_oracle_parity_when_firing(spark):
    # the sf0.001/sf0.01 corpora never trip the 4096 cap, so the
    # registered oracle differentials only prove the NON-firing path.
    # This test pins kernel and SQL twin LOCK-STEP when the guard
    # FIRES: an adversarial corpus (30 identical max-norm vectors +
    # healthy pairs) with cap 20 must drop the same buckets on both
    # engines, bit-for-bit.
    import duckdb

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_lsh_pairs,
        mips_lsh_pairs,
    )

    dims = 64
    hot = [(i, [2.0] + [0.0] * (dims - 1)) for i in range(30)]
    cold = [
        (100, [0.0, 0.0, 2.0] + [0.0] * (dims - 3)),
        (101, [0.0, 0.0, 2.0] + [0.0] * (dims - 3)),
        (102, [0.0, 0.0, 0.0, 2.0] + [0.0] * (dims - 4)),
    ]
    emb = _emb_df(spark, hot + cold)
    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())

    got = ann_lsh_pairs(
        emb, dims=dims, threshold=0.2, max_bucket=20
    ).toPandas()
    want = con.execute(entry_mod._cos_lsh_sql(0.2, 20)).fetchdf()
    assert len(got) == len(want) > 0
    for c in got.columns:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    got_m = mips_lsh_pairs(
        emb, dims=dims, threshold=3.0, max_bucket=20
    ).toPandas()
    want_m = con.execute(
        entry_mod._mips_lsh_sql(3.0, max_bucket=20)
    ).fetchdf()
    assert len(got_m) == len(want_m) > 0
    for c in got_m.columns:
        assert (got_m[c].to_numpy() == want_m[c].to_numpy()).all(), c
    # and the guard genuinely fired: uncapped finds the hot pairs too
    assert (
        mips_lsh_pairs(emb, dims=dims, threshold=3.0).count()
        > len(got_m)
    )


# --------------------------------------------- hypothesis differentials

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# float32-exact components plus one inexact value (0.3) so the
# double-widening paths are exercised, not just bit-trivial inputs
_COMP13 = st.sampled_from([-1.0, -0.5, 0.0, 0.25, 0.3, 0.5, 1.0])


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vecs=st.lists(
        st.lists(_COMP13, min_size=8, max_size=8), min_size=2, max_size=10
    ),
    k=st.integers(min_value=1, max_value=4),
)
@pytest.mark.slow
def test_ivf_sq8_exhaustive_identity_property(spark, vecs, k):
    # for ANY corpus: probing every cell makes the coarse stage a
    # no-op, so IVF-SQ8 == flat int8 scan bit-for-bit
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_int8_mips_topk,
        ivf_sq8_mips_topk,
    )

    rows = list(enumerate(vecs))
    emb = _emb_df(spark, rows)
    n_q = min(2, len(rows))
    nc = len(rows)
    got = [
        tuple(r)
        for r in ivf_sq8_mips_topk(
            emb, F.col("vec_id") < n_q, k=k, n_centroids=nc, n_probe=nc,
            dims=8,
        ).collect()
    ]
    want = [
        tuple(r)
        for r in ann_int8_mips_topk(
            emb, F.col("vec_id") < n_q, k=k, dims=8
        ).collect()
    ]
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vecs=st.lists(
        st.lists(_COMP13, min_size=8, max_size=8), min_size=2, max_size=10
    ),
    k=st.integers(min_value=1, max_value=4),
)
@pytest.mark.slow
def test_ivf_sq8r_exactness_identity_property(spark, vecs, k):
    # for ANY corpus that IS the centroid head: r = 0 everywhere, so
    # the residual variant equals exact brute-force MIPS bit-for-bit
    # (sim columns compare exactly; sq8r has no int_dot column)
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_bruteforce_topk,
        ivf_sq8r_mips_topk,
    )

    rows = list(enumerate(vecs))
    emb = _emb_df(spark, rows)
    n_q = min(2, len(rows))
    nc = len(rows)
    got = [
        (r["query_id"], r["neighbor_id"], r["sim"])
        for r in ivf_sq8r_mips_topk(
            emb, F.col("vec_id") < n_q, k=k, n_centroids=nc, n_probe=nc,
            dims=8,
        ).collect()
    ]
    want = [
        (r["query_id"], r["neighbor_id"], r["sim"])
        for r in ann_bruteforce_topk(
            emb, F.col("vec_id") < n_q, k=k, dims=8, metric="dot"
        ).collect()
    ]
    assert got == want


def test_hot_bucket_cap_costs_no_extra_shuffle(spark):
    # the guard's window count partitions on the same (band, bv) key
    # the aggregation shuffles on — Catalyst reuses the exchange, so
    # the executed plan has the SAME number of shuffles with the cap
    # on as off (the 100 TB argument: the guard is free)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        ann_lsh_pairs,
        mips_lsh_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for fn, tau in ((ann_lsh_pairs, 0.2), (mips_lsh_pairs, 0.35)):
        plans = [
            fn(emb, dims=64, threshold=tau, max_bucket=cap)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            for cap in (None, 4096)
        ]
        assert plans[0].count("Exchange") == plans[1].count("Exchange")
