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
