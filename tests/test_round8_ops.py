"""Round-8 operators: winnowing fingerprints/pairs and the other r8
additions. Edge cases beyond the oracle differential (which pins the
registered configurations bit-exactly)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql.functions import col as F_col

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
    winnow_fingerprints,
    winnow_pairs,
)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _winnow_ref(text: str, k: int, w: int) -> set[tuple[int, int]]:
    """Textbook winnowing (Schleimer et al. §4): min of each window,
    RIGHTMOST occurrence on ties, dedup selected (hash, pos)."""
    toks = text.strip(" ").split(" ")
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [_h32(g) for g in grams]
    if not hs:
        return set()
    sel: set[tuple[int, int]] = set()
    for s in range(max(len(hs) - w + 1, 1)):
        win = hs[s : s + w]
        m = min(win)
        for j in range(len(win) - 1, -1, -1):
            if win[j] == m:
                sel.add((m, s + j))
                break
    return sel


def test_winnow_fingerprints_match_reference(spark):
    data = [
        (1, "a b c d e f g h i j"),
        (2, "x y z a b c d e f g h q r"),
        (3, "p q"),  # fewer than k tokens: no grams, no fingerprints
        (4, "m n o"),  # exactly one gram (degenerate window)
        (5, "solar wind grid load forecast model energy"),
        (6, ""),  # empty text
    ]
    docs = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        (r.doc_id, r.fp, r.pos)
        for r in winnow_fingerprints(docs, k=3, w=4).collect()
    }
    want = {
        (d, m, p) for d, t in data for (m, p) in _winnow_ref(t, 3, 4)
    }
    assert got == want


def test_winnow_fingerprints_randomized_reference(spark):
    import random

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(12)]  # small vocab → hash ties occur
    data = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(data, "doc_id long, text string")
    for k, w in ((2, 3), (3, 4), (1, 5)):
        got = {
            (r.doc_id, r.fp, r.pos)
            for r in winnow_fingerprints(docs, k=k, w=w).collect()
        }
        want = {
            (d, m, p) for d, t in data for (m, p) in _winnow_ref(t, k, w)
        }
        assert got == want, f"k={k} w={w}"


def test_winnow_guarantee_shared_run_shares_a_fingerprint(spark):
    # the paper's detection guarantee: two docs sharing a run of
    # >= w+k-1 tokens share at least one fingerprint VALUE
    k, w = 3, 4
    run = "q1 q2 q3 q4 q5 q6"  # w+k-1 = 6 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + run + " gamma delta"),
            (2, run + " epsilon zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_pairs(docs, min_shared=1, k=k, w=w).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(1, 2)]
    assert pairs[0].n_shared >= 1


def test_winnow_pairs_df_cap_drops_stop_fingerprints(spark):
    # a fingerprint shared by MORE than max_df docs is dropped from
    # candidate generation (the Sigma df^2 scale lever)
    common = "c1 c2 c3 c4 c5 c6"
    docs = spark.createDataFrame(
        [(i, common + f" unique{i} filler{i} tail{i}") for i in range(6)],
        "doc_id long, text string",
    )
    full = winnow_pairs(docs, min_shared=1, max_df=50).count()
    assert full == 15  # all 6 docs pair through the common run
    # fingerprints selected by every doc (windows fully inside the run)
    # have df=6 > 3 and are dropped; only the handful selected by a
    # straddling window in <= 3 docs can still pair
    capped = winnow_pairs(docs, min_shared=1, max_df=3).count()
    assert 0 < capped < full
    # and with the cap below ANY possible sharing, nothing pairs
    assert winnow_pairs(docs, min_shared=1, max_df=1).count() == 0


def test_zipf_fit_recovers_planted_power_law(spark):
    # a corpus built with freq(rank r) = round(1000 / r) must fit
    # slope ≈ -1 (exact -1 is unattainable: rounding + the fixed-point
    # ln floor), and intercept ≈ ln(1000)
    import math

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        corpus_zipf_fit,
    )

    words = []
    for r in range(1, 101):
        words += [f"tok{r:03d}"] * round(1000 / r)
    # spread over several docs so the token count is a real aggregate
    docs = spark.createDataFrame(
        [(i, " ".join(words[i::7])) for i in range(7)],
        "doc_id long, text string",
    )
    row = corpus_zipf_fit(docs, top_n=100).collect()[0]
    assert row.n_terms == 100
    assert -1.05 <= row.slope <= -0.95
    assert abs(row.intercept - math.log(1000)) < 0.1


def test_zipf_fit_uniform_corpus_slope_zero(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        corpus_zipf_fit,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(50)) + " " +
             " ".join(f"w{i}" for i in range(50)))],
        "doc_id long, text string",
    )
    row = corpus_zipf_fit(docs, top_n=50).collect()[0]
    # every token occurs exactly twice: y constant => slope == 0
    assert row.n_terms == 50 and row.slope == 0.0
    import math

    assert abs(row.intercept - math.log(2)) < 1e-5


def test_zipf_fit_refuses_degenerate_top_n(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        corpus_zipf_fit,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="top_n"):
        corpus_zipf_fit(docs, top_n=1)


def test_spearman_known_values_with_ties(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        spearman_corr,
    )
    from pyspark.sql import functions as F

    def rho_of(pairs):
        df = spark.createDataFrame(pairs, "x double, y double")
        row = spearman_corr(
            df, "x", "y", F.floor(F.col("x")), F.floor(F.col("y"))
        ).collect()[0]
        return row.n, row.rho

    # perfect monotone (nonlinear!) relation → rho exactly 1
    n, rho = rho_of([(float(i), float(i**3)) for i in range(1, 9)])
    assert n == 8 and abs(rho - 1.0) < 1e-12  # sqrt(a)*sqrt(b) rounds
    # perfect anti-monotone → -1
    n, rho = rho_of([(float(i), float(-i)) for i in range(1, 9)])
    assert abs(rho + 1.0) < 1e-12
    # textbook tie case checked against scipy's published treatment:
    # x = 1,2,3,3,5  y = 2,1,4,3,5 — average ranks
    # ux = 1,2,3.5,3.5,5 ; uy = 2,1,4,3,5 → Pearson on those
    import math

    ux = [1, 2, 3.5, 3.5, 5]
    uy = [2, 1, 4, 3, 5]
    mx, my = sum(ux) / 5, sum(uy) / 5
    want = sum((a - mx) * (b - my) for a, b in zip(ux, uy)) / math.sqrt(
        sum((a - mx) ** 2 for a in ux) * sum((b - my) ** 2 for b in uy)
    )
    n, rho = rho_of(
        [(1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (3.0, 3.0), (5.0, 5.0)]
    )
    assert n == 5 and abs(rho - want) < 1e-12
    # a constant column has zero rank variance: rho undefined → NULL
    n, rho = rho_of([(1.0, float(i)) for i in range(4)])
    assert rho is None


def test_spearman_drops_null_and_nan_rows(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        spearman_corr,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (None, 9.0),
         (4.0, None), (float("nan"), 5.0)],
        "x double, y double",
    )
    row = spearman_corr(
        df, "x", "y", F.floor(F.col("x")), F.floor(F.col("y"))
    ).collect()[0]
    assert row.n == 3 and abs(row.rho - 1.0) < 1e-12


def test_counted_ivm_with_deletes_equals_recompute(spark):
    # signed-bag identity incl. DUPLICATE rows: maintained view ==
    # counted recompute of the post-delta bases, bag-exactly
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.ivm import (
        apply_counted_delta,
        counted_join_delta,
        with_multiplicity,
    )

    # duplicates on purpose: (1,'x') twice in A_old; (1, 10.0) twice in B_old
    a_old_rows = [(1, "x"), (1, "x"), (2, "y"), (3, "z")]
    b_old_rows = [(1, 10.0), (1, 10.0), (2, 20.0), (4, 40.0)]
    a_ins = [(4, "w"), (1, "x")]          # one more copy of the dup row
    a_del = [(3, "z"), (1, "x")]          # delete one of the copies
    b_ins = [(3, 30.0)]
    b_del = [(1, 10.0)]

    def cf(rows, schema):
        return with_multiplicity(spark.createDataFrame(rows, schema))

    A, B = "k long, av string", "k long, bv double"
    a_old, b_old = cf(a_old_rows, A), cf(b_old_rows, B)
    a_delta = cf(a_ins, A).unionByName(
        cf(a_del, A).withColumn("_mult", -F_col("_mult"))
    )
    b_delta = cf(b_ins, B).unionByName(
        cf(b_del, B).withColumn("_mult", -F_col("_mult"))
    )
    view_old = counted_join_delta(
        a_old, b_old.limit(0), a_old.limit(0), b_old, ["k"]
    )
    delta = counted_join_delta(a_old, b_old, a_delta, b_delta, ["k"])
    got = sorted(
        map(tuple, apply_counted_delta(view_old, delta).collect())
    )

    import collections

    a_new = collections.Counter(a_old_rows) + collections.Counter(a_ins)
    a_new.subtract(collections.Counter(a_del))
    b_new = collections.Counter(b_old_rows) + collections.Counter(b_ins)
    b_new.subtract(collections.Counter(b_del))
    want = collections.Counter()
    for (ka, av), ma in a_new.items():
        for (kb, bv), mb in b_new.items():
            if ka == kb and ma > 0 and mb > 0:
                want[(ka, av, bv)] += ma * mb
    assert got == sorted((k, a, b, m) for (k, a, b), m in want.items() if m)


def test_counted_ivm_refuses_negative_multiplicity(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.ivm import (
        apply_counted_delta,
        with_multiplicity,
    )

    view = with_multiplicity(
        spark.createDataFrame([(1, "x")], "k long, v string")
    )
    bad_delta = view.withColumn("_mult", F_col("_mult") * -2)  # deletes 2, has 1
    with pytest.raises(Exception, match="negative multiplicity"):
        apply_counted_delta(view, bad_delta).collect()


@pytest.mark.slow
def test_cms_join_size_estimate_exact_and_one_sided(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        cms_join_size_audit,
    )

    # single shared value: the inner product is exactly 5*3 (one cell
    # per row, no collisions possible)
    a = spark.createDataFrame([("x",)] * 5, "k string")
    b = spark.createDataFrame([("x",)] * 3, "k string")
    row = cms_join_size_audit(a, "k", b, "k").collect()[0]
    assert row.true_join_size == 15
    assert row.cms_join_estimate == 15 and row.overestimate == 0

    # disjoint domains: true 0; estimate stays one-sided (>= 0 overshoot)
    c = spark.createDataFrame([(f"a{i}",) for i in range(50)], "k string")
    d = spark.createDataFrame([(f"b{i}",) for i in range(50)], "k string")
    row = cms_join_size_audit(c, "k", d, "k").collect()[0]
    assert row.true_join_size == 0 and row.overestimate >= 0

    # mixed with NULLs: NULL keys never join nor count on either side
    e = spark.createDataFrame(
        [("x",), ("x",), (None,), ("y",)], "k string"
    )
    f_ = spark.createDataFrame([("x",), (None,), ("z",)], "k string")
    row = cms_join_size_audit(e, "k", f_, "k").collect()[0]
    assert row.true_join_size == 2 and row.overestimate >= 0


def test_ks_two_sample_matches_hand_reference(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        ks_two_sample,
    )

    def ref_ks(a, b):
        vals = sorted(set(a) | set(b))
        na, nb = len(a), len(b)
        best = 0
        for v in vals:
            fa = sum(1 for x in a if x <= v) * nb
            fb = sum(1 for x in b if x <= v) * na
            best = max(best, abs(fa - fb))
        return best, na * nb

    a = [1.0, 2.0, 2.0, 3.0, 7.0, 9.0]
    b = [2.0, 4.0, 4.0, 5.0, 6.0]
    rows = [(x, True) for x in a] + [(x, False) for x in b]
    df = spark.createDataFrame(rows, "v double, s boolean")
    row = ks_two_sample(df, "v", "s").collect()[0]
    num, den = ref_ks(a, b)
    assert (row.n_a, row.n_b) == (6, 5)
    assert (row.ks_num, row.ks_den) == (num, den)
    assert abs(row.ks_stat - num / den) < 1e-15

    # identical samples → KS exactly 0; disjoint supports → exactly 1
    same = spark.createDataFrame(
        [(float(i % 5), i % 2 == 0) for i in range(40)], "v double, s boolean"
    )
    assert ks_two_sample(same, "v", "s").collect()[0].ks_stat == 0.0
    disj = spark.createDataFrame(
        [(float(i), True) for i in range(5)]
        + [(float(100 + i), False) for i in range(5)],
        "v double, s boolean",
    )
    assert ks_two_sample(disj, "v", "s").collect()[0].ks_stat == 1.0


def test_ks_two_sample_binned_mode_and_refusals(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        ks_two_sample,
    )

    # binning a shifted distribution still detects the shift, and the
    # binned statistic is a LOWER bound on the exact one
    rows = [(float(i) / 10, True) for i in range(100)] + [
        (float(i) / 10 + 3.0, False) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "v double, s boolean")
    exact = ks_two_sample(df, "v", "s").collect()[0].ks_stat
    binned = ks_two_sample(
        df, "v", "s", n_bins=16, lo=0.0, hi=13.0
    ).collect()[0].ks_stat
    assert binned > 0.2 and binned <= exact + 1e-15
    with pytest.raises(ValueError, match="lo < hi"):
        ks_two_sample(df, "v", "s", n_bins=8, lo=5.0, hi=5.0)
    # a NULL-only side yields NULL (undefined), never a div-by-zero
    one_side = spark.createDataFrame(
        [(1.0, True), (2.0, True)], "v double, s boolean"
    )
    assert ks_two_sample(one_side, "v", "s").collect()[0].ks_stat is None


def test_source_language_entropy_known_values(spark):
    import math

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        source_language_entropy,
    )

    docs = spark.createDataFrame(
        [(i, "t", "en", "mono") for i in range(8)]
        + [(100 + i, "t", ["en", "fr"][i % 2], "half") for i in range(8)]
        + [(200 + i, "t", ["en", "fr", "de", "es"][i % 4], "quarter")
           for i in range(8)],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.source: r for r in source_language_entropy(docs).collect()}
    assert rows["mono"].entropy == 0.0 and rows["mono"].n_langs == 1
    # uniform k-way mix → ln k (within the 1e-6 fixed-point floor)
    assert abs(rows["half"].entropy - math.log(2)) < 2e-6
    assert abs(rows["quarter"].entropy - math.log(4)) < 2e-6
    assert rows["quarter"].n_docs == 8 and rows["quarter"].n_langs == 4


def test_weighted_percentile_hand_cases(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        weighted_percentile,
    )

    rows = [
        # group g1: values 1(w3), 2(w1), 3(w2): total 6; median at
        # cum >= 3 → value 1 (cum(1)=3); p75 at cum >= 4.5 → value 3
        ("g1", 1.0, 3.0), ("g1", 2.0, 1.0), ("g1", 3.0, 2.0),
        # g2: ties on the value must pool their weights (RANGE frame):
        # 5(w1), 5(w1), 9(w1): median at cum >= 1.5 → 5
        ("g2", 5.0, 1.0), ("g2", 5.0, 1.0), ("g2", 9.0, 1.0),
        # zero/NULL weights excluded
        ("g3", 1.0, 0.0), ("g3", 2.0, 4.0), ("g3", 9.0, None),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    med = {
        r.g: r.weighted_p1_2
        for r in weighted_percentile(df, ["g"], "v", "w", 1, 2).collect()
    }
    assert med == {"g1": 1.0, "g2": 5.0, "g3": 2.0}
    p75 = {
        r.g: r.weighted_p3_4
        for r in weighted_percentile(df, ["g"], "v", "w", 3, 4).collect()
    }
    assert p75["g1"] == 3.0
    with pytest.raises(ValueError, match="q_num/q_den"):
        weighted_percentile(df, ["g"], "v", "w", 0, 2)
    with pytest.raises(ValueError, match="q_num/q_den"):
        weighted_percentile(df, ["g"], "v", "w", 3, 2)


def test_weighted_percentile_uniform_weights_match_rank_median(spark):
    # with all weights 1 the weighted median degenerates to the exact
    # discrete median (smallest v with rank >= ceil(n/2))
    import random

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        weighted_percentile,
    )

    rng = random.Random(13)
    vals = [float(rng.randint(0, 50)) for _ in range(101)]
    df = spark.createDataFrame(
        [("g", v, 1.0) for v in vals], "g string, v double, w double"
    )
    got = weighted_percentile(df, ["g"], "v", "w", 1, 2).collect()[0]
    s = sorted(vals)
    want = s[(len(s) + 1) // 2 - 1]  # smallest v with cum >= n/2
    assert got.weighted_p1_2 == want


def test_winnow_refuses_bad_params(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k >= 1"):
        winnow_fingerprints(docs, k=0)
    with pytest.raises(ValueError, match="k >= 1"):
        winnow_fingerprints(docs, w=0)


# ---------------------------------------------------------------- hourly ACF


def _acf_ref(xs: list[int], k: int) -> float:
    h = len(xs)
    m = sum(xs) / h
    den = sum((x - m) ** 2 for x in xs)
    num = sum((xs[t] - m) * (xs[t - k] - m) for t in range(k, h))
    return num / den


def _mk_events(spark, counts: list[int], typ: str = "click"):
    """counts[i] events in hour i (2024-01-01 00:00 + i h)."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [
        (base + timedelta(hours=i, minutes=j % 60), typ)
        for i, c in enumerate(counts)
        for j in range(c)
    ]
    return spark.createDataFrame(rows, "ts timestamp, event_type string")


def test_hourly_acf_matches_textbook_reference(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_autocorrelation,
    )

    counts = [3, 1, 4, 1, 5, 9, 2, 6]
    got = {
        r.lag: r.acf
        for r in hourly_autocorrelation(
            _mk_events(spark, counts), max_lag=3
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    for k in (1, 2, 3):
        assert got[k] == pytest.approx(_acf_ref(counts, k), abs=1e-12)


def test_hourly_acf_gap_hours_enter_as_zero(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_autocorrelation,
    )

    # hours 0,1,3,4 populated; hour 2 missing -> dense series has a 0
    counts = [2, 5, 0, 7, 1]
    got = {
        r.lag: r.acf
        for r in hourly_autocorrelation(
            _mk_events(spark, counts), max_lag=2
        ).collect()
    }
    for k in (1, 2):
        assert got[k] == pytest.approx(_acf_ref(counts, k), abs=1e-12)


def test_hourly_acf_constant_series_emits_nothing(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_autocorrelation,
    )

    assert (
        hourly_autocorrelation(_mk_events(spark, [4, 4, 4, 4]), max_lag=2).count()
        == 0
    )


def test_hourly_acf_lags_past_series_end_absent(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_autocorrelation,
    )

    got = {
        r.lag
        for r in hourly_autocorrelation(
            _mk_events(spark, [1, 3]), max_lag=5
        ).collect()
    }
    assert got == {1}  # H=2: only lag 1 has a defined pair


def test_hourly_acf_refuses_bad_max_lag(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_autocorrelation,
    )

    with pytest.raises(ValueError, match="max_lag"):
        hourly_autocorrelation(_mk_events(spark, [1, 2]), max_lag=0)


# ---------------------------------------------------------------- Benford


def test_benford_audit_digits_counts_and_ppm(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        benford_audit,
    )

    vals = [1.5, 19.99, 123.0, 987.65, 9.1, 0.5, None]  # <1 and NULL excluded
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = {r.digit: r for r in benford_audit(df, "v").collect()}
    assert set(rows) == set(range(1, 10))  # all nine digits always emitted
    assert rows[1].n_obs == 3  # 1.5, 19.99, 123.0
    assert rows[9].n_obs == 2  # 987.65, 9.1
    assert rows[5].n_obs == 0  # 0.5 excluded: below domain
    assert rows[1].obs_ppm == 1_000_000 * 3 // 5
    assert rows[1].benford_ppm == 301029
    assert rows[1].delta_ppm == rows[1].obs_ppm - 301029


def test_benford_audit_planted_benford_sample_small_delta(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        benford_audit,
    )

    # log-equidistributed magnitudes (golden-ratio rotation) follow
    # Benford; discrepancy of the rotation is O(log n / n) so per-digit
    # |delta| stays within a few thousand ppm at n=300
    phi = 0.6180339887498949
    df = spark.createDataFrame(
        [(10.0 ** ((i * phi) % 1.0) * 10.0 ** (i % 6),) for i in range(300)],
        "v double",
    )
    rows = benford_audit(df, "v").collect()
    assert sum(r.n_obs for r in rows) == 300
    for r in rows:
        assert abs(r.delta_ppm) < 25_000, (r.digit, r.delta_ppm)


def test_benford_audit_refuses_bigint_saturating_domain(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        benford_audit,
    )

    df = spark.createDataFrame([(1.5,), (1e19,)], "v double")
    with pytest.raises(Exception, match="saturates"):
        benford_audit(df, "v").collect()


# ---------------------------------------------------------------- MAD


def test_mad_outliers_hand_case(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        mad_outliers,
    )

    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4, 100]], "k string, v double"
    )
    r = mad_outliers(df, "k", "v", 3, 1).collect()[0]
    # lower median of [1,2,3,4,100] = 3; deviations [2,1,0,1,97],
    # MAD = lower median = 1; only 97 > 3*1 -> one outlier
    assert (r.n_rows, r.median, r.mad, r.n_outliers) == (5, 3.0, 1.0, 1)


def test_mad_outliers_zero_mad_flags_every_off_median_row(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        mad_outliers,
    )

    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("a", 5.0), ("a", 9.0)],
        "k string, v double",
    )
    r = mad_outliers(df, "k", "v").collect()[0]
    assert (r.median, r.mad, r.n_outliers) == (5.0, 0.0, 1)


def test_mad_outliers_robust_where_zscore_breaks(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        mad_outliers,
    )

    # one enormous spike inflates sigma so much that 3-sigma misses it
    # in small samples' z-test family; MAD flags it regardless
    vals = [10.0, 11.0, 12.0, 10.5, 11.5, 1e9]
    df = spark.createDataFrame([("a", v) for v in vals], "k string, v double")
    r = mad_outliers(df, "k", "v").collect()[0]
    assert r.n_outliers == 1 and r.median == 11.0


def test_mad_outliers_excludes_null_and_nan(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        mad_outliers,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None),
         ("a", float("nan"))],
        "k string, v double",
    )
    r = mad_outliers(df, "k", "v").collect()[0]
    assert r.n_rows == 3 and r.median == 2.0


# ---------------------------------------------------------------- CCF


def test_hourly_ccf_detects_known_lead(spark):
    from datetime import datetime, timedelta

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_crosscorrelation,
    )

    # purchases copy the click series shifted 2 hours later -> the CCF
    # must peak at lag +2 ("clicks lead purchases by 2 hours")
    base = datetime(2024, 3, 1)
    clicks = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
    rows = []
    for i, c in enumerate(clicks):
        rows += [(base + timedelta(hours=i), "click")] * c
        rows += [(base + timedelta(hours=i + 2), "purchase")] * c
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = {r.lag: r.ccf for r in hourly_crosscorrelation(
        ev, "click", "purchase", max_lag=4
    ).collect()}
    peak = max(got, key=lambda k: got[k])
    # full-series means include the 2 zero-padded spine edge hours each
    # side, damping the peak below the no-padding 1.0 — location is the
    # tested semantic, plus clear dominance over every other lag
    assert peak == 2 and got[2] > 0.6
    assert all(got[2] > got[k] + 0.2 for k in got if k != 2)


def test_hourly_ccf_refuses_bad_params(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_crosscorrelation,
    )

    ev = spark.createDataFrame([], "ts timestamp, event_type string")
    with pytest.raises(ValueError, match="max_lag"):
        hourly_crosscorrelation(ev, "a", "b", max_lag=0)
    with pytest.raises(ValueError, match="itself"):
        hourly_crosscorrelation(ev, "a", "a")


# ------------------------------------------------------------ sorted-neighbor


def test_sorted_neighbor_pairs_window_semantics(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        sorted_neighbor_pairs,
    )

    # sort order: acme corp(1) < acme corpse(3) < beta inc(2) < zeta acme(4)
    df = spark.createDataFrame(
        [(1, "acme corp"), (2, "beta inc"), (3, "acme corpse"),
         (4, "zeta acme")],
        "id long, name string",
    )
    got = {
        (r.id_a, r.id_b): r.shared_tokens
        for r in sorted_neighbor_pairs(
            df, "id", "name", window=2, min_shared_tokens=1
        ).collect()
    }
    # window=2 -> only adjacent-in-order pairs, then the token verify:
    # (1,3) share 'acme'; (3,2) share nothing; (2,4) share nothing
    assert got == {(1, 3): 1}
    # window=3 additionally reaches 2 positions: (1,2) no, (3,4) 'acme'
    got3 = {
        (r.id_a, r.id_b)
        for r in sorted_neighbor_pairs(
            df, "id", "name", window=3, min_shared_tokens=1
        ).collect()
    }
    assert got3 == {(1, 3), (3, 4)}


def test_sorted_neighbor_pairs_catches_low_order_variants(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        sorted_neighbor_pairs,
    )

    # the SNM selling point: variants differing at the END of the key
    # are sort-adjacent even when hash blocking would separate them
    df = spark.createDataFrame(
        [(10, "solar panel mk1"), (11, "solar panel mk2"),
         (12, "wind turbine")],
        "id long, name string",
    )
    got = {
        (r.id_a, r.id_b): r.shared_tokens
        for r in sorted_neighbor_pairs(df, "id", "name", window=2).collect()
    }
    assert got[(10, 11)] == 2  # 'solar', 'panel'


def test_sorted_neighbor_pairs_refuses_bad_window(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        sorted_neighbor_pairs,
    )

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError, match="window"):
        sorted_neighbor_pairs(df, "id", "name", window=1)


# ---------------------------------------------------------------- KL


def test_source_token_kl_hand_case(spark):
    import math

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        source_token_kl,
    )

    # source A: tokens [x x y]; source B: [y z]; corpus: x:2 y:2 z:1, N=5
    docs = spark.createDataFrame(
        [(1, "x x y", "A"), (2, "y z", "B")],
        "doc_id long, text string, source string",
    )
    got = {r.source: (r.n_tokens, r.kl_nats) for r in source_token_kl(docs).collect()}

    def ref(counts, n_s, corpus, big_n):
        num = sum(
            c * math.floor(1e6 * math.log((c * big_n) / (n_s * corpus[t])))
            for t, c in counts.items()
        )
        return num / (n_s * 1e6)

    corpus = {"x": 2, "y": 2, "z": 1}
    assert got["A"] == (3, ref({"x": 2, "y": 1}, 3, corpus, 5))
    assert got["B"] == (2, ref({"y": 1, "z": 1}, 2, corpus, 5))
    # KL >= 0 always (floored-log form can dip a hair under exact zero
    # only via the floor; both here are strictly positive mixes)
    assert got["A"][1] > 0 and got["B"][1] > 0


def test_source_token_kl_identical_mix_is_zero(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        source_token_kl,
    )

    # both sources have the exact corpus distribution -> ln(1) = 0 rows
    docs = spark.createDataFrame(
        [(1, "x y", "A"), (2, "x y", "B")],
        "doc_id long, text string, source string",
    )
    for r in source_token_kl(docs).collect():
        assert r.kl_nats == 0.0


# ---------------------------------------------------------------- LPA


def test_lpa_two_cliques_form_two_communities(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_communities,
    )

    # two token triangles bridged by ONE weak edge; intra-clique edges
    # carry weight 2 (duplicated docs) so the bridge (weight 1) loses
    # every max-weight vote: LPA must keep two size-3 communities
    # rather than leak one label across the bridge
    intra = [(1, "a b"), (2, "b c"), (3, "a c"),
             (4, "x y"), (5, "y z"), (6, "x z")]
    docs = spark.createDataFrame(
        intra + [(i + 10, t) for i, t in intra] + [(99, "c x")],
        "doc_id long, text string",
    )
    got = sorted(
        r.n_tokens
        for r in collocation_communities(
            docs, n_rounds=4, min_count=1, min_size=2
        ).collect()
    )
    assert got == [3, 3]


def test_lpa_fixed_rounds_deterministic_across_runs(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_communities,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    a = [tuple(r) for r in collocation_communities(docs).collect()]
    b = [tuple(r) for r in collocation_communities(docs).collect()]
    assert a == b and len(a) > 0


def test_lpa_refuses_bad_rounds(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_communities,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_rounds"):
        collocation_communities(docs, n_rounds=0)


# ---------------------------------------------------------------- equi-depth


def test_equidepth_bins_uniform_counts(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        equidepth_bins,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 17)], "v double"
    )
    rows = equidepth_bins(df, "v", n_bins=4).collect()
    assert [(r.bin, r.hi, r.n_rows) for r in rows] == [
        (1, 4.0, 4), (2, 8.0, 4), (3, 12.0, 4), (4, 16.0, 4)
    ]


def test_equidepth_bins_heavy_tie_swallows_bins(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        equidepth_bins,
    )

    # 12 of 16 rows share one value: it must serve several bin indices,
    # later swallowed bins carrying 0 additional rows
    df = spark.createDataFrame(
        [(1.0,), (2.0,)] + [(5.0,)] * 12 + [(9.0,), (10.0,)], "v double"
    )
    rows = {r.bin: (r.hi, r.n_rows) for r in equidepth_bins(df, "v", 4).collect()}
    assert rows[1] == (5.0, 14)  # cum(5.0)=14 >= 4 -> 5.0 is edge 1..3
    assert rows[2] == (5.0, 0)
    assert rows[3] == (5.0, 0)
    assert rows[4] == (10.0, 2)
    assert sum(v[1] for v in rows.values()) == 16


def test_equidepth_bins_refuses_wide_domains(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        equidepth_bins,
    )

    df = spark.createDataFrame([(float(i),) for i in range(64)], "v double")
    with pytest.raises(Exception, match="distinct values exceed"):
        equidepth_bins(df, "v", n_bins=4, max_distinct=32).collect()
    with pytest.raises(ValueError, match="n_bins"):
        equidepth_bins(df, "v", n_bins=1)


# ---------------------------------------------------------------- binary ANN


def test_pack_sign_bits_known_pattern(spark):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        pack_sign_bits,
    )

    # dims 0 and 33 positive, everything else non-positive
    vec = [0.0] * 64
    vec[0] = 1.0
    vec[33] = 2.5
    df = spark.createDataFrame([(vec,)], "v array<double>")
    lo, hi = pack_sign_bits(F.col("v"))
    r = df.select(lo.alias("lo"), hi.alias("hi")).collect()[0]
    assert (r.lo, r.hi) == (1, 2)  # bit 0 of lo, bit 1 of hi


def test_binary_hamming_topk_self_excluded_and_partition_invariant(spark):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        binary_hamming_topk,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    out1 = binary_hamming_topk(emb, F.col("vec_id") < 3, k=5, coarse_k=20)
    rows1 = [tuple(r) for r in out1.collect()]
    assert all(r[0] != r[1] for r in rows1)  # no self-match
    assert {r[0] for r in rows1} == {0, 1, 2}
    # per-partition pruning must be invariant to the physical layout
    out2 = binary_hamming_topk(
        emb.repartition(7), F.col("vec_id") < 3, k=5, coarse_k=20
    )
    assert [tuple(r) for r in out2.collect()] == rows1


def test_binary_hamming_topk_multi_batch_accumulation(spark):
    # the r9 mapInPandas coarse prune accumulates a running top-k
    # ACROSS Arrow batches; at test corpus sizes every partition fits
    # one default 10k-row batch, so force tiny batches to execute the
    # concat-and-reprune path and pin it against the single-batch
    # result (the prune is lossless, so the output must be identical)
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        binary_hamming_topk,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").coalesce(2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    want = [
        tuple(r)
        for r in binary_hamming_topk(
            emb, F.col("vec_id") < 3, k=5, coarse_k=20
        ).collect()
    ]
    try:
        spark.conf.set(key, "37")  # hundreds of batches per partition
        got = [
            tuple(r)
            for r in binary_hamming_topk(
                emb, F.col("vec_id") < 3, k=5, coarse_k=20
            ).collect()
        ]
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert got == want


def test_binary_hamming_topk_refuses_bad_k(spark):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        binary_hamming_topk,
    )

    df = spark.createDataFrame([(1, [0.0] * 64)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="coarse_k"):
        binary_hamming_topk(df, F.col("vec_id") < 1, k=10, coarse_k=5)


# ---------------------------------------------------------------- skyline


def test_skyline_2d_hand_case(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        skyline_2d,
    )

    # points: (1,5) on frontier, (3,3) on frontier, (2,2) dominated by
    # (3,3), (3,1) dominated within x=3's column, (1,5) duplicated ->
    # BOTH copies survive (equal points never dominate each other)
    rows = [(10, 1.0, 5.0), (11, 3.0, 3.0), (12, 2.0, 2.0),
            (13, 3.0, 1.0), (14, 1.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {r.id for r in skyline_2d(df, "x", "y").collect()}
    assert got == {10, 11, 14}


def test_skyline_2d_single_point_and_nulls(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        skyline_2d,
    )

    df = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, None, 9.0), (3, 9.0, None)],
        "id long, x double, y double",
    )
    got = {r.id for r in skyline_2d(df, "x", "y").collect()}
    assert got == {1}  # NULL rows excluded from the dominance order


def test_skyline_2d_no_member_dominated_no_survivor_dominates(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        skyline_2d,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )

    o = load_table(spark, "orders", "/root/testdata/sf0.001")
    pts = [
        (r.o_totalprice, r.o_orderdate)
        for r in skyline_2d(o, "o_totalprice", "o_orderdate").collect()
    ]
    allpts = [
        (r.o_totalprice, r.o_orderdate)
        for r in o.where("o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL").collect()
    ]

    def dominates(a, b):
        return a[0] >= b[0] and a[1] >= b[1] and a != b

    assert pts and all(
        not any(dominates(q, p) for q in allpts) for p in pts
    )
    # completeness: every non-dominated point is in the skyline
    want = {
        p for p in allpts if not any(dominates(q, p) for q in allpts)
    }
    assert set(pts) == want


# -------------------------------------------------------------- q-match


def test_quantile_match_hand_case(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        quantile_match,
    )

    # ref 'r': values 10,20,30,40 (uniform). probe 'a': 1,2,3 ->
    # fractions 1/3, 2/3, 1 -> smallest ref fraction >= that:
    # 1/3 -> 20 (2/4=0.5 >= 0.333; 10 has 0.25 < 1/3); 2/3 -> 30; 1 -> 40
    rows = [("r", float(x)) for x in (10, 20, 30, 40)] + [
        ("a", 1.0), ("a", 2.0), ("a", 3.0)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        (r.k, r.v): r.matched
        for r in quantile_match(df, "k", "v", "r").collect()
    }
    assert got[("a", 1.0)] == 20.0
    assert got[("a", 2.0)] == 30.0
    assert got[("a", 3.0)] == 40.0
    # reference maps to itself (fraction equality picks the ref row)
    for x in (10.0, 20.0, 30.0, 40.0):
        assert got[("r", x)] == x


def test_quantile_match_transforms_marginal_to_reference(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        quantile_match,
    )

    # a skewed probe distribution lands exactly on the reference's
    # values; weights carry through (duplicate probe values share a row)
    rows = [("r", float(x)) for x in range(1, 11)] + [
        ("a", 100.0), ("a", 100.0), ("a", 100.0), ("a", 100.0),
        ("a", 100.0), ("a", 999.0), ("a", 999.0), ("a", 999.0),
        ("a", 999.0), ("a", 999.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        (r.k, r.v): (r.n, r.matched)
        for r in quantile_match(df, "k", "v", "r").collect()
    }
    assert got[("a", 100.0)] == (5, 5.0)   # fraction 0.5 -> ref 5
    assert got[("a", 999.0)] == (5, 10.0)  # fraction 1.0 -> ref 10


def test_quantile_match_missing_ref_key_raises(spark):
    # r8 ADVICE: a ref_key matching no usable rows must fail loudly,
    # not silently emit matched=NULL for every probe row
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        quantile_match,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", float("nan"))], "k string, v double"
    )
    # key does not exist at all
    with pytest.raises(Exception, match="reference key 'zzz' has no"):
        quantile_match(df, "k", "v", "zzz").collect()
    # key exists but every value is NaN-filtered out
    with pytest.raises(Exception, match="reference key 'b' has no"):
        quantile_match(df, "k", "v", "b").collect()
