"""Round-7 operators: SCD Type-2 intervals, JL random projection,
greedy k-center selection, TF-IDF/BM25/PRF retrieval + the persisted
search index, Ed-Join edit-distance joins, LM perplexity, TextRank,
incremental join views, RRF fusion, CUSUM alarms, conformal
intervals, contrastive negatives, triangles, frequent pairs,
embedding drift, and the vocabulary growth curve. Edge cases beyond
the oracle differential (which pins the registered configurations
bit-exactly)."""

from __future__ import annotations

import numpy as np
import pytest

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
    kcenter_select,
    random_projection,
    rp_matrix,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.versioned import (
    scd2_intervals,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
    load_table,
)

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ SCD2


def test_scd2_change_delete_rebirth(spark):
    s1 = spark.createDataFrame([(1, "O"), (2, "O"), (3, "F")], "k long, s string")
    s2 = spark.createDataFrame([(1, "F"), (2, "O"), (3, "F")], "k long, s string")
    s3 = spark.createDataFrame([(1, "F"), (3, "P")], "k long, s string")
    s4 = spark.createDataFrame([(1, "F"), (2, "X"), (3, "P")], "k long, s string")
    out = {
        (r.k, r.s): (r.valid_from, r.valid_to, r.is_current)
        for r in scd2_intervals(
            [(10, s1), (20, s2), (30, s3), (40, s4)], ["k"]
        ).collect()
    }
    assert out[(1, "O")] == (10, 20, False)   # value change closes at 20
    assert out[(1, "F")] == (20, None, True)
    assert out[(2, "O")] == (10, 30, False)   # deletion closes at 30
    assert out[(2, "X")] == (40, None, True)  # rebirth opens a NEW run
    assert out[(3, "P")] == (30, None, True)
    assert len(out) == 6


def test_scd2_single_snapshot_all_current(spark):
    s1 = spark.createDataFrame([(1, "A"), (2, "B")], "k long, s string")
    rows = scd2_intervals([(7, s1)], ["k"]).collect()
    assert all(r.valid_from == 7 and r.valid_to is None and r.is_current for r in rows)


def test_scd2_null_values_do_not_reopen(spark):
    # eqNullSafe: a NULL value equal on both sides is ONE run
    s1 = spark.createDataFrame([(1, None)], "k long, s string")
    s2 = spark.createDataFrame([(1, None)], "k long, s string")
    rows = scd2_intervals([(1, s1), (2, s2)], ["k"]).collect()
    assert len(rows) == 1 and rows[0].valid_from == 1 and rows[0].is_current


def test_scd2_lookup_current_rows_match_past_int32_max(spark):
    # ADVICE r7: NULL valid_to (= current) must be an explicit NULL
    # test, not an int32-max sentinel — with long version/as_of domains
    # >= 2^31 current rows silently stopped matching
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.versioned import (
        scd2_lookup,
    )

    big = 2**31 + 100  # past the old 2147483647 sentinel
    s1 = spark.createDataFrame([(1, "A"), (2, "B")], "k long, s string")
    s2 = spark.createDataFrame([(1, "A2"), (2, "B")], "k long, s string")
    dim = scd2_intervals([(10, s1), (big, s2)], ["k"])
    probes = spark.createDataFrame(
        [(1, big + 5), (2, big + 5), (1, 15), (9, big + 5)],
        "k long, as_of long",
    )
    got = {
        (r.k, r.as_of): r.s
        for r in scd2_lookup(dim, probes, ["k"]).collect()
    }
    assert got[(1, big + 5)] == "A2"  # current row matches past 2^31
    assert got[(2, big + 5)] == "B"
    assert got[(1, 15)] == "A"
    assert got[(9, big + 5)] is None  # never-seen key survives as NULL


def test_scd2_refuses_bad_inputs(spark):
    s1 = spark.createDataFrame([(1, "A")], "k long, s string")
    with pytest.raises(ValueError, match="at least one"):
        scd2_intervals([], ["k"])
    with pytest.raises(ValueError, match="duplicate"):
        scd2_intervals([(1, s1), (1, s1)], ["k"])
    s_other = spark.createDataFrame([(1, "A")], "k long, t string")
    with pytest.raises(ValueError, match="one schema"):
        scd2_intervals([(1, s1), (2, s_other)], ["k"])


# ------------------------------------------------- JL random projection


def test_rp_matrix_is_deterministic_signs():
    m = rp_matrix(16, 64)
    assert m == rp_matrix(16, 64)
    assert all(v in (-1, 1) for row in m for v in row)
    # not degenerate: both signs occur in every row
    assert all(len(set(row)) == 2 for row in m)


def test_random_projection_preserves_distances_statistically(spark):
    emb = load_table(spark, "embeddings", SF)
    rp = {r.vec_id: np.array(r.rvec) for r in random_projection(emb).collect()}
    src = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert all(len(v) == 16 for v in rp.values())
    ids = sorted(src)[:200]
    ratios = []
    for a, b in zip(ids, ids[1:]):
        d0 = float(((src[a] - src[b]) ** 2).sum())
        d1 = float(((rp[a] - rp[b]) ** 2).sum())
        if d0 > 0:
            ratios.append(d1 / d0)
    # JL at k=16: mean distortion ~1, spread bounded (loose 3-sigma-ish)
    assert 0.8 <= float(np.mean(ratios)) <= 1.2
    assert all(0.05 <= r <= 5.0 for r in ratios)


# ------------------------------------------- weighted priority sampling


def test_weighted_priority_sample_properties(spark):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        weighted_priority_sample,
    )

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    w = F.size(F.split(F.trim(F.col("text")), " "))
    s50 = {r.doc_id for r in weighted_priority_sample(docs, "doc_id", w, 50).collect()}
    s100 = {r.doc_id for r in weighted_priority_sample(docs, "doc_id", w, 100).collect()}
    assert len(s50) == 50 and len(s100) == 100
    assert s50 <= s100  # nested: growing n only appends
    again = {r.doc_id for r in weighted_priority_sample(docs, "doc_id", w, 50).collect()}
    assert again == s50  # rerun-stable
    # weight-proportional: the sampled docs skew longer than the corpus
    all_len = {r.doc_id: r.n for r in docs.select("doc_id", w.alias("n")).collect()}
    mean_all = sum(all_len.values()) / len(all_len)
    mean_sel = sum(all_len[d] for d in s100) / 100
    assert mean_sel > mean_all
    # zero/negative weights never selected
    wz = F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(F.lit(1))
    sz = {r.doc_id for r in weighted_priority_sample(docs, "doc_id", wz, 50).collect()}
    assert all(d % 2 == 1 for d in sz)
    with pytest.raises(ValueError, match="n must be"):
        weighted_priority_sample(docs, "doc_id", w, 0)


# --------------------------------------------------------- collocations


def test_corpus_collocations_lift_and_edges(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        corpus_collocations,
    )

    # "new york" always adjacent; "the" everywhere -> low lift for
    # "the x"; single-token and empty-ish docs must not crash
    docs = spark.createDataFrame(
        [(i, "new york is the city the people the crowd") for i in range(5)]
        + [(99, "solo"), (100, "the the")],
        "doc_id long, text string",
    )
    out = corpus_collocations(docs, k=10, min_count=5)
    rows = {(r.a, r.b): (r.n_pair, r.lift) for r in out.collect()}
    assert ("new", "york") in rows
    assert rows[("new", "york")][0] == 5
    # the perfectly-associated pair outranks any "the"-anchored pair
    the_lifts = [v[1] for (a, b), v in rows.items() if a == "the" or b == "the"]
    assert all(rows[("new", "york")][1] > tl for tl in the_lifts)
    # min_count prunes pairs seen fewer than 5 times
    assert all(v[0] >= 5 for v in rows.values())


# ------------------------------------------------------- tfidf retrieval


def test_tfidf_search_ranks_rare_terms_higher(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        TFIDF_SCALE,
        tfidf_search,
    )

    # "rare" appears in one doc, "common" in all four: the rare-term
    # doc must outrank a doc with twice the common-term tf
    docs = spark.createDataFrame(
        [
            (1, "common rare alpha"),
            (2, "common common common beta"),
            (3, "common gamma"),
            (4, "common delta"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_search(docs, "rare common", k=4).collect()
    assert out[0].doc_id == 1
    # exact fixed-point arithmetic: doc1 = 1·(4e6//1) + 1·(4e6//4)
    assert out[0].score == 4 * TFIDF_SCALE + TFIDF_SCALE
    # doc2: 3 hits of the everywhere-term only
    assert {r.doc_id: r.score for r in out}[2] == 3 * TFIDF_SCALE
    # duplicate query terms collapse; unknown terms contribute nothing
    same = tfidf_search(docs, "rare rare common zzz_unknown", k=4).collect()
    assert [tuple(r) for r in same] == [tuple(r) for r in out]
    import pytest as _pt

    with _pt.raises(ValueError, match="non-empty"):
        tfidf_search(docs, "   ")


def test_bm25_search_exact_fixed_point_and_semantics(spark):
    import math

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        TFIDF_SCALE,
        bm25_search,
    )

    corpus = [
        (1, "grid rare grid"),
        (2, "grid grid grid grid grid grid"),
        (3, "solar wind"),
        (4, "grid solar"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")

    # pure-python mirror of the fixed-point formula (exact int ops)
    S, K1S, BS = TFIDF_SCALE, 1_200_000, 750_000
    toks = {i: t.split() for i, t in corpus}
    N, L = len(toks), sum(len(v) for v in toks.values())
    df = {"grid": 3, "rare": 1}
    idf = {
        t: math.floor(S * math.log(1 + (2 * N - 2 * d + 1) / (2 * d + 1)))
        for t, d in df.items()
    }
    def score(i):
        dl = len(toks[i])
        norm = S - BS + BS * dl * N // L
        tot = 0
        for t in idf:
            tf = toks[i].count(t)
            if tf:
                tot += idf[t] * (
                    tf * (K1S + S) * S // (tf * S + K1S * norm // S)
                )
        return tot

    got = {r.doc_id: r.score for r in bm25_search(docs, "rare grid", k=4).collect()}
    assert got == {i: score(i) for i in toks if score(i)}

    # the rare-term doc outranks the tf-stuffed doc (idf dominates)
    order = [r.doc_id for r in bm25_search(docs, "rare grid", k=4).collect()]
    assert order[0] == 1
    # tf saturation: 6 occurrences score far less than 6x one occurrence
    one = bm25_search(
        spark.createDataFrame([(1, "grid x"), (2, "grid " * 6 + "x")],
                              "doc_id long, text string"),
        "grid", k=2,
    ).collect()
    s = {r.doc_id: r.score for r in one}
    assert s[2] < 6 * s[1]
    # length normalization: same tf, longer doc scores strictly lower
    ln = bm25_search(
        spark.createDataFrame(
            [(1, "grid pad"), (2, "grid " + "pad " * 40 + "pad")],
            "doc_id long, text string",
        ),
        "grid", k=2,
    ).collect()
    s = {r.doc_id: r.score for r in ln}
    assert s[2] < s[1]

    with pytest.raises(ValueError, match="non-empty"):
        bm25_search(docs, " ")


# ------------------------------------------- edit-distance fuzzy join


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.slow
def test_edit_distance_pairs_vs_bruteforce(spark):
    import random

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        edit_distance_pairs,
    )

    rng = random.Random(7)
    # tight alphabet + short lengths force plenty of near pairs,
    # including empty and sub-q strings (the broadcast short block)
    strs = [
        "".join(rng.choice("ab") for _ in range(rng.randint(0, 8)))
        for _ in range(60)
    ] + ["", "a", "b", "ab", "ba"]
    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows, "id long, s string")
    for k in (0, 1, 2):
        want = sorted(
            (i, j, _lev(si, sj))
            for i, si in rows
            for j, sj in rows
            if i < j and abs(len(si) - len(sj)) <= k and _lev(si, sj) <= k
        )
        got = [tuple(r) for r in edit_distance_pairs(df, k, q=2).collect()]
        assert got == want, f"k={k}: {len(got)} vs {len(want)}"

    # adversarial bag-semantics corpus: long repetitive strings where
    # every gram value occurs many times (the positional-prefix lemma's
    # hard case) plus mutated copies at controlled distances
    rep = []
    for i in range(30):
        s = ("ab" * 10)[: rng.randint(12, 20)]
        p = rng.randrange(len(s))
        rep.append(s[:p] + rng.choice("abc") + s[p + 1 :])
    rep_rows = [(i, s) for i, s in enumerate(rep)]
    rdf = spark.createDataFrame(rep_rows, "id long, s string")
    for k, qq in ((1, 2), (2, 2), (2, 3)):
        want = sorted(
            (i, j, _lev(si, sj))
            for i, si in rep_rows
            for j, sj in rep_rows
            if i < j and abs(len(si) - len(sj)) <= k and _lev(si, sj) <= k
        )
        got = [tuple(r) for r in edit_distance_pairs(rdf, k, q=qq).collect()]
        assert got == want, f"rep k={k} q={qq}: {len(got)} vs {len(want)}"

    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_pairs(df, -1)


@pytest.mark.slow
def test_auto_gram_size_rule_and_equivalence(spark):
    # VERDICT r7 Next #4: q auto-derived as the smallest q with
    # |Σ|^q >= ratio·n from the OBSERVED alphabet, capped; and the
    # auto-q join is result-identical to any pinned q (exact verify)
    import random

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        auto_gram_size,
        edit_distance_pairs,
    )

    rng = random.Random(11)
    # binary alphabet, 40 rows: 2^q >= 8*40=320 → q=9, capped at 5
    bin_rows = [
        (i, "".join(rng.choice("ab") for _ in range(12))) for i in range(40)
    ]
    bdf = spark.createDataFrame(bin_rows, "id long, s string")
    assert auto_gram_size(bdf) == 5
    # wide alphabet, few rows: |Σ|=16 → 16^2=256 >= 8*16=128 → q=2
    wide_rows = [(i, "abcdefghijklmnop"[i:] + "abcdefghijklmnop"[:i])
                 for i in range(16)]
    wdf = spark.createDataFrame(wide_rows, "id long, s string")
    assert auto_gram_size(wdf) == 2
    # degenerate single-char alphabet → 1 (no q can out-size the corpus)
    one = spark.createDataFrame([(1, "aaaa"), (2, "aaa")], "id long, s string")
    assert auto_gram_size(one) == 1
    with pytest.raises(ValueError, match="target_ratio"):
        auto_gram_size(bdf, target_ratio=0)

    # equivalence: auto-q results == pinned-q results == brute force
    want = sorted(
        (i, j, _lev(si, sj))
        for i, si in bin_rows
        for j, sj in bin_rows
        if i < j and _lev(si, sj) <= 2
    )
    auto = [tuple(r) for r in edit_distance_pairs(bdf, 2).collect()]
    pinned = [tuple(r) for r in edit_distance_pairs(bdf, 2, q=2).collect()]
    assert auto == pinned == want


def test_edit_distance_pairs_realistic_words(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        edit_distance_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "cold ring"),
            (2, "old ring"),
            (3, "cold rings"),
            (4, "hot gear"),
            (5, "cold ring"),
        ],
        "id long, s string",
    )
    got = {(r.id1, r.id2): r.dist for r in edit_distance_pairs(df, 2).collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 5)] == 0
    assert got[(2, 3)] == 2 and got[(3, 5)] == 1 and got[(2, 5)] == 1
    assert not any(4 in p for p in got)


# ------------------------------------------------ persisted search index


def test_search_index_probe_matches_inline_bit_exactly(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        bm25_search,
        persist_search_index,
        search_index_topk,
        tfidf_search,
    )

    docs = load_table(spark, "documents", SF)
    query = "vector stream merge window data"
    persist_search_index(docs, "t_search_idx")
    try:
        for mode, inline_fn in (("bm25", bm25_search), ("tfidf", tfidf_search)):
            probed = [
                tuple(r)
                for r in search_index_topk(
                    spark, "t_search_idx", query, k=15, mode=mode
                ).collect()
            ]
            inline = [tuple(r) for r in inline_fn(docs, query, k=15).collect()]
            assert probed == inline, mode
            assert len(probed) == 15
        # absent terms score nothing in both halves
        empty = search_index_topk(spark, "t_search_idx", "zzz_nonexistent")
        assert empty.collect() == []
        with pytest.raises(ValueError, match="non-empty"):
            search_index_topk(spark, "t_search_idx", "  ")
        with pytest.raises(ValueError, match="mode"):
            search_index_topk(spark, "t_search_idx", "vector", mode="cosine")
    finally:
        for suffix in ("postings", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS t_search_idx_{suffix}")


def test_search_index_append_and_replay_exactly_once(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        append_search_index,
        bm25_search,
        persist_search_index,
        search_index_topk,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", SF)
    a = docs.where(F.col("doc_id") % 3 != 0)
    b = docs.where(F.col("doc_id") % 3 == 0)
    query = "vector stream merge window"
    persist_search_index(a, "t_appendix", batch_id="b0")
    try:
        append_search_index(b, "t_appendix", batch_id="b1")
        inline = [tuple(r) for r in bm25_search(docs, query, k=15).collect()]
        probed = [
            tuple(r)
            for r in search_index_topk(
                spark, "t_appendix", query, k=15
            ).collect()
        ]
        assert probed == inline  # grown index ≡ inline over the union
        # crash replay, window 1: both tables committed, append fully
        # re-run (rows byte-identical) — content dedup keeps scores
        append_search_index(b, "t_appendix", batch_id="b1")
        again = [
            tuple(r)
            for r in search_index_topk(
                spark, "t_appendix", query, k=15
            ).collect()
        ]
        assert again == inline
        # crash replay, window 2: stats committed but postings not
        # (simulated by appending ONLY the stats row again)
        from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
            _search_stats,
        )

        _search_stats(b, "text", "b1").write.format("parquet").mode(
            "append"
        ).saveAsTable("t_appendix_stats")
        after = [
            tuple(r)
            for r in search_index_topk(
                spark, "t_appendix", query, k=15
            ).collect()
        ]
        assert after == inline
    finally:
        for suffix in ("postings", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS t_appendix_{suffix}")


def test_doc_lm_nll_exact_fixed_point(spark):
    import math
    from collections import Counter

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        TFIDF_SCALE,
        doc_lm_nll,
    )

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "zq xv qqq zz pf"),          # improbable junk
        (4, "the cat"),
        (5, "solo"),                      # < 2 tokens: not scored
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")

    toks = {i: t.split() for i, t in corpus}
    bigs = {i: list(zip(v, v[1:])) for i, v in toks.items()}
    cab = Counter(b for v in bigs.values() for b in v)
    ca = Counter(b[0] for v in bigs.values() for b in v)
    V = len({t for v in toks.values() for t in v})
    S = TFIDF_SCALE
    nll = {
        b: math.floor(S * math.log((ca[b[0]] + V) / (c + 1)))
        for b, c in cab.items()
    }
    want = {}
    for i, v in bigs.items():
        if v:
            want[i] = (len(v), sum(nll[b] for b in v))
    got = {
        r.doc_id: (r.n_bigrams, r.nll_sum, r.avg_nll_s)
        for r in doc_lm_nll(docs, k=10).collect()
    }
    assert set(got) == set(want)
    for i, (n, s) in want.items():
        assert got[i] == (n, s, s // n), i
    # the junk doc has the worst (highest) average NLL
    worst = doc_lm_nll(docs, k=1).collect()[0]
    assert worst.doc_id == 3


def test_corpus_textrank_exact_fixed_point(spark):
    from collections import Counter, defaultdict

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        TFIDF_SCALE,
        corpus_textrank,
    )

    corpus = [
        (1, "a b a b c"),
        (2, "a b c d"),
        (3, "b c d e"),
        (4, "a b x y"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    S, D, MIN, IT = TFIDF_SCALE, 850_000, 2, 5

    # python mirror in exact ints
    cab = Counter()
    for _, t in corpus:
        v = t.split()
        for x, y in zip(v, v[1:]):
            cab[(x, y)] += 1
    cab = {p: c for p, c in cab.items() if c >= MIN}
    edges = defaultdict(int)
    for (x, y), c in cab.items():
        edges[(x, y)] += c
        edges[(y, x)] += c
    W = defaultdict(int)
    for (u, v), w in edges.items():
        W[u] += w
    nodes = sorted(W)
    r = {t: S for t in nodes}
    for _ in range(IT):
        sums = defaultdict(int)
        for (u, v), w in edges.items():
            sums[v] += (w * r[u]) // W[u]
        r = {t: (S * (S - D)) // S + (D * sums[t]) // S for t in nodes}

    got = [(row.t, row.rank_s) for row in corpus_textrank(
        docs, k=10, n_iter=IT, min_count=MIN).collect()]
    want = sorted(((t, r[t]) for t in nodes), key=lambda x: (-x[1], x[0]))
    assert got == want
    # the hub token "b" (in every doc, heaviest edges) ranks first
    assert got[0][0] == "b"

    with pytest.raises(ValueError, match="damping"):
        corpus_textrank(docs, damping_scaled=0)


# ------------------------------------------------- incremental join view


def test_incremental_join_view_bag_equal_to_recompute(spark):
    from collections import Counter

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.ivm import (
        incremental_join_view,
    )

    # duplicates on purpose: the identity must hold in BAG semantics
    a_old = spark.createDataFrame(
        [(1, "a1"), (1, "a1"), (2, "a2"), (9, "a9")], "k long, av string"
    )
    b_old = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (2, "b2x")], "k long, bv string"
    )
    a_new = spark.createDataFrame([(2, "a2d"), (3, "a3d")], "k long, av string")
    b_new = spark.createDataFrame(
        [(1, "b1d"), (3, "b3d"), (3, "b3d")], "k long, bv string"
    )

    maintained = Counter(
        tuple(r)
        for r in incremental_join_view(a_old, b_old, a_new, b_new, ["k"]).collect()
    )
    full = Counter(
        tuple(r)
        for r in a_old.unionByName(a_new)
        .join(b_old.unionByName(b_new), ["k"])
        .collect()
    )
    assert maintained == full and sum(full.values()) > 0

    # empty deltas: the refresh is exactly the old view
    empty_a = a_new.limit(0)
    empty_b = b_new.limit(0)
    same = Counter(
        tuple(r)
        for r in incremental_join_view(
            a_old, b_old, empty_a, empty_b, ["k"]
        ).collect()
    )
    assert same == Counter(tuple(r) for r in a_old.join(b_old, ["k"]).collect())


# --------------------------------------------------------- RRF fusion


def test_rrf_fuse_union_semantics_and_exact_scores(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        RRF_SCALE,
        rrf_fuse,
    )

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(12, 1), (13, 2)], "doc_id long, rank long"
    )
    got = {r.doc_id: r.rrf_s for r in rrf_fuse([lex, sem], k0=60).collect()}
    s = RRF_SCALE
    assert got == {
        10: s // 61,
        11: s // 62,
        12: s // 63 + s // 61,   # in both lists: contributions add
        13: s // 62,
    }
    # doc 12 (rank 3 + rank 1) outranks doc 10 (single rank 1)
    order = [r.doc_id for r in rrf_fuse([lex, sem], k0=60).collect()]
    assert order[0] == 12
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


# --------------------------------------------------------- CUSUM alarms


def test_hourly_cusum_matches_clamped_recursion(spark):
    import datetime

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_cusum_changepoints,
    )

    # type A: flat 5/hour for 48h then a sustained 12/hour regime for
    # 12h — each shifted hour is mild (z ≈ 2) but the drift accumulates;
    # type B stays flat
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(60):
        for t, n in (("A", 5 + (7 if h >= 48 else 0)), ("B", 5)):
            for _ in range(n):
                rows.append(
                    (eid, t, base + datetime.timedelta(hours=h, minutes=30))
                )
                eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")

    S = 1_000_000
    # python mirror: the TEXTBOOK clamped recursion (not the window
    # identity) — proves the prefix-sum-minus-running-min rewrite
    def mirror(counts, s_num, s_den, h_num, h_den):
        H, tot = len(counts), sum(counts)
        mu = S * tot // H
        kappa = s_num * mu // s_den
        thr = h_num * mu // h_den
        out, c = [], 0
        for i, n in enumerate(counts):
            c = max(0, c + n * S - mu - kappa)
            if c > thr:
                out.append((i, n, c))
        return out

    got = [
        ((r.ts_hour - base).total_seconds() // 3600, r.n, r.cusum_s)
        for r in hourly_cusum_changepoints(ev).collect()
        if r.event_type == "A"
    ]
    want = [
        (h, n, c) for h, n, c in mirror([5] * 48 + [12] * 12, 1, 4, 3, 1)
    ]
    assert got == want and len(got) > 0
    # the flat series never alarms
    assert not [
        r for r in hourly_cusum_changepoints(ev).collect()
        if r.event_type == "B"
    ]


# ------------------------------------------------- conformal intervals


def test_conformal_eval_rank_exact_q_and_coverage(spark):
    import datetime

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.gold import (
        conformal_eval,
    )

    t0 = datetime.datetime(2024, 1, 1)
    ts = [t0 + datetime.timedelta(hours=h) for h in range(8)]
    # |yhat - y| residuals: calib (first 4) = 1,2,3,4; test = .5,2.5,3.5,10
    resid = [1.0, 2.0, 3.0, 4.0, 0.5, 2.5, 3.5, 10.0]
    fc = spark.createDataFrame(
        [("s1", t, "m", "pv", 1, 5.0) for t in ts],
        "site string, ts_utc timestamp, model string, var string,"
        " horizon_h int, yhat double",
    )
    feats = spark.createDataFrame(
        [("s1", t, 5.0 + r, 0.0) for t, r in zip(ts, resid)],
        "site string, ts_utc timestamp, pv_est_mwh double,"
        " wind_est_mwh double",
    )
    rows = conformal_eval(fc, feats).collect()
    # the forecast frame carries var='pv' only — the eval join keeps it
    assert [r.var for r in rows] == ["pv"]
    pv = rows[0]
    # k = ceil((4+1)*0.9) = 5 clamped to 4 → q = 4th smallest = 4.0
    assert (pv.n_calib, pv.n_test, pv.q_width) == (4, 4, 4.0)
    assert pv.coverage == 0.75  # .5, 2.5, 3.5 within ±4; 10 outside


# -------------------------------------------------- negative sampling


def test_contrastive_negatives_ring_properties(spark):
    from collections import Counter

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        contrastive_negatives,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    out = contrastive_negatives(docs, k=3, n_buckets=2).collect()
    # every anchor: exactly k negatives, all distinct, never itself
    per = Counter(r.anchor for r in out)
    assert set(per.values()) == {3} and len(per) == 40
    for a in per:
        negs = [r.negative for r in out if r.anchor == a]
        assert len(set(negs)) == 3 and a not in negs
    # rerun-stable
    again = contrastive_negatives(docs, k=3, n_buckets=2).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]
    # a bucket too small for k raises loudly, never silently self-pairs
    import pytest as _pt
    tiny = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with _pt.raises(Exception, match="cannot supply"):
        contrastive_negatives(tiny, k=3, n_buckets=1).collect()


# ------------------------------------------------ vocabulary growth


def test_vocab_growth_curve_nested_and_exact_final(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        vocab_growth_curve,
    )

    rows = [(i, f"common w{i % 7} unique{i}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pts = vocab_growth_curve(docs, fractions=5).collect()
    assert [r.sample_pct for r in pts] == [20, 40, 60, 80, 100]
    toks = [r.n_tokens for r in pts]
    voc = [r.vocab for r in pts]
    # strict growth curve: nested samples, monotone both axes
    assert toks == sorted(toks) and voc == sorted(voc)
    # the 100% point is the exact full corpus
    all_tokens = [t for _, s in rows for t in s.split()]
    assert toks[-1] == len(all_tokens)
    assert voc[-1] == len(set(all_tokens))
    import pytest as _pt

    with _pt.raises(ValueError, match="fractions"):
        vocab_growth_curve(docs, fractions=0)


# ------------------------------------------------ embedding drift


def test_embedding_split_drift_detects_centroid_shift(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        embedding_split_drift,
    )

    dims = 64
    same = spark.createDataFrame(
        [(i, [1.0] * dims) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    r = embedding_split_drift(same, dims=dims).collect()[0]
    assert (r.n_a, r.n_b) == (5, 5) and abs(r.cos_means - 1.0) < 1e-12
    # odd half points along a different axis: centroids decorrelate
    shifted = spark.createDataFrame(
        [
            (i, ([1.0] * 32 + [0.0] * 32) if i % 2 == 0
             else ([0.0] * 32 + [1.0] * 32))
            for i in range(10)
        ],
        "vec_id long, embedding array<double>",
    )
    r2 = embedding_split_drift(shifted, dims=dims).collect()[0]
    assert r2.cos_means < 1e-9


# ------------------------------------------------- frequent pairs


def test_doc_frequent_pairs_apriori(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        doc_frequent_pairs,
    )

    # "x"+"y" co-occur in 4 docs (non-adjacent!); "x"+"z" in only 2;
    # "rare" never reaches support alone (downward closure prunes it)
    docs = spark.createDataFrame(
        [
            (1, "x a y"),
            (2, "x b y"),
            (3, "y c x"),
            (4, "x d y z rare"),
            (5, "x e z"),
            (6, "x f q"),
        ],
        "doc_id long, text string",
    )
    rows = doc_frequent_pairs(docs, min_support=3, k=10).collect()
    got = {(r.a, r.b): (r.support, r.lift) for r in rows}
    assert got[("x", "y")][0] == 4
    # lift = support*N/(df_x*df_y) = 4*6/(6*4) = 1.0
    assert got[("x", "y")][1] == 1.0
    assert ("x", "z") not in got and not any("rare" in p for p in got)
    # duplicate tokens in one doc count once (distinct baskets)
    dup = spark.createDataFrame(
        [(i, "x x y y") for i in range(3)], "doc_id long, text string"
    )
    r2 = doc_frequent_pairs(dup, min_support=3, k=5).collect()
    assert [(r.a, r.b, r.support) for r in r2] == [("x", "y", 3)]


# ------------------------------------------------------- triangles


def test_collocation_triangles_enumeration(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_triangles,
    )

    # "x y z x" closes the x-y-z triangle; "p q" is an edge, no
    # triangle; weights: the x-z bond appears in only 5 docs while
    # x-y/y-z get an extra doc -> strength = weakest edge = 5
    docs = spark.createDataFrame(
        [(i, "x y z x") for i in range(5)]
        + [(10, "x y z y")]
        + [(j, "p q") for j in range(20, 26)],
        "doc_id long, text string",
    )
    rows = collocation_triangles(docs, min_count=5).collect()
    assert [(r.a, r.b, r.c, r.strength) for r in rows] == [("x", "y", "z", 5)]
    # each triangle enumerated exactly once despite the two self-joins
    assert len(rows) == 1


# ----------------------------------------------------- hourly anomalies


def test_hourly_anomalies_flags_the_spike(spark):
    from datetime import datetime

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        hourly_count_anomalies,
    )

    rows = []
    # 23 steady hours of 10 events + one 100-event spike hour
    for h in range(24):
        per = 100 if h == 12 else 10
        for i in range(per):
            rows.append(("click", datetime(2024, 1, 1, h, i % 60), i))
    # a constant-rate type emits nothing (zero variance)
    for h in range(10):
        rows.append(("flat", datetime(2024, 1, 1, h, 0), h))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, v long")
    out = hourly_count_anomalies(df, z_threshold=2.0).collect()
    assert [(r.event_type, r.ts_hour.hour, r.n) for r in out] == [
        ("click", 12, 100)
    ]
    assert out[0].z > 4.0


# ------------------------------------------------------ OLS trend slopes


def test_trend_slopes_exact_on_synthetic_line(spark):
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        trend_slopes,
    )

    rows = [("a", x, 3.0 * x + 7.0) for x in range(10)]
    rows += [("flat", x, 5.0) for x in range(4)]
    rows += [("one", 1, 9.0)]
    rows += [("novar", 2, 1.0), ("novar", 2, 3.0)]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    out = {r.g: r for r in trend_slopes(df, "g", F.col("x"), F.col("y")).collect()}
    assert abs(out["a"].slope - 3.0) < 1e-12
    assert abs(out["a"].intercept - 7.0) < 1e-12
    assert abs(out["flat"].slope) < 1e-12 and abs(out["flat"].intercept - 5.0) < 1e-12
    assert out["one"].slope is None and out["one"].intercept is None
    assert out["novar"].slope is None  # zero x-variance


# ------------------------------------------------------ greedy k-center


def test_kcenter_gains_monotone_and_deterministic(spark):
    emb = load_table(spark, "embeddings", SF)
    out = kcenter_select(emb, k=6).orderBy("rank").collect()
    assert [r.rank for r in out] == list(range(6))
    assert out[0].gain is None
    gains = [r.gain for r in out[1:]]
    # farthest-point gains never increase (coverage radius shrinks)
    assert all(gains[i] >= gains[i + 1] for i in range(len(gains) - 1))
    assert len({r.vec_id for r in out}) == 6
    again = kcenter_select(emb, k=6).orderBy("rank").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_kcenter_matches_numpy_reference(spark):
    emb = load_table(spark, "embeddings", SF).limit(64)
    got = [
        (r.rank, r.vec_id)
        for r in kcenter_select(emb, k=5).orderBy("rank").collect()
    ]
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array(sorted(r.vec_id for r in rows))
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows
    }
    chosen = [int(ids[0])]
    for _ in range(4):
        best, best_d = None, -1.0
        for i in sorted(vecs):
            d = min(float(((vecs[i] - vecs[c]) ** 2).sum()) for c in chosen)
            if d > best_d + 1e-9 or (abs(d - best_d) <= 1e-9 and best is not None and i < best):
                # strict improvement, or tie broken by smaller id
                if d > best_d + 1e-9 or abs(d - best_d) <= 1e-9:
                    best, best_d = i, max(d, best_d)
        chosen.append(best)
    assert [v for _, v in got] == chosen


def test_kcenter_driver_path_equals_distributed(spark):
    # the bounded-driver fast path must be ROW-IDENTICAL to the
    # distributed per-round aggregate (same ordered arithmetic, same
    # tie-break) — forced via driver_max
    emb = load_table(spark, "embeddings", SF)
    drv = kcenter_select(emb, k=5).orderBy("rank").collect()
    dist = kcenter_select(emb, k=5, driver_max=0).orderBy("rank").collect()
    assert [tuple(r) for r in drv] == [tuple(r) for r in dist]


def test_kcenter_k_capped_at_corpus_size(spark):
    emb = load_table(spark, "embeddings", SF).limit(3)
    out = kcenter_select(emb, k=10).collect()
    assert len(out) == 3
    assert len({r.vec_id for r in out}) == 3  # no duplicate centers


def test_kcenter_duplicate_vectors_never_repeat_a_center(spark):
    # review r7: with duplicate vectors, every copy of a chosen center
    # ties at mind=0 and the id tie-break used to re-pick the CENTER
    # itself — k distinct points must come back, duplicates selectable
    # only once, never-chosen points not skipped
    zero = [0.0] * 63
    rows = [
        (0, [0.0] + zero),
        (1, [0.0] + zero),       # exact duplicate of vec 0
        (2, [3.0] + zero),
        (3, [3.0] + zero),       # exact duplicate of vec 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for dm in (65536, 0):  # driver and distributed paths
        out = kcenter_select(emb, k=4, driver_max=dm).orderBy("rank").collect()
        ids = [r.vec_id for r in out]
        assert len(set(ids)) == 4, ids
        assert ids[0] == 0 and ids[1] == 2  # farthest first, then dups
        assert out[2].gain == 0.0 and out[3].gain == 0.0


def test_trend_slopes_exact_at_bigint_unsafe_magnitudes(spark):
    # review r7: sum(x*x) as plain BIGINT wraps silently once n*x^2
    # passes 9.2e18 — the decimal carrier must stay exact. 3000 rows
    # at x ~ 2e9 gives n*x^2 ~ 1.2e22, far past the long cap.
    from pyspark.sql import functions as F

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        trend_slopes,
    )

    X0 = 2_000_000_000
    rows = [("g", X0 + i, 2.0 * i + 1.0) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    r = trend_slopes(df, "g", F.col("x"), F.col("y")).collect()[0]
    # a wrapped BIGINT sum yields wildly wrong values here; the exact
    # decimal carrier keeps the answer right up to the documented
    # large-offset float cancellation (~n·ulp / den, here ~5e-4)
    assert abs(r.slope - 2.0) < 1e-2
    assert r.n == 3000


def test_kcenter_edges(spark):
    emb = load_table(spark, "embeddings", SF)
    one = kcenter_select(emb, k=1).collect()
    assert len(one) == 1 and one[0].rank == 0 and one[0].gain is None
    with pytest.raises(ValueError, match="k must be"):
        kcenter_select(emb, k=0)
    empty = emb.filter("vec_id < 0")
    with pytest.raises(ValueError, match="non-empty"):
        kcenter_select(empty, k=2)
