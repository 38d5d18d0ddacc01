"""Retrieval in ``functions/text.py``: TF-IDF, BM25, pseudo-relevance
feedback and the persisted search index; and the bigram-graph k-core.
Edge cases beyond the oracle differential (which pins the registered
configurations bit-exactly)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------ refusals


@pytest.mark.parametrize(
    "fn, kwargs",
    [
        ("tfidf_search", {"k": 0}),
        ("tfidf_search", {"k": -1}),
        ("bm25_search", {"k": 0}),
        ("bm25_search", {"k1_scaled": -1_200_000}),
        ("bm25_search", {"b_scaled": 2_000_000}),
        ("bm25_search", {"b_scaled": -1}),
        ("search_index_topk", {"k": 0}),
        ("search_index_topk", {"k1_scaled": -1}),
        ("search_index_topk", {"b_scaled": 1_000_001}),
        ("bm25_prf_search", {"k": -1}),
        ("bm25_prf_search", {"b_scaled": 2_000_000}),
        ("bm25_prf_search", {"fb_docs": 0}),
        ("bm25_prf_search", {"fb_terms": -2}),
        ("prf_index_topk", {"k": 0}),
        ("prf_index_topk", {"k1_scaled": -1}),
        ("prf_index_topk", {"fb_docs": 0}),
        ("prf_index_topk", {"fb_terms": 0}),
    ],
)
def test_search_refuses_out_of_domain_params_before_any_job(
    spark, jobs_in, fn, kwargs
):
    # k < 1 asks for nothing, an empty feedback set silently degrades
    # PRF to plain BM25, and k1 < 0 or b outside [0, 1] voids the
    # bounded-quotient overflow argument: refuse on the driver. The
    # index probes refuse before reading their tables, so no index
    # exists here.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions import (
        text as TX,
    )

    docs = spark.createDataFrame(
        [(1, "grid outage")], "doc_id long, text string"
    )
    source = (spark, "t_no_such_index") if fn.endswith("_topk") else (docs,)
    (param,) = kwargs
    with jobs_in() as jobs, pytest.raises(ValueError, match=param):
        getattr(TX, fn)(*source, "grid", **kwargs)
    assert jobs == []


# ------------------------------------------------------------ PRF


def test_bm25_prf_bridges_vocabulary_mismatch(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        bm25_prf_search,
        bm25_search,
    )

    # docs about "grid" consistently co-mention "outage"; doc 20 talks
    # ONLY about outages — plain BM25 can never retrieve it for the
    # query "grid", PRF expansion can
    docs = spark.createDataFrame(
        [
            (1, "grid outage outage report north"),
            (2, "grid outage outage summary south"),
            (3, "grid outage maintenance east"),
            (20, "outage outage outage blackout west"),
            (30, "weather sunny calm mild dry"),
            (31, "market price index stable flat"),
        ],
        "doc_id long, text string",
    )
    plain = {r.doc_id for r in bm25_search(docs, "grid", k=6).collect()}
    assert 20 not in plain
    prf = bm25_prf_search(docs, "grid", k=6, fb_docs=3, fb_terms=2).collect()
    ids = {r.doc_id for r in prf}
    assert 20 in ids and {1, 2, 3} <= ids
    assert 30 not in ids and 31 not in ids
    import pytest as _pt

    with _pt.raises(ValueError, match="non-empty"):
        bm25_prf_search(docs, "  ")



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


# ---------------------------------------------------------------- k-core


def test_kcore_peels_pendant_keeps_triangle(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_kcore,
    )

    # graph: a-b-c triangle + c-d pendant; 2-core = the triangle
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "a c"), (4, "c d")],
        "doc_id long, text string",
    )
    got = {
        (r.token, r.degree)
        for r in collocation_kcore(
            docs, k_core=2, n_rounds=3, min_count=1
        ).collect()
    }
    assert got == {("a", 2), ("b", 2), ("c", 2)}


def test_kcore_chain_has_empty_two_core(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_kcore,
    )

    # path a-b-c-d: every peel round removes the endpoints until empty;
    # needs MULTIPLE rounds (each round only strips the current leaves)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "c d")], "doc_id long, text string"
    )
    assert (
        collocation_kcore(docs, k_core=2, n_rounds=3, min_count=1).count()
        == 0
    )
    # one round is NOT enough: after stripping a and d, b-c survives
    # with degree 1 — the unconverged superset, never an undershoot
    one = {
        r.token
        for r in collocation_kcore(
            docs, k_core=2, n_rounds=1, min_count=1
        ).collect()
    }
    assert one == {"b", "c"}


def test_kcore_registered_rounds_converge_on_testdata(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_kcore,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        load_table,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    r8 = sorted(
        (r.token, r.degree)
        for r in collocation_kcore(docs, k_core=3, n_rounds=8).collect()
    )
    r9 = sorted(
        (r.token, r.degree)
        for r in collocation_kcore(docs, k_core=3, n_rounds=9).collect()
    )
    assert r8 == r9 and len(r8) > 0  # registered config is converged


def test_kcore_refuses_bad_params(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.text import (
        collocation_kcore,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k_core"):
        collocation_kcore(docs, k_core=0)
    with pytest.raises(ValueError, match="k_core"):
        collocation_kcore(docs, n_rounds=0)
