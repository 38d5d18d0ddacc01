"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every ``q_<name>`` function in this module, keyed
``<name>``, in definition order; each takes (spark, sf_dir) and returns
a DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (tables
pre-registered as views). Column names/aliases match exactly.

Adding an entry means writing one ``q_<name>`` function plus its oracle
SQL under the same name in ``oracle_sql()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
    relational as R,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
    analytics as A,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
    warehouse as W,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions import (
    text as TX,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
    asof as AS,
    dedup as D,
    similarity as S,
)
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
    gold as G,
)


from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
    load_table,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hourly event-type matrix (J1 alignment) at sf0.001."""
    return A.hourly_type_matrix(_t(spark, "/root/testdata/sf0.001", "events"))


# ---------------------------------------------------------------- queries

def q_summary_events(spark, sf_dir):
    # A1 count/min/max summary (main.py:81-104)
    return R.summary(_t(spark, sf_dir, "events"), "ts")


def q_distinct_event_types(spark, sf_dir):
    # A2 distinct + sort (main.py:74-77)
    return R.distinct_sorted(_t(spark, sf_dir, "events"), "event_type")


def q_latest_per_user_hour(spark, sf_dir):
    # A3 last-per-group dedup (silver_clean.py:99-101)
    ev = A.with_hour(_t(spark, sf_dir, "events"))
    latest = R.latest_per_group(
        ev, keys=["user_id", "ts_hour"], order_col="ts", tiebreak=["event_id"]
    )
    return latest.select("user_id", "ts_hour", "event_id", "event_type", "value")


def q_recent_events_topk(spark, sf_dir):
    # O22 latest-k then chronological (main.py:117-124)
    ev = _t(spark, sf_dir, "events")
    return R.topk_recent(ev, "ts", 168, tiebreak=["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def q_events_window_filter(spark, sf_dir):
    # O4 equality + O5 half-open range predicate (silver_clean.py:39-41)
    ev = _t(spark, sf_dir, "events")
    return R.half_open_window(
        ev,
        "ts",
        "2024-01-10 00:00:00",
        "2024-01-20 00:00:00",
        extra=(F.col("event_type") == "click"),
    ).select("event_id", "ts", "user_id", "value")


def q_hourly_type_pivot(spark, sf_dir):
    # J1 n-way series alignment via pivot (nasa.py:91-108)
    return A.hourly_type_matrix(_t(spark, sf_dir, "events"))


def q_hourly_completeness(spark, sf_dir):
    # A6/A7 completeness matrix (streamlit/app.py:519-524)
    return A.hourly_completeness(_t(spark, sf_dir, "events"))


def q_hourly_long(spark, sf_dir):
    # A9 wide->long melt (streamlit/app.py:525-526)
    return A.hourly_long(_t(spark, sf_dir, "events"))


def q_drop_reason_counts(spark, sf_dir):
    # O12 labeled cascade + A5 value_counts + W2 dup window
    return A.drop_reason_counts(_t(spark, sf_dir, "events"))


def q_keep_metrics(spark, sf_dir):
    # J3/A8 two-table scalar combine -> kept pct (main.py:274-287)
    ev = _t(spark, sf_dir, "events")
    return R.keep_metrics(ev, A.kept_events(ev))


def q_props_stats(spark, sf_dir):
    # F9/F10 JSON extraction + aggregate (nasa.py:58-87 analog)
    return A.props_stats(_t(spark, sf_dir, "events"))


def q_pricing_summary(spark, sf_dir):
    # TPC-H Q1-shaped hash aggregate (scale surface)
    return W.pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_shipping_priority(spark, sf_dir):
    # TPC-H Q3-shaped join + top-k
    return W.shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_local_supplier_volume(spark, sf_dir):
    # TPC-H Q5-shaped 5-way broadcast-dim join
    return W.local_supplier_volume(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_doc_text_stats(spark, sf_dir):
    # Text quality/scoring surface (training-data pipeline)
    return TX.text_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_doc_lang_id(spark, sf_dir):
    # N-gram-profile language ID
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", TX.lang_id(F.col("text")).alias("lang_pred")
    ).orderBy("doc_id")


def q_doc_fingerprints(spark, sf_dir):
    # Order-insensitive document fingerprint (rolling token-set hash)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.doc_fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


def q_exact_dedup(spark, sf_dir):
    # Exact dedup: hash-groupBy, canonical id + copy count
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_fingerprint_dedup(spark, sf_dir):
    # Exact dedup on the token-set fingerprint
    return D.fingerprint_dedup_groups(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard_pairs(spark, sf_dir):
    # Exact n-gram Jaccard near-dup via inverted index
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def q_ngram_jaccard_capped(spark, sf_dir):
    # Exact Jaccard over the df-capped shingle vocabulary: shingles shared
    # by more than max_df docs are dropped from index AND sizes (the
    # PPJoin-era hot-shingle prefilter; the 100 TB mitigation for the
    # inverted-index self-join's quadratic blowup).  max_df=6 binds at
    # both sf0.001 (max df 9) and sf0.01 (max df 7).
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, max_df=6
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    # MinHash banding + exact-Jaccard verify
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash_signatures(spark, sf_dir):
    # 32-bit SimHash signature per doc
    return D.simhash_signatures(_t(spark, sf_dir, "documents"))


def q_simhash_near_pairs(spark, sf_dir):
    # Banded SimHash near-dup pairs (Hamming <= 6)
    return D.simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=6)


def q_ann_topk(spark, sf_dir):
    # Brute-force cosine top-5 for query vectors vec_id < 8
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_bruteforce_topk(emb, F.col("vec_id") < 8, k=5)


def q_embedding_near_pairs(spark, sf_dir):
    # All-pairs cosine threshold (embedding near-dup)
    return S.cosine_threshold_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_ann_lsh_pairs(spark, sf_dir):
    # SRP-LSH bucketed near-neighbor pairs (scale path). max_bucket
    # is the r13 hot-bucket guard: buckets larger than LSH_MAX_BUCKET
    # are skipped (recall-only, oracle-mirrored) so one near-dup-rich
    # bucket can never make a task quadratic.
    return S.ann_lsh_pairs(
        _t(spark, sf_dir, "embeddings"),
        dims=64,
        threshold=0.2,
        max_bucket=S.LSH_MAX_BUCKET,
    )


def _pseudo_fact(spark, sf_dir):
    """FACT_WEATHER-shaped frame derived from events (site=event_type,
    ghi=value, wind=value/50) so the Gold math runs on harness data."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("site"),
        F.col("ts").alias("ts_utc"),
        F.col("value").alias("ghi_wm2"),
        F.lit(10.0).alias("temp_c"),
        (F.col("value") / 50.0).alias("wind_mps"),
    )


def _pseudo_features_hourly(spark, sf_dir):
    """Hourly per-site energy series (max-aggregated: order-insensitive,
    exactly reproducible cross-engine) feeding the forecast queries.

    r14: returned PINNED (``localCheckpoint``) — every forecast entry
    consumes the series through several lag/eval branches, and Catalyst
    re-derives the events scan + hourly aggregate once per branch
    (audited: forecast_conformal paid 6 events scans). The series is
    sites × hours rows — trivially storable at any corpus scale (the
    same fact→series reduction the champion plans pin in
    ``plans/gold.py``)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type").alias("site"),
            F.date_trunc("hour", F.col("ts")).alias("ts_utc"),
        )
        .agg(
            (F.max("value") / 100.0).alias("pv_est_mwh"),
            (F.max("value") / 200.0).alias("wind_est_mwh"),
        )
        .localCheckpoint(eager=True)
    )


def q_gold_features(spark, sf_dir):
    # Gold mart_features: GHI Wh/m2 -> kWh, PV/wind energy estimates (init.sql:44-54)
    return G.mart_features(_pseudo_fact(spark, sf_dir)).orderBy("site", "ts_utc")


def q_gold_kpis(spark, sf_dir):
    # Gold mart_kpis: capacity factors clamped to [0, 1.2] (init.sql:80-91)
    return G.mart_kpis(G.mart_features(_pseudo_fact(spark, sf_dir))).orderBy(
        "site", "ts_utc"
    )


def q_forecast_baseline(spark, sf_dir):
    # Gold mart_forecast model='baseline': seasonal-naive lag(24) (init.sql:61-73)
    fc = G.seasonal_naive_forecast(_pseudo_features_hourly(spark, sf_dir), horizons=[1, 24])
    return fc.select(
        "site", "ts_utc", "model", "var", "horizon_h",
        F.round("yhat", 6).alias("yhat"),
        F.round("yhat_lower", 6).alias("yhat_lower"),
        F.round("yhat_upper", 6).alias("yhat_upper"),
    ).orderBy("site", "var", "horizon_h", "ts_utc")


def q_asof_purchase_view(spark, sf_dir):
    # As-of join: each purchase matched to the user's most recent view
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), "event_id", "value"
    )
    right_raw = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts"), "value"
    )
    # dedupe right per (user, ts): max value — keeps the as-of match unique
    right = right_raw.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    return AS.asof_join(left, right, keys=["user_id"], left_ts="ts", right_ts="ts").orderBy(
        "user_id", "ts", "event_id"
    )


def q_dropped_events(spark, sf_dir):
    # EXCEPT ALL: the dropped-rows view the dashboard re-derives by
    # simulation (streamlit/app.py:477-517) computed relationally
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    kept = A.kept_events(_t(spark, sf_dir, "events")).select(
        "event_id", "user_id", "value"
    )
    return ev.exceptAll(kept).orderBy("event_id")


def _pseudo_bronze(spark, sf_dir):
    """RAW_WEATHER-shaped frame from events; t2m = value − 150 lands
    some rows outside [−80, 80] so every O6/O7 branch executes."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("site"),
        F.col("ts").alias("ts_utc"),
        F.col("value").alias("ghi_wm2"),
        (F.col("value") - 150.0).alias("t2m_c"),
        (F.col("value") / 50.0).alias("ws10_mps"),
        F.col("ts").alias("ingested_at"),
    )


def q_silver_clean(spark, sf_dir):
    # Full Silver chain (silver_clean.py:74-121): W1 hour-floor, O6
    # range-nullify, O7 drop-critical-nulls, A3 latest-per-key dedup,
    # O2 rename/project, W3 alignment guard — one fused plan
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        silver as SV,
    )

    return SV.clean_to_hourly(_pseudo_bronze(spark, sf_dir))


def q_quarantine_summary(spark, sf_dir):
    # O9 routing operator: domain violators quarantined with named
    # violations; summarized per violated rule
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.validation import (
        WEATHER_RULES,
        split_quarantine,
    )

    _, bad = split_quarantine(_pseudo_bronze(spark, sf_dir), WEATHER_RULES)
    return (
        bad.select(F.explode("violations").alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .orderBy("rule")
    )


def q_near_dup_clusters(spark, sf_dir):
    # Transitive closure of the near-dup pair graph -> dedup groups
    # (connected components by iterative min-label propagation; the
    # step that turns pairwise LSH output into canonical-doc groups)
    pairs = D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
    return D.connected_components(pairs).orderBy("doc_id")


def q_hourly_agg_incremental(spark, sf_dir):
    # Incremental materialized-view maintenance: per-(type, hour)
    # rollup computed as state(first 20 days) ⊕ state(rest) — the
    # algebraic-merge refresh that never rescans history. The oracle
    # IS the full recompute over the whole table, so a green row
    # proves merge ≡ recompute bit-exactly (decimal sums; the HLL
    # distinct-user estimate is audited against the exact count).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        aggregate_state,
        finalize_state,
        merge_aggregate_states,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        split_at_day_boundary,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "hour", F.date_trunc("hour", F.col("ts"))
    )
    base, delta = split_at_day_boundary(ev, "ts", 20)
    keys = ["event_type", "hour"]
    merged = merge_aggregate_states(
        [
            aggregate_state(base, keys, "value", "user_id"),
            aggregate_state(delta, keys, "value", "user_id"),
        ],
        keys,
    )
    fin = finalize_state(merged, keys)
    exact = ev.groupBy(*keys).agg(F.countDistinct("user_id").alias("_exact"))
    return (
        fin.join(exact, keys)
        .select(
            "event_type",
            "hour",
            "n",
            "sum_value",
            "avg_value",
            "min_value",
            "max_value",
            (
                F.abs(F.col("approx_distinct") - F.col("_exact"))
                <= F.greatest(F.col("_exact") * 0.1, F.lit(2))
            ).alias("users_ok"),
        )
        .orderBy("event_type", "hour")
    )


def q_doc_feature_hashes(spark, sf_dir):
    # Hashing-trick vectorization (no global vocabulary — the
    # dictionary-free featurizer a 100 TB corpus needs), summarized as
    # the corpus-level bucket histogram: hottest 50 feature buckets by
    # total term frequency.
    fh = TX.feature_hash_counts(
        _t(spark, sf_dir, "documents"), n_features=1024
    )
    return (
        fh.groupBy("feature_idx")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(F.desc("n_tokens"), "feature_idx")
        .limit(50)
    )


def q_referential_audit(spark, sf_dir):
    # Cross-table referential integrity over the warehouse star schema
    # (the dbt `relationships` test, engine-side) — every FK arm is a
    # broadcast anti-join against the parent's distinct keys.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.validation import (
        referential_audit,
    )

    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    return referential_audit(
        [
            ("customer.c_nationkey->nation", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
            ("lineitem.l_orderkey->orders", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
            ("nation.n_regionkey->region", t("nation"), "n_regionkey", t("region"), "r_regionkey"),
            ("orders.o_custkey->customer", t("orders"), "o_custkey", t("customer"), "c_custkey"),
            ("supplier.s_nationkey->nation", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"),
        ]
    )


def q_doc_curriculum(spark, sf_dir):
    # Curriculum ordering: exact global rank of every document by
    # (n_chars desc, doc_id) WITHOUT a single-partition window — the
    # total-order-partitioner pattern (relational.global_rank), with
    # the bucket-monotonicity promise verified at runtime.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return R.global_rank(
        docs,
        bucket=-F.floor(F.col("n_chars") / 64),
        key=F.struct(
            (-F.col("n_chars")).alias("neg_chars"),
            F.col("doc_id").alias("id"),
        ),
    ).orderBy("rank")


def q_doc_sample_fixed(spark, sf_dir):
    # Deterministic exactly-N sample (content-hash top-N, no RNG, no
    # full sort — TakeOrderedAndProject): the eval-set extraction that
    # reproduces row-for-row on any engine or partitioning.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        deterministic_top_n,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return deterministic_top_n(docs, "doc_id", 100).orderBy("doc_id")


def q_hourly_count_decomposition(spark, sf_dir):
    # Classical additive decomposition of the hourly load-count series
    # (trend = centered 24-row MA, seasonal = hour-of-day mean minus
    # grand mean, resid = remainder) — integer folds keep every
    # component bit-exact cross-engine (plans/forecast.py).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        forecast as FC,
    )

    return FC.count_decomposition(_t(spark, sf_dir, "events"))


def q_doc_sparse_cosine(spark, sf_dir):
    # Embedding-free document similarity: cosine over hashed TRIGRAM
    # TF vectors via an inverted-index join — all-integer dot products
    # and norms, so the whole pipeline is bit-exact cross-engine
    # (operators/similarity.sparse_cosine_pairs). Trigram features are
    # the sub-quadratic choice on this small-vocabulary corpus:
    # unigram df approaches |corpus| (measured median 3862/5000 docs —
    # every posting bucket hot, 130 s at sf0.1), trigram df is single
    # digits (median 9, 3 s). max_df=1000 is the documented safety
    # valve for boilerplate-heavy real corpora; a no-op here (max 40).
    fh = TX.feature_hash_counts(
        _t(spark, sf_dir, "documents"), n_features=1 << 20, ngram=3
    )
    return S.sparse_cosine_pairs(fh, threshold=0.5, max_df=1000)


def q_token_heavy_hitters(spark, sf_dir):
    # Exact corpus heavy hitters (tokens with frequency > n/k) via the
    # two-pass Misra-Gries plan — O(k)-state candidate pass with NO
    # shuffle, then an exact recount of candidates only. Final set +
    # counts are provably identical to the full GROUP BY the oracle
    # runs (operators/heavy.py docstring has the bound).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        heavy_hitters,
    )

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    return heavy_hitters(toks, "token", k=100)


def q_event_type_drift(spark, sf_dir):
    # Distribution-drift audit (PSI/chi-square family) between the
    # first 15 days and the rest of the stream: the data-quality
    # monitor that catches a category mix shifting between snapshots.
    # Checked columns are counts + IEEE basic-op arithmetic only (the
    # ln-based PSI column is deliberately outside the oracle contract
    # — see operators/drift.py docstring).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        window_drift,
    )

    ev = _t(spark, sf_dir, "events")
    return window_drift(ev, "ts", "event_type", split_days=15).orderBy(
        "event_type"
    )


def q_value_drift(spark, sf_dir):
    # Numeric-distribution drift (histogram-PSI construction): the
    # continuous value column binned at fixed width 25, bin-frequency
    # tables of the first 15 days vs the rest compared — floor on IEEE
    # division keeps every checked column engine-exact
    # (operators/drift.numeric_drift).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        numeric_drift,
        split_at_day_boundary,
    )

    ev = _t(spark, sf_dir, "events")
    ref, cur = split_at_day_boundary(ev, "ts", 15)
    return numeric_drift(ref, cur, "value", bin_width=25.0).orderBy("bin")


def q_leakage_safe_split(spark, sf_dir):
    # Leakage-safe train/val/test split: the split key is the near-dup
    # COMPONENT, not the doc — near-duplicates can never straddle the
    # train/eval boundary (the contamination mode doc_contamination
    # audits for). cross_split_pairs recomputes the violation count
    # from the pair list itself and must be 0 by construction.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        group_split,
    )

    docs = _t(spark, sf_dir, "documents")
    # the pair list feeds both the CC inside group_split and the
    # violation audit — materialize the (tiny) projection once instead
    # of re-running the LSH pipeline per consumer
    pairs = (
        D.minhash_lsh_pairs(docs, threshold=0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    # r14: the split frame feeds the violation audit twice (split_a +
    # split_b joins) AND the final per-split rollup — un-pinned, the
    # docs⋈component join re-ran per consumer (3 documents scans).
    # Pin only the four columns every consumer needs: ONE scan.
    d = (
        group_split(docs, pairs, {"train": 0.9, "val": 0.05, "test": 0.05})
        .select("doc_id", "group_key", "split", "n_chars")
        .localCheckpoint(eager=True)
    )
    sp = d.select("doc_id", "split")
    viol = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).alias("cross_split_pairs"))
    )
    return (
        d.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("group_key").alias("n_groups"),
            F.sum("n_chars").alias("total_chars"),
        )
        .crossJoin(viol)
        .orderBy("split")
    )


def q_doc_containment_pairs(spark, sf_dir):
    # Directed near-containment (Broder's asymmetric resemblance):
    # quote/excerpt detection symmetric Jaccard is blind to — a short
    # doc living inside a long one scores containment ~1 with tiny
    # Jaccard (operators/dedup.containment_pairs).
    return D.containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.9
    )


def q_dedup_corpus_best(spark, sf_dir):
    # Quality-aware survivor policy: keep the LONGEST member of each
    # near-dup cluster (ties -> smallest id) — the RefinedWeb/Gopher
    # convention, vs dedup_corpus's min-id (crawl-order) policy.
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    return (
        D.dedup_corpus_best(docs, pairs, quality_col="n_chars")
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


def q_dedup_cluster_sizes(spark, sf_dir):
    # The dedup-rate profile a corpus curator reports: how many
    # near-dup clusters of each size, and how many docs they absorb
    # (singletons = docs in no pair, derived declaratively — no
    # driver counts).
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    comp = D.connected_components(pairs)
    multi = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )
    singles = (
        docs.agg(F.count(F.lit(1)).alias("_t"))
        .crossJoin(comp.agg(F.count(F.lit(1)).alias("_k")))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("_t") - F.col("_k")).alias("n_clusters"),
        )
    )
    return (
        multi.unionByName(singles)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def q_dedup_corpus(spark, sf_dir):
    # End-to-end near-dedup: LSH pairs -> components -> keep one
    # canonical doc per cluster plus all singletons (the operation a
    # training pipeline actually runs; composition of the pair + CC ops)
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    return (
        D.dedup_corpus(docs, pairs)
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


def q_embedding_dedup(spark, sf_dir):
    # Same end-to-end dedup composition in embedding space: exact
    # cosine pairs -> components -> canonical survivors (dedup_corpus
    # is id/pair-column generic)
    emb = _t(spark, sf_dir, "embeddings")
    pairs = S.cosine_threshold_pairs(emb, threshold=0.4)
    return (
        D.dedup_corpus(emb, pairs, id_col="vec_id", src="vec_a", dst="vec_b")
        .select("vec_id")
        .orderBy("vec_id")
    )


def q_semantic_dedup(spark, sf_dir):
    # SemDeDup (cluster-scoped semantic dedup, arXiv:2303.09540): IVF
    # cells bound the quadratic — pairs only within a cell, then the
    # same components->survivors composition as embedding_dedup. The
    # 100 TB path where the global block-matrix self-join stops scaling.
    emb = _t(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, n_centroids=8, threshold=0.4).select(
        "vec_id"
    )


def q_semantic_dedup_auto(spark, sf_dir):
    # SemDeDup with the SCALE-SAFE default: n_centroids derived from the
    # corpus count (constant ~target_cell_rows cells, k ∝ n — the
    # published rule the 25× probe verified restores linear scaling;
    # VERDICT r6 "weak" item). target_cell_rows=50 here so the derived k
    # (10 at the 500-row cert scale) genuinely differs from the pinned-8
    # twin; the library default is 1024 (the ~1e3-row SemDeDup cell).
    # The oracle reproduces the derivation with integer arithmetic:
    # k = greatest(8, (count(*) + 49) // 50).
    emb = _t(spark, sf_dir, "embeddings")
    return S.semantic_dedup(
        emb, threshold=0.4, target_cell_rows=50
    ).select("vec_id")


def q_embedding_rp_audit(spark, sf_dir):
    # Johnson-Lindenstrauss random projection 64→16 (Achlioptas ±1 sign
    # matrix, deterministic) with an in-result distortion audit: for
    # every consecutive-id pair, squared distance before vs after and
    # their ratio (JL says E[ratio]=1 with bounded spread). All dots are
    # sequential left-to-right folds — the kernel's _ordered_gemm, the
    # Catalyst zip_with+aggregate fold, and DuckDB's list_dot_product
    # are op-for-op identical, so every double hash-matches. d² is the
    # dot identity |a|²−2a·b+|b|² on BOTH sides (same op sequence).
    emb = _t(spark, sf_dir, "embeddings")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def d2(a, b):
        return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)

    v = F.col("embedding").cast("array<double>")
    e = emb.select("vec_id", v.alias("v"))
    pairs = (
        e.alias("a")
        .join(
            e.alias("b"),
            F.col("b.vec_id") == F.col("a.vec_id") + 1,
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            d2(F.col("a.v"), F.col("b.v")).alias("d2_orig"),
        )
    )
    rp = S.random_projection(emb, out_dims=16)
    r = rp.select("vec_id", F.col("rvec").alias("rv"))
    rpairs = (
        r.alias("a")
        .join(
            r.alias("b"),
            F.col("b.vec_id") == F.col("a.vec_id") + 1,
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            d2(F.col("a.rv"), F.col("b.rv")).alias("d2_reduced"),
        )
    )
    return (
        pairs.join(rpairs, "vec_a")
        .where(F.col("d2_orig") > 0)
        .select(
            "vec_a",
            "vec_b",
            "d2_orig",
            "d2_reduced",
            (F.col("d2_reduced") / F.col("d2_orig")).alias("distortion"),
        )
        .orderBy("vec_a")
    )


def q_kcenter_selection(spark, sf_dir):
    # Greedy k-center (Gonzalez farthest-point) coreset selection over
    # the embedding corpus — diversity-maximizing data selection, the
    # geometric complement of the metadata-driven quota/stratified
    # samplers. k-1 distributed aggregates, driver state = k vectors.
    # Oracle = the same iteration as chained SQL CTEs (same dot-identity
    # distances, same DESC/id tie-break), so ids AND gains hash-match.
    emb = _t(spark, sf_dir, "embeddings")
    return S.kcenter_select(emb, k=8).orderBy("rank")


def q_doc_weighted_sample(spark, sf_dir):
    # Deterministic weight-proportional sampling (Duffield-Lund-Thorup
    # priority sampling): priority = weight / hash-uniform, top-100 win.
    # Heavier (longer) documents are proportionally likelier, yet the
    # selection is a pure function of (doc_id, salt, weight) — rerun-
    # stable, nested in n, RNG-free. TakeOrderedAndProject plan: per-
    # partition heap + single merge, no corpus shuffle.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        weighted_priority_sample,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = TX.token_count(F.col("text"))
    sel = weighted_priority_sample(docs, "doc_id", w, n=100)
    return sel.select(
        "doc_id", w.cast("long").alias("n_tokens")
    ).orderBy("doc_id")


def q_site_trend_slopes(spark, sf_dir):
    # Per-series OLS trend (closed form): slope/intercept of value vs
    # epoch-hour for every event_type in ONE partial-agg shuffle — the
    # thousands-of-series shape MLlib's driver-iterated single model
    # can't take. Exact BIGINT x-sums + decimal y-sums make the floats
    # partition-invariant and oracle-exact (relational.trend_slopes).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.relational import (
        trend_slopes,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = F.expr("cast(cast(ts as timestamp_ltz) as long) div 3600")
    return trend_slopes(
        ev.withColumn("_x", x), "event_type", F.col("_x"), F.col("value")
    ).orderBy("event_type")


def q_corpus_collocations(spark, sf_dir):
    # Collocation extraction (Church-Hanks PMI, log-free lift form —
    # monotone-equivalent ranking on exact integer counts, min_count
    # suppressing the rare-pair pathology). Two explode+partial-agg
    # passes, token-keyed unigram joins, broadcast scalar totals,
    # global top-k heap.
    docs = _t(spark, sf_dir, "documents")
    return TX.corpus_collocations(docs, k=50, min_count=5)


def q_hourly_anomalies(spark, sf_dir):
    # Event-rate anomaly alerts: per-type hourly counts z-scored
    # against the type's own hourly distribution, |z| > 2 pages. Exact
    # BIGINT count moments -> fixed IEEE math; two partial-agg
    # shuffles, broadcast moment table, no windows.
    ev = _t(spark, sf_dir, "events")
    return A.hourly_count_anomalies(ev, z_threshold=2.0)


def q_hourly_acf(spark, sf_dir):
    # Per-type autocorrelation of the hourly event-rate series at lags
    # 1..24 — lag 24 IS the daily cycle, the model-order signal that
    # matters for hourly data — over the DENSE hour spine (zero hours
    # enter as explicit 0
    # rows) — the model-order probe beside the z-score and CUSUM
    # monitors. H^2-scaled numerator/denominator on decimal(38,0)
    # carriers -> one terminal double division; everything after the
    # (type,hour) count shuffle runs on the |types|x|hours|-bounded
    # count table. plans/analytics.hourly_autocorrelation.
    ev = _t(spark, sf_dir, "events")
    return A.hourly_autocorrelation(ev, max_lag=24)


def q_price_benford(spark, sf_dir):
    # Forensic quality screen: leading-digit distribution of extended
    # price vs Benford's law. Digit via integer-part string head (no
    # runtime log10 — a ulp at a power of ten would flip a digit);
    # shares as exact integer ppm against the shared floored constant
    # table. One partial-agg shuffle to a 9-row table; all nine digits
    # emit a row even at count 0. operators/relational.benford_audit.
    li = _t(spark, sf_dir, "lineitem")
    return R.benford_audit(li, "l_extendedprice")


def q_value_quantile_match(spark, sf_dir):
    # Exact quantile normalization: every type's value distribution
    # mapped onto the click distribution by CDF matching. Cross-
    # denominator fractions compared as exact cross-multiplied BIGINTs;
    # the match is a union-scan window (reference-first on ties), not
    # an inequality join. operators/relational.quantile_match.
    ev = _t(spark, sf_dir, "events")
    return R.quantile_match(ev, "event_type", "value", "click")


def q_order_skyline(spark, sf_dir):
    # Pareto frontier: orders no other order beats on BOTH total price
    # and recency — the classic multi-objective skyline (Borzsonyi et
    # al.), its quadratic NOT-EXISTS collapsed to one lag-of-running-
    # max window over the distinct-price table plus a broadcast join
    # back. operators/relational.skyline_2d.
    o = _t(spark, sf_dir, "orders")
    return (
        R.skyline_2d(o, "o_totalprice", "o_orderdate")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


def q_orders_zorder_stats(spark, sf_dir):
    # Z-order clustering audit: Morton-interleave (custkey, order-day)
    # and fold to per-prefix rectangles — the multi-dimensional sort
    # key behind 2-D row-group skipping, as one deterministic integer
    # column (pure shift/mask algebra, value-exact oracle).
    # plans/layout.morton_code / zorder_write.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.layout import (
        morton_code,
    )

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    z = morton_code(F.col("o_custkey"), day, bits=16)
    return (
        o.select(z.alias("_z"))
        .groupBy(F.shiftright(F.col("_z"), 20).alias("z_prefix"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("_z").alias("min_code"),
            F.max("_z").alias("max_code"),
        )
        .orderBy("z_prefix")
    )


def q_ann_binary_topk(spark, sf_dir):
    # Two-stage binary ANN: sign bits packed into two BIGINT words,
    # XOR+popcount Hamming coarse stage (integer-only, codegen), exact
    # ordered-fold cosine re-rank of the coarse top-50. Per-partition
    # top-k prunes losslessly before the shuffle. The 1-bit member of
    # the compression family (PQ, int8, JL).
    # operators/similarity.binary_hamming_topk.
    emb = _t(spark, sf_dir, "embeddings")
    return S.binary_hamming_topk(emb, F.col("vec_id") < 8, k=10, coarse_k=50)


def q_value_equidepth_bins(spark, sf_dir):
    # Feature discretization: exact equi-depth bin edges at every i*n/8
    # simultaneously via the rational threshold — a value spanning
    # cumulative mass (prev, cum] serves every integer bin index in
    # (prev*8/n, cum*8/n], one sequence-explode, no driver loop; per-
    # bin counts fall out of the same cumulative column. Distinct-value
    # domain guarded loudly. operators/relational.equidepth_bins.
    ev = _t(spark, sf_dir, "events")
    return R.equidepth_bins(ev, "value", n_bins=8)


def q_type_audience_similarity(spark, sf_dir):
    # MinHash STATE demo + estimator audit in one: per-type signatures
    # over user-id audiences (the sixth mergeable state — component-
    # wise-min merge, stream ≡ batch cell-for-cell), pairwise Broder
    # estimate from the 16-row signatures beside the EXACT audience
    # Jaccard from distinct (type, user) items. heavy.minhash_state /
    # minhash_state_jaccard.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        minhash_state,
        minhash_state_jaccard,
    )

    ev = _t(spark, sf_dir, "events")
    st = minhash_state(ev, ["event_type"], "user_id", 16)
    est = minhash_state_jaccard(st, "event_type", 16)
    items = (
        ev.select(
            "event_type", F.col("user_id").cast("string").alias("item")
        )
        .where(F.col("item").isNotNull())
        .distinct()
    )
    sizes = items.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        items.alias("a")
        .join(items.alias("b"), "item")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("key_a"),
            F.col("b.event_type").alias("key_b"),
        )
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    sa = sizes.select(F.col("event_type").alias("key_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("event_type").alias("key_b"), F.col("n").alias("_nb"))
    jex = (
        F.coalesce(F.col("_i"), F.lit(0)).cast("double")
        / (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_i"), F.lit(0))).cast(
            "double"
        )
    )
    return (
        est.join(inter, ["key_a", "key_b"], "left")
        .join(F.broadcast(sa), "key_a")
        .join(F.broadcast(sb), "key_b")
        .select(
            "key_a",
            "key_b",
            "n_agree",
            "jhat",
            jex.alias("jexact"),
            F.abs(F.col("jhat") - jex).alias("abs_err"),
        )
        .orderBy("key_a", "key_b")
    )


def q_corpus_communities(spark, sf_dir):
    # Deterministic label propagation (Raghavan et al.) on the token
    # co-occurrence graph: 4 synchronous rounds, max-weight neighbor
    # label with min-label tie-break (the published random tie-break
    # replaced by one an oracle can pin). Two partial-agg groupBys +
    # one equi-join per round, labels localCheckpointed. Top-50
    # communities by size. functions/text.collocation_communities.
    docs = _t(spark, sf_dir, "documents")
    return TX.collocation_communities(docs, n_rounds=4, min_count=5)


def q_source_kl(spark, sf_dir):
    # Mixture-design drift number: KL(source || corpus) over token
    # unigrams in nats — finite without smoothing (source vocab is a
    # corpus subset). One ln per (source, term) row floored at 1e6
    # before the BIGINT fold (the entropy convention); corpus counts
    # and all totals derive from the one (source, term) table.
    # functions/text.source_token_kl.
    docs = _t(spark, sf_dir, "documents")
    return TX.source_token_kl(docs)


def q_part_sorted_neighbors(spark, sf_dir):
    # Sorted-neighborhood blocking (Hernandez-Stolfo SNM): part names
    # globally ranked via the total-order partitioner (no single-
    # partition sort, envelope-verified monotone first-char buckets),
    # candidate pairs within a 4-position window, verified by >= 1
    # shared distinct name token. Linear (w-1)*n candidates — the sort-
    # adjacency complement of the hash-blocking family (LSH/SimHash).
    # operators/dedup.sorted_neighbor_pairs.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        sorted_neighbor_pairs,
    )

    part = _t(spark, sf_dir, "part")
    return sorted_neighbor_pairs(
        part, "p_partkey", "p_name", window=4, min_shared_tokens=1
    )


def q_hourly_ccf(spark, sf_dir):
    # Lead-lag screen between clicks and purchases: cross-correlation
    # of the two hourly rate series at lags -6..6 on the shared dense
    # spine. H^2-scaled exact decimal carriers; terminal num/sqrt(dx*dy)
    # in doubles (sqrt is correctly rounded under IEEE 754, unlike ln).
    # One pruned two-type count shuffle; the lag window runs on the
    # |hours|-bounded spine. plans/analytics.hourly_crosscorrelation.
    ev = _t(spark, sf_dir, "events")
    return A.hourly_crosscorrelation(ev, "click", "purchase", max_lag=6)


def q_value_mad_outliers(spark, sf_dir):
    # Robust outlier screen: |v - median| > 3*MAD per event type — the
    # breakdown-resistant twin of value_outliers' z-scores (whose sigma
    # the outliers themselves inflate). Exact lower medians via
    # rational-threshold cumulative counts (ties folded by the
    # distinct-(key, value) pre-aggregation, so ROWS ≡ RANGE);
    # rational multiple so the flag is one IEEE multiply per side.
    # operators/relational.mad_outliers.
    ev = _t(spark, sf_dir, "events")
    return R.mad_outliers(ev, "event_type", "value", 3, 1)


def q_audio_frame_features(spark, sf_dir):
    # Audio feature extraction through the REAL WAV byte path: md5-
    # derived int16 PCM -> wav_encode -> wav_decode (sample-equality
    # asserted) -> per-frame energy Σs² + zero-crossing count, both
    # exact integers so the oracle recomputes them codec-free from the
    # md5 derivation. multimodal/binary_ops.audio_frame_audit.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        audio_frame_audit,
    )

    docs = _t(spark, sf_dir, "documents")
    return audio_frame_audit(docs, n_docs=32, n_frames=4, frame_len=64)


def q_corpus_kcore(spark, sf_dir):
    # k-core of the token co-occurrence graph (Seidman): synchronous
    # peeling, 8 fixed rounds (convergence-asserted in tests with a
    # 9th), each round one degree aggregate + two semi-joins on the
    # survivor set, edge list localCheckpointed so lineage stays
    # constant. Exact integer degrees; chained-CTE oracle (textrank
    # convention). functions/text.collocation_kcore.
    docs = _t(spark, sf_dir, "documents")
    return TX.collocation_kcore(docs, k_core=3, n_rounds=8, min_count=5)


def q_doc_search_tfidf(spark, sf_dir):
    # Query-driven retrieval: fixed-point TF-IDF (score = Σ tf · ((1e6·N)
    # div df), exact BIGINTs end to end — no float sums, so the ranking
    # is partition-order-free and the oracle value-exact). The corpus
    # shuffles only (doc, query-term) hits; top-k is a heap.
    docs = _t(spark, sf_dir, "documents")
    return TX.tfidf_search(docs, "vector stream merge window", k=20)


def q_doc_search_bm25(spark, sf_dir):
    # Okapi BM25 retrieval (tf saturation + length normalization) in
    # fixed point: the one transcendental (idf's ln) is floored at 1e6
    # precision before any product, wide products ride decimal(38,0)/
    # HUGEINT carriers, so scores are exact integers and the ranking is
    # partition-order-free. Same hit-rows-only shuffle as tfidf.
    docs = _t(spark, sf_dir, "documents")
    return TX.bm25_search(docs, "vector stream merge window", k=20)


def _indexed_documents(spark, sf_dir, prefix):
    # The persisted-retrieval lifecycle both indexed entries probe:
    # persist_search_index over the base shard (doc_id % 5 != 0), then
    # append_search_index for the delta shard. A previous SESSION may
    # have left the warehouse directories behind without catalog
    # entries (in-memory catalog, shared warehouse dir) —
    # saveAsTable(overwrite) refuses an orphaned location, so both
    # halves are cleared first. Fixed prefix per entry: persist
    # overwrites, so re-invocation is deterministic.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import fsutil

    docs = _t(spark, sf_dir, "documents")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for suffix in ("postings", "stats"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{suffix}")
        fsutil.delete(
            fsutil.join(wh, f"{prefix}_{suffix}"), recursive=True, spark=spark
        )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    TX.persist_search_index(base, prefix, batch_id="base")
    TX.append_search_index(delta, prefix, batch_id="delta")


def q_doc_search_indexed(spark, sf_dir):
    # End-to-end persisted-retrieval LIFECYCLE (VERDICT r7 Next #8):
    # persist_search_index over the base shard → append_search_index
    # for a delta shard → search_index_topk probe. The probe's
    # fixed-point arithmetic reproduces inline bm25_search over the
    # FULL corpus bit-exactly (same idf floor, same decimal carriers),
    # so the one oracle certifies the composed offline/append/online
    # path, not just its individually-tested pieces.
    prefix = "entry_sidx_lifecycle"
    _indexed_documents(spark, sf_dir, prefix)
    return TX.search_index_topk(
        spark, prefix, "vector stream merge window", k=20
    )


def q_click_attribution_outer(spark, sf_dir):
    # Batch twin of the LEFT-OUTER watermarked stream-stream interval
    # join (streaming/join_stream.py, how="leftOuter"; VERDICT r7 Next
    # #6): every click joined to the same user's purchases within the
    # 30-minute attribution window, unattributed clicks kept as NULL
    # purchase rows — the funnel's drop-off set. The equi key
    # (user_id) carries the shuffle; the interval predicate is a
    # post-join condition on a SortMergeJoin, never a BNLJ.
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("_p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "left",
        )
        .select(
            "user_id", "click_id", "click_ts",
            "purchase_id", "purchase_ts", "value",
        )
        .orderBy("click_id", "purchase_id")
    )


def q_quantity_weighted_median(spark, sf_dir):
    # Exact weighted median: per return flag, the smallest extended
    # price whose cumulative QUANTITY reaches half the flag's total —
    # the weighted quantile the unweighted percentile family cannot
    # express. Rational threshold (cum*2 >= tot*1 in exact decimals);
    # tied prices enter together because the cumulative window runs
    # over the distinct-(flag, price) pre-aggregation.
    li = _t(spark, sf_dir, "lineitem")
    return R.weighted_percentile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", 1, 2
    )


def q_source_lang_entropy(spark, sf_dir):
    # Shannon entropy of each source's language mix — the diversity
    # half of the dataset-card pair (dominant-language arg-max there).
    # Exact-integer numerator (one floored fixed-point ln per
    # (source, lang) row), one terminal division.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.analytics import (
        source_language_entropy,
    )

    return source_language_entropy(_t(spark, sf_dir, "documents"))


def q_media_gif_audit(spark, sf_dir):
    # GIF87a roundtrip certified by the oracle: md5-derived palettized
    # rasters through the real LZW encode/decode path; GIF is lossless
    # over its palette so the kernel asserts pixel equality and the
    # decoded means hash-match the oracle's direct md5 computation.
    # multimodal/binary_ops.gif_roundtrip_audit + multimodal/gif.py.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        gif_roundtrip_audit,
    )

    return gif_roundtrip_audit(_t(spark, sf_dir, "documents"))


def q_doc_split_ks(spark, sf_dir):
    # Exact two-sample Kolmogorov-Smirnov between the token-length
    # distributions of the even/odd doc_id splits — the "are my
    # train/val splits drawn alike" sup-norm test completing the drift
    # family (PSI/chi²/histogram are binned; KS is the full CDF).
    # Integer CDF-gap numerator, one terminal division.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.drift import (
        ks_two_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % 2 == 0).alias("side"),
    )
    return ks_two_sample(docs, "n_tokens", "side")


def q_join_size_cms_audit(spark, sf_dir):
    # Join-cardinality estimation from two Count-Min sketches (the
    # Cormode-Muthukrishnan inner product): |events ⋈ orders| on the
    # user/customer key estimated WITHOUT joining the data — the
    # optimizer-style pre-join cardinality probe — audited against the
    # exact join count; overestimate >= 0 verifies the one-sided
    # guarantee. md5 cells keep the whole audit value-exact.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        cms_join_size_audit,
    )

    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    return cms_join_size_audit(ev, "user_id", orders, "o_custkey")


def q_order_size_price_spearman(spark, sf_dir):
    # Spearman rank correlation between an order's lineitem count and
    # its total price — monotone association without distribution
    # assumptions (the Pearson family is covered by profile/trends).
    # Ranks via the verified total-order partitioner (no
    # single-partition window), tie-averaged as exact integers,
    # decimal moments, two sqrt + one division at the end.
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    joined = orders.join(
        per, orders.o_orderkey == per.l_orderkey
    ).select("n_items", "o_totalprice")
    return R.spearman_corr(
        joined,
        "n_items",
        "o_totalprice",
        x_bucket=F.col("n_items"),
        y_bucket=F.floor(F.col("o_totalprice") / 10000),
    )


def q_corpus_zipf_fit(spark, sf_dir):
    # Zipf rank-frequency fit: fixed-point log-log OLS over the top-500
    # token frequencies (slope ≈ −1 for natural language) — the
    # frequency-spectrum half of the dataset-card diagnostics beside
    # the Heaps-law vocab curve. Exact decimal moments, two divisions.
    docs = _t(spark, sf_dir, "documents")
    return TX.corpus_zipf_fit(docs, top_n=500)


def q_doc_winnow_pairs(spark, sf_dir):
    # Winnowing (Schleimer-Wilkerson-Aiken SIGMOD'03, the MOSS
    # algorithm): POSITION-AWARE local fingerprints — each w-window of
    # positional k-gram hashes selects its minimum (rightmost ties) —
    # pairs sharing >= min_shared fingerprint values. Guarantees any
    # shared >= w+k-1-token run is detected; complements the bag
    # models (MinHash/SimHash) and the exact 50-token span index.
    # One window shuffle + the capped posting-list pair join.
    docs = _t(spark, sf_dir, "documents")
    return D.winnow_pairs(docs, min_shared=2, k=3, w=4, max_df=50)


def q_part_fuzzy_pairs(spark, sf_dir):
    # Ed-Join-style string-similarity self-join on the part-name
    # dictionary: q-gram prefix filtering (rarest-grams-first global
    # order) + small-gram-set broadcast block + banded levenshtein
    # verify — no quadratic cross join; the brute-force SQL oracle
    # certifies zero false negatives on this corpus.
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.min("p_partkey").alias("id")
    ).select("id", F.col("p_name").alias("s"))
    return D.edit_distance_pairs(names, max_dist=2, q=2)


def q_part_fuzzy_pairs_auto(spark, sf_dir):
    # the DEFAULT-SAFE form (VERDICT r7 Next #4): q derived from the
    # observed alphabet and corpus size (auto_gram_size's |Σ|^q ≥ c·n
    # rule) instead of pinned by the caller — same results for any q
    # (the levenshtein verify is exact), so the same brute-force
    # oracle certifies it; what auto-q changes is that the candidate
    # volume cannot land in the degraded n²/|Σ|^q regime by default.
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.min("p_partkey").alias("id")
    ).select("id", F.col("p_name").alias("s"))
    return D.edit_distance_pairs(names, max_dist=2)


def q_doc_lm_perplexity(spark, sf_dir):
    # CCNet-style LM quality scoring: corpus-trained add-one bigram
    # model, per-doc negative log-likelihood in fixed point (the one ln
    # floored per bigram TYPE before any sum) — top-50 worst documents,
    # the set a perplexity filter would drop.
    docs = _t(spark, sf_dir, "documents")
    return TX.doc_lm_nll(docs, k=50)


def q_corpus_textrank(spark, sf_dir):
    # TextRank keywords: 5 fixed-point weighted-PageRank iterations
    # over the adjacent-token co-occurrence graph (min_count=5 pruning)
    # — integer floor-division arithmetic end to end, so the iterative
    # op is value-exact against a 5-CTE unrolled SQL oracle.
    docs = _t(spark, sf_dir, "documents")
    return TX.corpus_textrank(docs, k=50, n_iter=5, min_count=5)


def q_incremental_join_deletes(spark, sf_dir):
    # Counting IVM with DELETES (Gupta-Mumick-Subrahmanian; r8 closes
    # the boundary the insert-only rule documented): both sides start
    # as the <1996 slices, the delta INSERTS the >=1996 rows and
    # DELETES the <1993 rows (multiplicity -1); joined multiplicities
    # multiply, apply sums-and-drops-zeros with a loud negative guard.
    # The oracle is the PLAIN recompute over the post-delta bases
    # (dates >= 1993) — a green row proves signed-delta maintenance ≡
    # recompute, deletes included.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.ivm import (
        apply_counted_delta,
        counted_join_delta,
        with_multiplicity,
    )

    lo, hi = "1993-01-01", "1996-01-01"
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_custkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_shipdate"
    )
    a_old = with_multiplicity(orders.where(F.col("o_orderdate") < hi))
    a_delta = with_multiplicity(
        orders.where(F.col("o_orderdate") >= hi)
    ).unionByName(
        with_multiplicity(orders.where(F.col("o_orderdate") < lo))
        .withColumn("_mult", -F.col("_mult"))
    )
    b_old = with_multiplicity(li.where(F.col("l_shipdate") < hi))
    b_delta = with_multiplicity(
        li.where(F.col("l_shipdate") >= hi)
    ).unionByName(
        with_multiplicity(li.where(F.col("l_shipdate") < lo))
        .withColumn("_mult", -F.col("_mult"))
    )
    view_old = counted_join_delta(
        # view creation: A_old ⋈ B_old expressed through the same
        # product rule with an empty "old" side — one code path
        a_old, b_old.limit(0), a_old.limit(0), b_old, ["okey"]
    )
    delta = counted_join_delta(a_old, b_old, a_delta, b_delta, ["okey"])
    maintained = apply_counted_delta(view_old, delta)
    return (
        maintained.groupBy("o_custkey")
        .agg(
            F.sum("_mult").alias("n_rows"),
            F.sum(
                F.col("_mult")
                * F.col("l_extendedprice").cast("decimal(20,6)")
            ).cast("double").alias("revenue"),
        )
        .orderBy("o_custkey")
    )


def q_incremental_join_revenue(spark, sf_dir):
    # Incrementally-maintained JOIN view (Blakeley/Griffin-Libkin
    # insert-delta rule): orders x lineitem, both sides split at
    # 1999-01-01 into stored + delta halves; the maintained view
    # (old-join UNION ALL three delta joins) is aggregated per order
    # priority. The oracle is the PLAIN join over everything — a green
    # row proves delta maintenance ≡ full recompute in bag semantics.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.ivm import (
        incremental_join_view,
    )

    cut = "1999-01-01"
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    )
    a_old = orders.where(F.col("o_orderdate") < cut)
    a_new = orders.where(F.col("o_orderdate") >= cut)
    b_old = li.where(F.col("l_shipdate") < cut)
    b_new = li.where(F.col("l_shipdate") >= cut)
    m = incremental_join_view(a_old, b_old, a_new, b_new, ["okey"])
    return (
        m.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def q_hybrid_search_rrf(spark, sf_dir):
    # Hybrid retrieval: lexical BM25 top-50 fused with embedding-ANN
    # top-50 (query = the text query's terms on one side, vec_id 5's
    # embedding on the other; the harness corpus pairs doc_id and
    # vec_id 1:1) by fixed-point Reciprocal Rank Fusion — RRF consumes
    # only the two lists' RANKS, so the fused scores are exact
    # integers and value-exact against the oracle.
    from pyspark.sql import Window as _W

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # the unpartitioned rank window runs on the ALREADY-LIMITED 50-row
    # bm25 list (Spark's single-partition warning is about that tiny
    # frame, not the corpus)
    lex = TX.bm25_search(docs, "vector stream merge window", k=50).select(
        "doc_id",
        F.row_number()
        .over(_W.orderBy(F.desc("score"), "doc_id"))
        .alias("rank"),
    )
    sem = S.ann_bruteforce_topk(emb, F.col("vec_id") == 5, k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return S.rrf_fuse([lex, sem], k0=60, k=20)


def q_hourly_cusum(spark, sf_dir):
    # Sustained rate-shift alarms: Page's one-sided CUSUM per event
    # type over hourly counts, exact BIGINT fixed point — the clamped
    # recursion rewritten as prefix-sum minus running-min (two window
    # frames, no recursion), so the oracle mirrors it with SQL windows.
    ev = _t(spark, sf_dir, "events")
    return A.hourly_cusum_changepoints(ev, h_num=3, h_den=2)


def q_forecast_conformal(spark, sf_dir):
    # Split-conformal intervals over the baseline forecast: rank-exact
    # calibration quantile of |yhat - y| (first half of each group's
    # points by time), empirical coverage on the second half —
    # distribution-free >= 1-alpha guarantee replacing the Gaussian
    # bands, value-exact against the SQL-windowed oracle.
    feats = _pseudo_features_hourly(spark, sf_dir)
    fc = G.seasonal_naive_forecast(feats, horizons=[1, 24])
    return G.conformal_eval(fc, feats)


def q_doc_negatives(spark, sf_dir):
    # Deterministic contrastive negative sampling: each doc's k=4
    # negatives are its cyclic successors on a per-bucket hash ring
    # (h32 order) — RNG-free, rerun-stable, partitioned windows only.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        contrastive_negatives,
    )

    docs = _t(spark, sf_dir, "documents")
    return contrastive_negatives(docs, k=4, n_buckets=8)


def q_source_dataset_cards(spark, sf_dir):
    # Per-source dataset cards (Gebru et al. datasheets): volumes,
    # exact-dup rate, dominant language — all exact-integer metrics,
    # one scan + two partial-agg groupBys.
    docs = _t(spark, sf_dir, "documents")
    return A.source_dataset_cards(docs)


def q_corpus_triangles(spark, sf_dir):
    # Triangle enumeration on the collocation graph: canonical a<b<c
    # ordering over two self-joins — the join-heavy graph kernel;
    # integer weights, value-exact oracle.
    docs = _t(spark, sf_dir, "documents")
    return TX.collocation_triangles(docs, k=50, min_count=5)


def q_doc_search_prf(spark, sf_dir):
    # Pseudo-relevance feedback (Rocchio/RM3): BM25 round 1, expand
    # the query with the feedback docs' strongest new terms (fixed-
    # point tf-idf selection), BM25 again over the expanded set —
    # two-round retrieval, value-exact against one chained oracle.
    docs = _t(spark, sf_dir, "documents")
    return TX.bm25_prf_search(
        docs, "vector stream merge window", k=20, fb_docs=10, fb_terms=5
    )


def q_doc_search_prf_indexed(spark, sf_dir):
    # PRF served entirely from the persisted inverted index (new r14
    # — the at-scale path the repeated-scan audit prescribed: inline
    # PRF re-tokenizes the corpus ~5x per query; this tokenizes once
    # at ingest and serves every PRF stage from postings). Same
    # persist→append lifecycle as doc_search_indexed, own prefix;
    # bit-identical to inline bm25_prf_search by construction
    # (identity-tested incl. across appends), so the inline entry's
    # chained oracle certifies this path verbatim.
    prefix = "entry_prf_idx_lifecycle"
    _indexed_documents(spark, sf_dir, prefix)
    return TX.prf_index_topk(
        spark, prefix, "vector stream merge window",
        k=20, fb_docs=10, fb_terms=5,
    )


def q_doc_frequent_pairs(spark, sf_dir):
    # Apriori 2-itemsets with docs as baskets: frequent co-occurring
    # (non-adjacent) token pairs; downward-closure prune bounds the
    # quadratic per-doc pair fan-out. Exact counts, lift as a single
    # double quotient.
    docs = _t(spark, sf_dir, "documents")
    return TX.doc_frequent_pairs(docs, min_support=20, k=50)


def q_embedding_drift(spark, sf_dir):
    # Embedding-centroid drift between even/odd id halves: exact
    # decimal per-dim means, ordered-fold cosine — the embedding-space
    # shard-mix invariant.
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_split_drift(emb)


def q_source_distinctive_terms(spark, sf_dir):
    # Per-source distinctive vocabulary: Monroe et al. log-odds kept
    # rational (one double quotient of exact integer products); top-5
    # per source, min_count=5.
    docs = _t(spark, sf_dir, "documents")
    return TX.source_distinctive_terms(docs, k=5, min_count=5)


def q_vocab_growth(spark, sf_dir):
    # Heaps-law type-token curve over nested deterministic hash
    # samples (20%..100%): vocabulary vs token mass, RNG-free.
    docs = _t(spark, sf_dir, "documents")
    return TX.vocab_growth_curve(docs, fractions=5)


def q_vocab_coverage(spark, sf_dir):
    # Tokenizer-sizing report (new r10): minimal vocab size for
    # 50/90/99% token coverage + exact OOV token mass at fixed vocab
    # sizes (5 / 20 / 10000 — the last deliberately exceeds the type
    # inventory, pinning the oov=0 edge). All-integer arithmetic over
    # the frequency spectrum; the corpus pays one explode + one count
    # shuffle.
    docs = _t(spark, sf_dir, "documents")
    return TX.vocab_coverage(
        docs,
        coverage=((1, 2), (9, 10), (99, 100)),
        vocab_sizes=(5, 20, 10000),
    )


def q_source_temperature_mix(spark, sf_dir):
    # Temperature-scaled source sampling weights (new r11): the
    # multilingual data-mixing recipe (mT5/XLM-R alpha-sampling) at
    # alpha=1/2 — sqrt is the one fractional power IEEE requires
    # correctly rounded, keeping the ppm shares oracle-exact. One
    # partial-agg groupBy(source) shuffle; totals broadcast.
    docs = _t(spark, sf_dir, "documents")
    return TX.source_temperature_mix(docs)


def q_doc_ccnet_buckets(spark, sf_dir):
    # CCNet head/middle/tail perplexity thirds per source (new r11,
    # Wenzek et al. 2020): fixed-point bigram NLL from doc_lm_nll's
    # pipeline, bucketed with integer threshold semantics on the
    # per-(source, score) spectrum — no per-doc window anywhere.
    docs = _t(spark, sf_dir, "documents")
    return TX.ccnet_buckets(docs)


def q_ann_mips_topk(spark, sf_dir):
    # Exact maximum-inner-product top-5 (new r11): dot-product metric
    # through the same banded brute-force kernel as ann_topk —
    # per-batch |Q|·k candidate cut, rank window. The norm-augmented
    # reduction to cosine (Bachrach et al. 2014) is equivalence-tested
    # in tests/test_similarity_ops.py, extending the bucketed scale
    # paths to MIPS.
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_bruteforce_topk(emb, F.col("vec_id") < 8, k=5, metric="dot")


def q_ann_mips_ivf_topk(spark, sf_dir):
    # Inner-product IVF (new r11): the MIPS scale path — assignment
    # and probing stay angular (a cell groups directions, the public
    # METRIC_INNER_PRODUCT convention), candidates score by raw dot.
    # Exhaustive probing recovers exact MIPS (identity-tested);
    # registry config probes 4/16 cells.
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(
        emb, F.col("vec_id") < 8, k=5, n_centroids=16, n_probe=4,
        metric="dot",
    )


def q_minhash_accuracy_audit(spark, sf_dir):
    # MinHash estimator vs exact Jaccard over all pairs >= 0.3: the
    # missing sketch audit (HLL/CMS/percentile/PQ have theirs).
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_accuracy_audit(docs, threshold=0.3)


def q_ann_hard_negatives(spark, sf_dir):
    # Hard-negative mining for metric learning: each query's ANN
    # neighbors in the rank band [6, 20] — close enough to be
    # informative, far enough not to be near-dup positives (the
    # standard band recipe); exact brute-force ranks, so the band is
    # deterministic and oracle-exact.
    emb = _t(spark, sf_dir, "embeddings")
    topk = S.ann_bruteforce_topk(emb, F.col("vec_id") < 8, k=20)
    return topk.where(F.col("rank") >= 6).orderBy("query_id", "rank")


def q_doc_chunks(spark, sf_dir):
    # RAG-style overlapping token-window chunking (window 32, overlap
    # 8): the pass a retrieval pipeline runs before embedding. Pure
    # generate-only plan — byte-exact text oracle.
    docs = _t(spark, sf_dir, "documents")
    return TX.chunk_documents(docs, window=32, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


def q_doc_scrubbed_spans(spark, sf_dir):
    # Span scrub composition: duplicated_spans flags cross-document
    # n-gram runs, scrub_spans cuts those tokens out of the surviving
    # text (the byte-level half of span dedup — documents survive,
    # boilerplate doesn't)
    docs = _t(spark, sf_dir, "documents")
    spans = D.duplicated_spans(docs, n=5, min_df=2)
    return D.scrub_spans(docs, spans).orderBy("doc_id")


def q_source_quota_cap(spark, sf_dir):
    # Per-domain quota (RefinedWeb/C4-style host capping): keep the 3
    # smallest doc_ids per source — deterministic, engine-portable.
    # spray=8 runs the skew-safe two-phase cut (hot-domain sort spread
    # over 8 reducers), proven row-identical to the plain window by the
    # oracle itself
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        quota_cap,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        quota_cap(docs, "source", cap=3, spray=8)
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("source", "doc_id")
    )


def q_doc_epoch_mixture(spark, sf_dir):
    # Per-domain epoch UPSAMPLING (the other half of mixture_rates,
    # which never upsamples): LLaMA-recipe-style epochs per source —
    # en seen 2.5x, de 1.25x, fr 0.5x, es 1.0x, zh dropped. Exact-binary
    # fractions so the hash-threshold compare is bit-stable cross-engine.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        epoch_upsample,
    )

    docs = _t(spark, sf_dir, "documents")
    up = epoch_upsample(
        docs, "doc_id", "lang", {"en": 2.5, "de": 1.25, "fr": 0.5, "es": 1.0}
    )
    return up.select("doc_id", "lang", "copy_idx").orderBy("doc_id", "copy_idx")


def q_incremental_novel_docs(spark, sf_dir):
    # Incremental dedup against an ingested index: batch = every 5th
    # doc, index = the rest; novel = batch fingerprints unseen in the
    # index (the daily-crawl check that avoids re-deduplicating 100 TB)
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = docs.where(F.col("doc_id") % 5 != 0)
    return (
        D.novel_against_index(new, idx)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_pipeline_lineage(spark, sf_dir):
    # The reference dashboard's lineage page (streamlit/app.py:556-563)
    # shows bronze->silver->gold row flow with 0-valued Gold links
    # (never built); here every tier is real
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        silver as SV,
    )

    b = _pseudo_bronze(spark, sf_dir)
    tiers = [
        ("1_bronze", b),
        ("2_silver", SV.clean_to_hourly(b)),
        ("3_gold_features", G.mart_features(_pseudo_fact(spark, sf_dir))),
        (
            "4_gold_forecast",
            G.seasonal_naive_forecast(_pseudo_features_hourly(spark, sf_dir), horizons=[1, 24]),
        ),
    ]
    out = None
    for tier, df in tiers:
        row = df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(tier).alias("tier"), "n_rows"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tier")


def q_value_percentiles(spark, sf_dir):
    # Exact interpolated percentiles per group (sort-based, so no
    # float-sum order sensitivity; Spark percentile == DuckDB
    # quantile_cont bit-for-bit, probed at gate scale)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
            F.percentile("value", 0.99).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_silver_reason_counts(spark, sf_dir):
    # O12 with the reference's exact silver label set (invalid_ghi ->
    # invalid_temp -> invalid_wind -> missing_* -> duplicate -> kept;
    # streamlit/app.py:273-299)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        silver as SV,
    )

    labels = SV.silver_drop_reasons(_pseudo_bronze(spark, sf_dir))
    return (
        labels.groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "reason")
    )


def q_silver_clean_vs_actual(spark, sf_dir):
    # SURVEY §5 differential-as-query: cascade kept-count must equal the
    # clean chain's output count per site (diff column must be all 0)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        silver as SV,
    )

    return SV.clean_vs_actual_diff(_pseudo_bronze(spark, sf_dir))


def q_forecast_mllib(spark, sf_dir):
    # MLlib path: one global distributed LinearRegression (normal-
    # equation solver) over lag features. Oracle-checked: the DuckDB
    # twin solves the identical normal equations in closed form
    # (Cramer), and both sides round to 6 decimals (the forecast-family
    # convention), absorbing solver-order float noise.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        forecast as FC,
    )

    fc = FC.mllib_forecast(_pseudo_features_hourly(spark, sf_dir), horizons=[1, 24])
    return fc.select(
        "site", "ts_utc", "model", "var", "horizon_h",
        F.round("yhat", 6).alias("yhat"),
        F.round("yhat_lower", 6).alias("yhat_lower"),
        F.round("yhat_upper", 6).alias("yhat_upper"),
    ).orderBy("site", "var", "horizon_h", "ts_utc")


def q_customers_with_orders(spark, sf_dir):
    # O11 membership as a relational op: left-semi join (main.py:219-222)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def q_customers_without_orders(spark, sf_dir):
    # anti-join complement of O11 — the "404 path" set
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def q_events_iso_payload(spark, sf_dir):
    # S8 JSON API sink shape: ISO-8601 timestamps (main.py:22-23),
    # serialization kept relational; toJSON() is the serving edge
    ev = _t(spark, sf_dir, "events")
    return (
        R.topk_recent(ev, "ts", 100, tiebreak=["event_id"])
        .select(
            "event_id",
            F.concat(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+00:00")
            ).alias("ts_iso"),
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )


def q_upsert_merge(spark, sf_dir):
    # S6/S7 MERGE semantics as a pure relational op: latest-wins union
    # keyed (user_id, ts_hour), ties update-over-existing
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
        upsert as U,
    )

    ev = _t(spark, sf_dir, "events")
    shaped = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        "value",
        F.col("ts").alias("ingested_at"),
    )
    target = shaped.filter(F.col("ingested_at") < "2024-01-15 00:00:00")
    updates = shaped.filter(F.col("ingested_at") >= "2024-01-10 00:00:00")
    merged = U.merge_frames(
        target, updates, keys=["user_id", "ts_hour"], order_col="ingested_at"
    )
    return merged.orderBy("user_id", "ts_hour")


def q_revenue_q6(spark, sf_dir):
    # TPC-H Q6 shape: single-scan filter+agg — the pushdown showcase
    # (predicates and 3-column pruning reach the parquet scan)
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


def q_doc_token_counts(spark, sf_dir):
    # Token counting: whitespace + BPE-ish regex (training-data surface)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("ws_tokens"),
        TX.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    ).orderBy("doc_id")


def _pseudo_media(spark, sf_dir):
    """MEDIA-shaped frame from documents: text bytes as the opaque
    binary payload, modality round-robined by doc_id — real binary
    column + typed metadata through the multimodal plumbing."""
    docs = _t(spark, sf_dir, "documents")
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.lit(None).cast("string").alias("fmt"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.octet_length("text") / 100.0).alias("duration_s"),
            F.octet_length("text").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def q_promo_revenue(spark, sf_dir):
    # TPC-H Q14 shape: broadcast part dim into lineitem, conditional
    # aggregate -> promo revenue share per month
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                * 100.0
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


def q_hourly_window_agg(spark, sf_dir):
    # Streaming silver aggregate exercised through its batch-identical
    # plan (groupBy(window(ts,1h)) — same function the stream runs)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming import (
        ingest_stream as ST,
    )

    # deterministic=True makes the quotients bit-stable under any
    # partitioning, so no rounding tolerance is needed (and F.round vs
    # DuckDB round disagree on boundary doubles — see det_mean)
    agg = ST.hourly_stream_aggregate(_pseudo_bronze(spark, sf_dir), deterministic=True)
    return agg.orderBy("site", "ts_utc")


def q_type_value_stats_salted(spark, sf_dir):
    # Skew-hardened two-phase salted aggregate: event_type has only 5
    # values over the whole table — the hot-key case
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
        skew as SK,
    )

    # sum over the exact decimal image of value: salted re-association
    # stays bit-exact AND matches the oracle without rounding
    ev = _t(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(20,6)")
    )
    out = SK.salted_agg(
        ev,
        keys=["event_type"],
        metrics={
            "n": ("value", "count"),
            "sum_value": ("value_dec", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
    )
    return out.select(
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
        (F.col("sum_value").cast("double") / F.col("n")).alias("avg_value"),
    ).orderBy("event_type")


def q_doc_duplicated_spans(spark, sf_dir):
    # Span-level duplicate detection: per-doc rollup of maximal token
    # ranges whose every 5-gram repeats in >= 2 distinct docs (the
    # shingle-granularity form of exact-substring dedup). Integer-exact.
    spans = D.duplicated_spans(_t(spark, sf_dir, "documents"), n=5, min_df=2)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").alias("dup_tokens"),
            F.max("span_tokens").cast("long").alias("longest_span"),
        )
        .orderBy("doc_id")
    )


def q_forecast_sarimax_audit(spark, sf_dir):
    # Deterministic invariants of the model-dependent SARIMAX fit
    # (VERDICT r4 ask #7): the yhat values are rows-only by design, but
    # per-(site,var) row counts, horizon coverage, interval ordering
    # (lower <= yhat <= upper, lower >= 0), forecast timestamps
    # (= series origin + horizon) and the model tag are all exact —
    # checkable against series lengths derived from the base table.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        forecast as FC,
    )

    feats = _pseudo_features_hourly(spark, sf_dir)
    fc = FC.sarimax_forecast(feats, horizons=[1, 24])
    # the audit scope is series length > 25 — the numpy surrogate's fit
    # floor. statsmodels (when installed) fits shorter series too, so
    # the gate must live HERE, not implicitly in the model: otherwise
    # the oracle's n > 25 filter and the query disagree the moment the
    # environment gains statsmodels (review r5)
    origins = (
        feats.groupBy("site")
        .agg(F.max("ts_utc").alias("origin"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 25)
        .drop("_n")
    )
    bad_interval = (
        (F.col("yhat_lower") > F.col("yhat"))
        | (F.col("yhat") > F.col("yhat_upper"))
        | (F.col("yhat_lower") < 0)
    )
    bad_ts = F.col("ts_utc") != F.expr("timestampadd(HOUR, horizon_h, origin)")
    return (
        fc.join(F.broadcast(origins), "site")
        .groupBy("site", "var")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("horizon_h").alias("n_horizons"),
            F.sum(bad_interval.cast("long")).alias("interval_violations"),
            F.sum(bad_ts.cast("long")).alias("ts_violations"),
            F.sum((F.col("model") != "sarimax").cast("long")).alias(
                "model_violations"
            ),
        )
        .orderBy("site", "var")
    )


def q_sketch_accuracy_audit(spark, sf_dir):
    # Engine-native sketch aggregates (HLL++ distinct, KLL-style
    # percentile_approx) are not SQL-reproducible bit-for-bit, so —
    # same invariant-audit pattern as forecast_sarimax_audit — the
    # oracle checks their published error bounds against exactly
    # computed references: HLL at rsd=0.02 must land within 10% of the
    # exact distinct count (generous: ~5 sigma), and the approximate
    # median must fall between the exact 45th and 55th percentiles
    # (accuracy=10000 bounds rank error at n/10000 < 1 row here).
    ev = _t(spark, sf_dir, "events")
    # both exact percentiles from ONE percentile(array(...)) — a single
    # per-group sort instead of two (cost here is dominated by the
    # countDistinct Expand + sketch states, not the sorts; the fold is
    # still strictly less work)
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_hll"),
        F.expr("percentile(value, array(0.45, 0.55))").alias("_pb"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("_p50a"),
    )
    return per.select(
        "event_type",
        "n_events",
        "n_users_exact",
        (
            F.abs(F.col("_hll") - F.col("n_users_exact"))
            <= F.col("n_users_exact") * 0.10
        ).alias("hll_ok"),
        (
            (F.col("_p50a") >= F.col("_pb")[0])
            & (F.col("_p50a") <= F.col("_pb")[1])
        ).alias("p50_ok"),
    ).orderBy("event_type")


def q_forecast_hw_audit(spark, sf_dir):
    # Additive Holt-Winters (third forecast model beside seasonal-naive
    # and the SARIMAX slot): fixed smoothing constants keep the state
    # recursion deterministic, so the same invariant audit as
    # forecast_sarimax_audit oracles it — row counts and horizon
    # coverage from base-table series lengths (fit needs >= 2 seasons =
    # 48 hourly rows), interval ordering, forecast timestamps, model tag.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        forecast as FC,
    )

    feats = _pseudo_features_hourly(spark, sf_dir)
    fc = FC.holt_winters_forecast(feats, horizons=[1, 24])
    origins = feats.groupBy("site").agg(F.max("ts_utc").alias("origin"))
    bad_interval = (
        (F.col("yhat_lower") > F.col("yhat"))
        | (F.col("yhat") > F.col("yhat_upper"))
        | (F.col("yhat_lower") < 0)
    )
    bad_ts = F.col("ts_utc") != F.expr("timestampadd(HOUR, horizon_h, origin)")
    return (
        fc.join(F.broadcast(origins), "site")
        .groupBy("site", "var")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("horizon_h").alias("n_horizons"),
            F.sum(bad_interval.cast("long")).alias("interval_violations"),
            F.sum(bad_ts.cast("long")).alias("ts_violations"),
            F.sum((F.col("model") != "holt_winters").cast("long")).alias(
                "model_violations"
            ),
        )
        .orderBy("site", "var")
    )


def q_ann_ivf_recall(spark, sf_dir):
    # Deterministic invariants of the trained-KMeans IVF (VERDICT r4
    # ask #7): neighbor identities depend on the learned centroids
    # (rows-only by design), but the result SHAPE (8 queries x exactly
    # k rows, self excluded) and a recall floor vs the exact
    # brute-force twin are hard guarantees. Measured recall at 4/16
    # probes is ~0.5 on this corpus; the floor is 0.3.
    emb = _t(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 8
    exact = S.ann_bruteforce_topk(emb, qf, k=5)
    ivf = S.kmeans_ivf_topk(emb, qf, k=5, n_centroids=16, n_probe=4)
    hits = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    per_q = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        ivf.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_ivf_rows"),
        )
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_rows")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hits")))
        .crossJoin(
            per_q.filter(F.col("_n") == 5).agg(
                F.count(F.lit(1)).alias("full_k_queries")
            )
        )
        .select(
            "n_queries",
            "n_exact_rows",
            "n_ivf_rows",
            "full_k_queries",
            (F.col("_n_hits") / F.col("n_exact_rows") >= 0.3).alias("recall_ok"),
        )
    )


def q_pq_recall_audit(spark, sf_dir):
    # Product quantization (Jégou et al. 2011) end-to-end: codebooks →
    # m-byte codes → ADC top-k, audited exactly like ann_ivf_recall —
    # deterministic head-sample codebooks keep the whole family
    # invariant-oracle-able; the floor is ~2.5× under measured recall
    # (0.2-0.33 on this corpus at m=8, n_codes=16 — random synthetic
    # embeddings are PQ's worst case, no cluster structure to exploit).
    emb = _t(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 8
    exact = S.ann_bruteforce_topk(emb, qf, k=5)
    books = S.pq_codebooks(emb, m=8, n_codes=16)
    pq = S.pq_topk(emb, qf, books, k=5)
    hits = exact.join(pq, ["query_id", "neighbor_id"], "left_semi")
    per_q = pq.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        pq.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_pq_rows"),
        )
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_rows")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hits")))
        .crossJoin(
            per_q.filter(F.col("_n") == 5).agg(
                F.count(F.lit(1)).alias("full_k_queries")
            )
        )
        .select(
            "n_queries",
            "n_exact_rows",
            "n_pq_rows",
            "full_k_queries",
            (F.col("_n_hits") / F.col("n_exact_rows") >= 0.1).alias(
                "recall_ok"
            ),
        )
    )


def q_ivfadc_recall(spark, sf_dir):
    # IVFADC (FAISS "IVF16,PQ8" shape): sub-linear probe + compressed
    # residual scan composed — the index architecture a 100 TB corpus
    # deploys. Same invariant audit as pq_recall_audit; measured
    # recall 0.25-0.3 here (random embeddings, PQ's worst case),
    # floor 0.1.
    emb = _t(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 8
    exact = S.ann_bruteforce_topk(emb, qf, k=5)
    adc = S.ivfadc_topk(emb, qf, k=5, n_centroids=16, n_probe=4)
    hits = exact.join(adc, ["query_id", "neighbor_id"], "left_semi")
    per_q = adc.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        adc.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_adc_rows"),
        )
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_rows")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hits")))
        .crossJoin(
            per_q.filter(F.col("_n") == 5).agg(
                F.count(F.lit(1)).alias("full_k_queries")
            )
        )
        .select(
            "n_queries",
            "n_exact_rows",
            "n_adc_rows",
            "full_k_queries",
            (F.col("_n_hits") / F.col("n_exact_rows") >= 0.1).alias(
                "recall_ok"
            ),
        )
    )


def q_ann_mips_lsh_pairs(spark, sf_dir):
    # Sub-quadratic MIPS pairs (new r12): the symmetric norm embedding
    # (Neyshabur & Srebro 2015) lifts every vector into dims+2 P/Q
    # roles so cos(Q(a), P(b)) = a.b/M^2 and the SRP-LSH banding
    # becomes a valid MIPS bucketer; candidates verify by exact raw
    # dot >= 0.35, so the output is a SUBSET of embedding_mips_pairs
    # (subset-tested) — recall traded for one (band, bucket) shuffle,
    # the ann_lsh_pairs contract with cosine swapped for dot. Recall
    # here ~6% at tau=0.35: random synthetic embeddings are LSH's
    # worst case (no cluster structure; the registered cosine sibling
    # measures 2.8% on the same data) — on real corpora high-dot
    # pairs are near-parallel and band collisions concentrate there.
    emb = _t(spark, sf_dir, "embeddings")
    return S.mips_lsh_pairs(
        emb, dims=64, threshold=0.35, max_bucket=S.LSH_MAX_BUCKET
    )


def q_embedding_mips_pairs(spark, sf_dir):
    # MIPS pair join (new r12): all unordered pairs with raw inner
    # product >= 0.35 — the graph-building/positive-pair-mining
    # primitive for unnormalized embedding dumps, completing the
    # metric="dot" family's pairs column. Blocked exact kernel (the
    # cosine_threshold_pairs machinery, norm division skipped) plus a
    # Cauchy-Schwarz norm prefilter that drops can't-pass vectors
    # BEFORE block replication (dot <= |a||b|, the public ip-join
    # norm-prefix pruning); ordered-fold dots keep the oracle exact.
    emb = _t(spark, sf_dir, "embeddings")
    return S.mips_threshold_pairs(emb, threshold=0.35)


def q_ann_int8_mips_topk(spark, sf_dir):
    # Int8-quantized MIPS top-5 (new r12): the scalar-quantization
    # member of the compressed-MIPS family — corpus scanned as
    # quantize_embeddings int8 codes (4x smaller), scored by
    # (scale_q·scale_x)·(integer dot). Unlike PQ this approximation
    # is EXACTLY portable (half-up floor(x/s + 0.5) quantizer, exact
    # integer dots, pinned double-multiply order), so the oracle is a
    # full hash-exact SQL twin, int_dot included — the only
    # compressed-ANN entry with an exact oracle rather than a count
    # audit.
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_int8_mips_topk(emb, F.col("vec_id") < 8, k=5)


def q_ann_int8_packed_mips_topk(spark, sf_dir):
    # Binary-packed int8 MIPS top-5 (new r14): the same flat SQ8 scan
    # with the code column in the FAISS storage layout — ONE byte/dim
    # two's-complement binary instead of array<int> (the actual 4×
    # width saving for persisted code tables; measured in SCALE.md).
    # _unpack_codes is the exact inverse of _pack_codes, so every
    # scored row is bit-identical to ann_int8_mips_topk
    # (identity-tested) and this entry shares its full hash-exact
    # oracle verbatim.
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_int8_mips_topk(emb, F.col("vec_id") < 8, k=5, packed=True)


def q_ann_ivf_sq8_mips_topk(spark, sf_dir):
    # IVF-SQ8 MIPS top-5 (new r13): the other standard FAISS
    # deployment shape (IVF16,SQ8 + METRIC_INNER_PRODUCT) — angular
    # coarse cells (the audited ann_mips_ivf_topk stage), int8
    # scalar-quantized scan inside the 4/16 probed cells (the audited
    # ann_int8_mips_topk arithmetic). Every step is bit-portable, so
    # this is the first SUB-LINEAR compressed entry with a FULL
    # hash-exact oracle (int_dot constrains the integer path);
    # exhaustive probing recovers ann_int8_mips_topk exactly
    # (identity-tested).
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_sq8_mips_topk(
        emb, F.col("vec_id") < 8, k=5, n_centroids=16, n_probe=4
    )


def q_ann_ivf_sq8r_mips_topk(spark, sf_dir):
    # IVF-SQ8 MIPS with RESIDUAL encoding (new r13): the FAISS
    # by_residual convention — cells store int8 codes of r = x - c(x),
    # scoring uses the exact decomposition q·x = q·c + q·r with only
    # the residual term approximated (sim = q·c + scale·(q·codes));
    # queries stay raw (asymmetric ADC). Every step bit-portable →
    # FULL hash-exact oracle; corpus==centroid-head recovers exact
    # MIPS bit-for-bit (identity-tested).
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_sq8r_mips_topk(
        emb, F.col("vec_id") < 8, k=5, n_centroids=16, n_probe=4
    )


def q_pq_mips_recall_audit(spark, sf_dir):
    # MIPS flat PQ (new r12): asymmetric-distance scan over RAW
    # vectors — the compressed linear MIPS baseline for unnormalized
    # learned embeddings (FAISS "PQ8" with METRIC_INNER_PRODUCT;
    # completes the r11 metric="dot" extension into the compressed
    # family per VERDICT r11 Next #5). Codebooks, encode, and ADC
    # tables all skip normalization — for MIPS the norm IS signal.
    # Audited exactly like pq_recall_audit, against exact MIPS
    # (ann_bruteforce_topk metric="dot"); measured recall 0.27-0.33
    # here (random embeddings, PQ's worst case), floor 0.1.
    emb = _t(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 8
    exact = S.ann_bruteforce_topk(emb, qf, k=5, metric="dot")
    books = S.pq_codebooks(emb, m=8, n_codes=16, metric="dot")
    pq = S.pq_topk(emb, qf, books, k=5, metric="dot")
    hits = exact.join(pq, ["query_id", "neighbor_id"], "left_semi")
    per_q = pq.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        pq.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_pq_rows"),
        )
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_rows")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hits")))
        .crossJoin(
            per_q.filter(F.col("_n") == 5).agg(
                F.count(F.lit(1)).alias("full_k_queries")
            )
        )
        .select(
            "n_queries",
            "n_exact_rows",
            "n_pq_rows",
            "full_k_queries",
            (F.col("_n_hits") / F.col("n_exact_rows") >= 0.1).alias(
                "recall_ok"
            ),
        )
    )


def q_ivfadc_mips_recall_audit(spark, sf_dir):
    # MIPS-IVFADC (new r12): the production index shape for a 100 TB
    # unnormalized-embedding corpus (FAISS "IVF16,PQ8" with
    # METRIC_INNER_PRODUCT) — angular cells keep the probe sub-linear
    # (assignment by x·c_unit is scale-invariant, the same convention
    # as ann_mips_ivf_topk), raw residual codes keep the probed
    # fraction compressed, and q·x = q·c(x) + q·(x−c(x)) holds exactly
    # for any norms so the residual codebook stays the only
    # approximation. Audited against exact MIPS; measured recall
    # 0.25-0.3 here, floor 0.1.
    emb = _t(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 8
    exact = S.ann_bruteforce_topk(emb, qf, k=5, metric="dot")
    adc = S.ivfadc_topk(
        emb, qf, k=5, n_centroids=16, n_probe=4, metric="dot"
    )
    hits = exact.join(adc, ["query_id", "neighbor_id"], "left_semi")
    per_q = adc.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        adc.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_adc_rows"),
        )
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_rows")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hits")))
        .crossJoin(
            per_q.filter(F.col("_n") == 5).agg(
                F.count(F.lit(1)).alias("full_k_queries")
            )
        )
        .select(
            "n_queries",
            "n_exact_rows",
            "n_adc_rows",
            "full_k_queries",
            (F.col("_n_hits") / F.col("n_exact_rows") >= 0.1).alias(
                "recall_ok"
            ),
        )
    )


def q_salted_join_segments(spark, sf_dir):
    # Skew-hardened shuffle JOIN (VERDICT r4 ask #2): events fact ⋈
    # customer dim through salted_join — probe side salted uniformly,
    # build side replicated n_salt ways, join on (key, salt). Result
    # must be identical to the plain join, so the oracle is the plain
    # SQL join; the straggler-spread evidence lives in tests/test_skew.py.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators import (
        skew as SK,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"),
        F.col("value").cast("decimal(20,6)").alias("value_dec"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = SK.salted_join(ev, cust, ["c_custkey"], n_salt=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_dec").cast("double").alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


def q_session_attribution(spark, sf_dir):
    # Bucketized RANGE JOIN with an equi key (operators/range_join.py):
    # sessions are built from browse events only (purchases excluded, so
    # the join is not circular), then purchases are attributed to the
    # browse session whose [start, end] window contains them. Without
    # the bin trick Catalyst plans this theta join as a nested loop —
    # the 100 TB cliff; here it's a plain hash join on (user_id, bin).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.range_join import (
        range_join_ts,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sessions import (
        session_stats,
    )

    ev = _t(spark, sf_dir, "events")
    browse = ev.where(F.col("event_type") != "purchase")
    # materialized once: range_join's validation pass and the join both
    # consume the interval side, and re-running the sessionization
    # subplan per consumer would double the window work (the frame is
    # session-count-sized — far smaller than the events it summarizes)
    sess = (
        session_stats(browse, ordered=False)
        .select("user_id", "session_id", "session_start", "session_end")
        .localCheckpoint(eager=True)
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").cast("decimal(20,6)").alias("value_dec")
    )
    hit = range_join_ts(
        purchases, sess, "ts", "session_start", "session_end",
        bin_width_seconds=28800, equi_keys=("user_id",),
    )
    return (
        hit.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("value_dec").cast("double").alias("purchase_value"),
        )
        .orderBy("user_id", "session_id")
    )


def q_value_tier_report(spark, sf_dir):
    # Pure-range (no equi key) bucketized range join: non-uniform
    # quadratic value tiers [5k², 5(k+1)²) — a band lookup that cannot
    # be expressed as floor(value/width), so it is a genuine interval
    # join, planned as an equi-join on the manufactured bin column.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.range_join import (
        range_join,
    )

    tiers = spark.range(10).select(
        F.col("id").alias("tier"),
        (F.col("id") * F.col("id") * F.lit(5.0)).alias("lo"),
        ((F.col("id") + 1) * (F.col("id") + 1) * F.lit(5.0)).alias("hi"),
    )
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.col("value").cast("decimal(20,6)").alias("value_dec"),
    )
    hit = range_join(ev, tiers, "value", "lo", "hi", bin_width=20.0)
    return (
        hit.groupBy("tier", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_dec").cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("tier")
    )


def q_media_stats(spark, sf_dir):
    # Multimodal: relational analytics over binary+metadata columns
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal import (
        binary_ops as MM,
    )

    return MM.media_stats(_pseudo_media(spark, sf_dir)).select(
        "modality",
        "n",
        "total_bytes",
        F.round("avg_duration_s", 4).alias("avg_duration_s"),
    )


def q_media_frame_sample(spark, sf_dir):
    # Multimodal: deterministic frame-index fanout for video rows
    # (generate-only explode, no shuffle; decode is the stubbed codec)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal import (
        binary_ops as MM,
    )

    return MM.sample_frames(_pseudo_media(spark, sf_dir), every_n=2).orderBy(
        "media_id", "frame_idx"
    )


def q_order_priority_sql(spark, sf_dir):
    # TPC-H Q4 shape written in the engine's SQL surface (spark.sql over
    # registered views): EXISTS decorrelates to a left-semi join
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM v_orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM v_lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


def q_ann_ivf_topk(spark, sf_dir):
    # IVF coarse-quantizer ANN: probe 4 of 16 clusters (scale path
    # without a resident corpus matrix)
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(
        emb, F.col("vec_id") < 8, k=5, n_centroids=16, n_probe=4
    )


def q_embedding_quantization(spark, sf_dir):
    # int8 scalar-quantization audit: reconstruction error vs the
    # scale/2-per-dim bound, corpus-wide
    return S.quantization_error_stats(_t(spark, sf_dir, "embeddings"))


def q_ann_ivf_trained(spark, sf_dir):
    # IVF with a TRAINED MLlib-KMeans coarse quantizer (model-dependent
    # output -> rows-only driver check, like the forecast fits)
    emb = _t(spark, sf_dir, "embeddings")
    return S.kmeans_ivf_topk(
        emb, F.col("vec_id") < 8, k=5, n_centroids=16, n_probe=4
    )


def q_forecast_eval(spark, sf_dir):
    # Forecast-vs-actual evaluation join + error metrics (the Gold
    # join the reference roadmap implies; SURVEY.md §7 phase 3)
    feats = _pseudo_features_hourly(spark, sf_dir)
    fc = G.seasonal_naive_forecast(feats, horizons=[1, 24])
    return G.forecast_accuracy(fc, feats)


def q_forecast_backtest(spark, sf_dir):
    # Rolling-origin backtest (new r13): time-series cross-validation
    # of the seasonal-naive model — 4 disjoint 24h test windows tiled
    # back from the series' max hour, leakage-free (horizon <= season
    # enforced), seasonal lag as a TIME join so series gaps yield no
    # forecast instead of a shifted one. Per (site, var, fold) MAE/
    # RMSE/bias rounded to 4 decimals (family convention).
    feats = _pseudo_features_hourly(spark, sf_dir)
    return G.rolling_backtest(feats, n_folds=4, horizon_h=24, season_h=24)


def q_forecast_champion(spark, sf_dir):
    # Model-selection leaderboard (new r14): the champion step the
    # reference's multi-model mart_forecast DDL implies (init.sql:61-73
    # declares a model column but nothing ever SELECTS a winner) — the
    # rolling_backtest protocol run for three SQL-exact forecasters
    # (snaive_24, snaive_168 weekly, hod_mean climatology with
    # per-fold train cutoff), ranked per (site, var) by det_mean of
    # fold MAEs; rank 1 = champion, ties name-deterministic. Fully
    # hash-exact oracle (chained CTEs over the backtest SQL); the
    # iteratively-fitted models stay on their invariant-audit entries.
    feats = _pseudo_features_hourly(spark, sf_dir)
    return G.model_leaderboard(feats, n_folds=4, horizon_h=24)


def q_forecast_champion_forward(spark, sf_dir):
    # Champion forward forecast (new r14): the end of the selection
    # story — each (site, var)'s leaderboard winner re-applied FORWARD
    # to the next 24 hours after the series max (lag joins read only
    # actuals <= max ts; hod climatology = full-history det_mean),
    # emitting mart_forecast-shaped rows tagged with the model that
    # produced them. Oracle shares _CHAMPION_CTES with
    # forecast_champion — the model family cannot desync.
    feats = _pseudo_features_hourly(spark, sf_dir)
    return G.champion_forecast(feats, n_folds=4, horizon_h=24)


def q_forecast_sarimax(spark, sf_dir):
    # Gold mart_forecast model='sarimax' via groupBy().applyInPandas —
    # per-(site,var) model fit; not SQL-expressible, rows-only check
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        forecast as FC,
    )

    fc = FC.sarimax_forecast(_pseudo_features_hourly(spark, sf_dir), horizons=[1, 24])
    return fc.orderBy("site", "var", "horizon_h", "ts_utc")


def q_type_status_rollup(spark, sf_dir):
    # ROLLUP aggregate (free Spark capability beyond reference, SURVEY §2.4)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_returned_item_report(spark, sf_dir):
    # TPC-H Q10-shaped lost-revenue-by-customer (scale surface)
    return W.returned_item_report(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


def q_large_volume_customers(spark, sf_dir):
    # TPC-H Q18-shaped HAVING-filtered fact self-aggregate (scale surface)
    return W.large_volume_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_supplier_part_stats(spark, sf_dir):
    # TPC-H Q16-shaped distinct-aggregate over a broadcast dim join
    return W.supplier_part_stats(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


def q_user_sessions(spark, sf_dir):
    # Gap-based sessionization (training-pipeline staple; generalizes W1
    # hourly bucketing to data-driven boundaries)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sessions import (
        session_stats,
    )

    return session_stats(_t(spark, sf_dir, "events"))


def q_session_window_agg(spark, sf_dir):
    # Native merging session_window (streaming-capable form of
    # user_sessions; same gap semantics, single-aggregate plan)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sessions import (
        session_window_stats,
    )

    return session_window_stats(_t(spark, sf_dir, "events"))


def q_embedding_clusters(spark, sf_dir):
    # Nearest-centroid assignment + per-cluster stats (IVF coarse
    # quantizer as an analytic; deterministic id-ordered centroids)
    return S.cluster_assign_stats(_t(spark, sf_dir, "embeddings"))


def q_revenue_rollup(spark, sf_dir):
    # ROLLUP on the warehouse scale surface: (region, nation) detail +
    # region subtotal + grand total in ONE Expand pass over the joined
    # fact stream, gid = grouping_id() (type_status_rollup covers the
    # single-table form; this is the join-heavy one that matters at
    # scale). plans/warehouse.revenue_rollup.
    return W.revenue_rollup(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_nation_trade_volume(spark, sf_dir):
    # TPC-H Q7-shaped nation-pair shipped revenue by year (scale surface)
    return W.nation_trade_volume(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


def q_discounted_brand_revenue(spark, sf_dir):
    # TPC-H Q19-shaped disjunctive predicate with pushable envelope
    return W.discounted_brand_revenue(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


def q_idle_rich_customers(spark, sf_dir):
    # TPC-H Q22-shaped anti-join + explicit scalar-subquery broadcast
    return W.idle_rich_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_order_count_distribution(spark, sf_dir):
    # TPC-H Q13-shaped outer-join orders-per-customer distribution
    return W.order_count_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_small_quantity_revenue(spark, sf_dir):
    # TPC-H Q17-shaped decorrelated per-part-average threshold
    return W.small_quantity_revenue(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


def q_top_revenue_supplier(spark, sf_dir):
    # TPC-H Q15-shaped revenue view + scalar-max join (ties kept)
    return W.top_revenue_supplier(
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "lineitem")
    )


def q_nation_market_share(spark, sf_dir):
    # TPC-H Q8-shaped conditional-sum market-share ratio per year
    return W.nation_market_share(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def q_product_type_profit(spark, sf_dir):
    # TPC-H Q9-shaped profit by nation/year (retailprice cost proxy)
    return W.product_type_profit(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def q_shipping_delay_report(spark, sf_dir):
    # TPC-H Q12-shaped delay-bucket × priority-class conditional counts
    return W.shipping_delay_report(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_silver_rolling_features(spark, sf_dir):
    # Rolling-frame feature block over the silver series (§2.5 Gold)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        gold as G,
        silver as SV,
    )

    return G.rolling_features(SV.clean_to_hourly(_pseudo_bronze(spark, sf_dir)))


def q_silver_gap_fill(spark, sf_dir):
    # Hourly spine + bounded forward-fill (sensor-series repair)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import (
        gold as G,
        silver as SV,
    )

    return G.gap_fill_hourly(SV.clean_to_hourly(_pseudo_bronze(spark, sf_dir)))


def q_hourly_distinct_users(spark, sf_dir):
    # Exact hourly distinct users — the accuracy reference for the
    # streaming HLL twin (streaming.hourly_stream_distinct_users)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("ts_hour"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("ts_hour")
    )


def q_orders_expectations(spark, sf_dir):
    # Deequ-style single-pass expectation suite over orders: the whole
    # report is ONE aggregate scan (row count, key uniqueness, null
    # audit, domain membership, bounds)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.expectations import (
        Expectation,
        duplicate_key_count,
        expectation_report,
        max_of,
        min_of,
        null_count,
        out_of_set_count,
        row_count,
    )

    o = _t(spark, sf_dir, "orders")
    suite = [
        Expectation("rows_at_least_100", row_count(), lo=100),
        Expectation("orderkey_unique", duplicate_key_count("o_orderkey"), hi=0),
        Expectation("custkey_no_nulls", null_count("o_custkey"), hi=0),
        Expectation(
            "status_in_domain",
            out_of_set_count("o_orderstatus", ["F", "O", "P"]),
            hi=0,
        ),
        Expectation("totalprice_nonneg", min_of("o_totalprice"), lo=0),
        Expectation("totalprice_under_cap", max_of("o_totalprice"), hi=1e9),
    ]
    return expectation_report(o, suite)


def q_sliding_window_agg(spark, sf_dir):
    # Sliding (hopping) event-time windows — 2h length, 1h hop: each
    # event lands in exactly two windows. Native F.window, the same
    # expression Structured Streaming runs with a watermark; the mean
    # divides an exact decimal sum (partition-invariant).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "2 hours", "1 hour").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
                / F.count("value")
            ).alias("mean_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "mean_value")
        .orderBy("w_start")
    )


def q_order_gap_stats(spark, sf_dir):
    # lead() inter-arrival analysis: days between consecutive orders
    # per customer, averaged per market segment. Gap arithmetic is
    # integer datediff; the mean divides exact integer sums.
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("next_date", F.lead("o_orderdate").over(w))
        .filter(F.col("next_date").isNotNull())
        .withColumn(
            "gap_days", F.datediff(F.col("next_date"), F.col("o_orderdate"))
        )
    )
    return (
        gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_days").alias("total_gap_days"),
            F.round(
                F.sum("gap_days").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


def q_balance_quartiles(spark, sf_dir):
    # ntile ranking window: per-nation acctbal quartile boundaries.
    # ntile is rank-based (no float arithmetic) so quartile membership
    # is engine-exact given the total (balance, custkey) tiebreak.
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal"), F.col("c_custkey")
    )
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").alias("lo_bal"),
            F.max("c_acctbal").alias("hi_bal"),
        )
        .orderBy("c_nationkey", "quartile")
    )


def q_customer_running_revenue(spark, sf_dir):
    # Ordered running total per customer (cumulative frame): exact
    # decimal cumsum so every prefix is partition-invariant; limited to
    # one segment's customers to keep the gate result compact.
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn(
            "running_total",
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2
            ).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "o_orderdate", "running_total")
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def q_users_purchase_and_error(spark, sf_dir):
    # INTERSECT set op (SURVEY §2.6 notes the reference has none —
    # free Spark capability): users appearing in both event classes.
    # Plans as a distinct + left-semi shape, one shuffle per side.
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b).orderBy("user_id")


def q_type_status_grouping_sets(spark, sf_dir):
    # Explicit GROUPING SETS (the general form of the ROLLUP/CUBE pair
    # already covered): per-type, per-status, and grand-total rows only
    # — no (type, status) cross cells.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag, l_linestatus
        """
    )


def q_value_histogram(spark, sf_dir):
    # Fixed-width binning (width_bucket analog via integer floor) —
    # the distribution profile every monitoring dashboard needs; bin
    # arithmetic is integer-exact so the oracle matches bit-wise
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 25.0).cast("int")
    return (
        ev.groupBy(F.col("event_type"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lo", F.col("bucket") * 25.0)
        .select("event_type", "bucket", "lo", "n")
        .orderBy("event_type", "bucket")
    )


def q_above_type_average_sql(spark, sf_dir):
    # SQL-surface correlated scalar subquery: Catalyst decorrelates the
    # per-type average into an aggregate + join (no per-row re-scan) —
    # the declarative twin of small_quantity_revenue's manual
    # decorrelation. Exact decimal mean so the threshold is
    # engine-invariant.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.tables import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, count(*) AS n_above
        FROM events e
        WHERE value > (
          SELECT CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                 / count(value)
          FROM events i WHERE i.event_type = e.event_type
        )
        GROUP BY event_type
        ORDER BY event_type
        """
    )


def q_value_outliers(spark, sf_dir):
    # Batch analog of the streaming running-z-score operator: per-type
    # standardization with EXACT decimal moments (sum, sum-of-squares)
    # so the variance — unlike stddev_pop's float fold — is partition-
    # and engine-invariant; z computes in double only at the end.
    ev = _t(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(20,6)")
    moments = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )
    j = ev.join(F.broadcast(moments), "event_type")
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        j.withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.5)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


def q_cohort_retention(spark, sf_dir):
    # Weekly cohort retention: users grouped by first-signup week,
    # counted per activity-week offset. One fact pass for cohorts (min
    # agg), one for activity; the cohort map (one row per user)
    # broadcasts back onto the fact — no self-join of events.
    ev = _t(spark, sf_dir, "events")
    cohorts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        activity.join(F.broadcast(cohorts), "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .withColumn(
            "week_offset",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def q_event_funnel(spark, sf_dir):
    # Ordered funnel: view -> click -> purchase (strictly increasing ts)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.funnel import (
        funnel_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"], max_gap_hours=24)


def q_top_customers_per_nation(spark, sf_dir):
    # Window top-k per group: top-3 customers by order value per nation
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    per_cust = o.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("order_value")
    )
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("n_name").orderBy(
        F.desc("order_value"), F.col("c_custkey")
    )
    return (
        per_cust.join(F.broadcast(dim), per_cust.o_custkey == dim.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "rk", "c_custkey", "c_name", "order_value")
        .orderBy("n_name", "rk")
    )


def q_regional_cheapest_supplier(spark, sf_dir):
    # TPC-H Q2-shaped correlated-min decorrelated to a min_by arg-min
    return W.regional_cheapest_supplier(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def q_important_part_share(spark, sf_dir):
    # TPC-H Q11-shaped global-fraction HAVING (exact-decimal threshold)
    return W.important_part_share(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_excess_share_suppliers(spark, sf_dir):
    # TPC-H Q20-shaped semi-join chain over quantity shares
    return W.excess_share_suppliers(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def q_sole_failing_supplier(spark, sf_dir):
    # TPC-H Q21-shaped EXISTS/NOT-EXISTS pair folded into one aggregate
    return W.sole_failing_supplier(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


def q_type_status_cube(spark, sf_dir):
    # CUBE aggregate (free Spark capability beyond reference, SURVEY §2.4)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_doc_split_counts(spark, sf_dir):
    # Deterministic hash-based train/val/test split (reproducible across
    # runs/engines/partitionings — no RNG)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        with_split,
    )

    d = with_split(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return (
        d.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


def q_doc_filter_cascade(spark, sf_dir):
    # Gopher/C4-style labeled quality cascade (text-domain O12 analog)
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            TX.quality_drop_reason(F.col("text"), F.col("lang")).alias("reason")
        )
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("reason")
    )


def q_incremental_novel_near(spark, sf_dir):
    # NEAR-dup incremental dedup: same batch/index split as
    # incremental_novel_docs, but matches are LSH-candidate + exact
    # Jaccard >= 0.5 — catches the re-fetched-with-edits page the
    # fingerprint check misses. The index side's band rows are the
    # persistable LSH index; the batch only probes.
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = docs.where(F.col("doc_id") % 5 != 0)
    return (
        D.novel_against_index_near(new, idx, threshold=0.5)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_funnel_latency(spark, sf_dir):
    # Conversion-latency analytic over the earliest-path funnel: how
    # long users take view -> click and view -> purchase. Integer-second
    # aggregates only (counts, min/max/sum) — exact under any
    # partitioning, so the min-chain oracle matches bit-for-bit.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.funnel import (
        funnel_reach,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sessions import (
        _epoch_seconds,
    )

    ev = _t(spark, sf_dir, "events")
    reach = funnel_reach(ev, ["view", "click", "purchase"])
    s12 = _epoch_seconds(F.col("t2")) - _epoch_seconds(F.col("t1"))
    s13 = _epoch_seconds(F.col("t3")) - _epoch_seconds(F.col("t1"))
    return reach.agg(
        F.count(F.lit(1)).alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
        F.min(s12).alias("min_s12"),
        F.max(s12).alias("max_s12"),
        F.sum(s12).alias("sum_s12"),
        F.min(s13).alias("min_s13"),
        F.max(s13).alias("max_s13"),
        F.sum(s13).alias("sum_s13"),
    )


def q_bpe_audit(spark, sf_dir):
    # Distributed BPE vocabulary induction (arXiv:1508.07909) audited by
    # invariants: the learned merge count, corpus word totals the SQL
    # side computes exactly, and the token-count bounds every valid BPE
    # segmentation satisfies (n_words <= n_tokens <= n_chars_no_space).
    # The merge table itself is model-like (iterative argmax) — the
    # same audit treatment as the forecast fits.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.functions.bpe import (
        apply_bpe,
        train_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=10)
    tok = apply_bpe(docs, merges)
    chars = docs.select(
        "doc_id",
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("n_ch"),
    )
    bad = (F.col("n_tokens") > F.col("n_ch")) | (
        F.col("n_tokens") < F.col("n_words")
    )
    return tok.join(chars, "doc_id").agg(
        F.lit(len(merges)).cast("long").alias("n_merges_learned"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum(bad.cast("long")).alias("bound_violations"),
    )


def q_curated_corpus(spark, sf_dir):
    # The END-TO-END curation pipeline a training run actually executes,
    # as one DAG: quality cascade (keep only 'kept') -> exact
    # fingerprint dedup (canonical min-id survivor) -> per-domain quota
    # cap -> deterministic hash split. Every stage reuses an operator
    # already oracled on its own; this query certifies their
    # composition end-to-end (the same role dedup_corpus plays for the
    # pair family).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        quota_cap,
        with_split,
    )

    d = _t(spark, sf_dir, "documents")
    kept = d.where(
        TX.quality_drop_reason(F.col("text"), F.col("lang")) == "kept"
    )
    canon = kept.groupBy(TX.doc_fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    surv = kept.join(canon.select("doc_id"), "doc_id", "left_semi")
    capped = quota_cap(surv, "source", cap=5)
    split = with_split(
        capped, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return split.select("doc_id", "source", "lang", "split").orderBy("doc_id")


def q_doc_pack_stats(spark, sf_dir):
    # Concat-and-chunk sequence packing: per-shard docs/tokens/sequences
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.packing import (
        pack_sequences,
        pack_stats,
    )

    d = _t(spark, sf_dir, "documents")
    return pack_stats(pack_sequences(d, budget=512, n_shards=16), budget=512)


def q_doc_mixture_counts(spark, sf_dir):
    # Deterministic domain-mixture resampling: kept docs per source
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        weighted_mixture_sample,
    )

    d = _t(spark, sf_dir, "documents")
    kept = weighted_mixture_sample(
        d, "doc_id", "source", {"src1": 3.0, "src5": 1.0, "src17": 2.0}
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source")
    )


def q_doc_contamination(spark, sf_dir):
    # Benchmark-contamination audit: corpus docs sharing a 5-gram with
    # the eval slice (source='src0'), counted per source
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        ngram_contamination,
    )

    d = _t(spark, sf_dir, "documents")
    hits = ngram_contamination(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=5,
    )
    return (
        d.join(hits, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .orderBy("source")
    )


def q_doc_pii_stats(spark, sf_dir):
    # PII audit: per-kind match totals + redaction character delta
    return TX.pii_stats(_t(spark, sf_dir, "documents"))


def q_doc_commonness(spark, sf_dir):
    # Unigram-commonness audit (integer-exact LM-filter proxy)
    return TX.commonness_stats(_t(spark, sf_dir, "documents"))


def q_doc_repetition_stats(spark, sf_dir):
    # Gopher-style repetition audit per language
    return TX.repetition_stats(_t(spark, sf_dir, "documents"))


def q_corpus_ngram_topk(spark, sf_dir):
    # Corpus heavy-hitter bigrams (count desc, gram asc tiebreak)
    return TX.corpus_ngram_topk(_t(spark, sf_dir, "documents"))


def q_doc_keywords(spark, sf_dir):
    # Per-doc keyword extraction: top-5 terms by (tf desc, df asc) —
    # the log-free TF-IDF ordering; integer-exact, window-bounded
    return TX.doc_keywords(_t(spark, sf_dir, "documents"), k=5)


def q_doc_stratified_sample(spark, sf_dir):
    # Per-stratum deterministic sample with nested-sample property
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.sampling import (
        stratified_hash_sample,
    )

    return (
        stratified_hash_sample(
            _t(spark, sf_dir, "documents"),
            "doc_id",
            "source",
            {"src0": 0.5, "src1": 0.2, "src2": 0.1},
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )



def q_events_ohlc(spark, sf_dir):
    # Hourly OHLC bars per event type — the timeseries-rollup shape a
    # metrics store maintains (open/close via min_by/max_by over the
    # (ts, event_id) total order; single partial-agg shuffle, no
    # per-row window). plans/analytics.ohlc_downsample.
    return A.ohlc_downsample(_t(spark, sf_dir, "events"))


def q_value_winsorized(spark, sf_dir):
    # Per-type winsorization audit: clamp value to its per-key
    # [p, 1-p] DISCRETE order statistics (rank-exact, so hash-exact
    # cross-engine — interpolated percentiles differ in the last ulp)
    # and report bounds + clamped mean. operators/relational.
    return R.winsorized_stats(
        _t(spark, sf_dir, "events"), "event_type", "value", p=0.01
    )


def q_orders_profile(spark, sf_dir):
    # One-pass dataset profiling of the orders table: per column null
    # count, exact distinct count, min/max (decimal-cast price so the
    # string forms are engine-portable). operators/relational.
    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
    )
    return R.table_profile(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )


def q_bloom_membership_audit(spark, sf_dir):
    # Broadcast Bloom-filter semi-join audited against exact
    # membership: the O(m)-bits build-side compression of a large-key
    # semi-join (Spark's own runtime-filter trick as an auditable
    # operator). Member set = every 97th doc; md5 hashing keeps the
    # whole row value-exact for the oracle. operators/bloom.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.bloom import (
        bloom_membership_audit,
    )

    return bloom_membership_audit(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        F.col("doc_id") % 97 == 0,
        m=1 << 14,
        k=4,
    )


def q_media_codec_audit(spark, sf_dir):
    # Real-PNG roundtrip certified by the oracle: md5-derived rasters
    # are Paeth-filtered + zlib-deflated + decoded back through the
    # real codec branch, and the DECODED pixel means are compared to
    # the oracle's direct computation — a hash match proves the whole
    # encode/inflate/de-filter/feature path pixel-exact.
    # multimodal/binary_ops.codec_roundtrip_audit.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        codec_roundtrip_audit,
    )

    return codec_roundtrip_audit(_t(spark, sf_dir, "documents"))


def q_media_jpeg420_audit(spark, sf_dir):
    # 4:2:0 JPEG roundtrip certified by the oracle (VERDICT r7 Next
    # #5): md5-derived solid-tile rasters are encoded subsampled at
    # quality 97 — a construction that makes the lossy codec
    # SAMPLE-EXACT (DC-only blocks, DC quant step 1, constant-chroma
    # box subsampling) — the kernel asserts pixel equality, and the
    # decoded means hash-match the oracle's direct md5 computation.
    # multimodal/binary_ops.jpeg420_roundtrip_audit.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        jpeg420_roundtrip_audit,
    )

    return jpeg420_roundtrip_audit(_t(spark, sf_dir, "documents"))


def q_media_jpeg411_audit(spark, sf_dir):
    # Factor-4 (4:1:1) JPEG roundtrip certified by the oracle (r11):
    # solid 32x8 color tiles = one constant MCU each, so the 4x1 box
    # average and replication upsample are exact and quality 97 DC
    # step 1 reconstructs every sample; the kernel asserts the 0x41
    # sampling byte + pixel equality, the oracle recomputes the means
    # codec-free. multimodal/binary_ops.jpeg411_audit.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        jpeg411_audit,
    )

    docs = _t(spark, sf_dir, "documents")
    return jpeg411_audit(docs, n_docs=32)


def q_media_jpeg12_audit(spark, sf_dir):
    # 12-bit (SOF1 extended sequential) JPEG roundtrip certified by
    # the oracle (r10): grayscale solid tiles with EVEN 12-bit values
    # make the lossy codec sample-exact (DC step 16 = two even
    # samples); the kernel asserts SOF1 + 16-bit DQT + 0-4095 sample
    # equality, the oracle recomputes the means codec-free.
    # multimodal/binary_ops.jpeg12_audit.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        jpeg12_audit,
    )

    return jpeg12_audit(_t(spark, sf_dir, "documents"))


def q_media_jpeg_prog_audit(spark, sf_dir):
    # Progressive (SOF2) JPEG roundtrip certified by the oracle (new
    # r10): the jpeg420 solid-tile sample-exactness construction
    # emitted through the spectral-selection scan script and decoded
    # through the multi-scan coefficient-accumulation path; the kernel
    # asserts SOF2 + >= 7 scans + pixel equality, the oracle
    # recomputes the means codec-free from the md5 derivation.
    # multimodal/binary_ops.jpeg_progressive_audit.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        jpeg_progressive_audit,
    )

    return jpeg_progressive_audit(_t(spark, sf_dir, "documents"))



def q_events_zscore(spark, sf_dir):
    # Per-type z-score standardization with ORDER-INDEPENDENT moments
    # (exact decimal sums -> fixed IEEE op sequence), so z values are
    # bit-stable under any partitioning. Broadcast moment table, no
    # window. operators/relational.zscore_normalize.
    return R.zscore_normalize(_t(spark, sf_dir, "events"), "event_type", "value")


def q_domain_affinity(spark, sf_dir):
    # DSIR-family data selection (arXiv:2302.03169) as an exact
    # rational score: rank docs by the fraction of their corpus-token
    # mass lying in the target slice (source='src0') — two exact
    # BIGINT sums, one division, no log. functions/text.
    return TX.domain_affinity_topk(
        _t(spark, sf_dir, "documents"), F.col("source") == "src0", k=50
    )


def q_token_cms_audit(spark, sf_dir):
    # Count-Min sketch (Cormode-Muthukrishnan 2005) audited against
    # exact counts on the corpus's top tokens: verifies the one-sided
    # estimate >= truth guarantee from the data; md5 cells keep the
    # whole sketch value-exact for the oracle. operators/heavy.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.heavy import (
        cms_topk_audit,
    )

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    return cms_topk_audit(toks, "token", depth=4, width=1024, k=10)



def q_orders_cdc(spark, sf_dir):
    # Change-data-capture between two customer-rollup snapshots (the
    # path-free twin of versioned.snapshot_diff, like merge_frames for
    # the upsert): old = per-customer order stats before 1996, new =
    # the same through 1996 minus every 50th customer — yielding all
    # three change kinds. One full-outer join on the uniform key.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.versioned import (
        diff_frames,
    )

    orders = _t(spark, sf_dir, "orders")

    def rollup(pred):
        return (
            orders.filter(pred)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
                .cast("double")
                .alias("total_price"),
            )
        )

    old = rollup(F.col("o_orderdate") < "1996-01-01")
    new = rollup(F.col("o_orderdate") < "1997-01-01").filter(
        F.col("o_custkey") % 50 != 0
    )
    return diff_frames(old, new, ["o_custkey"]).select(
        "o_custkey",
        "change",
        F.col("old_val.n_orders").alias("old_n_orders"),
        F.col("old_val.total_price").alias("old_total_price"),
        F.col("new_val.n_orders").alias("new_n_orders"),
        F.col("new_val.total_price").alias("new_total_price"),
    )


def q_orders_scd2(spark, sf_dir):
    # Kimball SCD Type-2 dimension build (new r7): three deterministic
    # order-status snapshots -> one validity interval per contiguous
    # value run, deletions closing intervals like changes (key%11 rows
    # vanish at v3). One window shuffle + a run groupBy + a broadcast
    # version dimension — history depth multiplies rows, not shuffles
    # (operators/versioned.scd2_intervals).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.versioned import (
        scd2_intervals,
    )

    # r14 note: pinning the 2-column snapshot base was A/B'd and
    # REVERTED — the three branch scans are column-pruned 2-column
    # parquet reads, cheaper than the eager pin job they'd save
    # (same finding as the recall-audit arms: pin only what runtime
    # exchange reuse and cheap scans don't already cover).
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s1 = orders.select(k.alias("o_orderkey"), "o_orderstatus")
    s2 = orders.select(
        k.alias("o_orderkey"),
        F.when(k % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    s3 = orders.filter(k % 11 != 0).select(
        k.alias("o_orderkey"),
        F.when(k % 5 == 0, F.lit("Y"))
        .when(k % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return scd2_intervals([(1, s1), (2, s2), (3, s3)], ["o_orderkey"])



def q_scd2_point_lookup(spark, sf_dir):
    # Point-in-time lookup against the SCD2 dimension built by
    # q_orders_scd2: each order probes the status valid at version
    # (o_orderkey % 3 + 1); deleted-key probes keep NULL status (left
    # join). Rolled up per (as_of, status) for a compact result.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.versioned import (
        scd2_lookup,
    )

    dim = q_orders_scd2(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    probes = orders.select(
        "o_orderkey",
        ((F.col("o_orderkey") % 3) + 1).cast("int").alias("as_of"),
    )
    looked = scd2_lookup(dim, probes, ["o_orderkey"], "as_of")
    return (
        looked.groupBy("as_of", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("as_of", "o_orderstatus")
    )


def q_value_percentile_state(spark, sf_dir):
    # Mergeable approximate-percentile state: fixed-bin histograms
    # (the deterministic alternative to order-sensitive t-digest/KLL)
    # built over two disjoint halves of events, MERGED by exact bin
    # addition, then p50/p90 interpolated from the merged state. The
    # oracle computes the single-pass histogram directly — a match
    # PROVES estimate(merge(a,b)) == estimate(build(a ∪ b)), the
    # incremental-MV contract (operators/aggstate histogram family).
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.aggstate import (
        histogram_percentile,
        histogram_state,
        merge_histogram_states,
    )

    ev = _t(spark, sf_dir, "events")
    LO, HI, NB = 0.0, 512.0, 64
    a = histogram_state(
        ev.filter(F.col("event_id") % 2 == 0), ["event_type"], "value", LO, HI, NB
    )
    b = histogram_state(
        ev.filter(F.col("event_id") % 2 == 1), ["event_type"], "value", LO, HI, NB
    )
    # r14: pin the merged state — it is consumed twice (p50 + p90),
    # and each consumption re-derived BOTH half-builds (4 scans of
    # events → 2). The state table is tiny (event_type × 64 bins).
    merged = merge_histogram_states([a, b], ["event_type"]).localCheckpoint(
        eager=True
    )
    p50 = histogram_percentile(merged, ["event_type"], 0.5, LO, HI, alias="p50")
    p90 = histogram_percentile(
        merged, ["event_type"], 0.9, LO, HI, alias="p90"
    ).select("event_type", "p90")
    return p50.join(p90, "event_type").orderBy("event_type")



def q_doc_lexical_diversity(spark, sf_dir):
    # Simpson repeat-probability + type-token ratio per doc: the
    # log-free lexical-diversity quality signal (exact integer sums,
    # one division — entropy's log is libm-ulp-specific and banned by
    # the determinism policy). functions/text.lexical_diversity.
    return TX.lexical_diversity(_t(spark, sf_dir, "documents"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q_<name>`` function above, keyed ``<name>``, in
    definition order."""
    return {n[2:]: f for n, f in globals().items() if n.startswith("q_")}


# ---------------------------------------------------------------- oracles

# Shared DuckDB fragments mirroring the engine's text primitives exactly:
# tokens = string_split(trim(text),' '); shingles = distinct 3-token grams;
# h32(s) = first 8 md5 hex chars as BIGINT (== functions.text.h32).
_TOKS = "string_split(trim(text), ' ')"
_SHINGLE_CTE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(
         generate_series(1, greatest(len(tk) - 2, 0)),
         i -> array_to_string(tk[i:i+2], ' '))) AS shs
       FROM toks),
sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
inv AS (SELECT doc_id, unnest(shs) AS s FROM sh)
"""


def _h32_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def _minhash_sql() -> tuple[str, str]:
    """(sig_cte, bands_cte) mirroring operators.dedup minhash/banding:
    one md5-derived h32 per shingle, then the (a_j·h+b_j) mod 2^32
    universal family with the same deterministic coefficients."""
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        MH_MOD,
        minhash_params,
    )

    h = _h32_sql("s")
    mins = ",\n         ".join(
        "min(({a} * {h} + {b}) % {m}) AS m{j}".format(
            a=minhash_params(j)[0], b=minhash_params(j)[1], h=h, m=MH_MOD, j=j
        )
        for j in range(16)
    )
    sig = f"sig AS (SELECT doc_id,\n         {mins}\n  FROM inv GROUP BY doc_id)"
    band_selects = []
    for b in range(8):
        bh = f"md5(CAST(m{2*b} AS VARCHAR) || '_' || CAST(m{2*b+1} AS VARCHAR))"
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {bh} AS bh FROM sig"
        )
    bands = "bands AS (" + "\n  UNION ALL ".join(band_selects) + ")"
    return sig, bands


def _cc_sql_prefix() -> str:
    """Recursive-CTE transitive closure over verified MinHash pairs —
    shared by the ``near_dup_clusters`` oracle (emits components) and
    the ``dedup_corpus`` oracle (anti-joins non-canonical members)."""
    return (
        _SHINGLE_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
        + ",\n"
        + ",\n".join(_minhash_sql())
        + """,
            cands AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
            verified AS (
              SELECT doc_a, doc_b,
                     len(list_intersect(sa.shs, sb.shs)) * 1.0
                       / (len(sa.shs) + len(sb.shs)
                          - len(list_intersect(sa.shs, sb.shs))) AS jacc
              FROM cands
              JOIN sh sa ON doc_a = sa.doc_id
              JOIN sh sb ON doc_b = sb.doc_id),
            und AS (
              SELECT doc_a AS a, doc_b AS b FROM verified WHERE jacc >= 0.5
              UNION
              SELECT doc_b AS a, doc_a AS b FROM verified WHERE jacc >= 0.5),
            reach(a, b) AS (
              SELECT a, b FROM und
              UNION
              SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)"""
    )


def _simhash_sig_sql() -> str:
    sums = ",\n      ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(32)
    )
    combine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS t FROM documents),
h AS (SELECT doc_id, {_h32_sql('t')} AS th FROM tok),
bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM bits)
"""


_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _srp_band_slices() -> list[tuple[int, int, int]]:
    """(band_index, shift, mask) per band, derived from the kernel's
    SRP_BANDS/SRP_BITS constants — the oracle band CTEs are generated
    from these so a constant change re-splits kernel and oracle
    together instead of silently desynchronizing them (ADVICE r12)."""
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        SRP_BAND_BITS,
        SRP_BAND_MASK,
        SRP_BANDS,
    )

    return [(i, i * SRP_BAND_BITS, SRP_BAND_MASK) for i in range(SRP_BANDS)]


def _mips_lsh_sql(tau: float, max_bucket: int | None = None) -> str:
    """DuckDB twin of ``similarity.mips_lsh_pairs`` (r12): the
    Neyshabur & Srebro 2015 symmetric norm embedding into dims+2
    (P/Q roles), md5-derived hyperplanes over the lifted space inlined
    as full-precision literals, the band split generated from the
    kernel's SRP_BANDS/SRP_BITS constants (never restated), the
    Q-role × P-role candidate rule, raw-dot verification — every
    float step bit-matches the kernel (double-cast before any
    arithmetic, left-fold dots, clamped sqrt)."""
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        hyperplanes,
    )

    def terms(col: str) -> str:
        out = []
        for bit, w in enumerate(hyperplanes(66)):
            lits = "[" + ", ".join(repr(x) for x in w) + "]"
            out.append(
                f"(CASE WHEN list_dot_product({col}, {lits}) > 0 "
                f"THEN {1 << bit} ELSE 0 END)"
            )
        return " + ".join(out)

    band_rows = []
    for i, shift, mask in _srp_band_slices():
        for col, side in (("srp_q", 0), ("srp_p", 1)):
            bv = f"({col} >> {shift}) & {mask}" if shift else f"{col} & {mask}"
            band_rows.append(
                f"SELECT vec_id, {i} AS band, {bv} AS bv, {side} AS side FROM sig"
            )
    bands_cte = "\n          UNION ALL ".join(band_rows)
    # hot-bucket guard twin (r13): identical skip rule to the kernel's
    # _cap_hot_buckets — count Q-rows + P-rows per (band, bv), drop
    # buckets over the cap
    if max_bucket is None:
        ok_cte, ok_join = "", ""
    else:
        ok_cte = (
            ",\n        ok AS (SELECT band, bv FROM bands "
            f"GROUP BY band, bv HAVING count(*) <= {max_bucket})"
        )
        ok_join = " JOIN ok ON q.band = ok.band AND q.bv = ok.bv"

    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        mx AS (SELECT max(sqrt(list_dot_product(v, v))) AS m FROM e),
        u AS (SELECT vec_id, v, list_transform(v, x -> x / m) AS uv
              FROM e, mx),
        s AS (SELECT vec_id, v, uv,
                sqrt(greatest(1.0 - list_dot_product(uv, uv), 0.0)) AS sv
              FROM u),
        pq AS (SELECT vec_id, v,
                 list_concat(uv, [sv, 0.0]) AS pv,
                 list_concat(uv, [0.0, sv]) AS qv
               FROM s),
        sig AS (SELECT vec_id, v,
                  CAST({terms('pv')} AS BIGINT) AS srp_p,
                  CAST({terms('qv')} AS BIGINT) AS srp_q
                FROM pq),
        bands AS (
          {bands_cte}){ok_cte},
        cands AS (
          SELECT DISTINCT least(q.vec_id, p.vec_id) AS vec_a,
                          greatest(q.vec_id, p.vec_id) AS vec_b
          FROM bands q JOIN bands p
            ON q.band = p.band AND q.bv = p.bv AND q.vec_id != p.vec_id
            {ok_join}
          WHERE q.side = 0 AND p.side = 1)
        SELECT c.vec_a, c.vec_b, list_dot_product(ea.v, eb.v) AS sim
        FROM cands c
        JOIN e ea ON c.vec_a = ea.vec_id
        JOIN e eb ON c.vec_b = eb.vec_id
        WHERE list_dot_product(ea.v, eb.v) >= {tau}
        ORDER BY vec_a, vec_b
    """


def _srp_sig_sql() -> str:
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        hyperplanes,
    )

    terms = []
    for bit, w in enumerate(hyperplanes(64)):
        lits = "[" + ", ".join(repr(x) for x in w) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lits}) > 0 THEN {1 << bit} ELSE 0 END)"
        )
    combine = " + ".join(terms)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, v, CAST({combine} AS BIGINT) AS srp FROM e)
"""


def _cos_bands_cte() -> str:
    """Bands CTE body for the cosine SRP oracle (ann_lsh_pairs),
    generated from the kernel's band constants — see _srp_band_slices."""
    rows = []
    for i, shift, mask in _srp_band_slices():
        bv = f"(srp >> {shift}) & {mask}" if shift else f"srp & {mask}"
        rows.append(f"SELECT vec_id, v, {i} AS band, {bv} AS bv FROM sig")
    return "\n              UNION ALL\n              ".join(rows)


def _cos_lsh_sql(threshold: float, max_bucket: int) -> str:
    """DuckDB twin of ``similarity.ann_lsh_pairs`` with the r13
    hot-bucket guard: bands generated from the kernel constants, the
    identical count-threshold skip rule (HAVING), SRP candidate join,
    exact cosine verify. Parameterized so the firing-cap parity test
    can run it with a small cap on an adversarial corpus — the
    registered entry uses LSH_MAX_BUCKET."""
    return (
        _srp_sig_sql()
        + f""",
            bands AS (
              {_cos_bands_cte()}),
            ok AS (SELECT band, bv FROM bands GROUP BY band, bv
                   HAVING count(*) <= {max_bucket}),
            cands AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
              JOIN ok ON a.band = ok.band AND a.bv = ok.bv)
            SELECT vec_a, vec_b,
                   {_COS_SQL.format(a='sa.v', b='sb.v')} AS sim
            FROM cands
            JOIN sig sa ON vec_a = sa.vec_id
            JOIN sig sb ON vec_b = sb.vec_id
            WHERE {_COS_SQL.format(a='sa.v', b='sb.v')} >= {threshold}
            ORDER BY vec_a, vec_b
        """
    )


_LANG_HITS = {
    lang: f"len(list_filter({_TOKS}, t -> list_contains({words!r}, t)))"
    for lang, words in TX.LANG_PROFILES.items()
}


def _rp_audit_sql() -> str:
    """JL random-projection distortion oracle: the same ±1 sign matrix
    as ``similarity.rp_matrix`` inlined as literals, the same
    list_dot_product sequential fold, the same |a|²−2a·b+|b|² distance
    identity — every double bit-matches the kernel."""
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.similarity import (
        rp_matrix,
    )

    rv_terms = ",\n             ".join(
        "list_dot_product(v, ["
        + ", ".join(f"{s}.0" for s in row)
        + "]) / sqrt(16.0)"
        for row in rp_matrix(16, 64)
    )
    d2 = (
        "(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}))"
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        r AS (
          SELECT vec_id,
             [{rv_terms}] AS rv
          FROM e),
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 {d2.format(a='a.v', b='b.v')} AS d2_orig
          FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
        q AS (
          SELECT a.vec_id AS vec_a,
                 {d2.format(a='a.rv', b='b.rv')} AS d2_reduced
          FROM r a JOIN r b ON b.vec_id = a.vec_id + 1)
        SELECT p.vec_a, p.vec_b, p.d2_orig, q.d2_reduced,
               q.d2_reduced / p.d2_orig AS distortion
        FROM p JOIN q ON p.vec_a = q.vec_a
        WHERE p.d2_orig > 0
        ORDER BY p.vec_a
    """


def _kcenter_sql(k: int = 8) -> str:
    """Greedy k-center oracle: the Spark loop's k−1 rounds unrolled as
    chained CTEs — same |a|²−2a·b+|b|² distances, same (mind DESC, id)
    tie-break, least() chaining equal to the full min (min is
    associative over doubles).

    Every m{i}/c{i} is MATERIALIZED (the kcore oracle's lesson):
    m{i-1} is referenced twice per round (the argmax and the next
    min-fold) and each c{i} several times (NOT IN chains, the fold,
    the final selects) — inlined, DuckDB re-evaluates the chain
    exponentially in k, which only stayed tractable because the
    certified config is k=8; materialization makes the generator
    linear so parameter sweeps can exceed the registry k."""
    d2 = (
        "(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}))"
    )
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "c0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        f"m0 AS MATERIALIZED (SELECT e.vec_id, e.v,"
        f" {d2.format(a='e.v', b='c.v')} AS mind"
        " FROM e, c0 c)",
    ]
    for i in range(1, k):
        # already-chosen centers are excluded from the argmax (the
        # Spark loop does the same): duplicate vectors tie at mind=0
        # and the id tie-break would otherwise re-pick a center
        prior = " UNION ALL ".join(
            f"SELECT vec_id FROM c{j}" for j in range(i)
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT vec_id, v, mind FROM m{i - 1}"
            f" WHERE vec_id NOT IN ({prior})"
            " ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.v, least(m.mind, "
                + d2.format(a="m.v", b="c.v")
                + f") AS mind FROM m{i - 1} m, c{i} c)"
            )
    selects = [
        "SELECT 0 AS rank, vec_id, CAST(NULL AS DOUBLE) AS gain FROM c0"
    ] + [
        f"SELECT {i} AS rank, vec_id, mind AS gain FROM c{i}"
        for i in range(1, k)
    ]
    return (
        "WITH "
        + ",\n        ".join(parts)
        + "\n        "
        + "\n        UNION ALL ".join(selects)
        + "\n        ORDER BY rank"
    )


def _lang_case_sql() -> str:
    langs = list(TX.LANG_PROFILES)
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"{_LANG_HITS[lang]} >= {_LANG_HITS[o]}" for o in langs[i + 1 :]
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


_STATS = {
    "n_tokens": f"len({_TOKS})",
    "no_space_len": "length(replace(text, ' ', ''))",
    "stripped": "length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))",
}
_AVG_TOK = f"({_STATS['no_space_len']} * 1.0 / {_STATS['n_tokens']})"
_PUNCT = f"((length(text) - {_STATS['stripped']}) * 1.0 / length(text))"
_EN_LIST = repr(TX.EN_STOPWORDS)
_STOP_HITS = f"len(list_filter({_TOKS}, t -> list_contains({_EN_LIST}, t)))"
_QUALITY = (
    f"(least(length(text) / 500.0, 1.0) * 0.4"
    f" + least({_AVG_TOK} / 8.0, 1.0) * 0.3"
    f" + (1.0 - least({_PUNCT} * 5.0, 1.0)) * 0.3)"
)

_CASCADE_CTE = """
WITH ranked AS (
  SELECT event_id, user_id, value,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('hour', ts)
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), labeled AS (
  SELECT event_id, user_id, value,
         CASE
           WHEN value IS NOT NULL AND NOT (value >= 0 AND value <= 300)
             THEN 'invalid_value'
           WHEN value IS NULL THEN 'missing_value'
           WHEN rn > 1 THEN 'duplicate'
           ELSE 'kept'
         END AS reason
  FROM ranked
)
"""

_SILVER_CASCADE_CTE = """
WITH b AS (
  SELECT event_type AS site, CAST(ts AS TIMESTAMP) AS ts_utc,
         value AS ghi_wm2, value - 150.0 AS t2m_c,
         value / 50.0 AS ws10_mps,
         CAST(ts AS TIMESTAMP) AS ingested_at
  FROM events
), h AS (
  SELECT *, date_trunc('hour', ts_utc) AS ts_hour,
         (ghi_wm2 IS NOT NULL AND ghi_wm2 < 0) AS inv_g,
         (t2m_c IS NOT NULL AND (t2m_c < -80 OR t2m_c > 80)) AS inv_t,
         (ws10_mps IS NOT NULL AND ws10_mps < 0) AS inv_w
  FROM b
), v AS (
  SELECT *, (NOT inv_g AND NOT inv_t AND NOT inv_w
             AND ghi_wm2 IS NOT NULL AND t2m_c IS NOT NULL
             AND ws10_mps IS NOT NULL) AS valid
  FROM h
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY site, ts_hour
    ORDER BY CAST(valid AS INT) DESC, ingested_at DESC, ts_utc DESC) AS rn
  FROM v
), lab AS (
  SELECT site,
         CASE WHEN inv_g THEN 'invalid_ghi'
              WHEN inv_t THEN 'invalid_temp'
              WHEN inv_w THEN 'invalid_wind'
              WHEN ghi_wm2 IS NULL THEN 'missing_ghi'
              WHEN t2m_c IS NULL THEN 'missing_temp'
              WHEN ws10_mps IS NULL THEN 'missing_wind'
              WHEN rn > 1 THEN 'duplicate'
              ELSE 'kept' END AS reason
  FROM r
)
"""

_PSEUDO_FEATURES_CTE = """
WITH s AS (
  SELECT event_type AS site,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_utc,
         max(value) / 100.0 AS pv_est_mwh,
         max(value) / 200.0 AS wind_est_mwh
  FROM events GROUP BY 1, 2
),
long AS (
  SELECT site, ts_utc, 'pv' AS var, pv_est_mwh AS y FROM s
  UNION ALL
  SELECT site, ts_utc, 'wind' AS var, wind_est_mwh AS y FROM s
),
lagged AS (
  SELECT site, ts_utc, var, y,
         y - lag(y, 24) OVER w AS d24,
         lag(y, 23) OVER w AS lag_h1,
         lag(y, 0) OVER w AS lag_h24
  FROM long
  WINDOW w AS (PARTITION BY site, var ORDER BY ts_utc)
),
sig AS (
  SELECT site, ts_utc, var, lag_h1, lag_h24,
         stddev_samp(d24) OVER (
           PARTITION BY site, var ORDER BY ts_utc
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sigma
  FROM lagged
)
"""


# shared CTE chain of the forecast-champion family (r14): pseudo
# features → fold-indexed test points → three SQL-exact model
# forecasts → det_mean fold MAEs → per-model board. Appended after
# _PSEUDO_FEATURES_CTE; both forecast_champion (leaderboard) and
# forecast_champion_forward (winner's forward forecast) extend it, so
# the model family cannot desync between the two oracles.
_CHAMPION_CTES = """,
    mxx AS (SELECT max(ts_utc) AS mxts FROM long),
    test AS (
      SELECT l.site, l.var, l.ts_utc, l.y,
             CAST(4 - floor((epoch(m.mxts) - epoch(l.ts_utc))
                            / 86400.0) AS INTEGER) AS fold
      FROM long l CROSS JOIN mxx m
      WHERE floor((epoch(m.mxts) - epoch(l.ts_utc)) / 86400.0) >= 0
        AND floor((epoch(m.mxts) - epoch(l.ts_utc)) / 86400.0) < 4),
    sn AS (
      SELECT t.site, t.var, t.fold, t.y, f.y AS yhat,
             'snaive_24' AS model
      FROM test t
      JOIN long f ON f.site = t.site AND f.var = t.var
                 AND f.ts_utc + INTERVAL 24 HOUR = t.ts_utc
      UNION ALL
      SELECT t.site, t.var, t.fold, t.y, f.y AS yhat,
             'snaive_168' AS model
      FROM test t
      JOIN long f ON f.site = t.site AND f.var = t.var
                 AND f.ts_utc + INTERVAL 168 HOUR = t.ts_utc),
    tr AS (
      SELECT l.site, l.var, hour(l.ts_utc) AS hod, fd.fold,
             CAST(sum(CAST(l.y AS DECIMAL(30,15))) AS DOUBLE)
               / count(*) AS yhat
      FROM long l CROSS JOIN mxx m
      CROSS JOIN (VALUES (1), (2), (3), (4)) fd(fold)
      WHERE epoch(l.ts_utc) <= epoch(m.mxts)
                               - (5 - fd.fold) * 86400
      GROUP BY 1, 2, 3, 4),
    hm AS (
      SELECT t.site, t.var, t.fold, t.y, h.yhat,
             'hod_mean' AS model
      FROM test t
      JOIN tr h ON h.site = t.site AND h.var = t.var
               AND h.hod = hour(t.ts_utc) AND h.fold = t.fold),
    allfc AS (SELECT * FROM sn UNION ALL SELECT * FROM hm),
    perfold AS (
      SELECT site, var, model, fold, count(*) AS n,
             round(CAST(sum(CAST(abs(yhat - y)
                                 AS DECIMAL(30,15)))
                        AS DOUBLE) / count(*), 4) AS mae
      FROM allfc GROUP BY 1, 2, 3, 4),
    board AS (
      SELECT site, var, model,
             CAST(count(*) AS INTEGER) AS folds_evaluated,
             CAST(sum(n) AS BIGINT) AS total_n,
             round(CAST(sum(CAST(mae AS DECIMAL(30,15)))
                        AS DOUBLE) / count(*), 4) AS mean_mae
      FROM perfold GROUP BY 1, 2, 3)
"""


def _det3_sql(m) -> str:
    """3×3 determinant as a SQL expression (entries are SQL strings)."""
    return (
        f"({m[0][0]})*(({m[1][1]})*({m[2][2]})-({m[1][2]})*({m[2][1]}))"
        f"-({m[0][1]})*(({m[1][0]})*({m[2][2]})-({m[1][2]})*({m[2][0]}))"
        f"+({m[0][2]})*(({m[1][0]})*({m[2][1]})-({m[1][1]})*({m[2][0]}))"
    )


def _det4_sql(m) -> str:
    """4×4 determinant via first-row cofactor expansion."""
    terms = []
    for j in range(4):
        minor = [[m[r][c] for c in range(4) if c != j] for r in range(1, 4)]
        sign = 1 if j % 2 == 0 else -1
        terms.append(f"({sign})*({m[0][j]})*({_det3_sql(minor)})")
    return " + ".join(terms)


def _mllib_oracle_sql() -> str:
    """Closed-form OLS twin of ``mllib_forecast``: the normal equations
    (X'X)β = X'y solved by Cramer's rule over plain SQL aggregates —
    algebraically identical to MLlib's normal-equation solver, so after
    the shared round-to-6 both engines agree exactly. One CTE chain per
    horizon, UNION ALL."""
    a = [
        ["s00", "s01", "s02", "s03"],
        ["s01", "s11", "s12", "s13"],
        ["s02", "s12", "s22", "s23"],
        ["s03", "s13", "s23", "s33"],
    ]
    b = ["b0", "b1", "b2", "b3"]
    det_a = _det4_sql(a)
    betas = []
    for i in range(4):
        ai = [[b[r] if c == i else a[r][c] for c in range(4)] for r in range(4)]
        betas.append(f"({_det4_sql(ai)}) / det_a AS c{i}")
    parts = []
    for h in (1, 24):
        back = 24 * (h // 24 + 1) if h % 24 == 0 else 24
        parts.append(f"""
f{h} AS (
  SELECT * FROM (
    SELECT site, ts_utc, var, y,
           lag(y, {h}) OVER w AS lag_h,
           lag(y, {back}) OVER w AS lag_season,
           CASE WHEN var = 'pv' THEN 1.0 ELSE 0.0 END AS is_pv
    FROM long WINDOW w AS (PARTITION BY site, var ORDER BY ts_utc)
  ) WHERE lag_h IS NOT NULL AND lag_season IS NOT NULL
),
m{h} AS (
  SELECT count(*) * 1.0 AS s00,
         sum(lag_h) AS s01, sum(lag_season) AS s02, sum(is_pv) AS s03,
         sum(lag_h * lag_h) AS s11, sum(lag_h * lag_season) AS s12,
         sum(lag_h * is_pv) AS s13,
         sum(lag_season * lag_season) AS s22, sum(lag_season * is_pv) AS s23,
         sum(is_pv * is_pv) AS s33,
         sum(y) AS b0, sum(y * lag_h) AS b1,
         sum(y * lag_season) AS b2, sum(y * is_pv) AS b3
  FROM f{h}
),
d{h} AS (SELECT *, {det_a} AS det_a FROM m{h}),
beta{h} AS (SELECT {', '.join(betas)} FROM d{h}),
pred{h} AS (
  SELECT f.site, f.ts_utc, f.var, f.y,
         c0 + c1 * f.lag_h + c2 * f.lag_season + c3 * f.is_pv AS pred
  FROM f{h} f CROSS JOIN beta{h}
),
sg{h} AS (SELECT coalesce(stddev_samp(y - pred), 0.0) AS sigma FROM pred{h}),
out{h} AS (
  SELECT site, ts_utc, 'mllib_lr' AS model, var, {h} AS horizon_h,
         round(greatest(pred, 0.0), 6) AS yhat,
         round(greatest(greatest(pred, 0.0) - 1.96 * sigma, 0.0), 6)
           AS yhat_lower,
         round(greatest(pred, 0.0) + 1.96 * sigma, 6) AS yhat_upper
  FROM pred{h} CROSS JOIN sg{h}
)""")
    return (
        _PSEUDO_FEATURES_CTE
        + ","
        + ",".join(parts)
        + """
SELECT * FROM out1 UNION ALL SELECT * FROM out24
ORDER BY site, var, horizon_h, ts_utc
"""
    )


def _audience_minhash_oracle(n_hashes: int = 16) -> str:
    # mirrors heavy.minhash_state + minhash_state_jaccard on the
    # events table: same md5 h32, same universal family coefficients;
    # exact audience Jaccard beside the estimate
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.operators.dedup import (
        MH_MOD,
        minhash_params,
    )

    h = _h32_sql("item")
    mins = ",\n                     ".join(
        f"min(({minhash_params(j)[0]} * {h} + {minhash_params(j)[1]})"
        f" % {MH_MOD}) AS m{j}"
        for j in range(n_hashes)
    )
    agree = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)"
        for j in range(n_hashes)
    )
    return f"""
            WITH items0 AS (
              SELECT DISTINCT event_type AS k,
                     CAST(user_id AS VARCHAR) AS item
              FROM events WHERE user_id IS NOT NULL),
            sig AS (
              SELECT k,
                     {mins}
              FROM items0 GROUP BY k),
            est AS (
              SELECT a.k AS key_a, b.k AS key_b,
                     CAST({agree} AS BIGINT) AS n_agree
              FROM sig a JOIN sig b ON a.k < b.k),
            sizes AS (SELECT k, count(*) AS n FROM items0 GROUP BY k),
            inter AS (
              SELECT a.k AS key_a, b.k AS key_b, count(*) AS i
              FROM items0 a JOIN items0 b
                ON a.item = b.item AND a.k < b.k
              GROUP BY 1, 2)
            SELECT est.key_a, est.key_b, est.n_agree,
                   CAST(est.n_agree AS DOUBLE) / {float(n_hashes)} AS jhat,
                   CAST(COALESCE(inter.i, 0) AS DOUBLE)
                     / CAST(sa.n + sb.n - COALESCE(inter.i, 0) AS DOUBLE)
                     AS jexact,
                   abs(CAST(est.n_agree AS DOUBLE) / {float(n_hashes)}
                     - CAST(COALESCE(inter.i, 0) AS DOUBLE)
                       / CAST(sa.n + sb.n - COALESCE(inter.i, 0)
                         AS DOUBLE)) AS abs_err
            FROM est
            LEFT JOIN inter ON est.key_a = inter.key_a
              AND est.key_b = inter.key_b
            JOIN sizes sa ON est.key_a = sa.k
            JOIN sizes sb ON est.key_b = sb.k
            ORDER BY est.key_a, est.key_b
        """


def _lpa_oracle(
    n_rounds: int = 4, min_count: int = 5, min_size: int = 3, k: int = 50
) -> str:
    # synchronous LPA unrolled as chained CTEs; every round's score and
    # label tables are MATERIALIZED (each is referenced twice — inlined
    # they'd re-expand the whole prefix per reference, the k-core
    # lesson). Tie-break = min label, mirroring the Spark plan exactly.
    blocks = []
    for i in range(1, n_rounds + 1):
        blocks.append(f"""
            s{i} AS MATERIALIZED (
              SELECT e.v, l.lab, sum(e.w) AS sw
              FROM e JOIN l{i-1} l ON e.u = l.node
              GROUP BY e.v, l.lab),
            m{i} AS (
              SELECT v, max(sw) AS mw FROM s{i} GROUP BY v),
            l{i} AS MATERIALIZED (
              SELECT s.v AS node, min(s.lab) AS lab
              FROM s{i} s JOIN m{i} m ON s.v = m.v AND s.sw = m.mw
              GROUP BY s.v)""")
    return f"""
            WITH tok AS (
              SELECT string_split(trim(text), ' ') AS tk FROM documents),
            pairs AS (
              SELECT least(tk[i], tk[i+1]) AS a,
                     greatest(tk[i], tk[i+1]) AS b
              FROM tok, unnest(range(1, len(tk))) AS r(i)
              WHERE len(tk) >= 2),
            bi AS (
              SELECT a, b, count(*) AS w FROM pairs WHERE a <> b
              GROUP BY a, b HAVING count(*) >= {min_count}),
            e AS MATERIALIZED (
              SELECT a AS u, b AS v, w FROM bi
              UNION ALL SELECT b AS u, a AS v, w FROM bi),
            l0 AS MATERIALIZED (
              SELECT DISTINCT u AS node, u AS lab FROM e),
            {",".join(blocks)}
            SELECT lab AS community,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM l{n_rounds}
            GROUP BY lab HAVING count(*) >= {min_size}
            ORDER BY n_tokens DESC, community LIMIT {k}
        """


def _kcore_oracle(
    k_core: int = 3, n_rounds: int = 8, min_count: int = 5
) -> str:
    # synchronous peeling unrolled as chained CTEs (textrank
    # convention: a recursive CTE cannot re-aggregate degrees per
    # round) — each block recomputes degrees over the previous round's
    # surviving edge set and keeps vertices with degree >= k_core.
    # Every e{i} is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # round references the previous edge set three times (twice via
    # k{i}, once in the join) — inlined, the tree re-scans the parquet
    # 3^n_rounds times and exhausts file handles
    blocks = []
    for i in range(1, n_rounds + 1):
        blocks.append(f"""
            k{i} AS (
              SELECT v FROM (
                SELECT a AS v FROM e{i-1}
                UNION ALL SELECT b AS v FROM e{i-1})
              GROUP BY v HAVING count(*) >= {k_core}),
            e{i} AS MATERIALIZED (
              SELECT e.a, e.b FROM e{i-1} e
              JOIN k{i} ka ON e.a = ka.v
              JOIN k{i} kb ON e.b = kb.v)""")
    return f"""
            WITH tok AS (
              SELECT string_split(trim(text), ' ') AS tk FROM documents),
            pairs AS (
              SELECT least(tk[i], tk[i+1]) AS a,
                     greatest(tk[i], tk[i+1]) AS b
              FROM tok, unnest(range(1, len(tk))) AS r(i)
              WHERE len(tk) >= 2),
            e0 AS MATERIALIZED (
              SELECT a, b FROM pairs WHERE a <> b GROUP BY a, b
              HAVING count(*) >= {min_count}),
            {",".join(blocks)}
            SELECT token, CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT a AS token FROM e{n_rounds}
                  UNION ALL SELECT b AS token FROM e{n_rounds})
            GROUP BY token ORDER BY degree DESC, token
        """


def _textrank_oracle(n_iter: int = 5, k: int = 50, min_count: int = 5) -> str:
    # the fixed-point PageRank iteration unrolled as chained CTEs (a
    # recursive CTE cannot aggregate in its recursive member) — each
    # block is the same integer formula the Spark loop applies.
    # r{i} is MATERIALIZED (the kcore/kcenter convention): each block
    # references r{i-1} inside a join, and inlined the plan doubled
    # per iteration (measured 0.16 s at 5 iters → 0.52 s at 10 —
    # the kcenter generator's exponential-CTE bug in smaller print)
    it_blocks = []
    for i in range(1, n_iter + 1):
        it_blocks.append(f"""
            r{i} AS MATERIALIZED (
              SELECT n.t,
                     150000 + CAST(850000 AS HUGEINT)
                              * coalesce(s.c, 0) // 1000000 AS r
              FROM n LEFT JOIN (
                SELECT e.v, sum(CAST(e.w AS HUGEINT) * r{i-1}.r // e.wu) AS c
                FROM e JOIN r{i-1} ON e.u = r{i-1}.t GROUP BY e.v) s
              ON n.t = s.v)""")
    return f"""
            WITH tok AS (
              SELECT string_split(trim(text), ' ') AS tk FROM documents),
            pairs AS (
              SELECT tk[i] AS a, tk[i+1] AS b
              FROM tok, unnest(range(1, len(tk))) AS r(i)
              WHERE len(tk) >= 2),
            bi AS (
              SELECT a, b, count(*) AS w FROM pairs GROUP BY a, b
              HAVING count(*) >= {min_count}),
            edges0 AS (
              SELECT u, v, sum(w) AS w FROM (
                SELECT a AS u, b AS v, w FROM bi
                UNION ALL SELECT b AS u, a AS v, w FROM bi)
              GROUP BY u, v),
            wd AS (SELECT u, sum(w) AS wu FROM edges0 GROUP BY u),
            e AS (SELECT edges0.u, edges0.v, edges0.w, wd.wu
                  FROM edges0 JOIN wd ON edges0.u = wd.u),
            n AS (SELECT DISTINCT u AS t FROM edges0),
            r0 AS (SELECT t, CAST(1000000 AS HUGEINT) AS r FROM n),
            {",".join(it_blocks)}
            SELECT t, CAST(r AS BIGINT) AS rank_s FROM r{n_iter}
            ORDER BY rank_s DESC, t LIMIT {k}
        """


_PRF_TERMS = ["merge", "stream", "vector", "window"]


def _bm25_prf_oracle(fb_docs: int = 10, fb_terms: int = 5, k: int = 20) -> str:
    # two-round PRF as one chained CTE pipeline: round-1 bm25 → top
    # fb_docs → feedback tf × corpus idf term selection → expanded
    # term set → the identical bm25 body again. The bm25 arithmetic
    # blocks mirror functions/text.bm25_search expression by
    # expression (HUGEINT carriers for decimal(38,0), // for div).
    qlist = ", ".join(f"'{t}'" for t in sorted(set(_PRF_TERMS)))

    def bm25_round(hits: str, out: str) -> str:
        return f"""
            dfs{out} AS (SELECT t, count(DISTINCT doc_id) AS df
                         FROM {hits} GROUP BY t),
            idf{out} AS (
              SELECT t,
                     CAST(floor(1000000 * ln(1 +
                       CAST(2*n - 2*df + 1 AS DOUBLE)
                       / CAST(2*df + 1 AS DOUBLE))) AS BIGINT) AS idf_s
              FROM dfs{out} CROSS JOIN stats),
            tfs{out} AS (SELECT doc_id, dl, t, count(*) AS tf
                         FROM {hits} GROUP BY doc_id, dl, t),
            scored{out} AS (
              SELECT tfs{out}.doc_id,
                     sum(idf{out}.idf_s * (
                       (CAST(tfs{out}.tf AS HUGEINT) * 2200000 * 1000000)
                       // (CAST(tfs{out}.tf AS HUGEINT) * 1000000
                           + (CAST(1200000 AS HUGEINT) *
                              (1000000 - 750000
                               + CAST(750000 AS HUGEINT)
                                 * tfs{out}.dl * stats.n // stats.l))
                             // 1000000))) AS score
              FROM tfs{out} JOIN idf{out} ON tfs{out}.t = idf{out}.t
              CROSS JOIN stats
              GROUP BY tfs{out}.doc_id)"""

    return f"""
            WITH q AS (SELECT unnest([{qlist}]) AS t),
            stats AS (
              SELECT count(*) AS n,
                     sum(len(string_split(trim(text), ' '))) AS l
              FROM documents),
            tok AS (
              SELECT doc_id,
                     len(string_split(trim(text), ' ')) AS dl,
                     unnest(string_split(trim(text), ' ')) AS t
              FROM documents),
            hits1 AS (SELECT tok.doc_id, tok.dl, tok.t
                      FROM tok JOIN q ON q.t = tok.t),
            {bm25_round("hits1", "1")},
            top1 AS (
              SELECT doc_id FROM scored1
              ORDER BY score DESC, doc_id LIMIT {fb_docs}),
            fbtf AS (
              SELECT tok.t, count(*) AS fbtf
              FROM tok JOIN top1 ON tok.doc_id = top1.doc_id
              WHERE tok.t NOT IN ({qlist})
              GROUP BY tok.t),
            canddf AS (
              SELECT t, count(DISTINCT doc_id) AS cdf
              FROM tok JOIN (SELECT t FROM fbtf) c USING (t)
              GROUP BY t),
            expansion AS (
              SELECT fbtf.t
              FROM fbtf JOIN canddf ON fbtf.t = canddf.t
              CROSS JOIN stats
              ORDER BY fbtf.fbtf
                       * ((CAST(1000000 AS HUGEINT) * stats.n)
                          // canddf.cdf) DESC,
                       fbtf.t
              LIMIT {fb_terms}),
            terms2 AS (
              SELECT DISTINCT t FROM (
                SELECT t FROM expansion UNION ALL SELECT t FROM q)),
            hits2 AS (SELECT tok.doc_id, tok.dl, tok.t
                      FROM tok JOIN terms2 ON terms2.t = tok.t),
            {bm25_round("hits2", "2")}
            SELECT doc_id, CAST(score AS BIGINT) AS score
            FROM scored2 ORDER BY score DESC, doc_id LIMIT {k}
        """


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    # auto-q Ed-Join: q never affects RESULTS (exact levenshtein
    # verify, filter complete for any q) — the pinned-q brute-force
    # oracle certifies the auto variant verbatim
    d["part_fuzzy_pairs_auto"] = d["part_fuzzy_pairs"]
    # indexed-retrieval lifecycle: the probe over the persisted +
    # appended index is bit-identical to inline BM25 over the full
    # corpus BY CONTRACT — so the inline oracle certifies the
    # composed persist→append→probe path verbatim
    d["doc_search_indexed"] = d["doc_search_bm25"]
    # index-resident PRF (r14): bit-identical to inline PRF over the
    # same ingested corpus by construction (every stage reads postings
    # whose per-(term, doc) rows ARE the explode-counts; identity-
    # tested incl. across appends) — the inline chained oracle
    # certifies the persisted path verbatim
    d["doc_search_prf_indexed"] = d["doc_search_prf"]
    # binary-packed code layout (r14): packed=True changes ONLY the
    # storage of the code column (_unpack_codes ∘ _pack_codes ≡ id,
    # identity-tested incl. ±127) — scored rows are bit-identical, so
    # the array-layout hash-exact oracle certifies the packed path
    # verbatim
    d["ann_int8_packed_mips_topk"] = d["ann_int8_mips_topk"]
    return d


def _oracle_sql_base() -> dict[str, str]:
    return {
        "doc_search_prf": _bm25_prf_oracle(),
        "ann_hard_negatives": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_COS_SQL.format(a='q.v', b='c.v')} AS sim
              FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id != c.vec_id)
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" BETWEEN 6 AND 20
            ORDER BY query_id, "rank"
        """,
        "minhash_accuracy_audit": _SHINGLE_CTE
        + f""",
            {_minhash_sql()[0]},
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            jp AS (
              SELECT doc_a, doc_b,
                     c * 1.0 / (sa.n + sb.n - c) AS jaccard
              FROM inter
              JOIN sizes sa ON doc_a = sa.doc_id
              JOIN sizes sb ON doc_b = sb.doc_id
              WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.3),
            err AS (
              SELECT abs((
                {" + ".join(f"CASE WHEN x.m{j} = y.m{j} THEN 1 ELSE 0 END" for j in range(16))}
              ) * 1.0 / 16.0 - jp.jaccard) AS e
              FROM jp
              JOIN sig x ON jp.doc_a = x.doc_id
              JOIN sig y ON jp.doc_b = y.doc_id)
            SELECT count(*) AS n_pairs,
                   max(e) AS max_abs_err,
                   CAST(sum(CASE WHEN e <= 0.125 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_within_eighth,
                   CAST(sum(CASE WHEN e <= 0.25 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_within_quarter
            FROM err
        """,
        "vocab_growth": f"""
            WITH tb AS (
              SELECT {_h32_sql("CAST(doc_id AS VARCHAR)")} % 5 AS b,
                     unnest(string_split(trim(text), ' ')) AS t
              FROM documents),
            cnt AS (SELECT b, t, count(*) AS n FROM tb GROUP BY b, t),
            tmin AS (SELECT t, min(b) AS bmin FROM cnt GROUP BY t),
            mass AS (SELECT b, sum(n) AS mass FROM cnt GROUP BY b),
            vb AS (SELECT bmin AS b, count(*) AS new_terms
                   FROM tmin GROUP BY bmin),
            curve AS (
              SELECT mass.b,
                     sum(mass.mass) OVER (ORDER BY mass.b
                       ROWS UNBOUNDED PRECEDING) AS n_tokens,
                     sum(coalesce(vb.new_terms, 0)) OVER (ORDER BY mass.b
                       ROWS UNBOUNDED PRECEDING) AS vocab
              FROM mass LEFT JOIN vb ON mass.b = vb.b)
            SELECT CAST((b + 1) * 100 / 5 AS INT) AS sample_pct,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(vocab AS BIGINT) AS vocab
            FROM curve ORDER BY sample_pct
        """,
        # frequency-spectrum cumulative form: coverage/OOV depend only
        # on cumulative mass, so equal-count types fold to one row and
        # the partial-group take is an integer ceil-division — all
        # arithmetic exact BIGINT, matching the Spark operator's
        # spectrum formulation value for value
        "vocab_coverage": """
            WITH tok AS (
              SELECT unnest(string_split(trim(text), ' ')) AS t
              FROM documents),
            cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
            spec AS (SELECT c, count(*) AS k FROM cnt GROUP BY c),
            ranked AS (
              SELECT c, k,
                     sum(k) OVER (ORDER BY c DESC
                       ROWS UNBOUNDED PRECEDING) AS cum_types,
                     sum(k * c) OVER (ORDER BY c DESC
                       ROWS UNBOUNDED PRECEDING) AS cum_mass
              FROM spec),
            tot AS (SELECT sum(k * c) AS t, sum(k) AS v FROM spec)
            SELECT 'coverage_k' AS kind, '1/2' AS param, (
              SELECT CAST((cum_types - k)
                + ((((t * 1 + 2 - 1) // 2) - (cum_mass - k * c)) + c - 1)
                  // c AS BIGINT)
              FROM ranked, tot WHERE cum_mass * 2 >= t * 1
              ORDER BY cum_types LIMIT 1) AS value
            UNION ALL
            SELECT 'coverage_k', '9/10', (
              SELECT CAST((cum_types - k)
                + ((((t * 9 + 10 - 1) // 10) - (cum_mass - k * c)) + c - 1)
                  // c AS BIGINT)
              FROM ranked, tot WHERE cum_mass * 10 >= t * 9
              ORDER BY cum_types LIMIT 1)
            UNION ALL
            SELECT 'coverage_k', '99/100', (
              SELECT CAST((cum_types - k)
                + ((((t * 99 + 100 - 1) // 100) - (cum_mass - k * c)) + c - 1)
                  // c AS BIGINT)
              FROM ranked, tot WHERE cum_mass * 100 >= t * 99
              ORDER BY cum_types LIMIT 1)
            UNION ALL
            SELECT 'oov_tokens', '5', (
              SELECT CAST(t - coalesce((
                SELECT (cum_mass - k * c) + (5 - (cum_types - k)) * c
                FROM ranked WHERE cum_types >= 5
                ORDER BY cum_types LIMIT 1), t) AS BIGINT) FROM tot)
            UNION ALL
            SELECT 'oov_tokens', '20', (
              SELECT CAST(t - coalesce((
                SELECT (cum_mass - k * c) + (20 - (cum_types - k)) * c
                FROM ranked WHERE cum_types >= 20
                ORDER BY cum_types LIMIT 1), t) AS BIGINT) FROM tot)
            UNION ALL
            SELECT 'oov_tokens', '10000', (
              SELECT CAST(t - coalesce((
                SELECT (cum_mass - k * c) + (10000 - (cum_types - k)) * c
                FROM ranked WHERE cum_types >= 10000
                ORDER BY cum_types LIMIT 1), t) AS BIGINT) FROM tot)
            UNION ALL
            SELECT 'total', 'tokens', (SELECT CAST(t AS BIGINT) FROM tot)
            UNION ALL
            SELECT 'total', 'types', (SELECT CAST(v AS BIGINT) FROM tot)
            ORDER BY kind, param
        """,
        # alpha=1/2 temperature mixing: sqrt is correctly rounded in
        # both engines (IEEE requirement), the totals are BIGINT sums,
        # and every float step has a fixed operand order — so the ppm
        # shares are deterministic integers, no tolerance needed
        "source_temperature_mix": """
            WITH per_src AS (
              SELECT source,
                     CAST(SUM(len(string_split(trim(text), ' ')))
                       AS BIGINT) AS n_tokens
              FROM documents GROUP BY source),
            sq AS (
              SELECT source, n_tokens,
                     CAST(floor(1000000 * sqrt(CAST(n_tokens AS DOUBLE)))
                       AS BIGINT) AS s
              FROM per_src),
            tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
                           CAST(SUM(s) AS BIGINT) AS ts FROM sq),
            shares AS (
              SELECT source, n_tokens,
                     CAST(floor(1000000 * (CAST(n_tokens AS DOUBLE)
                       / CAST(t AS DOUBLE))) AS BIGINT) AS raw_share_ppm,
                     CAST(floor(1000000 * (CAST(s AS DOUBLE)
                       / CAST(ts AS DOUBLE))) AS BIGINT) AS temp_share_ppm
              FROM sq CROSS JOIN tot)
            SELECT source, n_tokens, raw_share_ppm, temp_share_ppm,
                   CASE WHEN raw_share_ppm > 0
                        THEN CAST(temp_share_ppm * 1000000 // raw_share_ppm
                          AS BIGINT) END AS boost_ppm
            FROM shares ORDER BY source
        """,
        # CCNet head/middle/tail thirds per source over the fixed-point
        # avg bigram NLL (same model CTEs as doc_lm_perplexity);
        # threshold bucketing on the (source, score) spectrum — pure
        # integer comparisons, ties share a bucket by construction
        "doc_ccnet_buckets": """
            WITH tok AS (
              SELECT doc_id, string_split(trim(text), ' ') AS tk
              FROM documents),
            pairs AS (
              SELECT doc_id, tk[i] AS a, tk[i+1] AS b
              FROM tok, unnest(range(1, len(tk))) AS r(i)
              WHERE len(tk) >= 2),
            big AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b),
            ctx AS (SELECT a, sum(cab) AS ca FROM big GROUP BY a),
            voc AS (
              SELECT count(DISTINCT t) AS v
              FROM (SELECT unnest(string_split(trim(text), ' ')) AS t
                    FROM documents)),
            model AS (
              SELECT big.a, big.b,
                     CAST(floor(1000000 * ln(
                       CAST(ctx.ca + voc.v AS DOUBLE)
                       / CAST(big.cab + 1 AS DOUBLE))) AS BIGINT) AS nll_s
              FROM big JOIN ctx ON big.a = ctx.a CROSS JOIN voc),
            per_doc AS (
              SELECT doc_id, a, b, count(*) AS tf
              FROM pairs GROUP BY doc_id, a, b),
            scored AS (
              SELECT p.doc_id,
                     sum(p.tf) AS n_bigrams,
                     sum(p.tf * m.nll_s) AS nll_sum
              FROM per_doc p JOIN model m ON p.a = m.a AND p.b = m.b
              GROUP BY p.doc_id),
            avg_s AS (
              SELECT doc_id,
                     CAST(nll_sum // n_bigrams AS BIGINT) AS avg_nll_s
              FROM scored),
            src AS (
              SELECT d.source, p.avg_nll_s
              FROM avg_s p JOIN documents d USING (doc_id)),
            spec AS (
              SELECT source, avg_nll_s, count(*) AS c
              FROM src GROUP BY source, avg_nll_s),
            cum AS (
              SELECT source, avg_nll_s, c,
                     sum(c) OVER (PARTITION BY source ORDER BY avg_nll_s
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - c AS cum_lt,
                     sum(c) OVER (PARTITION BY source) AS n
              FROM spec),
            b AS (
              SELECT source, avg_nll_s, c,
                     CASE WHEN 3 * cum_lt < n THEN 'head'
                          WHEN 3 * cum_lt < 2 * n THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM cum)
            SELECT source, bucket, CAST(sum(c) AS BIGINT) AS n_docs,
                   CAST(min(avg_nll_s) AS BIGINT) AS min_nll_s,
                   CAST(max(avg_nll_s) AS BIGINT) AS max_nll_s
            FROM b GROUP BY source, bucket
            ORDER BY source, bucket
        """,
        # exact MIPS: ann_topk's shape with the raw dot product (no
        # norm division); list_dot_product's left-to-right fold is the
        # kernel's accumulation order, so scores are bit-identical
        "ann_mips_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_dot_product(q.v, c.v) AS sim
              FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id != c.vec_id)
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" <= 5
            ORDER BY query_id, "rank"
        """,
        "source_distinctive_terms": """
            WITH st AS (
              SELECT source, t, count(*) AS tf FROM (
                SELECT source,
                       unnest(string_split(trim(text), ' ')) AS t
                FROM documents)
              GROUP BY source, t),
            tt AS (SELECT t, sum(tf) AS tft FROM st GROUP BY t),
            stot AS (SELECT source, sum(tf) AS ts FROM st GROUP BY source),
            gl AS (SELECT sum(tf) AS tot, count(DISTINCT t) AS v FROM st),
            scored AS (
              SELECT st.source, st.t, st.tf,
                     CAST((st.tf + 1) * (gl.tot - stot.ts + gl.v)
                          AS DOUBLE)
                       / CAST((stot.ts + gl.v) * (tt.tft - st.tf + 1)
                              AS DOUBLE) AS ratio
              FROM st
              JOIN tt ON st.t = tt.t
              JOIN stot ON st.source = stot.source
              CROSS JOIN gl
              WHERE st.tf >= 5),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY ratio DESC, t) AS rn
              FROM scored)
            SELECT source, t AS term, CAST(tf AS BIGINT) AS tf, ratio
            FROM ranked WHERE rn <= 5
            ORDER BY source, ratio DESC, term
        """,
        "scd2_point_lookup": """
            WITH s1 AS (
              SELECT o_orderkey, o_orderstatus, 1 AS v FROM orders),
            s2 AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     2 AS v
              FROM orders),
            s3 AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 5 = 0 THEN 'Y'
                          WHEN o_orderkey % 7 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     3 AS v
              FROM orders WHERE o_orderkey % 11 != 0),
            u AS (
              SELECT * FROM s1 UNION ALL
              SELECT * FROM s2 UNION ALL
              SELECT * FROM s3),
            lagged AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS pstat,
                     lag(v) OVER w AS pv
              FROM u WINDOW w AS (PARTITION BY o_orderkey ORDER BY v)),
            brk AS (
              SELECT *,
                     CASE WHEN pv IS NULL OR v != pv + 1
                            OR o_orderstatus IS DISTINCT FROM pstat
                          THEN 1 ELSE 0 END AS b
              FROM lagged),
            runs AS (
              SELECT *,
                     sum(b) OVER (PARTITION BY o_orderkey ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS run
              FROM brk),
            dim AS (
              SELECT o_orderkey, min(o_orderstatus) AS o_orderstatus,
                     min(v) AS valid_from, max(v) AS last_v
              FROM runs GROUP BY o_orderkey, run),
            probes AS (
              SELECT o_orderkey,
                     CAST(o_orderkey % 3 + 1 AS INT) AS as_of
              FROM orders),
            looked AS (
              SELECT p.as_of, d.o_orderstatus
              FROM probes p LEFT JOIN dim d
                ON p.o_orderkey = d.o_orderkey
               AND d.valid_from <= p.as_of
               AND p.as_of < CASE WHEN d.last_v < 3 THEN d.last_v + 1
                                  ELSE 2147483647 END)
            SELECT as_of, o_orderstatus, count(*) AS n
            FROM looked GROUP BY as_of, o_orderstatus
            ORDER BY as_of, o_orderstatus
        """,
        "embedding_drift": """
            WITH e AS (
              SELECT vec_id % 2 AS half,
                     CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            d AS (
              SELECT half, i, v[i] AS val
              FROM e, unnest(range(1, 65)) AS r(i)),
            m AS (
              SELECT half, i,
                     CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE)
                       / count(*) AS mn,
                     count(*) AS n
              FROM d GROUP BY half, i),
            arr AS (
              SELECT half,
                     list(mn ORDER BY i) AS mv,
                     min(n) AS cnt
              FROM m GROUP BY half)
            SELECT CAST(a.cnt AS BIGINT) AS n_a,
                   CAST(b.cnt AS BIGINT) AS n_b,
                   list_dot_product(a.mv, b.mv)
                     / (sqrt(list_dot_product(a.mv, a.mv))
                        * sqrt(list_dot_product(b.mv, b.mv))) AS cos_means
            FROM arr a JOIN arr b ON a.half = 0 AND b.half = 1
        """,
        "doc_frequent_pairs": """
            WITH dt AS (
              SELECT DISTINCT doc_id,
                     unnest(list_distinct(string_split(trim(text), ' ')))
                       AS t
              FROM documents),
            dfs AS (SELECT t, count(*) AS df FROM dt GROUP BY t),
            freq AS (SELECT t, df FROM dfs WHERE df >= 20),
            pr AS (SELECT dt.doc_id, dt.t FROM dt
                   JOIN freq ON dt.t = freq.t),
            pairs AS (
              SELECT a.t AS a, b.t AS b, count(*) AS support
              FROM pr a JOIN pr b
                ON a.doc_id = b.doc_id AND a.t < b.t
              GROUP BY a.t, b.t HAVING count(*) >= 20),
            n AS (SELECT count(*) AS n FROM documents)
            SELECT p.a, p.b, CAST(p.support AS BIGINT) AS support,
                   CAST(p.support AS DOUBLE) * CAST(n.n AS DOUBLE)
                     / (CAST(fa.df AS DOUBLE) * CAST(fb.df AS DOUBLE))
                     AS lift
            FROM pairs p
            JOIN freq fa ON p.a = fa.t
            JOIN freq fb ON p.b = fb.t
            CROSS JOIN n
            ORDER BY support DESC, lift DESC, p.a, p.b LIMIT 50
        """,
        "corpus_textrank": _textrank_oracle(),
        "corpus_kcore": _kcore_oracle(),
        "corpus_communities": _lpa_oracle(),
        "type_audience_similarity": _audience_minhash_oracle(),
        "corpus_triangles": """
            WITH tok AS (
              SELECT string_split(trim(text), ' ') AS tk FROM documents),
            pairs AS (
              SELECT least(tk[i], tk[i+1]) AS a,
                     greatest(tk[i], tk[i+1]) AS b
              FROM tok, unnest(range(1, len(tk))) AS r(i)
              WHERE len(tk) >= 2 AND tk[i] <> tk[i+1]),
            e AS (
              SELECT a, b, count(*) AS w FROM pairs GROUP BY a, b
              HAVING count(*) >= 5)
            SELECT e1.a, e1.b, e2.b AS c,
                   CAST(least(e1.w, e2.w, e3.w) AS BIGINT) AS strength
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
            ORDER BY strength DESC, e1.a, e1.b, c LIMIT 50
        """,
        "source_dataset_cards": """
            WITH base AS (
              SELECT source, lang,
                     len(string_split(trim(text), ' ')) AS tok,
                     len(text) AS chr,
                     md5(array_to_string(list_sort(list_distinct(
                       string_split(trim(lower(text)), ' '))), ' ')) AS fp
              FROM documents),
            totals AS (
              SELECT source,
                     count(*) AS n_docs,
                     CAST(sum(tok) AS BIGINT) AS n_tokens,
                     CAST(sum(chr) AS BIGINT) AS n_chars,
                     count(DISTINCT fp) AS n_fp
              FROM base GROUP BY source),
            lt AS (
              SELECT source, lang AS top_lang FROM (
                SELECT source, lang,
                       row_number() OVER (
                         PARTITION BY source
                         ORDER BY c DESC, lang DESC) AS rn
                FROM (SELECT source, lang, count(*) AS c
                      FROM base GROUP BY source, lang))
              WHERE rn = 1)
            SELECT t.source, t.n_docs, t.n_tokens, t.n_chars,
                   CAST(t.n_docs - t.n_fp AS DOUBLE) / t.n_docs AS dup_rate,
                   lt.top_lang
            FROM totals t JOIN lt ON t.source = lt.source
            ORDER BY t.source
        """,
        "doc_negatives": f"""
            WITH ring AS (
              SELECT doc_id AS anchor,
                     {_h32_sql("CAST(doc_id AS VARCHAR)")} AS r
              FROM documents),
            b AS (SELECT anchor, r, r % 8 AS bk FROM ring),
            pos AS (
              SELECT anchor, bk,
                     row_number() OVER (
                       PARTITION BY bk ORDER BY r, anchor) AS p,
                     count(*) OVER (PARTITION BY bk) AS n
              FROM b),
            want AS (
              SELECT anchor, bk, p, n, s.slot,
                     (p - 1 + s.slot) % n + 1 AS tgt
              FROM pos, (SELECT unnest([1, 2, 3, 4]) AS slot) s)
            SELECT w.anchor, m.anchor AS negative,
                   CAST(w.slot AS INTEGER) AS slot
            FROM want w JOIN pos m ON w.bk = m.bk AND w.tgt = m.p
            ORDER BY w.anchor, w.slot
        """,
        "forecast_conformal": _PSEUDO_FEATURES_CTE
        + """,
            fc AS (
              SELECT site, ts_utc + INTERVAL 1 HOUR AS ts_utc,
                     'baseline' AS model, var, 1 AS horizon_h,
                     lag_h1 AS yraw
              FROM sig
              UNION ALL
              SELECT site, ts_utc + INTERVAL 24 HOUR AS ts_utc,
                     'baseline' AS model, var, 24 AS horizon_h,
                     lag_h24 AS yraw
              FROM sig
            ),
            f AS (
              SELECT site, ts_utc, model, var, horizon_h,
                     greatest(yraw, 0.0) AS yhat
              FROM fc WHERE yraw IS NOT NULL
            ),
            act AS (
              SELECT site, ts_utc, 'pv' AS var, pv_est_mwh AS y FROM s
              UNION ALL
              SELECT site, ts_utc, 'wind' AS var, wind_est_mwh AS y FROM s
            ),
            pts AS (
              SELECT model, var, horizon_h, site, ts_utc,
                     abs(yhat - y) AS ar
              FROM f JOIN act USING (site, ts_utc, var)),
            ranked AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY model, var, horizon_h
                       ORDER BY ts_utc, site) AS rn,
                     count(*) OVER (
                       PARTITION BY model, var, horizon_h) AS n
              FROM pts),
            calib AS (SELECT * FROM ranked WHERE rn <= n // 2),
            tst AS (SELECT * FROM ranked WHERE rn > n // 2),
            qt AS (
              SELECT model, var, horizon_h, ar AS q, nc AS n_calib
              FROM (
                SELECT *,
                       row_number() OVER (
                         PARTITION BY model, var, horizon_h
                         ORDER BY ar, ts_utc, site) AS ra,
                       count(*) OVER (
                         PARTITION BY model, var, horizon_h) AS nc
                FROM calib)
              WHERE ra = least(((nc + 1) * 9 + 9) // 10, nc))
            SELECT t.model, t.var, t.horizon_h,
                   CAST(q.n_calib AS BIGINT) AS n_calib,
                   count(*) AS n_test,
                   round(q.q, 4) AS q_width,
                   round(avg(CASE WHEN t.ar <= q.q THEN 1.0 ELSE 0.0 END),
                         4) AS coverage
            FROM tst t JOIN qt q USING (model, var, horizon_h)
            GROUP BY t.model, t.var, t.horizon_h, q.n_calib, q.q
            ORDER BY t.model, t.var, t.horizon_h
        """,
        "hourly_cusum": """
            WITH cnt AS (
              SELECT event_type,
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                     count(*) AS n
              FROM events GROUP BY 1, 2),
            params AS (
              SELECT event_type,
                     (1000000 * sum(n)) // count(*) AS mu_s
              FROM cnt GROUP BY event_type),
            p2 AS (
              SELECT event_type, mu_s,
                     (1 * mu_s) // 4 AS k_s,
                     (3 * mu_s) // 2 AS h_s
              FROM params),
            pre AS (
              SELECT cnt.event_type, cnt.ts_hour, cnt.n, p2.h_s,
                     sum(cnt.n * 1000000 - p2.mu_s - p2.k_s) OVER (
                       PARTITION BY cnt.event_type ORDER BY cnt.ts_hour
                       ROWS UNBOUNDED PRECEDING) AS p
              FROM cnt JOIN p2 ON cnt.event_type = p2.event_type),
            cus AS (
              SELECT event_type, ts_hour, n, h_s,
                     p - least(0, min(p) OVER (
                       PARTITION BY event_type ORDER BY ts_hour
                       ROWS UNBOUNDED PRECEDING)) AS cusum_s
              FROM pre)
            SELECT event_type, ts_hour, CAST(n AS BIGINT) AS n,
                   CAST(cusum_s AS BIGINT) AS cusum_s
            FROM cus WHERE cusum_s > h_s
            ORDER BY event_type, ts_hour
        """,
        "hybrid_search_rrf": f"""
            WITH q AS (
              SELECT unnest(['merge', 'stream', 'vector', 'window']) AS t),
            stats AS (
              SELECT count(*) AS n,
                     sum(len(string_split(trim(text), ' '))) AS l
              FROM documents),
            tok AS (
              SELECT doc_id,
                     len(string_split(trim(text), ' ')) AS dl,
                     unnest(string_split(trim(text), ' ')) AS t
              FROM documents),
            hits AS (SELECT tok.doc_id, tok.dl, tok.t
                     FROM tok JOIN q ON q.t = tok.t),
            dfs AS (SELECT t, count(DISTINCT doc_id) AS df
                    FROM hits GROUP BY t),
            idf AS (
              SELECT t,
                     CAST(floor(1000000 * ln(1 +
                       CAST(2*n - 2*df + 1 AS DOUBLE)
                       / CAST(2*df + 1 AS DOUBLE))) AS BIGINT) AS idf_s
              FROM dfs CROSS JOIN stats),
            tfs AS (SELECT doc_id, dl, t, count(*) AS tf
                    FROM hits GROUP BY doc_id, dl, t),
            lexscored AS (
              SELECT tfs.doc_id,
                     sum(idf.idf_s * (
                       (CAST(tfs.tf AS HUGEINT) * 2200000 * 1000000)
                       // (CAST(tfs.tf AS HUGEINT) * 1000000
                           + (CAST(1200000 AS HUGEINT) *
                              (1000000 - 750000
                               + CAST(750000 AS HUGEINT)
                                 * tfs.dl * stats.n // stats.l))
                             // 1000000))) AS score
              FROM tfs JOIN idf ON tfs.t = idf.t CROSS JOIN stats
              GROUP BY tfs.doc_id),
            lex AS (
              SELECT doc_id,
                     CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
              FROM lexscored QUALIFY rnk <= 50),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            semscored AS (
              SELECT c.vec_id AS doc_id,
                     {_COS_SQL.format(a='qe.v', b='c.v')} AS sim
              FROM e qe JOIN e c
                ON qe.vec_id = 5 AND qe.vec_id != c.vec_id),
            sem AS (
              SELECT doc_id,
                     CAST(row_number() OVER (
                       ORDER BY sim DESC, doc_id) AS BIGINT) AS rnk
              FROM semscored QUALIFY rnk <= 50),
            fused AS (
              SELECT doc_id, 1000000 // (60 + rnk) AS c FROM lex
              UNION ALL
              SELECT doc_id, 1000000 // (60 + rnk) AS c FROM sem)
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_s
            FROM fused GROUP BY doc_id
            ORDER BY rrf_s DESC, doc_id LIMIT 20
        """,
        "incremental_join_revenue": """
            SELECT o.o_orderpriority,
                   count(*) AS n_items,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                     AS revenue
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderpriority
            ORDER BY o.o_orderpriority
        """,
        "doc_lexical_diversity": """
            WITH tk AS (
              SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
              FROM documents),
            per AS (
              SELECT doc_id, t, count(*) AS c FROM tk WHERE t <> ''
              GROUP BY doc_id, t),
            agg AS (
              SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS n_tokens,
                     count(*) AS n_types,
                     CAST(sum(c * (c - 1)) AS BIGINT) AS rep
              FROM per GROUP BY doc_id)
            SELECT doc_id, n_tokens, n_types,
                   CAST(n_types AS DOUBLE) / n_tokens AS type_token_ratio,
                   CASE WHEN n_tokens >= 2 THEN
                     CAST(rep AS DOUBLE) / (n_tokens * (n_tokens - 1))
                   END AS repeat_probability
            FROM agg ORDER BY doc_id
        """,
        "value_percentile_state": """
            WITH v AS (
              SELECT event_type, value FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)),
            tot AS (
              SELECT event_type, count(*) AS n,
                     sum(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) AS below,
                     sum(CASE WHEN value >= 512.0 THEN 1 ELSE 0 END) AS above
              FROM v GROUP BY event_type),
            binc AS (
              SELECT event_type,
                     least(CAST(floor((value - 0.0) / 8.0) AS BIGINT),
                           63) AS b,
                     count(*) AS c
              FROM v WHERE value >= 0.0 AND value < 512.0 GROUP BY 1, 2),
            grid AS (
              SELECT t.event_type, i.b, coalesce(binc.c, 0) AS c
              FROM tot t
              CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) i
              LEFT JOIN binc ON binc.event_type = t.event_type
                            AND binc.b = i.b),
            cums AS (
              SELECT event_type, b, c,
                     sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum
              FROM grid),
            est AS (
              SELECT c.event_type, p.p,
                     0.0 + (min(c.b) + (
                       CASE WHEN min_by(c.c, c.b) > 0 THEN
                         (p.p * (t.n - t.below - t.above)
                          - CAST(min_by(c.cum - c.c, c.b) AS DOUBLE))
                         / CAST(min_by(c.c, c.b) AS DOUBLE)
                       ELSE 0.0 END)) * 8.0 AS v
              FROM cums c
              JOIN tot t ON t.event_type = c.event_type
              CROSS JOIN (SELECT unnest([0.5, 0.9]) AS p) p
              WHERE CAST(c.cum AS DOUBLE)
                    >= p.p * (t.n - t.below - t.above)
              GROUP BY c.event_type, p.p, t.n, t.below, t.above)
            SELECT t.event_type,
                   CAST(t.n AS BIGINT) AS n,
                   CAST(t.below AS BIGINT) AS below,
                   CAST(t.above AS BIGINT) AS above,
                   e50.v AS p50, e90.v AS p90
            FROM tot t
            JOIN est e50 ON e50.event_type = t.event_type AND e50.p = 0.5
            JOIN est e90 ON e90.event_type = t.event_type AND e90.p = 0.9
            ORDER BY t.event_type
        """,
        "orders_scd2": """
            WITH s1 AS (
              SELECT o_orderkey, o_orderstatus, 1 AS v FROM orders),
            s2 AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     2 AS v
              FROM orders),
            s3 AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 5 = 0 THEN 'Y'
                          WHEN o_orderkey % 7 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     3 AS v
              FROM orders WHERE o_orderkey % 11 != 0),
            u AS (
              SELECT * FROM s1 UNION ALL
              SELECT * FROM s2 UNION ALL
              SELECT * FROM s3),
            lagged AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS pstat,
                     lag(v) OVER w AS pv
              FROM u WINDOW w AS (PARTITION BY o_orderkey ORDER BY v)),
            brk AS (
              SELECT *,
                     CASE WHEN pv IS NULL OR v != pv + 1
                            OR o_orderstatus IS DISTINCT FROM pstat
                          THEN 1 ELSE 0 END AS b
              FROM lagged),
            runs AS (
              SELECT *,
                     sum(b) OVER (PARTITION BY o_orderkey ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS run
              FROM brk),
            g AS (
              SELECT o_orderkey, run,
                     min(o_orderstatus) AS o_orderstatus,
                     CAST(min(v) AS BIGINT) AS valid_from,
                     max(v) AS last_v
              FROM runs GROUP BY o_orderkey, run)
            SELECT o_orderkey, o_orderstatus, valid_from,
                   CAST(CASE WHEN last_v < 3 THEN last_v + 1 END AS BIGINT)
                     AS valid_to,
                   (last_v = 3) AS is_current
            FROM g
            ORDER BY o_orderkey, valid_from
        """,
        "orders_cdc": """
            WITH old AS (
              SELECT o_custkey, count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(20,6)))
                          AS DOUBLE) AS total_price
              FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
              GROUP BY o_custkey),
            new AS (
              SELECT o_custkey, count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(20,6)))
                          AS DOUBLE) AS total_price
              FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
              GROUP BY o_custkey
              HAVING o_custkey % 50 != 0),
            j AS (
              SELECT coalesce(o.o_custkey, n.o_custkey) AS o_custkey,
                     CASE WHEN o.o_custkey IS NULL THEN 'insert'
                          WHEN n.o_custkey IS NULL THEN 'delete'
                          WHEN o.n_orders != n.n_orders
                            OR o.total_price != n.total_price THEN 'update'
                     END AS change,
                     o.n_orders AS old_n_orders,
                     o.total_price AS old_total_price,
                     n.n_orders AS new_n_orders,
                     n.total_price AS new_total_price
              FROM old o FULL OUTER JOIN new n ON o.o_custkey = n.o_custkey)
            SELECT * FROM j WHERE change IS NOT NULL ORDER BY o_custkey
        """,
        "events_zscore": """
            WITH v AS (
              SELECT event_type, value FROM events WHERE value IS NOT NULL),
            m AS (
              SELECT event_type, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s1,
                     CAST(sum(CAST(value * value AS DECIMAL(38,6)))
                          AS DOUBLE) AS s2
              FROM v GROUP BY event_type),
            st AS (
              SELECT event_type, s1 / n AS mean,
                     CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0
                          THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) END AS sd
              FROM m)
            SELECT v.event_type, value, (value - mean) / sd AS z
            FROM v JOIN st USING (event_type)
            ORDER BY event_type, value
        """,
        "domain_affinity": """
            WITH tk AS (
              SELECT doc_id,
                     CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_t,
                     unnest(string_split(trim(text), ' ')) AS t
              FROM documents),
            tk2 AS (SELECT * FROM tk WHERE t <> ''),
            vocab AS (
              SELECT t, count(*) AS cnt_all, sum(is_t) AS cnt_target
              FROM tk2 GROUP BY t),
            per AS (
              SELECT doc_id,
                     CAST(sum(cnt_target) AS BIGINT) AS target_mass,
                     CAST(sum(cnt_all) AS BIGINT) AS corpus_mass
              FROM tk2 JOIN vocab USING (t) GROUP BY doc_id)
            SELECT doc_id, target_mass, corpus_mass,
                   CAST(target_mass AS DOUBLE) / corpus_mass AS affinity
            FROM per ORDER BY affinity DESC, doc_id LIMIT 50
        """,
        "token_cms_audit": """
            WITH items AS (
              SELECT unnest(string_split(trim(text), ' ')) AS item
              FROM documents),
            it AS (SELECT item FROM items WHERE item IS NOT NULL),
            cells AS (
              SELECT j,
                     CAST(('0x' || substr(md5('cms' || j || '_' || item),
                                          1, 8)) AS BIGINT) % 1024 AS cell,
                     count(*) AS cnt
              FROM it, (SELECT unnest([0, 1, 2, 3]) AS j)
              GROUP BY 1, 2),
            top AS (
              SELECT item, count(*) AS true_count FROM it
              GROUP BY item ORDER BY true_count DESC, item LIMIT 10),
            probes AS (
              SELECT item, true_count, j,
                     CAST(('0x' || substr(md5('cms' || j || '_' || item),
                                          1, 8)) AS BIGINT) % 1024 AS cell
              FROM top, (SELECT unnest([0, 1, 2, 3]) AS j))
            SELECT p.item, p.true_count,
                   CAST(min(c.cnt) AS BIGINT) AS cms_estimate,
                   CAST(min(c.cnt) - p.true_count AS BIGINT) AS overestimate
            FROM probes p JOIN cells c ON p.j = c.j AND p.cell = c.cell
            GROUP BY p.item, p.true_count
            ORDER BY p.true_count DESC, p.item
        """,
        "events_ohlc": """
            WITH v AS (
              SELECT event_type, date_trunc('hour', ts) AS ts_hour, ts,
                     event_id, value
              FROM events WHERE value IS NOT NULL),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY event_type, ts_hour
                                        ORDER BY ts, event_id) AS rn_a,
                     row_number() OVER (PARTITION BY event_type, ts_hour
                                        ORDER BY ts DESC, event_id DESC) AS rn_d
              FROM v)
            SELECT event_type, CAST(ts_hour AS TIMESTAMP) AS ts_hour,
                   min(CASE WHEN rn_a = 1 THEN value END) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   min(CASE WHEN rn_d = 1 THEN value END) AS close,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     / count(*) AS mean_value,
                   count(*) AS n
            FROM ranked GROUP BY event_type, ts_hour
            ORDER BY event_type, ts_hour
        """,
        "value_winsorized": """
            WITH v AS (
              SELECT event_type, value FROM events WHERE value IS NOT NULL),
            counts AS (
              SELECT event_type, count(*) AS n FROM v GROUP BY event_type),
            ranked AS (
              SELECT event_type, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value) AS rn
              FROM v),
            bounds AS (
              SELECT r.event_type,
                     min(CASE WHEN rn = greatest(
                           CAST(ceil(0.01 * n) AS BIGINT), 1)
                         THEN value END) AS lo,
                     min(CASE WHEN rn = greatest(
                           CAST(ceil((1.0 - 0.01) * n) AS BIGINT), 1)
                         THEN value END) AS hi,
                     min(n) AS n
              FROM ranked r JOIN counts c USING (event_type)
              GROUP BY r.event_type)
            SELECT v.event_type,
                   min(b.n) AS n, min(lo) AS lo, min(hi) AS hi,
                   CAST(sum(CAST(least(greatest(value, lo), hi)
                                 AS DECIMAL(20,6))) AS DOUBLE)
                     / count(*) AS mean_winsorized
            FROM v JOIN bounds b USING (event_type)
            GROUP BY v.event_type ORDER BY v.event_type
        """,
        "orders_profile": """
            WITH o AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders)
            SELECT * FROM (
              SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
                     count(*) - count(o_orderkey) AS n_nulls,
                     count(DISTINCT o_orderkey) AS n_distinct,
                     CAST(min(o_orderkey) AS VARCHAR) AS min_str,
                     CAST(max(o_orderkey) AS VARCHAR) AS max_str FROM o
              UNION ALL
              SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
                     count(DISTINCT o_custkey),
                     CAST(min(o_custkey) AS VARCHAR),
                     CAST(max(o_custkey) AS VARCHAR) FROM o
              UNION ALL
              SELECT 'o_orderstatus', count(*),
                     count(*) - count(o_orderstatus),
                     count(DISTINCT o_orderstatus),
                     CAST(min(o_orderstatus) AS VARCHAR),
                     CAST(max(o_orderstatus) AS VARCHAR) FROM o
              UNION ALL
              SELECT 'o_totalprice', count(*),
                     count(*) - count(o_totalprice),
                     count(DISTINCT o_totalprice),
                     CAST(min(o_totalprice) AS VARCHAR),
                     CAST(max(o_totalprice) AS VARCHAR) FROM o
              UNION ALL
              SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
                     count(DISTINCT o_orderdate),
                     CAST(CAST(min(o_orderdate) AS TIMESTAMP) AS VARCHAR),
                     CAST(CAST(max(o_orderdate) AS TIMESTAMP) AS VARCHAR)
              FROM o
              UNION ALL
              SELECT 'o_orderpriority', count(*),
                     count(*) - count(o_orderpriority),
                     count(DISTINCT o_orderpriority),
                     CAST(min(o_orderpriority) AS VARCHAR),
                     CAST(max(o_orderpriority) AS VARCHAR) FROM o
            ) ORDER BY column_name
        """,
        "bloom_membership_audit": """
            WITH keys AS (
              SELECT DISTINCT CAST(doc_id AS VARCHAR) AS key, doc_id
              FROM documents),
            mem AS (SELECT key FROM keys WHERE doc_id % 97 = 0),
            bits AS (
              SELECT DISTINCT
                CAST(('0x' || substr(md5('bf' || j || '_' || key), 1, 8))
                     AS BIGINT) % 16384 AS pos
              FROM mem, (SELECT unnest([0,1,2,3]) AS j)),
            probes AS (
              SELECT key,
                CAST(('0x' || substr(md5('bf' || j || '_' || key), 1, 8))
                     AS BIGINT) % 16384 AS pos
              FROM keys, (SELECT unnest([0,1,2,3]) AS j)),
            adm AS (
              SELECT key FROM probes GROUP BY key
              HAVING min(CASE WHEN pos IN (SELECT pos FROM bits)
                         THEN 1 ELSE 0 END) = 1),
            labeled AS (
              SELECT CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member,
                     CASE WHEN a.key IS NULL THEN 0 ELSE 1 END AS is_admitted
              FROM keys k
              LEFT JOIN mem m ON k.key = m.key
              LEFT JOIN adm a ON k.key = a.key)
            SELECT CAST(count(*) AS BIGINT) AS n_universe,
                   CAST(sum(is_member) AS BIGINT) AS n_members,
                   (SELECT count(*) FROM bits) AS n_bits_set,
                   CAST(sum(is_admitted) AS BIGINT) AS n_candidates,
                   CAST(sum(CASE WHEN is_admitted = 1 AND is_member = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
                   CAST(sum(CASE WHEN is_admitted = 0 AND is_member = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
            FROM labeled
        """,
        "media_codec_audit": """
            WITH ids AS (
              SELECT DISTINCT doc_id FROM documents WHERE doc_id < 32),
            px AS (
              SELECT doc_id,
                CAST(('0x' || substr(md5('px_' || doc_id || '_' || i), 1, 8))
                     AS BIGINT) % 256 AS v
              FROM ids, generate_series(0, 63) AS t(i))
            SELECT doc_id,
                   CAST(8 AS INTEGER) AS width,
                   CAST(8 AS INTEGER) AS height,
                   CAST(sum(v) AS DOUBLE) / 64 AS mean_px
            FROM px GROUP BY doc_id ORDER BY doc_id
        """,
        "summary_events": """
            SELECT count(*) AS n_rows,
                   CAST(min(ts) AS TIMESTAMP) AS min_ts,
                   CAST(max(ts) AS TIMESTAMP) AS max_ts
            FROM events
        """,
        "distinct_event_types": """
            SELECT DISTINCT event_type FROM events ORDER BY event_type
        """,
        "latest_per_user_hour": """
            SELECT user_id, CAST(ts_hour AS TIMESTAMP) AS ts_hour,
                   event_id, event_type, value
            FROM (
              SELECT user_id, date_trunc('hour', ts) AS ts_hour, event_id,
                     event_type, value,
                     row_number() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "recent_events_topk": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type, value
            FROM events
            ORDER BY ts DESC, event_id DESC
            LIMIT 168
        """,
        "events_window_filter": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
            FROM events
            WHERE event_type = 'click'
              AND ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        """,
        "hourly_type_pivot": """
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                   CAST(sum(CAST(value AS DECIMAL(20,6)))
                        FILTER (event_type = 'click') AS DOUBLE)
                     / count(value) FILTER (event_type = 'click') AS click,
                   CAST(sum(CAST(value AS DECIMAL(20,6)))
                        FILTER (event_type = 'error') AS DOUBLE)
                     / count(value) FILTER (event_type = 'error') AS error,
                   CAST(sum(CAST(value AS DECIMAL(20,6)))
                        FILTER (event_type = 'purchase') AS DOUBLE)
                     / count(value) FILTER (event_type = 'purchase') AS purchase,
                   CAST(sum(CAST(value AS DECIMAL(20,6)))
                        FILTER (event_type = 'signup') AS DOUBLE)
                     / count(value) FILTER (event_type = 'signup') AS signup,
                   CAST(sum(CAST(value AS DECIMAL(20,6)))
                        FILTER (event_type = 'view') AS DOUBLE)
                     / count(value) FILTER (event_type = 'view') AS view
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "hourly_completeness": """
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click_complete,
                   max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS error_complete,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase_complete,
                   max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signup_complete,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view_complete
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "hourly_long": """
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                   event_type AS variable,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     / count(value) AS value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "drop_reason_counts": _CASCADE_CTE
        + """
            SELECT reason, count(*) AS n FROM labeled
            GROUP BY reason ORDER BY n DESC, reason
        """,
        "keep_metrics": _CASCADE_CTE
        + """
            SELECT raw_rows, kept_rows,
                   greatest(raw_rows - kept_rows, 0) AS dropped_rows,
                   CASE WHEN raw_rows > 0
                        THEN round(kept_rows * 100.0 / raw_rows, 4)
                   END AS kept_percentage
            FROM (SELECT count(*) AS raw_rows FROM events),
                 (SELECT count(*) AS kept_rows FROM labeled WHERE reason = 'kept')
        """,
        "props_stats": """
            SELECT event_type,
                   count(*) AS n,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "shipping_priority": """
            SELECT l.l_orderkey,
                   CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
                   o.o_orderpriority,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-03-15'
              AND l.l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
            ORDER BY revenue DESC, l.l_orderkey
            LIMIT 10
        """,
        "local_supplier_volume": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM region r
            JOIN nation n ON n.n_regionkey = r.r_regionkey
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
                           AND s.s_nationkey = c.c_nationkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n.n_name
            ORDER BY revenue DESC, n.n_name
        """,
        "doc_text_stats": f"""
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_obs,
                   CAST({_STATS['n_tokens']} AS BIGINT) AS n_tokens,
                   {_AVG_TOK} AS avg_token_len,
                   {_STOP_HITS} * 1.0 / {_STATS['n_tokens']} AS stop_ratio,
                   {_PUNCT} AS punct_ratio,
                   {_QUALITY} AS quality
            FROM documents ORDER BY doc_id
        """,
        "doc_lang_id": f"""
            SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred
            FROM documents ORDER BY doc_id
        """,
        "doc_fingerprints": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                     string_split(trim(lower(text)), ' '))), ' ')) AS fp
            FROM documents ORDER BY doc_id
        """,
        "exact_dedup": """
            SELECT md5(text) AS text_hash,
                   min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY canonical_id
        """,
        "fingerprint_dedup": """
            SELECT md5(array_to_string(list_sort(list_distinct(
                     string_split(trim(lower(text)), ' '))), ' ')) AS fp,
                   min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY canonical_id
        """,
        "ngram_jaccard_pairs": _SHINGLE_CTE
        + """,
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   c * 1.0 / (sa.n + sb.n - c) AS jaccard
            FROM inter
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
            ORDER BY doc_a, doc_b
        """,
        "ngram_jaccard_capped": _SHINGLE_CTE
        + """,
            df AS (SELECT s, count(*) AS df FROM inv GROUP BY 1),
            inv2 AS (SELECT i.doc_id, i.s FROM inv i
                     JOIN df ON i.s = df.s WHERE df.df <= 6),
            sizes2 AS (SELECT doc_id, count(*) AS n FROM inv2 GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM inv2 a JOIN inv2 b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   c * 1.0 / (sa.n + sb.n - c) AS jaccard
            FROM inter
            JOIN sizes2 sa ON doc_a = sa.doc_id
            JOIN sizes2 sb ON doc_b = sb.doc_id
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
            ORDER BY doc_a, doc_b
        """,
        "minhash_lsh_pairs": _SHINGLE_CTE
        + ",\n"
        + ",\n".join(_minhash_sql())
        + """,
            cands AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
            verified AS (
              SELECT doc_a, doc_b,
                     len(list_intersect(sa.shs, sb.shs)) * 1.0
                       / (len(sa.shs) + len(sb.shs)
                          - len(list_intersect(sa.shs, sb.shs))) AS jacc
              FROM cands
              JOIN sh sa ON doc_a = sa.doc_id
              JOIN sh sb ON doc_b = sb.doc_id)
            SELECT doc_a, doc_b, jacc AS jaccard
            FROM verified WHERE jacc >= 0.5
            ORDER BY doc_a, doc_b
        """,
        "simhash_signatures": _simhash_sig_sql()
        + """
            SELECT doc_id, simhash FROM sig ORDER BY doc_id
        """,
        "simhash_near_pairs": _simhash_sig_sql()
        + """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM sig a JOIN sig b
              ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
            ORDER BY doc_a, doc_b
        """,
        "ann_topk": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_COS_SQL.format(a='q.v', b='c.v')} AS sim
              FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id != c.vec_id)
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" <= 5
            ORDER BY query_id, "rank"
        """,
        "embedding_near_pairs": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_COS_SQL.format(a='a.v', b='b.v')} AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE {_COS_SQL.format(a='a.v', b='b.v')} >= 0.4
            ORDER BY vec_a, vec_b
        """,
        "embedding_dedup": f"""
            WITH RECURSIVE e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            p AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE {_COS_SQL.format(a='a.v', b='b.v')} >= 0.4),
            und AS (
              SELECT vec_a AS a, vec_b AS b FROM p
              UNION SELECT vec_b AS a, vec_a AS b FROM p),
            reach(a, b) AS (
              SELECT a, b FROM und
              UNION
              SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
            comp AS (
              SELECT a AS vec_id, least(a, min(b)) AS component
              FROM reach GROUP BY a)
            SELECT emb.vec_id
            FROM embeddings emb
            LEFT JOIN comp c
              ON emb.vec_id = c.vec_id AND c.vec_id != c.component
            WHERE c.vec_id IS NULL
            ORDER BY emb.vec_id
        """,
        "semantic_dedup": f"""
            WITH RECURSIVE e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
            scored AS (
              SELECT e.vec_id, e.v, c.cid,
                     {_COS_SQL.format(a='e.v', b='c.cv')} AS sim
              FROM e CROSS JOIN c),
            assigned AS (
              SELECT vec_id, v, cid FROM (
                SELECT vec_id, v, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid) AS rn
                FROM scored) WHERE rn = 1),
            p AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM assigned a JOIN assigned b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE {_COS_SQL.format(a='a.v', b='b.v')} >= 0.4),
            und AS (
              SELECT vec_a AS a, vec_b AS b FROM p
              UNION SELECT vec_b AS a, vec_a AS b FROM p),
            reach(a, b) AS (
              SELECT a, b FROM und
              UNION
              SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
            comp AS (
              SELECT a AS vec_id, least(a, min(b)) AS component
              FROM reach GROUP BY a)
            SELECT emb.vec_id
            FROM embeddings emb
            LEFT JOIN comp c2
              ON emb.vec_id = c2.vec_id AND c2.vec_id != c2.component
            WHERE c2.vec_id IS NULL
            ORDER BY emb.vec_id
        """,
        "embedding_rp_audit": _rp_audit_sql(),
        "kcenter_selection": _kcenter_sql(8),
        "doc_weighted_sample": f"""
            WITH t AS (
              SELECT doc_id,
                     len(string_split(trim(text), ' ')) AS n_tokens
              FROM documents),
            q AS (
              SELECT doc_id, n_tokens,
                     CAST(n_tokens AS DOUBLE)
                       / (({_h32_sql("'priority' || CAST(doc_id AS VARCHAR)")} + 1)
                          / 4294967296.0) AS pr
              FROM t WHERE n_tokens > 0),
            top AS (
              SELECT doc_id, n_tokens FROM q
              ORDER BY pr DESC, doc_id LIMIT 100)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
            FROM top ORDER BY doc_id
        """,
        "doc_search_tfidf": """
            WITH q AS (
              SELECT unnest(['merge', 'stream', 'vector', 'window']) AS t),
            n AS (SELECT count(*) AS n FROM documents),
            hits AS (
              SELECT doc_id, tok.t
              FROM (SELECT doc_id,
                           unnest(string_split(trim(text), ' ')) AS t
                    FROM documents) tok
              JOIN q ON q.t = tok.t),
            dfs AS (SELECT t, count(DISTINCT doc_id) AS df
                    FROM hits GROUP BY t),
            tfs AS (SELECT doc_id, t, count(*) AS tf
                    FROM hits GROUP BY doc_id, t),
            scored AS (
              SELECT tfs.doc_id,
                     sum(CAST(tfs.tf AS HUGEINT)
                         * ((CAST(1000000 AS HUGEINT) * n.n) // dfs.df))
                       AS score
              FROM tfs JOIN dfs ON tfs.t = dfs.t CROSS JOIN n
              GROUP BY tfs.doc_id)
            SELECT doc_id, CAST(score AS BIGINT) AS score
            FROM scored ORDER BY score DESC, doc_id LIMIT 20
        """,
        "doc_search_bm25": """
            WITH q AS (
              SELECT unnest(['merge', 'stream', 'vector', 'window']) AS t),
            stats AS (
              SELECT count(*) AS n,
                     sum(len(string_split(trim(text), ' '))) AS l
              FROM documents),
            tok AS (
              SELECT doc_id,
                     len(string_split(trim(text), ' ')) AS dl,
                     unnest(string_split(trim(text), ' ')) AS t
              FROM documents),
            hits AS (SELECT tok.doc_id, tok.dl, tok.t
                     FROM tok JOIN q ON q.t = tok.t),
            dfs AS (SELECT t, count(DISTINCT doc_id) AS df
                    FROM hits GROUP BY t),
            idf AS (
              SELECT t,
                     CAST(floor(1000000 * ln(1 +
                       CAST(2*n - 2*df + 1 AS DOUBLE)
                       / CAST(2*df + 1 AS DOUBLE))) AS BIGINT) AS idf_s
              FROM dfs CROSS JOIN stats),
            tfs AS (SELECT doc_id, dl, t, count(*) AS tf
                    FROM hits GROUP BY doc_id, dl, t),
            scored AS (
              SELECT tfs.doc_id,
                     sum(idf.idf_s * (
                       (CAST(tfs.tf AS HUGEINT) * 2200000 * 1000000)
                       // (CAST(tfs.tf AS HUGEINT) * 1000000
                           + (CAST(1200000 AS HUGEINT) *
                              (1000000 - 750000
                               + CAST(750000 AS HUGEINT)
                                 * tfs.dl * stats.n // stats.l))
                             // 1000000))) AS score
              FROM tfs JOIN idf ON tfs.t = idf.t CROSS JOIN stats
              GROUP BY tfs.doc_id)
            SELECT doc_id, CAST(score AS BIGINT) AS score
            FROM scored ORDER BY score DESC, doc_id LIMIT 20
        """,
        "doc_lm_perplexity": """
            WITH tok AS (
              SELECT doc_id, string_split(trim(text), ' ') AS tk
              FROM documents),
            pairs AS (
              SELECT doc_id, tk[i] AS a, tk[i+1] AS b
              FROM tok, unnest(range(1, len(tk))) AS r(i)
              WHERE len(tk) >= 2),
            big AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b),
            ctx AS (SELECT a, sum(cab) AS ca FROM big GROUP BY a),
            voc AS (
              SELECT count(DISTINCT t) AS v
              FROM (SELECT unnest(string_split(trim(text), ' ')) AS t
                    FROM documents)),
            model AS (
              SELECT big.a, big.b,
                     CAST(floor(1000000 * ln(
                       CAST(ctx.ca + voc.v AS DOUBLE)
                       / CAST(big.cab + 1 AS DOUBLE))) AS BIGINT) AS nll_s
              FROM big JOIN ctx ON big.a = ctx.a CROSS JOIN voc),
            per_doc AS (
              SELECT doc_id, a, b, count(*) AS tf
              FROM pairs GROUP BY doc_id, a, b),
            scored AS (
              SELECT p.doc_id,
                     sum(p.tf) AS n_bigrams,
                     sum(p.tf * m.nll_s) AS nll_sum
              FROM per_doc p JOIN model m ON p.a = m.a AND p.b = m.b
              GROUP BY p.doc_id)
            SELECT doc_id,
                   CAST(n_bigrams AS BIGINT) AS n_bigrams,
                   CAST(nll_sum AS BIGINT) AS nll_sum,
                   CAST(nll_sum // n_bigrams AS BIGINT) AS avg_nll_s
            FROM scored
            ORDER BY avg_nll_s DESC, doc_id LIMIT 50
        """,
        "value_quantile_match": """
            WITH base AS (
              SELECT event_type AS k, value AS v, count(*) AS c
              FROM events
              WHERE event_type IS NOT NULL AND value IS NOT NULL
                AND NOT isnan(value)
              GROUP BY 1, 2),
            cum AS (
              SELECT k, v, c,
                     sum(c) OVER (PARTITION BY k ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum
              FROM base),
            tot AS (SELECT k, sum(c) AS n FROM base GROUP BY k),
            p AS (
              SELECT cum.k, cum.v, cum.c, cum.cum, tot.n
              FROM cum JOIN tot ON cum.k = tot.k),
            r AS (SELECT v AS rv, cum AS rcum FROM p
                  WHERE k = 'click'),
            rn AS (SELECT n AS rn FROM tot WHERE k = 'click')
            SELECT p.k AS event_type, p.v AS value,
                   CAST(p.c AS BIGINT) AS n,
                   (SELECT min(r.rv) FROM r, rn
                    WHERE r.rcum * p.n >= p.cum * rn.rn) AS matched
            FROM p ORDER BY event_type, value
        """,
        "order_skyline": """
            WITH base AS (
              SELECT o_orderkey, o_totalprice AS x, o_orderdate AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderdate IS NOT NULL),
            px AS (SELECT x, max(y) AS ymax FROM base GROUP BY x),
            fr AS (
              SELECT x, ymax,
                     max(ymax) OVER (ORDER BY x DESC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND 1 PRECEDING) AS a
              FROM px)
            SELECT b.o_orderkey, b.x AS o_totalprice,
                   CAST(b.y AS TIMESTAMP) AS o_orderdate
            FROM base b JOIN (
              SELECT x, ymax FROM fr WHERE a IS NULL OR ymax > a) f
              ON b.x = f.x AND b.y = f.ymax
            ORDER BY o_totalprice DESC, b.o_orderkey
        """,
        "orders_zorder_stats": """
            WITH base AS (
              SELECT o_custkey AS x,
                     date_diff('day', TIMESTAMP '1992-01-01',
                       o_orderdate) AS y
              FROM orders),
            z AS (
              SELECT (SELECT sum(
                       (((x >> i.i) & 1) << (2 * i.i))
                       + (((y >> i.i) & 1) << (2 * i.i + 1)))
                      FROM unnest(range(0, 16)) AS i(i)) AS zc
              FROM base)
            SELECT CAST(zc >> 20 AS BIGINT) AS z_prefix,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(min(zc) AS BIGINT) AS min_code,
                   CAST(max(zc) AS BIGINT) AS max_code
            FROM z GROUP BY 1 ORDER BY z_prefix
        """,
        "ann_binary_topk": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            d AS (
              SELECT vec_id, i, v[i + 1] AS val
              FROM e, unnest(range(0, 64)) AS r(i)),
            bits AS (
              SELECT vec_id,
                     sum(CASE WHEN i < 32 AND val > 0
                         THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS lo,
                     sum(CASE WHEN i >= 32 AND val > 0
                         THEN CAST(1 AS BIGINT) << (i - 32)
                         ELSE 0 END) AS hi
              FROM d GROUP BY vec_id),
            b2 AS (
              SELECT bits.vec_id, bits.lo, bits.hi, e.v
              FROM bits JOIN e ON bits.vec_id = e.vec_id),
            q AS (
              SELECT vec_id AS query_id, lo AS qlo, hi AS qhi, v AS qv
              FROM b2 WHERE vec_id < 8),
            cand AS (
              SELECT q.query_id, c.vec_id,
                     CAST(bit_count(xor(c.lo, q.qlo))
                       + bit_count(xor(c.hi, q.qhi)) AS BIGINT)
                       AS hamming,
                     c.v, q.qv
              FROM b2 c JOIN q ON c.vec_id <> q.query_id),
            coarse AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY hamming, vec_id) AS g
              FROM cand),
            fine AS (
              SELECT query_id, vec_id, hamming,
                     list_dot_product(v, qv)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(qv, qv))) AS cosine
              FROM coarse WHERE g <= 50),
            ranked AS (
              SELECT query_id, vec_id, hamming, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
              FROM fine)
            SELECT query_id, vec_id, hamming, cosine, rank
            FROM ranked WHERE rank <= 10
            ORDER BY query_id, rank
        """,
        "value_equidepth_bins": """
            WITH vc AS (
              SELECT value AS v, count(*) AS c FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY value),
            cum AS (
              SELECT v, c,
                     sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum
              FROM vc),
            tot AS (SELECT sum(c) AS n FROM vc),
            edges AS (
              SELECT CAST(i.i AS BIGINT) AS bin, cum.v AS hi,
                     cum.cum AS cum
              FROM cum CROSS JOIN tot,
                   unnest(generate_series(
                     CAST((cum.cum - cum.c) * 8 // tot.n + 1 AS BIGINT),
                     CAST(cum.cum * 8 // tot.n AS BIGINT))) AS i(i))
            SELECT bin, hi,
                   CAST(cum - COALESCE(lag(cum) OVER (ORDER BY bin), 0)
                     AS BIGINT) AS n_rows
            FROM edges ORDER BY bin
        """,
        "source_kl": """
            WITH st AS (
              SELECT source, t, count(*) AS c_st
              FROM (SELECT source,
                      unnest(string_split(trim(text), ' ')) AS t
                    FROM documents)
              GROUP BY source, t),
            term AS (SELECT t, sum(c_st) AS c_t FROM st GROUP BY t),
            stot AS (SELECT source, sum(c_st) AS n_s
                     FROM st GROUP BY source),
            ctot AS (SELECT sum(c_t) AS n FROM term),
            num AS (
              SELECT st.source,
                     sum(st.c_st * CAST(floor(1000000 * ln(
                       (CAST(st.c_st AS DOUBLE) * CAST(ctot.n AS DOUBLE))
                       / (CAST(stot.n_s AS DOUBLE)
                          * CAST(term.c_t AS DOUBLE))))
                       AS BIGINT)) AS num
              FROM st JOIN term ON st.t = term.t
              JOIN stot ON st.source = stot.source
              CROSS JOIN ctot
              GROUP BY st.source)
            SELECT stot.source, CAST(stot.n_s AS BIGINT) AS n_tokens,
                   CAST(num.num AS DOUBLE)
                     / CAST(stot.n_s * 1000000 AS DOUBLE) AS kl_nats
            FROM stot JOIN num ON stot.source = num.source
            ORDER BY stot.source
        """,
        "part_sorted_neighbors": """
            WITH r AS (
              SELECT p_partkey AS id, p_name AS k,
                     row_number() OVER (ORDER BY p_name, p_partkey)
                       AS rn
              FROM part WHERE p_name IS NOT NULL),
            pr AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     a.k AS key_a, b.k AS key_b,
                     CAST(len(list_intersect(string_split(a.k, ' '),
                       string_split(b.k, ' '))) AS BIGINT)
                       AS shared_tokens
              FROM r a JOIN r b
                ON b.rn > a.rn AND b.rn <= a.rn + 3)
            SELECT id_a, id_b, key_a, key_b, shared_tokens
            FROM pr WHERE shared_tokens >= 1
            ORDER BY id_a, id_b
        """,
        "hourly_ccf": """
            WITH cnt AS (
              SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                     sum(CASE WHEN event_type = 'click'
                         THEN 1 ELSE 0 END) AS x,
                     sum(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS y
              FROM events WHERE event_type IN ('click', 'purchase')
              GROUP BY 1),
            rng AS (SELECT min(h) AS lo, max(h) AS hi FROM cnt),
            spine AS (
              SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                AS h FROM rng),
            dense AS (
              SELECT s.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x,
                     CAST(COALESCE(c.y, 0) AS BIGINT) AS y
              FROM spine s LEFT JOIN cnt c ON s.h = c.h),
            ks AS (SELECT unnest(generate_series(-6, 6)) AS k),
            pl AS (
              -- b supplies x from k hours EARLIER, a the current y:
              -- peak at k > 0 reads "x leads y by k"
              SELECT ks.k AS lag,
                     sum(CAST(b.x AS DECIMAL(19,0))
                       * CAST(a.y AS DECIMAL(19,0))) AS c,
                     sum(a.y) AS aa, sum(b.x) AS bb, count(*) AS p
              FROM dense a JOIN ks ON TRUE
              JOIN dense b ON b.h = a.h - ks.k * INTERVAL 1 HOUR
              GROUP BY 1),
            g AS (
              SELECT count(*) AS hh, sum(x) AS tx, sum(y) AS ty,
                     sum(CAST(x AS DECIMAL(19,0))
                       * CAST(x AS DECIMAL(19,0))) AS sx2,
                     sum(CAST(y AS DECIMAL(19,0))
                       * CAST(y AS DECIMAL(19,0))) AS sy2
              FROM dense),
            fin AS (
              SELECT pl.lag, CAST(g.hh AS BIGINT) AS n_hours,
                     CAST(g.hh * g.hh AS DECIMAL(19,0))
                       * CAST(pl.c AS DECIMAL(19,0))
                     - CAST(g.hh * g.tx AS DECIMAL(19,0))
                       * CAST(pl.aa AS DECIMAL(19,0))
                     - CAST(g.hh * g.ty AS DECIMAL(19,0))
                       * CAST(pl.bb AS DECIMAL(19,0))
                     + CAST(pl.p * g.tx AS DECIMAL(19,0))
                       * CAST(g.ty AS DECIMAL(19,0)) AS num,
                     CAST(g.hh * g.hh AS DECIMAL(19,0))
                       * CAST(g.sx2 AS DECIMAL(19,0))
                     - CAST(g.hh * g.tx AS DECIMAL(19,0))
                       * CAST(g.tx AS DECIMAL(19,0)) AS dx,
                     CAST(g.hh * g.hh AS DECIMAL(19,0))
                       * CAST(g.sy2 AS DECIMAL(19,0))
                     - CAST(g.hh * g.ty AS DECIMAL(19,0))
                       * CAST(g.ty AS DECIMAL(19,0)) AS dy
              FROM pl CROSS JOIN g)
            SELECT lag, n_hours,
                   CAST(num AS DOUBLE)
                     / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) AS ccf
            FROM fin WHERE dx > 0 AND dy > 0 ORDER BY lag
        """,
        "value_mad_outliers": """
            WITH base AS (
              SELECT event_type AS k, value AS v FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)),
            cum AS (
              SELECT k, v,
                     count(*) OVER (PARTITION BY k ORDER BY v
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c
              FROM base),
            tot AS (SELECT k, count(*) AS n FROM base GROUP BY k),
            med AS (
              SELECT cum.k, min(cum.v) AS med
              FROM cum JOIN tot ON cum.k = tot.k
              WHERE cum.c * 2 >= tot.n GROUP BY cum.k),
            dev AS (
              SELECT base.k, abs(base.v - med.med) AS d, med.med
              FROM base JOIN med ON base.k = med.k),
            dcum AS (
              SELECT k, d,
                     count(*) OVER (PARTITION BY k ORDER BY d
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c
              FROM dev),
            mad AS (
              SELECT dcum.k, min(dcum.d) AS mad
              FROM dcum JOIN tot ON dcum.k = tot.k
              WHERE dcum.c * 2 >= tot.n GROUP BY dcum.k)
            SELECT dev.k AS event_type,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(dev.med) AS median, min(mad.mad) AS mad,
                   CAST(sum(CASE WHEN dev.d * 1.0 > 3.0 * mad.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev JOIN mad ON dev.k = mad.k
            GROUP BY dev.k ORDER BY dev.k
        """,
        "audio_frame_features": """
            WITH d AS (
              SELECT DISTINCT doc_id FROM documents WHERE doc_id < 32),
            s AS (
              SELECT d.doc_id, i.i,
                     CAST(('0x' || substr(md5('au_'
                       || CAST(d.doc_id AS VARCHAR) || '_'
                       || CAST(i.i AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 65536 - 32768 AS v
              FROM d, unnest(generate_series(0, 255)) AS i(i)),
            f AS (
              SELECT doc_id, i // 64 AS frame, i % 64 AS j, v FROM s),
            en AS (
              SELECT doc_id, frame, sum(v * v) AS energy
              FROM f GROUP BY 1, 2),
            zc AS (
              SELECT a.doc_id, a.frame,
                     sum(CASE WHEN (a.v < 0) <> (b.v < 0)
                         THEN 1 ELSE 0 END) AS zcr
              FROM f a JOIN f b ON b.doc_id = a.doc_id
                AND b.frame = a.frame AND b.j = a.j + 1
              GROUP BY 1, 2)
            SELECT en.doc_id, CAST(en.frame AS BIGINT) AS frame,
                   CAST(en.energy AS BIGINT) AS energy,
                   CAST(zc.zcr AS BIGINT) AS zcr
            FROM en JOIN zc ON en.doc_id = zc.doc_id
              AND en.frame = zc.frame
            ORDER BY en.doc_id, en.frame
        """,
        "price_benford": """
            WITH cnt AS (
              SELECT CAST(substr(CAST(CAST(floor(l_extendedprice)
                       AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                     count(*) AS n
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1
              GROUP BY 1),
            tot AS (SELECT sum(n) AS t FROM cnt),
            spine AS (
              SELECT * FROM (VALUES
                (1, 301029), (2, 176091), (3, 124938), (4, 96910),
                (5, 79181), (6, 66946), (7, 57991), (8, 51152),
                (9, 45757)) AS e(digit, benford_ppm)),
            j AS (
              SELECT CAST(s.digit AS BIGINT) AS digit,
                     CAST(COALESCE(c.n, 0) AS BIGINT) AS n_obs,
                     CAST((1000000 * COALESCE(c.n, 0)) // tot.t
                       AS BIGINT) AS obs_ppm,
                     CAST(s.benford_ppm AS BIGINT) AS benford_ppm
              FROM spine s LEFT JOIN cnt c ON s.digit = c.digit
              CROSS JOIN tot)
            SELECT digit, n_obs, obs_ppm, benford_ppm,
                   obs_ppm - benford_ppm AS delta_ppm
            FROM j ORDER BY digit
        """,
        "hourly_acf": """
            WITH cnt AS (
              SELECT event_type,
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                     count(*) AS n
              FROM events GROUP BY 1, 2),
            rng AS (
              SELECT event_type, min(h) AS lo, max(h) AS hi
              FROM cnt GROUP BY 1),
            spine AS (
              SELECT event_type,
                     unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
              FROM rng),
            dense AS (
              SELECT s.event_type, s.h,
                     CAST(COALESCE(c.n, 0) AS BIGINT) AS n
              FROM spine s LEFT JOIN cnt c
                ON s.event_type = c.event_type AND s.h = c.h),
            ks AS (SELECT unnest(generate_series(1, 24)) AS k),
            pl AS (
              SELECT a.event_type, ks.k AS lag,
                     sum(CAST(a.n AS DECIMAL(19,0))
                       * CAST(b.n AS DECIMAL(19,0))) AS c,
                     sum(a.n) AS aa, sum(b.n) AS bb, count(*) AS p
              FROM dense a
              JOIN ks ON TRUE
              JOIN dense b ON b.event_type = a.event_type
                AND b.h = a.h - ks.k * INTERVAL 1 HOUR
              GROUP BY 1, 2),
            g AS (
              SELECT event_type, count(*) AS hh, sum(n) AS t,
                     sum(CAST(n AS DECIMAL(19,0))
                       * CAST(n AS DECIMAL(19,0))) AS s2
              FROM dense GROUP BY 1),
            fin AS (
              SELECT pl.event_type, pl.lag,
                     CAST(g.hh AS BIGINT) AS n_hours,
                     CAST(g.hh * g.hh AS DECIMAL(19,0))
                       * CAST(pl.c AS DECIMAL(19,0))
                     - CAST(g.hh * g.t AS DECIMAL(19,0))
                       * CAST(pl.aa + pl.bb AS DECIMAL(19,0))
                     + CAST(pl.p * g.t AS DECIMAL(19,0))
                       * CAST(g.t AS DECIMAL(19,0)) AS num,
                     CAST(g.hh * g.hh AS DECIMAL(19,0))
                       * CAST(g.s2 AS DECIMAL(19,0))
                     - CAST(g.hh * g.t AS DECIMAL(19,0))
                       * CAST(g.t AS DECIMAL(19,0)) AS den
              FROM pl JOIN g ON pl.event_type = g.event_type)
            SELECT event_type, lag, n_hours,
                   CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
            FROM fin WHERE den > 0
            ORDER BY event_type, lag
        """,
        "quantity_weighted_median": """
            WITH base AS (
              SELECT l_returnflag, l_extendedprice AS v,
                     CAST(l_quantity AS DECIMAL(20,6)) AS w
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL AND l_quantity > 0),
            cum AS (
              SELECT l_returnflag, v,
                     sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c
              FROM base),
            tot AS (
              SELECT l_returnflag, sum(w) AS t
              FROM base GROUP BY l_returnflag)
            SELECT cum.l_returnflag, min(cum.v) AS weighted_p1_2
            FROM cum JOIN tot ON cum.l_returnflag = tot.l_returnflag
            WHERE cum.c * 2 >= tot.t * 1
            GROUP BY cum.l_returnflag ORDER BY cum.l_returnflag
        """,
        "source_lang_entropy": """
            WITH per AS (
              SELECT source, lang, count(*) AS c
              FROM documents GROUP BY source, lang),
            tot AS (
              SELECT source, sum(c) AS n, count(*) AS n_langs
              FROM per GROUP BY source),
            num AS (
              SELECT per.source,
                     sum(per.c * CAST(floor(1000000 *
                       ln(CAST(tot.n AS DOUBLE) / CAST(per.c AS DOUBLE)))
                       AS BIGINT)) AS num
              FROM per JOIN tot ON per.source = tot.source
              GROUP BY per.source)
            SELECT tot.source, CAST(tot.n AS BIGINT) AS n_docs,
                   CAST(tot.n_langs AS BIGINT) AS n_langs,
                   CAST(num.num AS DOUBLE)
                     / CAST(tot.n * 1000000 AS DOUBLE) AS entropy
            FROM tot JOIN num ON tot.source = num.source
            ORDER BY tot.source
        """,
        "media_gif_audit": """
            WITH d AS (
              SELECT DISTINCT doc_id FROM documents WHERE doc_id < 32),
            px AS (
              SELECT d.doc_id, i.i,
                     CAST(('0x' || substr(md5(
                       'gp_' || CAST(d.doc_id AS VARCHAR) || '_' ||
                       CAST(i.i AS VARCHAR)), 1, 8)) AS BIGINT) % 16
                       AS j
              FROM d, unnest(generate_series(0, 63)) AS i(i)),
            v AS (
              SELECT px.doc_id,
                     CAST(('0x' || substr(md5(
                       'gc_' || CAST(px.doc_id AS VARCHAR) || '_' ||
                       CAST(px.j AS VARCHAR) || '_' ||
                       CAST(c.c AS VARCHAR)), 1, 8)) AS BIGINT) % 256
                       AS val
              FROM px, unnest([0, 1, 2]) AS c(c))
            SELECT doc_id, CAST(8 AS INT) AS width,
                   CAST(8 AS INT) AS height,
                   CAST(sum(val) AS DOUBLE) / 192 AS mean_px
            FROM v GROUP BY doc_id ORDER BY doc_id
        """,
        "doc_split_ks": f"""
            WITH d AS (
              SELECT CAST(len({_TOKS}) AS DOUBLE) AS v,
                     doc_id % 2 = 0 AS s
              FROM documents),
            pv AS (
              SELECT v,
                     sum(CASE WHEN s THEN 1 ELSE 0 END) AS ca,
                     sum(CASE WHEN s THEN 0 ELSE 1 END) AS cb
              FROM d GROUP BY v),
            cum AS (
              SELECT sum(ca) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cuma,
                     sum(cb) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cumb
              FROM pv),
            t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM pv)
            SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
                   CAST(max(abs(cum.cuma * t.nb - cum.cumb * t.na))
                     AS BIGINT) AS ks_num,
                   CAST(t.na * t.nb AS BIGINT) AS ks_den,
                   CAST(max(abs(cum.cuma * t.nb - cum.cumb * t.na))
                     AS DOUBLE) / CAST(t.na * t.nb AS DOUBLE) AS ks_stat
            FROM cum CROSS JOIN t GROUP BY t.na, t.nb
        """,
        "join_size_cms_audit": """
            WITH a AS (
              SELECT CAST(user_id AS VARCHAR) AS item FROM events
              WHERE user_id IS NOT NULL),
            b AS (
              SELECT CAST(o_custkey AS VARCHAR) AS item FROM orders
              WHERE o_custkey IS NOT NULL),
            ca AS (
              SELECT j,
                     CAST(('0x' || substr(md5('cms' || j || '_' || item),
                                          1, 8)) AS BIGINT) % 2048 AS cell,
                     count(*) AS cnt
              FROM a, (SELECT unnest([0, 1, 2, 3]) AS j)
              GROUP BY 1, 2),
            cb AS (
              SELECT j,
                     CAST(('0x' || substr(md5('cms' || j || '_' || item),
                                          1, 8)) AS BIGINT) % 2048 AS cell,
                     count(*) AS cnt
              FROM b, (SELECT unnest([0, 1, 2, 3]) AS j)
              GROUP BY 1, 2),
            per_j AS (
              SELECT jj.j,
                     coalesce(sum(ca.cnt * cb.cnt), 0) AS ip
              FROM (SELECT unnest([0, 1, 2, 3]) AS j) jj
              LEFT JOIN ca ON ca.j = jj.j
              LEFT JOIN cb ON cb.j = jj.j AND cb.cell = ca.cell
              GROUP BY jj.j),
            est AS (SELECT min(ip) AS cms_join_estimate FROM per_j),
            tru AS (
              SELECT count(*) AS true_join_size
              FROM a JOIN b ON a.item = b.item)
            SELECT tru.true_join_size,
                   CAST(est.cms_join_estimate AS BIGINT)
                     AS cms_join_estimate,
                   CAST(est.cms_join_estimate - tru.true_join_size
                     AS BIGINT) AS overestimate
            FROM tru CROSS JOIN est
        """,
        "incremental_join_deletes": """
            SELECT o.o_custkey, count(*) AS n_rows,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(20,6)))
                     AS DOUBLE) AS revenue
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderdate >= TIMESTAMP '1993-01-01'
              AND l.l_shipdate >= TIMESTAMP '1993-01-01'
            GROUP BY o.o_custkey ORDER BY o.o_custkey
        """,
        "order_size_price_spearman": """
            WITH per AS (
              SELECT l_orderkey, count(*) AS n_items
              FROM lineitem GROUP BY l_orderkey),
            j AS (
              SELECT per.n_items, o.o_totalprice
              FROM orders o JOIN per ON o.o_orderkey = per.l_orderkey),
            r AS (
              SELECT CAST(2 * rank() OVER (ORDER BY n_items)
                          + count(*) OVER (PARTITION BY n_items) - 1
                       AS HUGEINT) AS u,
                     CAST(2 * rank() OVER (ORDER BY o_totalprice)
                          + count(*) OVER (PARTITION BY o_totalprice) - 1
                       AS HUGEINT) AS v
              FROM j),
            m AS (
              SELECT CAST(count(*) AS HUGEINT) AS n,
                     sum(u) AS su, sum(v) AS sv,
                     sum(u * u) AS suu, sum(v * v) AS svv,
                     sum(u * v) AS suv
              FROM r)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(n * suv - su * sv AS DOUBLE)
                     / (sqrt(CAST(n * suu - su * su AS DOUBLE))
                        * sqrt(CAST(n * svv - sv * sv AS DOUBLE))) AS rho
            FROM m
        """,
        "corpus_zipf_fit": f"""
            WITH tok AS (
              SELECT unnest({_TOKS}) AS t FROM documents),
            cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
            top AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 500),
            ranked AS (
              SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
              FROM top),
            xy AS (
              SELECT CAST(floor(1000000 * ln(CAST(r AS DOUBLE)))
                       AS HUGEINT) AS x,
                     CAST(floor(1000000 * ln(CAST(c AS DOUBLE)))
                       AS HUGEINT) AS y
              FROM ranked),
            m AS (
              SELECT CAST(count(*) AS HUGEINT) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x * x) AS sxx, sum(x * y) AS sxy
              FROM xy)
            SELECT CAST(n AS BIGINT) AS n_terms,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
                   CAST(sy * (n * sxx - sx * sx)
                        - (n * sxy - sx * sy) * sx AS DOUBLE)
                     / CAST(n * (n * sxx - sx * sx) AS DOUBLE)
                     / 1000000 AS intercept
            FROM m
        """,
        "doc_winnow_pairs": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS tk FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS pos, len(tk) - 3 + 1 AS ng,
                     array_to_string(tk[i:i+2], ' ') AS gram
              FROM toks,
                   unnest(generate_series(1, greatest(len(tk) - 2, 0)))
                     AS r(i)),
            keyed AS (
              SELECT doc_id, pos, ng,
                     {_h32_sql('gram')} * 2097152 + (1048576 - pos)
                       AS key
              FROM g),
            wins AS (
              SELECT doc_id, pos, ng,
                     min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW
                                    AND 3 FOLLOWING) AS wkey
              FROM keyed),
            sel AS (
              SELECT DISTINCT doc_id, wkey // 2097152 AS fp
              FROM wins WHERE pos = 0 OR pos <= ng - 4),
            capped AS (
              SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sel a JOIN capped USING (fp) JOIN sel b USING (fp)
              WHERE a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, count(*) AS n_shared
            FROM pairs GROUP BY doc_a, doc_b HAVING count(*) >= 2
            ORDER BY n_shared DESC, doc_a, doc_b
        """,
        "media_jpeg420_audit": """
            WITH d AS (
              SELECT DISTINCT doc_id FROM documents WHERE doc_id < 32),
            v AS (
              SELECT d.doc_id, t.t, c.c,
                     CAST(('0x' || substr(md5(
                       'jt_' || CAST(d.doc_id AS VARCHAR) || '_' ||
                       CAST(t.t AS VARCHAR) || '_' ||
                       CAST(c.c AS VARCHAR)), 1, 8)) AS BIGINT) % 256
                       AS val
              FROM d, unnest([0, 1]) AS t(t), unnest([0, 1, 2]) AS c(c))
            SELECT doc_id, CAST(32 AS INT) AS width,
                   CAST(16 AS INT) AS height,
                   CAST(sum(val) * 256 AS DOUBLE) / 1536 AS mean_px
            FROM v GROUP BY doc_id ORDER BY doc_id
        """,
        # codec-free md5 recomputation with the 'jp411_' tile key —
        # the Spark kernel must decode the FACTOR-4 stream to these
        # exact means (it asserts the 0x41 sampling byte + pixel
        # equality before emitting); sum(val)/6 = (sum*256 px)/1536
        # channel-samples, the identical rational, so the one double
        # division matches the kernel's bit for bit
        "media_jpeg411_audit": """
            WITH d AS (
              SELECT DISTINCT doc_id FROM documents WHERE doc_id < 32),
            v AS (
              SELECT d.doc_id, t.t, c.c,
                     CAST(('0x' || substr(md5(
                       'jp411_' || CAST(d.doc_id AS VARCHAR) || '_' ||
                       CAST(t.t AS VARCHAR) || '_' ||
                       CAST(c.c AS VARCHAR)), 1, 8)) AS BIGINT) % 256
                       AS val
              FROM d, unnest([0, 1]) AS t(t), unnest([0, 1, 2]) AS c(c))
            SELECT doc_id, CAST(64 AS INT) AS width,
                   CAST(8 AS INT) AS height,
                   CAST(sum(val) AS DOUBLE) / 6 AS mean_px
            FROM v GROUP BY doc_id ORDER BY doc_id
        """,
        "media_jpeg12_audit": """
            WITH d AS (
              SELECT DISTINCT doc_id FROM documents WHERE doc_id < 32),
            v AS (
              SELECT d.doc_id, t.t,
                     (CAST(('0x' || substr(md5(
                       'jp12_' || CAST(d.doc_id AS VARCHAR) || '_' ||
                       CAST(t.t AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 2048) * 2 AS val
              FROM d, unnest([0, 1]) AS t(t))
            SELECT doc_id, CAST(32 AS INT) AS width,
                   CAST(16 AS INT) AS height,
                   CAST(sum(val) AS DOUBLE) / 2 AS mean_px
            FROM v GROUP BY doc_id ORDER BY doc_id
        """,
        # same codec-free md5 recomputation with the 'jp_' tile key —
        # the Spark side must decode the PROGRESSIVE stream to these
        # exact means (kernel asserts SOF2 + scan count + pixel
        # equality before emitting)
        "media_jpeg_prog_audit": """
            WITH d AS (
              SELECT DISTINCT doc_id FROM documents WHERE doc_id < 32),
            v AS (
              SELECT d.doc_id, t.t, c.c,
                     CAST(('0x' || substr(md5(
                       'jp_' || CAST(d.doc_id AS VARCHAR) || '_' ||
                       CAST(t.t AS VARCHAR) || '_' ||
                       CAST(c.c AS VARCHAR)), 1, 8)) AS BIGINT) % 256
                       AS val
              FROM d, unnest([0, 1]) AS t(t), unnest([0, 1, 2]) AS c(c))
            SELECT doc_id, CAST(32 AS INT) AS width,
                   CAST(16 AS INT) AS height,
                   CAST(sum(val) * 256 AS DOUBLE) / 1536 AS mean_px
            FROM v GROUP BY doc_id ORDER BY doc_id
        """,
        "click_attribution_outer": """
            WITH c AS (
              SELECT user_id, event_id AS click_id, ts AS click_ts
              FROM events WHERE event_type = 'click'),
            p AS (
              SELECT user_id AS p_user, event_id AS purchase_id,
                     ts AS purchase_ts, value
              FROM events WHERE event_type = 'purchase')
            SELECT c.user_id, c.click_id, c.click_ts,
                   p.purchase_id, p.purchase_ts, p.value
            FROM c LEFT JOIN p
              ON c.user_id = p.p_user
             AND p.purchase_ts >= c.click_ts
             AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
            ORDER BY click_id, purchase_id
        """,
        "part_fuzzy_pairs": """
            WITH p AS (
              SELECT min(p_partkey) AS id, p_name AS s
              FROM part GROUP BY p_name)
            SELECT a.id AS id1, b.id AS id2,
                   CAST(levenshtein(a.s, b.s) AS INT) AS dist
            FROM p a JOIN p b
              ON a.id < b.id AND abs(len(a.s) - len(b.s)) <= 2
            WHERE levenshtein(a.s, b.s) <= 2
            ORDER BY id1, id2
        """,
        "hourly_anomalies": """
            WITH cnt AS (
              SELECT event_type,
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                     count(*) AS n
              FROM events GROUP BY 1, 2),
            mom AS (
              SELECT event_type, count(*) AS h,
                     sum(n) AS s1, sum(n * n) AS s2
              FROM cnt GROUP BY event_type),
            st AS (
              SELECT event_type,
                     CAST(s1 AS DOUBLE) / CAST(h AS DOUBLE) AS mean,
                     CASE WHEN h > 1
                            AND (CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                   / CAST(h AS DOUBLE))
                                / (CAST(h AS DOUBLE) - 1) > 0
                          THEN sqrt((CAST(s2 AS DOUBLE)
                                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                       / CAST(h AS DOUBLE))
                                    / (CAST(h AS DOUBLE) - 1))
                     END AS sd
              FROM mom)
            SELECT c.event_type, c.ts_hour, CAST(c.n AS BIGINT) AS n,
                   (CAST(c.n AS DOUBLE) - st.mean) / st.sd AS z
            FROM cnt c JOIN st ON c.event_type = st.event_type
            WHERE abs((CAST(c.n AS DOUBLE) - st.mean) / st.sd) > 2.0
            ORDER BY c.event_type, c.ts_hour
        """,
        "corpus_collocations": """
            WITH toks AS (
              SELECT string_split(trim(text), ' ') AS tk FROM documents),
            uni AS (SELECT unnest(tk) AS t FROM toks),
            ucnt AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
            n AS (SELECT count(*) AS n FROM uni),
            bg AS (
              SELECT unnest(list_transform(
                       generate_series(1, greatest(len(tk) - 1, 0)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS pair
              FROM toks),
            pcnt AS (SELECT pair, count(*) AS n_pair FROM bg GROUP BY pair),
            b AS (SELECT sum(n_pair) AS b FROM pcnt),
            scored AS (
              SELECT string_split(p.pair, ' ')[1] AS a,
                     string_split(p.pair, ' ')[2] AS b,
                     CAST(p.n_pair AS BIGINT) AS n_pair,
                     (CAST(p.n_pair AS DOUBLE) * CAST(n.n AS DOUBLE)
                      * CAST(n.n AS DOUBLE))
                     / (CAST(b.b AS DOUBLE) * CAST(ca.c AS DOUBLE)
                        * CAST(cb.c AS DOUBLE)) AS lift
              FROM pcnt p
              JOIN ucnt ca ON ca.t = string_split(p.pair, ' ')[1]
              JOIN ucnt cb ON cb.t = string_split(p.pair, ' ')[2]
              CROSS JOIN n CROSS JOIN b
              WHERE p.n_pair >= 5)
            SELECT a, b, n_pair, lift FROM scored
            ORDER BY lift DESC, a, b LIMIT 50
        """,
        "site_trend_slopes": """
            WITH t AS (
              SELECT event_type,
                     CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                       // 3600 AS x,
                     value AS y
              FROM events WHERE value IS NOT NULL),
            a AS (
              SELECT event_type, count(*) AS n,
                     sum(x) AS sx, sum(x * x) AS sxx,
                     CAST(sum(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
                     CAST(sum(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(38,6)))
                          AS DOUBLE) AS sxy
              FROM t GROUP BY event_type),
            s AS (
              SELECT event_type, n, sx, sy,
                     CASE WHEN n > 1
                            AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                != 0
                          THEN (CAST(n AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy)
                               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     END AS slope
              FROM a)
            SELECT event_type, CAST(n AS BIGINT) AS n, slope,
                   (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
                     AS intercept
            FROM s ORDER BY event_type
        """,
        "semantic_dedup_auto": f"""
            WITH RECURSIVE e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            k AS (SELECT greatest(8, (count(*) + 49) // 50) AS k FROM e),
            c AS (SELECT vec_id AS cid, v AS cv
                  FROM e WHERE vec_id < (SELECT k FROM k)),
            scored AS (
              SELECT e.vec_id, e.v, c.cid,
                     {_COS_SQL.format(a='e.v', b='c.cv')} AS sim
              FROM e CROSS JOIN c),
            assigned AS (
              SELECT vec_id, v, cid FROM (
                SELECT vec_id, v, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid) AS rn
                FROM scored) WHERE rn = 1),
            p AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM assigned a JOIN assigned b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE {_COS_SQL.format(a='a.v', b='b.v')} >= 0.4),
            und AS (
              SELECT vec_a AS a, vec_b AS b FROM p
              UNION SELECT vec_b AS a, vec_a AS b FROM p),
            reach(a, b) AS (
              SELECT a, b FROM und
              UNION
              SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
            comp AS (
              SELECT a AS vec_id, least(a, min(b)) AS component
              FROM reach GROUP BY a)
            SELECT emb.vec_id
            FROM embeddings emb
            LEFT JOIN comp c2
              ON emb.vec_id = c2.vec_id AND c2.vec_id != c2.component
            WHERE c2.vec_id IS NULL
            ORDER BY emb.vec_id
        """,
        "ann_lsh_pairs": _cos_lsh_sql(0.2, S.LSH_MAX_BUCKET),
        # gold math mirrors plans/gold.py with identical association order
        "gold_features": """
            SELECT event_type AS site,
                   CAST(ts AS TIMESTAMP) AS ts_utc,
                   value / 1000.0 AS ghi_kwh_m2,
                   value / 1000.0 * 0.2 * 10000.0 / 1000.0 AS pv_est_mwh,
                   least(3062.5 * ((value / 50.0) * (value / 50.0) * (value / 50.0)) * 0.4 / 1000000.0, 3.0)
                     AS wind_est_mwh
            FROM events ORDER BY site, ts_utc
        """,
        "gold_kpis": """
            SELECT site, ts_utc,
                   2.0 AS pv_capacity_mw,
                   3.0 AS wind_capacity_mw,
                   greatest(least(pv_est_mwh / 2.0, 1.2), 0.0) AS pv_cf,
                   greatest(least(wind_est_mwh / 3.0, 1.2), 0.0) AS wind_cf
            FROM (
              SELECT event_type AS site,
                     CAST(ts AS TIMESTAMP) AS ts_utc,
                     value / 1000.0 * 0.2 * 10000.0 / 1000.0 AS pv_est_mwh,
                     least(3062.5 * ((value / 50.0) * (value / 50.0) * (value / 50.0)) * 0.4 / 1000000.0, 3.0)
                       AS wind_est_mwh
              FROM events
            ) ORDER BY site, ts_utc
        """,
        "forecast_baseline": _PSEUDO_FEATURES_CTE
        + """,
            fc AS (
              SELECT site, ts_utc + INTERVAL 1 HOUR AS ts_utc,
                     'baseline' AS model, var, 1 AS horizon_h,
                     lag_h1 AS yraw, sigma
              FROM sig
              UNION ALL
              SELECT site, ts_utc + INTERVAL 24 HOUR AS ts_utc,
                     'baseline' AS model, var, 24 AS horizon_h,
                     lag_h24 AS yraw, sigma
              FROM sig
            )
            SELECT site, ts_utc, model, var, horizon_h,
                   round(greatest(yraw, 0.0), 6) AS yhat,
                   round(greatest(greatest(yraw, 0.0)
                         - 1.96 * coalesce(sigma, 0.0), 0.0), 6) AS yhat_lower,
                   round(greatest(yraw, 0.0)
                         + 1.96 * coalesce(sigma, 0.0), 6) AS yhat_upper
            FROM fc WHERE yraw IS NOT NULL
            ORDER BY site, var, horizon_h, ts_utc
        """,
        "asof_purchase_view": """
            WITH l AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS value
              FROM events WHERE event_type = 'view' GROUP BY 1, 2)
            SELECT l.user_id, l.ts, l.event_id, l.value,
                   r.value AS value_right, r.ts AS matched_ts
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY l.user_id, l.ts, l.event_id
        """,
        "dropped_events": _CASCADE_CTE
        + """
            SELECT event_id, user_id, value FROM events
            EXCEPT ALL
            SELECT event_id, user_id, value FROM labeled WHERE reason = 'kept'
            ORDER BY event_id
        """,
        "type_status_rollup": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """,
        "silver_clean": """
            WITH b AS (
              SELECT event_type AS site, CAST(ts AS TIMESTAMP) AS ts_utc,
                     value AS ghi_wm2, value - 150.0 AS t2m_c,
                     value / 50.0 AS ws10_mps,
                     CAST(ts AS TIMESTAMP) AS ingested_at
              FROM events
            ), v AS (
              SELECT site, ts_utc, date_trunc('hour', ts_utc) AS ts_hour,
                     CASE WHEN ghi_wm2 >= 0 THEN ghi_wm2 END AS ghi_wm2,
                     CASE WHEN t2m_c BETWEEN -80 AND 80 THEN t2m_c END AS t2m_c,
                     CASE WHEN ws10_mps >= 0 THEN ws10_mps END AS ws10_mps,
                     ingested_at
              FROM b
            ), c AS (
              SELECT * FROM v
              WHERE ghi_wm2 IS NOT NULL AND t2m_c IS NOT NULL
                AND ws10_mps IS NOT NULL
            ), d AS (
              SELECT *, row_number() OVER (
                PARTITION BY site, ts_hour
                ORDER BY ingested_at DESC, ts_utc DESC) AS rn
              FROM c
            )
            SELECT site, CAST(ts_hour AS TIMESTAMP) AS ts_utc, ghi_wm2,
                   t2m_c AS temp_c, ws10_mps AS wind_mps
            FROM d WHERE rn = 1
            ORDER BY site, ts_utc
        """,
        "customers_with_orders": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey
        """,
        "events_iso_payload": """
            SELECT event_id,
                   strftime(ts, '%Y-%m-%dT%H:%M:%S') || '+00:00' AS ts_iso,
                   event_type, value
            FROM (
              SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
            ) ORDER BY event_id
        """,
        "upsert_merge": """
            WITH shaped AS (
              SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                     value, CAST(ts AS TIMESTAMP) AS ingested_at
              FROM events
            ), un AS (
              SELECT *, 0 AS _src FROM shaped
              WHERE ingested_at < TIMESTAMP '2024-01-15 00:00:00'
              UNION ALL
              SELECT *, 1 AS _src FROM shaped
              WHERE ingested_at >= TIMESTAMP '2024-01-10 00:00:00'
            ), d AS (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, ts_hour
                ORDER BY ingested_at DESC, _src DESC) AS rn
              FROM un
            )
            SELECT user_id, ts_hour, value, ingested_at
            FROM d WHERE rn = 1
            ORDER BY user_id, ts_hour
        """,
        "revenue_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "doc_token_counts": f"""
            SELECT doc_id,
                   CAST({_STATS['n_tokens']} AS INTEGER) AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        # forecast_sarimax: intentionally no oracle — per-group model fit
        # via applyInPandas is not SQL-expressible (rows-only check)
        "quarantine_summary": """
            WITH b AS (
              SELECT value AS ghi_wm2, value - 150.0 AS t2m_c,
                     value / 50.0 AS ws10_mps
              FROM events
            ), v AS (
              SELECT CASE WHEN ghi_wm2 IS NOT NULL AND ghi_wm2 < 0
                          THEN 'ghi_wm2' END AS v1,
                     CASE WHEN t2m_c IS NOT NULL
                               AND (t2m_c < -80 OR t2m_c > 80)
                          THEN 't2m_c' END AS v2,
                     CASE WHEN ws10_mps IS NOT NULL AND ws10_mps < 0
                          THEN 'ws10_mps' END AS v3
              FROM b
            ), exploded AS (
              SELECT v1 AS rule FROM v WHERE v1 IS NOT NULL
              UNION ALL SELECT v2 FROM v WHERE v2 IS NOT NULL
              UNION ALL SELECT v3 FROM v WHERE v3 IS NOT NULL
            )
            SELECT rule, count(*) AS n_violations
            FROM exploded GROUP BY rule ORDER BY rule
        """,
        "near_dup_clusters": _cc_sql_prefix()
        + """
            SELECT a AS doc_id, least(a, min(b)) AS component
            FROM reach GROUP BY a ORDER BY doc_id
        """,
        "dedup_corpus": _cc_sql_prefix()
        + """,
            comp AS (
              SELECT a AS doc_id, least(a, min(b)) AS component
              FROM reach GROUP BY a)
            SELECT d.doc_id, d.source, d.lang, d.n_chars
            FROM documents d
            LEFT JOIN comp c
              ON d.doc_id = c.doc_id AND c.doc_id != c.component
            WHERE c.doc_id IS NULL
            ORDER BY d.doc_id
        """,
        "hourly_agg_incremental": """
            WITH b AS (
              SELECT event_type,
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                     value, user_id
              FROM events)
            SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     / count(*) AS avg_value,
                   min(value) AS min_value, max(value) AS max_value,
                   TRUE AS users_ok
            FROM b GROUP BY event_type, hour ORDER BY event_type, hour
        """,
        "doc_feature_hashes": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
            fh AS (
              SELECT doc_id,
                     {_h32_sql("'feat' || t")} % 1024 AS feature_idx
              FROM tok),
            tf AS (
              SELECT doc_id, feature_idx, CAST(count(*) AS BIGINT) AS tf
              FROM fh GROUP BY doc_id, feature_idx)
            SELECT feature_idx, CAST(sum(tf) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM tf GROUP BY feature_idx
            ORDER BY n_tokens DESC, feature_idx LIMIT 50
        """,
        "referential_audit": """
            WITH r AS (
              SELECT 'customer.c_nationkey->nation' AS relation,
                     (SELECT count(*) FROM customer
                      WHERE c_nationkey IS NOT NULL) AS n_children,
                     (SELECT count(*) FROM customer c
                      WHERE c_nationkey IS NOT NULL AND NOT EXISTS (
                        SELECT 1 FROM nation n
                        WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
              UNION ALL
              SELECT 'lineitem.l_orderkey->orders',
                     (SELECT count(*) FROM lineitem
                      WHERE l_orderkey IS NOT NULL),
                     (SELECT count(*) FROM lineitem l
                      WHERE l_orderkey IS NOT NULL AND NOT EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey))
              UNION ALL
              SELECT 'nation.n_regionkey->region',
                     (SELECT count(*) FROM nation
                      WHERE n_regionkey IS NOT NULL),
                     (SELECT count(*) FROM nation n
                      WHERE n_regionkey IS NOT NULL AND NOT EXISTS (
                        SELECT 1 FROM region r
                        WHERE r.r_regionkey = n.n_regionkey))
              UNION ALL
              SELECT 'orders.o_custkey->customer',
                     (SELECT count(*) FROM orders
                      WHERE o_custkey IS NOT NULL),
                     (SELECT count(*) FROM orders o
                      WHERE o_custkey IS NOT NULL AND NOT EXISTS (
                        SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey))
              UNION ALL
              SELECT 'supplier.s_nationkey->nation',
                     (SELECT count(*) FROM supplier
                      WHERE s_nationkey IS NOT NULL),
                     (SELECT count(*) FROM supplier s
                      WHERE s_nationkey IS NOT NULL AND NOT EXISTS (
                        SELECT 1 FROM nation n
                        WHERE n.n_nationkey = s.s_nationkey)))
            SELECT relation, CAST(n_children AS BIGINT) AS n_children,
                   CAST(n_orphans AS BIGINT) AS n_orphans,
                   n_orphans = 0 AS ok
            FROM r ORDER BY relation
        """,
        "doc_curriculum": """
            SELECT doc_id, n_chars,
                   CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                        AS BIGINT) AS "rank"
            FROM documents ORDER BY "rank"
        """,
        "doc_sample_fixed": """
            SELECT doc_id, source, lang, n_chars FROM (
              SELECT doc_id, source, lang, n_chars,
                     CAST(('0x' || substr(md5('sample' ||
                       CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
              FROM documents ORDER BY h, doc_id LIMIT 100)
            ORDER BY doc_id
        """,
        "hourly_count_decomposition": """
            WITH hourly AS (
              SELECT event_type AS key,
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY key, hour),
            d AS (
              SELECT key, hour, n,
                     CAST(sum(n) OVER w_ma AS DOUBLE)
                       / count(n) OVER w_ma AS trend,
                     CAST(sum(n) OVER w_slot AS DOUBLE)
                       / count(n) OVER w_slot
                     - CAST(sum(n) OVER w_all AS DOUBLE)
                       / count(n) OVER w_all AS seasonal
              FROM hourly
              WINDOW
                w_ma AS (PARTITION BY key ORDER BY hour
                         ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING),
                w_slot AS (PARTITION BY key, EXTRACT(hour FROM hour)),
                w_all AS (PARTITION BY key))
            SELECT key, hour, n, trend, seasonal,
                   n - trend - seasonal AS resid
            FROM d ORDER BY key, hour
        """,
        "doc_sparse_cosine": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS tk FROM documents),
            tok AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(tk) - 2, 0)),
                       i -> array_to_string(tk[i:i+2], ' '))) AS t
              FROM toks),
            fh AS (
              SELECT doc_id,
                     {_h32_sql("'feat' || t")} % 1048576 AS f,
                     CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, f),
            df_ok AS (
              SELECT f FROM fh GROUP BY f HAVING count(*) <= 1000),
            posting AS (
              SELECT fh.* FROM fh JOIN df_ok USING (f)),
            norms AS (
              SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS sq
              FROM fh GROUP BY doc_id),
            dots AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
              FROM posting a JOIN posting b
                ON a.f = b.f AND a.doc_id < b.doc_id
              GROUP BY doc_a, doc_b)
            SELECT doc_a, doc_b,
                   dot / (sqrt(na.sq) * sqrt(nb.sq)) AS cos
            FROM dots
            JOIN norms na ON doc_a = na.doc_id
            JOIN norms nb ON doc_b = nb.doc_id
            WHERE dot / (sqrt(na.sq) * sqrt(nb.sq)) >= 0.5
            ORDER BY doc_a, doc_b
        """,
        "token_heavy_hitters": f"""
            WITH tok AS (
              SELECT unnest({_TOKS}) AS item FROM documents),
            tot AS (SELECT count(*) AS n FROM tok)
            SELECT item, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM tok, tot GROUP BY item, n HAVING count(*) > n / 100
            ORDER BY n_occurrences DESC, item
        """,
        "event_type_drift": """
            WITH b AS (
              SELECT date_trunc('day', min(ts)) + INTERVAL 15 DAY AS boundary
              FROM events),
            rc AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS ref_n
              FROM events, b WHERE ts < boundary GROUP BY event_type),
            cc AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS cur_n
              FROM events, b WHERE ts >= boundary GROUP BY event_type),
            j AS (
              SELECT coalesce(rc.event_type, cc.event_type) AS event_type,
                     coalesce(ref_n, 0) AS ref_n,
                     coalesce(cur_n, 0) AS cur_n
              FROM rc FULL OUTER JOIN cc ON rc.event_type = cc.event_type),
            t AS (SELECT CAST(sum(ref_n) AS DOUBLE) AS rt,
                         CAST(sum(cur_n) AS DOUBLE) AS ct FROM j),
            rated AS (
              SELECT event_type, ref_n, cur_n,
                     CAST(ref_n AS DOUBLE) / rt AS ref_rate,
                     CAST(cur_n AS DOUBLE) / ct AS cur_rate
              FROM j CROSS JOIN t)
            SELECT event_type, ref_n, cur_n, ref_rate, cur_rate,
                   abs(cur_rate - ref_rate) AS rate_diff,
                   ((cur_rate - ref_rate) * (cur_rate - ref_rate))
                     / nullif(ref_rate, 0.0) AS chi2_term,
                   abs(cur_rate - ref_rate) > 0.01 AS drifted
            FROM rated ORDER BY event_type
        """,
        "value_drift": """
            WITH b AS (
              SELECT date_trunc('day', min(ts)) + INTERVAL 15 DAY AS boundary
              FROM events),
            rsel AS (
              SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin
              FROM events, b WHERE ts < boundary),
            csel AS (
              SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin
              FROM events, b WHERE ts >= boundary),
            rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS ref_n
                   FROM rsel GROUP BY bin),
            cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS cur_n
                   FROM csel GROUP BY bin),
            j AS (
              SELECT coalesce(rc.bin, cc.bin) AS bin,
                     coalesce(ref_n, 0) AS ref_n,
                     coalesce(cur_n, 0) AS cur_n
              FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin),
            t AS (SELECT CAST(sum(ref_n) AS DOUBLE) AS rt,
                         CAST(sum(cur_n) AS DOUBLE) AS ct FROM j),
            rated AS (
              SELECT bin, ref_n, cur_n,
                     CAST(ref_n AS DOUBLE) / rt AS ref_rate,
                     CAST(cur_n AS DOUBLE) / ct AS cur_rate
              FROM j CROSS JOIN t)
            SELECT bin, ref_n, cur_n, ref_rate, cur_rate,
                   abs(cur_rate - ref_rate) AS rate_diff,
                   ((cur_rate - ref_rate) * (cur_rate - ref_rate))
                     / nullif(ref_rate, 0.0) AS chi2_term,
                   abs(cur_rate - ref_rate) > 0.01 AS drifted
            FROM rated ORDER BY bin
        """,
        "leakage_safe_split": _cc_sql_prefix()
        + """,
            comp AS (
              SELECT a AS doc_id, least(a, min(b)) AS component
              FROM reach GROUP BY a),
            keyed AS (
              SELECT d.doc_id, d.n_chars,
                     coalesce(c.component, d.doc_id) AS group_key
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
            sp AS (
              SELECT doc_id, n_chars, group_key,
                     CASE WHEN bkt < 9000 THEN 'train'
                          WHEN bkt < 9500 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT keyed.*,
                      CAST(('0x' || substr(md5('split' ||
                        CAST(group_key AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 10000 AS bkt
                    FROM keyed)),
            viol AS (
              SELECT CAST(count(*) AS BIGINT) AS cross_split_pairs
              FROM (SELECT DISTINCT doc_a, doc_b FROM verified
                    WHERE jacc >= 0.5) p
              JOIN sp pa ON p.doc_a = pa.doc_id
              JOIN sp pb ON p.doc_b = pb.doc_id
              WHERE pa.split != pb.split)
            SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT s.group_key) AS BIGINT) AS n_groups,
                   CAST(sum(s.n_chars) AS BIGINT) AS total_chars,
                   v.cross_split_pairs
            FROM sp s CROSS JOIN viol v
            GROUP BY s.split, v.cross_split_pairs
            ORDER BY s.split
        """,
        "doc_containment_pairs": _SHINGLE_CTE
        + """,
            cand AS (
              SELECT a.doc_id AS da, b.doc_id AS db,
                     CAST(count(*) AS BIGINT) AS inter
              FROM inv a JOIN inv b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY da, db),
            dir AS (
              SELECT da AS inner_doc, db AS outer_doc,
                     (inter * 1.0) / sa.n AS containment
              FROM cand JOIN sizes sa ON da = sa.doc_id
              UNION ALL
              SELECT db, da, (inter * 1.0) / sb.n
              FROM cand JOIN sizes sb ON db = sb.doc_id)
            SELECT inner_doc, outer_doc, containment
            FROM dir WHERE containment >= 0.9
            ORDER BY inner_doc, outer_doc
        """,
        "dedup_corpus_best": _cc_sql_prefix()
        + """,
            comp AS (
              SELECT a AS doc_id, least(a, min(b)) AS component
              FROM reach GROUP BY a),
            ranked AS (
              SELECT c.doc_id, c.component,
                     row_number() OVER (PARTITION BY c.component
                                        ORDER BY d.n_chars DESC, c.doc_id)
                       AS rn
              FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
            losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
            SELECT d.doc_id, d.source, d.lang, d.n_chars
            FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
            WHERE l.doc_id IS NULL ORDER BY d.doc_id
        """,
        "dedup_cluster_sizes": _cc_sql_prefix()
        + """,
            comp AS (
              SELECT a AS doc_id, least(a, min(b)) AS component
              FROM reach GROUP BY a),
            csizes AS (
              SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component),
            multi AS (
              SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
              FROM csizes GROUP BY cluster_size),
            singles AS (
              SELECT CAST(1 AS BIGINT) AS cluster_size,
                     CAST((SELECT count(*) FROM documents)
                          - (SELECT count(*) FROM comp) AS BIGINT)
                       AS n_clusters),
            hist AS (SELECT * FROM multi UNION ALL SELECT * FROM singles)
            SELECT cluster_size, n_clusters,
                   CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
            FROM hist ORDER BY cluster_size
        """,
        "pipeline_lineage": _PSEUDO_FEATURES_CTE
        + """,
            counts AS (
              SELECT (SELECT count(*) FROM sig WHERE lag_h1 IS NOT NULL)
                   + (SELECT count(*) FROM sig WHERE lag_h24 IS NOT NULL)
                     AS fc_n
            )
            SELECT tier, n_rows FROM (
              SELECT '1_bronze' AS tier,
                     (SELECT count(*) FROM events) AS n_rows
              UNION ALL
              SELECT '2_silver', (SELECT count(*) FROM (
                SELECT DISTINCT event_type, date_trunc('hour', ts)
                FROM events
                WHERE value >= 0
                  AND (value - 150.0) BETWEEN -80 AND 80
                  AND value / 50.0 >= 0))
              UNION ALL
              SELECT '3_gold_features', (SELECT count(*) FROM events)
              UNION ALL
              SELECT '4_gold_forecast', (SELECT fc_n FROM counts)
            ) ORDER BY tier
        """,
        "value_percentiles": """
            SELECT event_type,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.9) AS p90,
                   quantile_cont(value, 0.99) AS p99
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "silver_reason_counts": _SILVER_CASCADE_CTE
        + """
            SELECT reason, count(*) AS n FROM lab
            GROUP BY reason ORDER BY n DESC, reason
        """,
        "silver_clean_vs_actual": _SILVER_CASCADE_CTE
        + """,
            sim AS (
              SELECT site, count(*) AS sim_kept FROM lab
              WHERE reason = 'kept' GROUP BY site
            ),
            cleaned AS (
              SELECT site, ts_hour FROM (
                SELECT site, ts_hour,
                       row_number() OVER (
                         PARTITION BY site, ts_hour
                         ORDER BY ingested_at DESC, ts_utc DESC) AS rn2
                FROM v WHERE valid
              ) WHERE rn2 = 1
            ),
            act AS (SELECT site, count(*) AS actual_rows FROM cleaned GROUP BY site)
            SELECT COALESCE(sim.site, act.site) AS site,
                   COALESCE(sim_kept, 0) AS sim_kept,
                   COALESCE(actual_rows, 0) AS actual_rows,
                   COALESCE(sim_kept, 0) - COALESCE(actual_rows, 0) AS diff
            FROM sim FULL OUTER JOIN act ON sim.site = act.site
            ORDER BY site
        """,
        # forecast_mllib: intentionally no oracle — distributed
        # normal-equation LinearRegression is not SQL-expressible
        "promo_revenue": """
            SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
                     AS ship_month,
                   round(sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END) * 100.0
                         / sum(l_extendedprice * (1 - l_discount)), 4)
                     AS promo_pct,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1 ORDER BY 1
        """,
        "hourly_window_agg": """
            WITH b AS (
              SELECT event_type AS site,
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_utc,
                     value AS ghi, value - 150.0 AS t2m, value / 50.0 AS ws
              FROM events
            )
            SELECT site, ts_utc,
                   CAST(sum(CAST(ghi AS DECIMAL(20,6))) AS DOUBLE)
                     / count(ghi) AS ghi_wm2,
                   CAST(sum(CAST(t2m AS DECIMAL(20,6))) AS DOUBLE)
                     / count(t2m) AS t2m_c,
                   CAST(sum(CAST(ws AS DECIMAL(20,6))) AS DOUBLE)
                     / count(ws) AS ws10_mps,
                   count(*) AS n_obs
            FROM b GROUP BY site, ts_utc ORDER BY site, ts_utc
        """,
        "doc_duplicated_spans": """
            WITH toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS tk
              FROM documents
            ),
            sh AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(tk) - 4, 0)),
                       i -> {'p': i - 1,
                             'gram': array_to_string(tk[i:i+4], ' ')})) AS s
              FROM toks
            ),
            grams AS (SELECT doc_id, s.p AS p, s.gram AS gram FROM sh),
            hot AS (
              SELECT gram FROM grams
              GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ),
            hp AS (SELECT g.doc_id, g.p FROM grams g JOIN hot USING (gram)),
            isl AS (
              SELECT doc_id, p,
                     p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
                       AS grp
              FROM hp
            ),
            spans AS (
              SELECT doc_id, min(p) AS s, max(p) + 4 AS e
              FROM isl GROUP BY doc_id, grp
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
                   CAST(max(e - s + 1) AS BIGINT) AS longest_span
            FROM spans GROUP BY doc_id ORDER BY doc_id
        """,
        "doc_scrubbed_spans": """
            WITH toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS tk
              FROM documents
            ),
            sh AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(tk) - 4, 0)),
                       i -> {'p': i - 1,
                             'gram': array_to_string(tk[i:i+4], ' ')})) AS s
              FROM toks
            ),
            grams AS (SELECT doc_id, s.p AS p, s.gram AS gram FROM sh),
            hot AS (
              SELECT gram FROM grams
              GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ),
            hp AS (SELECT g.doc_id, g.p FROM grams g JOIN hot USING (gram)),
            isl AS (
              SELECT doc_id, p,
                     p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
                       AS grp
              FROM hp
            ),
            spans AS (
              SELECT doc_id, min(p) AS s, max(p) + 4 AS e
              FROM isl GROUP BY doc_id, grp
            ),
            ptok AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(1, len(tk)),
                       i -> {'p': i - 1, 'tok': tk[i]})) AS t
              FROM toks
            ),
            pt AS (SELECT doc_id, t.p AS p, t.tok AS tok FROM ptok),
            removed AS (
              SELECT DISTINCT pt.doc_id, pt.p
              FROM pt JOIN spans s2
                ON pt.doc_id = s2.doc_id AND pt.p BETWEEN s2.s AND s2.e
            ),
            kept AS (
              SELECT pt.doc_id, pt.p, pt.tok
              FROM pt LEFT JOIN removed r
                ON pt.doc_id = r.doc_id AND pt.p = r.p
              WHERE r.p IS NULL
            ),
            agg AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(tok, ' ' ORDER BY p) AS clean_text
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(len(t.tk) AS BIGINT) AS n_tokens,
                   CAST(len(t.tk) - coalesce(a.n_kept, 0) AS BIGINT)
                     AS n_removed,
                   coalesce(a.clean_text, '') AS clean_text
            FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
            ORDER BY t.doc_id
        """,
        "incremental_novel_near": _SHINGLE_CTE
        + ",\n"
        + ",\n".join(_minhash_sql())
        + """,
            cands AS (
              SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bh = b.bh
               AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
            matched AS (
              SELECT DISTINCT new_id
              FROM cands
              JOIN sh sa ON new_id = sa.doc_id
              JOIN sh sb ON idx_id = sb.doc_id
              WHERE len(list_intersect(sa.shs, sb.shs)) * 1.0
                      / (len(sa.shs) + len(sb.shs)
                         - len(list_intersect(sa.shs, sb.shs))) >= 0.5)
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d
            LEFT JOIN matched m ON d.doc_id = m.new_id
            WHERE d.doc_id % 5 = 0 AND m.new_id IS NULL
            ORDER BY d.doc_id
        """,
        "curated_corpus": f"""
            WITH s AS (
              SELECT doc_id, source, lang, text,
                     CASE WHEN {_STATS['n_tokens']} < 20 THEN 'too_short'
                          WHEN length(text) > 450 THEN 'too_long'
                          WHEN lang = 'en' AND {_STOP_HITS} = 0
                            THEN 'low_stopword'
                          WHEN {_AVG_TOK} < 4.3 THEN 'short_tokens'
                          ELSE 'kept' END AS reason
              FROM documents
            ),
            kept AS (SELECT * FROM s WHERE reason = 'kept'),
            canon AS (
              SELECT min(doc_id) AS doc_id
              FROM (
                SELECT doc_id,
                       md5(array_to_string(list_sort(list_distinct(
                         string_split(trim(lower(text)), ' '))), ' ')) AS fp
                FROM kept)
              GROUP BY fp
            ),
            surv AS (
              SELECT k.doc_id, k.source, k.lang FROM kept k
              JOIN canon c ON k.doc_id = c.doc_id
            ),
            capped AS (
              SELECT * FROM surv
              QUALIFY row_number() OVER (PARTITION BY source
                                         ORDER BY doc_id) <= 5
            ),
            b AS (
              SELECT doc_id, source, lang,
                     {_h32_sql("'split' || CAST(doc_id AS VARCHAR)")} % 10000
                       AS bkt
              FROM capped
            )
            SELECT doc_id, source, lang,
                   CASE WHEN bkt < 9000 THEN 'train'
                        WHEN bkt < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM b ORDER BY doc_id
        """,
        "doc_epoch_mixture": f"""
            WITH e AS (
              SELECT doc_id, lang,
                     CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.25
                               WHEN 'fr' THEN 0.5 WHEN 'es' THEN 1.0
                     END AS ep,
                     {_h32_sql("'epochs' || CAST(doc_id AS VARCHAR)")} % 10000
                       AS bkt
              FROM documents
            ), c AS (
              SELECT doc_id, lang,
                     CAST(floor(ep)
                          + CASE WHEN bkt < (ep - floor(ep)) * 10000
                                 THEN 1 ELSE 0 END AS BIGINT) AS n
              FROM e WHERE ep IS NOT NULL
            )
            SELECT doc_id, lang,
                   CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy_idx
            FROM c
            ORDER BY doc_id, copy_idx
        """,
        "incremental_novel_docs": """
            WITH fp AS (
              SELECT doc_id, source, n_chars,
                     md5(array_to_string(list_sort(list_distinct(
                       string_split(trim(lower(text)), ' '))), ' ')) AS fp,
                     doc_id % 5 = 0 AS is_new
              FROM documents)
            SELECT doc_id, source, n_chars
            FROM fp
            WHERE is_new
              AND fp NOT IN (SELECT fp FROM fp WHERE NOT is_new)
            ORDER BY doc_id
        """,
        "source_quota_cap": """
            SELECT doc_id, source, lang, n_chars
            FROM documents
            QUALIFY row_number() OVER (PARTITION BY source
                                       ORDER BY doc_id) <= 3
            ORDER BY source, doc_id
        """,
        "forecast_sarimax_audit": """
            WITH feats AS (
              SELECT event_type AS site, date_trunc('hour', ts) AS h
              FROM events GROUP BY 1, 2
            ),
            series AS (SELECT site, count(*) AS n FROM feats GROUP BY site)
            SELECT site, var,
                   CAST(2 AS BIGINT) AS n_rows,
                   CAST(2 AS BIGINT) AS n_horizons,
                   CAST(0 AS BIGINT) AS interval_violations,
                   CAST(0 AS BIGINT) AS ts_violations,
                   CAST(0 AS BIGINT) AS model_violations
            FROM series, (SELECT 'pv' AS var UNION ALL SELECT 'wind') v
            WHERE n > 25  -- fit requires series length > season+1 = 25
            ORDER BY site, var
        """,
        "doc_chunks": """
            WITH t AS (
              SELECT doc_id, string_split(trim(text), ' ') AS tk
              FROM documents
            ),
            c AS (
              SELECT doc_id, tk,
                     unnest(generate_series(
                       0,
                       CAST(ceil(greatest(len(tk) - 32, 0) / 24.0)
                            AS BIGINT))) AS k
              FROM t
            )
            SELECT doc_id,
                   CAST(k AS BIGINT) AS chunk_idx,
                   CAST(len(tk[k * 24 + 1 : k * 24 + 32]) AS BIGINT)
                     AS n_chunk_tokens,
                   array_to_string(tk[k * 24 + 1 : k * 24 + 32], ' ')
                     AS chunk_text
            FROM c
            ORDER BY doc_id, chunk_idx
        """,
        "bpe_audit": """
            SELECT CAST(10 AS BIGINT) AS n_merges_learned,
                   count(*) AS n_docs,
                   CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
                     AS total_words,
                   CAST(0 AS BIGINT) AS bound_violations
            FROM documents
        """,
        "funnel_latency": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
                                   AND e.ts > s1.t1
              WHERE e.event_type = 'click' GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 ON e.user_id = s2.user_id
                                   AND e.ts > s2.t2
              WHERE e.event_type = 'purchase' GROUP BY e.user_id
            ), j AS (
              SELECT s1.user_id, t1, t2, t3
              FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                      LEFT JOIN s3 ON s1.user_id = s3.user_id
            )
            SELECT count(*) AS n1,
                   count(t2) AS n2,
                   count(t3) AS n3,
                   CAST(min(floor(epoch(t2)) - floor(epoch(t1))) AS BIGINT)
                     AS min_s12,
                   CAST(max(floor(epoch(t2)) - floor(epoch(t1))) AS BIGINT)
                     AS max_s12,
                   CAST(sum(floor(epoch(t2)) - floor(epoch(t1))) AS BIGINT)
                     AS sum_s12,
                   CAST(min(floor(epoch(t3)) - floor(epoch(t1))) AS BIGINT)
                     AS min_s13,
                   CAST(max(floor(epoch(t3)) - floor(epoch(t1))) AS BIGINT)
                     AS max_s13,
                   CAST(sum(floor(epoch(t3)) - floor(epoch(t1))) AS BIGINT)
                     AS sum_s13
            FROM j
        """,
        "forecast_hw_audit": """
            WITH feats AS (
              SELECT event_type AS site, date_trunc('hour', ts) AS h
              FROM events GROUP BY 1, 2
            ),
            series AS (SELECT site, count(*) AS n FROM feats GROUP BY site)
            SELECT site, var,
                   CAST(2 AS BIGINT) AS n_rows,
                   CAST(2 AS BIGINT) AS n_horizons,
                   CAST(0 AS BIGINT) AS interval_violations,
                   CAST(0 AS BIGINT) AS ts_violations,
                   CAST(0 AS BIGINT) AS model_violations
            FROM series, (SELECT 'pv' AS var UNION ALL SELECT 'wind') v
            WHERE n >= 48  -- HW needs two full 24h seasons to initialize
            ORDER BY site, var
        """,
        "ivfadc_recall": """
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(count(*) * 5 AS BIGINT) AS n_exact_rows,
                   CAST(count(*) * 5 AS BIGINT) AS n_adc_rows,
                   CAST(count(*) AS BIGINT) AS full_k_queries,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 8
        """,
        "pq_recall_audit": """
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(count(*) * 5 AS BIGINT) AS n_exact_rows,
                   CAST(count(*) * 5 AS BIGINT) AS n_pq_rows,
                   CAST(count(*) AS BIGINT) AS full_k_queries,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 8
        """,
        # sub-quadratic MIPS pairs (r12): exact oracle — the full
        # symmetric-embedding + SRP + band + verify pipeline
        # reproduced in SQL (see _mips_lsh_sql)
        "ann_mips_lsh_pairs": _mips_lsh_sql(
            0.35, max_bucket=S.LSH_MAX_BUCKET
        ),
        # MIPS pair join (r12): exact oracle — ordered-fold dots match
        # list_dot_product; the Spark-side Cauchy-Schwarz prefilter is
        # output-invariant (necessary condition only) so the oracle
        # needs no twin of it
        "embedding_mips_pairs": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_dot_product(a.v, b.v) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) >= 0.35
            ORDER BY vec_a, vec_b
        """,
        # int8 MIPS (r12): FULL exact oracle — the quantizer's
        # floor(x/s + 0.5) half-up rounding, the exact BIGINT dot, and
        # the pinned (scale·scale)·dot multiply order are all
        # bit-portable, so every value hashes, unlike the PQ count
        # audits
        "ann_int8_mips_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            s AS (SELECT vec_id, v,
                    list_max(list_transform(v, x -> abs(x))) / 127.0
                      AS scale
                  FROM e),
            q8 AS (SELECT vec_id, scale,
                    list_transform(v, x -> CAST(floor(
                      x / (CASE WHEN scale = 0.0 THEN 1.0 ELSE scale END)
                      + 0.5) AS DOUBLE)) AS qv
                  FROM s),
            q AS (SELECT vec_id AS query_id, scale AS qscale, qv AS qqv
                  FROM q8 WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                     CAST(list_dot_product(c.qv, q.qqv) AS BIGINT)
                       AS int_dot,
                     (c.scale * q.qscale) * list_dot_product(c.qv, q.qqv)
                       AS sim
              FROM q8 c, q WHERE c.vec_id != q.query_id)
            SELECT query_id, neighbor_id, int_dot, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" <= 5
            ORDER BY query_id, "rank"
        """,
        # IVF-SQ8 MIPS (r13): FULL hash-exact twin — the coarse stage
        # is ann_mips_ivf_topk's audited angular assign/probe CTEs, the
        # fine stage is ann_int8_mips_topk's audited quantize/score
        # CTEs; integer dots are exact at any fold order and the two
        # double multiplies are pinned (scale_x * scale_q) * dot
        "ann_ivf_sq8_mips_topk": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            asg AS (
              SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM e, cents c) WHERE rn = 1),
            s AS (SELECT vec_id, v,
                    list_max(list_transform(v, x -> abs(x))) / 127.0
                      AS scale
                  FROM e),
            q8 AS (SELECT vec_id, scale,
                    list_transform(v, x -> CAST(floor(
                      x / (CASE WHEN scale = 0.0 THEN 1.0 ELSE scale END)
                      + 0.5) AS DOUBLE)) AS qv
                  FROM s),
            q AS (SELECT vec_id AS query_id, v AS qraw FROM e
                  WHERE vec_id < 8),
            qq AS (SELECT vec_id AS query_id, scale AS qscale, qv AS qqv
                   FROM q8 WHERE vec_id < 8),
            probes AS (
              SELECT query_id, cluster FROM (
                SELECT q.query_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_COS_SQL.format(a='q.qraw', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM q, cents c) WHERE rn <= 4),
            scored AS (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     CAST(list_dot_product(c8.qv, qq.qqv) AS BIGINT)
                       AS int_dot,
                     (c8.scale * qq.qscale) * list_dot_product(c8.qv, qq.qqv)
                       AS sim
              FROM probes p
              JOIN asg a ON a.cluster = p.cluster
              JOIN q8 c8 ON c8.vec_id = a.vec_id
              JOIN qq ON qq.query_id = p.query_id
              WHERE a.vec_id != p.query_id)
            SELECT query_id, neighbor_id, int_dot, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" <= 5
            ORDER BY query_id, "rank"
        """,
        # IVF-SQ8-residual MIPS (r13): FULL hash-exact twin of the
        # FAISS by_residual convention — r = x - c(x) is one
        # elementwise double subtract, codes are the audited half-up
        # quantizer over r, and sim = q·c + scale·(q·codes) with both
        # dots left-fold list_dot_product (queries raw — asymmetric)
        "ann_ivf_sq8r_mips_topk": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            asg AS (
              SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM e, cents c) WHERE rn = 1),
            res AS (
              SELECT a.vec_id, a.cluster,
                     list_transform(list_zip(e.v, c.cv), x -> x[1] - x[2])
                       AS r
              FROM asg a
              JOIN e ON e.vec_id = a.vec_id
              JOIN cents c ON c.cid = a.cluster),
            enc AS (
              SELECT vec_id, cluster, r,
                     list_max(list_transform(r, x -> abs(x))) / 127.0
                       AS scale
              FROM res),
            codes AS (
              SELECT vec_id, cluster, scale,
                     list_transform(r, x -> CAST(floor(
                       x / (CASE WHEN scale = 0.0 THEN 1.0 ELSE scale END)
                       + 0.5) AS DOUBLE)) AS code
              FROM enc),
            q AS (SELECT vec_id AS query_id, v AS qraw FROM e
                  WHERE vec_id < 8),
            probes AS (
              SELECT query_id, cluster FROM (
                SELECT q.query_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_COS_SQL.format(a='q.qraw', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM q, cents c) WHERE rn <= 4),
            scored AS (
              SELECT p.query_id, cd.vec_id AS neighbor_id,
                     list_dot_product(q.qraw, c.cv)
                       + cd.scale * list_dot_product(q.qraw, cd.code)
                       AS sim
              FROM probes p
              JOIN codes cd ON cd.cluster = p.cluster
              JOIN cents c ON c.cid = p.cluster
              JOIN q ON q.query_id = p.query_id
              WHERE cd.vec_id != p.query_id)
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" <= 5
            ORDER BY query_id, "rank"
        """,
        # MIPS twins (r12): same invariant-count shape — the audit
        # asserts full-k coverage per query and the recall floor; the
        # kernels themselves are exercised against exact MIPS inside
        # the Spark query
        "pq_mips_recall_audit": """
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(count(*) * 5 AS BIGINT) AS n_exact_rows,
                   CAST(count(*) * 5 AS BIGINT) AS n_pq_rows,
                   CAST(count(*) AS BIGINT) AS full_k_queries,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 8
        """,
        "ivfadc_mips_recall_audit": """
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(count(*) * 5 AS BIGINT) AS n_exact_rows,
                   CAST(count(*) * 5 AS BIGINT) AS n_adc_rows,
                   CAST(count(*) AS BIGINT) AS full_k_queries,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 8
        """,
        "ann_ivf_recall": """
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(count(*) * 5 AS BIGINT) AS n_exact_rows,
                   CAST(count(*) * 5 AS BIGINT) AS n_ivf_rows,
                   CAST(count(*) AS BIGINT) AS full_k_queries,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 8
        """,
        "sketch_accuracy_audit": """
            SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users_exact,
                   TRUE AS hll_ok, TRUE AS p50_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "session_attribution": """
            WITH ordered AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_ts
              FROM events WHERE event_type <> 'purchase'
            ), flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN prev_ts IS NULL
                               OR epoch(ts) - epoch(prev_ts) > 28800
                          THEN 1 ELSE 0 END AS is_new
              FROM ordered
            ), sess AS (
              SELECT user_id, ts,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS session_id
              FROM flagged
            ), bounds AS (
              SELECT user_id, session_id,
                     min(ts) AS session_start, max(ts) AS session_end
              FROM sess GROUP BY user_id, session_id
            )
            SELECT p.user_id, b.session_id,
                   count(*) AS n_purchases,
                   CAST(sum(CAST(p.value AS DECIMAL(20,6))) AS DOUBLE)
                     AS purchase_value
            FROM events p
            JOIN bounds b ON p.user_id = b.user_id
                         AND p.ts >= b.session_start
                         AND p.ts <= b.session_end
            WHERE p.event_type = 'purchase'
            GROUP BY p.user_id, b.session_id
            ORDER BY p.user_id, b.session_id
        """,
        "value_tier_report": """
            WITH tiers AS (
              SELECT k AS tier, 5.0 * k * k AS lo,
                     5.0 * (k + 1) * (k + 1) AS hi
              FROM range(10) t(k)
            )
            SELECT tier, lo, hi,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events e JOIN tiers
              ON e.value >= tiers.lo AND e.value < tiers.hi
            GROUP BY tier, lo, hi
            ORDER BY tier
        """,
        "salted_join_segments": """
            SELECT c_mktsegment,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "type_value_stats_salted": """
            SELECT event_type,
                   count(value) AS n,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value,
                   min(value) AS min_value,
                   max(value) AS max_value,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     / count(value) AS avg_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "media_stats": """
            WITH m AS (
              SELECT CASE CAST(doc_id % 3 AS INTEGER)
                       WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS modality,
                     octet_length(encode(text)) AS n_bytes
              FROM documents
            )
            SELECT modality, count(*) AS n,
                   CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                   round(avg(n_bytes / 100.0), 4) AS avg_duration_s
            FROM m GROUP BY modality ORDER BY modality
        """,
        "media_frame_sample": """
            WITH v AS (
              SELECT doc_id AS media_id,
                     CAST(trunc(octet_length(encode(text)) / 100.0 * 24)
                          AS INTEGER) AS n_frames
              FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2
            )
            SELECT media_id,
                   CAST(unnest(range(0, greatest(n_frames - 1, 0) + 1, 2))
                        AS INTEGER) AS frame_idx
            FROM v ORDER BY media_id, frame_idx
        """,
        "order_priority_sql": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        # inner-product IVF twin: identical assignment/probing CTEs
        # (angular coarse quantizer), final score is the raw dot —
        # list_dot_product's left-to-right fold is the kernel's order
        "ann_mips_ivf_topk": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            asg AS (
              SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM e, cents c) WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
            probes AS (
              SELECT query_id, cluster FROM (
                SELECT q.query_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_COS_SQL.format(a='q.qv', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM q, cents c) WHERE rn <= 4),
            scored AS (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     list_dot_product(q.qv, e.v) AS sim
              FROM probes p
              JOIN asg a ON a.cluster = p.cluster
              JOIN e ON e.vec_id = a.vec_id
              JOIN q ON q.query_id = p.query_id
              WHERE a.vec_id != p.query_id)
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" <= 5
            ORDER BY query_id, "rank"
        """,
        "ann_ivf_topk": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            asg AS (
              SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_COS_SQL.format(a='e.v', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM e, cents c) WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
            probes AS (
              SELECT query_id, cluster FROM (
                SELECT q.query_id, c.cid AS cluster,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_COS_SQL.format(a='q.qv', b='c.cv')} DESC,
                                  c.cid) AS rn
                FROM q, cents c) WHERE rn <= 4),
            scored AS (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     {_COS_SQL.format(a='q.qv', b='e.v')} AS sim
              FROM probes p
              JOIN asg a ON a.cluster = p.cluster
              JOIN e ON e.vec_id = a.vec_id
              JOIN q ON q.query_id = p.query_id
              WHERE a.vec_id != p.query_id)
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                   ) AS INTEGER) AS "rank"
            FROM scored
            QUALIFY "rank" <= 5
            ORDER BY query_id, "rank"
        """,
        "forecast_mllib": _mllib_oracle_sql(),
        # rolling-origin backtest (r13): folds tile back from the max
        # hour; seasonal lag is a TIME join (gaps drop out); epoch
        # diffs are hour-multiples so the floor is exact
        "forecast_backtest": _PSEUDO_FEATURES_CTE
        + """,
            mxx AS (SELECT max(ts_utc) AS mxts FROM long),
            fcast AS (SELECT site, var,
                             ts_utc + INTERVAL 24 HOUR AS ts_utc,
                             y AS yhat
                      FROM long),
            joined AS (
              SELECT l.site, l.var, l.y, f.yhat,
                     CAST(floor((epoch(m.mxts) - epoch(l.ts_utc))
                                / 86400.0) AS BIGINT) AS kk
              FROM long l
              JOIN fcast f ON f.site = l.site AND f.var = l.var
                          AND f.ts_utc = l.ts_utc
              CROSS JOIN mxx m)
            SELECT site, var, CAST(4 - kk AS INTEGER) AS fold,
                   count(*) AS n,
                   round(CAST(sum(CAST(abs(yhat - y) AS DECIMAL(30,15)))
                              AS DOUBLE) / count(*), 4) AS mae,
                   round(sqrt(CAST(sum(CAST((yhat - y) * (yhat - y)
                                            AS DECIMAL(30,15)))
                                   AS DOUBLE) / count(*)), 4) AS rmse,
                   round(CAST(sum(CAST(yhat - y AS DECIMAL(30,15)))
                              AS DOUBLE) / count(*), 4) AS bias
            FROM joined
            WHERE kk >= 0 AND kk < 4
            GROUP BY site, var, fold
            ORDER BY site, var, fold
        """,
        # champion leaderboard (r14): the backtest CTEs widened to a
        # three-model family — two seasonal-naive lags (24 h/168 h TIME
        # joins) and the hod_mean climatology (per-fold expanding
        # hour-of-day mean, integer-seconds train cutoff at the fold
        # origin) — then det_mean fold MAEs, det_mean of those per
        # model, rank per (site, var) by (mean_mae, model).
        # _CHAMPION_CTES is SHARED with champion_forecast below (one
        # source of truth — the r13 oracle-generation discipline)
        "forecast_champion": _PSEUDO_FEATURES_CTE
        + _CHAMPION_CTES
        + """
            SELECT site, var, model, folds_evaluated, total_n, mean_mae,
                   CAST(row_number() OVER (PARTITION BY site, var
                        ORDER BY mean_mae, model) AS INTEGER) AS "rank"
            FROM board
            ORDER BY site, var, "rank"
        """,
        # champion forward forecast (r14): the leaderboard chain plus
        # a rank CTE selecting each series' winner, 24 future stamps
        # from range(), the three model rules re-applied FORWARD (lag
        # joins read only actuals <= max ts; hod climatology is the
        # full-history det_mean), champion join keeps one model/series
        "forecast_champion_forward": _PSEUDO_FEATURES_CTE
        + _CHAMPION_CTES
        + """,
            ranked AS (
              SELECT site, var, model,
                     row_number() OVER (PARTITION BY site, var
                          ORDER BY mean_mae, model) AS rnk
              FROM board),
            champ AS (SELECT site, var, model FROM ranked WHERE rnk = 1),
            future AS (
              SELECT m.mxts + to_hours(t.h) AS ts_utc
              FROM range(1, 25) t(h) CROSS JOIN mxx m),
            fsn AS (
              SELECT f.site, f.var, u.ts_utc, f.y AS yhat,
                     'snaive_24' AS model
              FROM long f
              JOIN future u ON f.ts_utc + INTERVAL 24 HOUR = u.ts_utc
              UNION ALL
              SELECT f.site, f.var, u.ts_utc, f.y AS yhat,
                     'snaive_168' AS model
              FROM long f
              JOIN future u ON f.ts_utc + INTERVAL 168 HOUR = u.ts_utc),
            clim AS (
              SELECT site, var, hour(ts_utc) AS hod,
                     CAST(sum(CAST(y AS DECIMAL(30,15))) AS DOUBLE)
                       / count(*) AS yhat
              FROM long GROUP BY 1, 2, 3),
            fhm AS (
              SELECT c.site, c.var, u.ts_utc, c.yhat, 'hod_mean' AS model
              FROM future u
              JOIN clim c ON c.hod = hour(u.ts_utc)),
            allf AS (SELECT * FROM fsn UNION ALL SELECT * FROM fhm)
            SELECT a.site, a.var, CAST(a.ts_utc AS TIMESTAMP) AS ts_utc,
                   a.model, round(a.yhat, 6) AS yhat
            FROM allf a
            JOIN champ c ON c.site = a.site AND c.var = a.var
                        AND c.model = a.model
            ORDER BY a.site, a.var, a.ts_utc
        """,
        "forecast_eval": _PSEUDO_FEATURES_CTE
        + """,
            fc AS (
              SELECT site, ts_utc + INTERVAL 1 HOUR AS ts_utc,
                     'baseline' AS model, var, 1 AS horizon_h,
                     lag_h1 AS yraw, sigma
              FROM sig
              UNION ALL
              SELECT site, ts_utc + INTERVAL 24 HOUR AS ts_utc,
                     'baseline' AS model, var, 24 AS horizon_h,
                     lag_h24 AS yraw, sigma
              FROM sig
            ),
            f AS (
              SELECT site, ts_utc, model, var, horizon_h,
                     greatest(yraw, 0.0) AS yhat,
                     greatest(greatest(yraw, 0.0)
                       - 1.96 * coalesce(sigma, 0.0), 0.0) AS yhat_lower,
                     greatest(yraw, 0.0)
                       + 1.96 * coalesce(sigma, 0.0) AS yhat_upper
              FROM fc WHERE yraw IS NOT NULL
            ),
            act AS (
              SELECT site, ts_utc, 'pv' AS var, pv_est_mwh AS y FROM s
              UNION ALL
              SELECT site, ts_utc, 'wind' AS var, wind_est_mwh AS y FROM s
            )
            SELECT model, var, horizon_h, count(*) AS n,
                   round(avg(abs(yhat - y)), 4) AS mae,
                   round(sqrt(avg((yhat - y) * (yhat - y))), 4) AS rmse,
                   round(avg(CASE WHEN y >= yhat_lower AND y <= yhat_upper
                                  THEN 1.0 ELSE 0.0 END), 4)
                     AS interval_coverage
            FROM f JOIN act USING (site, ts_utc, var)
            GROUP BY model, var, horizon_h
            ORDER BY model, var, horizon_h
        """,
        "returned_item_report": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                     AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
            ORDER BY revenue DESC, c.c_custkey
            LIMIT 20
        """,
        "large_volume_customers": """
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem
              GROUP BY l_orderkey
              HAVING sum(l_quantity) > 250.0
            )
            SELECT c.c_name, c.c_custkey, o.o_orderkey,
                   CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
                   o.o_totalprice, big.sum_qty
            FROM big
            JOIN orders o ON o.o_orderkey = big.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 100
        """,
        "supplier_part_stats": """
            SELECT p.p_brand, p.p_type, p.p_size,
                   count(DISTINCT l.l_suppkey) AS supplier_cnt
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand <> 'Brand#45'
              AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
            GROUP BY p.p_brand, p.p_type, p.p_size
            ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        """,
        "user_sessions": """
            WITH ordered AS (
              SELECT user_id, ts, event_id, event_type,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_ts
              FROM events
            ), flagged AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN prev_ts IS NULL
                               OR epoch(ts) - epoch(prev_ts) > 28800
                          THEN 1 ELSE 0 END AS is_new
              FROM ordered
            ), sess AS (
              SELECT user_id, ts, event_type,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   CAST(min(ts) AS TIMESTAMP) AS session_start,
                   CAST(max(ts) AS TIMESTAMP) AS session_end,
                   CAST(floor(epoch(max(ts))) - floor(epoch(min(ts)))
                        AS BIGINT) AS duration_sec,
                   count(DISTINCT event_type) AS n_event_types
            FROM sess
            GROUP BY user_id, session_id
            ORDER BY user_id, session_id
        """,
        "doc_filter_cascade": f"""
            WITH s AS (
              SELECT {_STATS['n_tokens']} AS n_tok,
                     length(text) AS n_ch,
                     {_AVG_TOK} AS avt,
                     lang,
                     {_STOP_HITS} AS hits
              FROM documents
            )
            SELECT CASE WHEN n_tok < 20 THEN 'too_short'
                        WHEN n_ch > 450 THEN 'too_long'
                        WHEN lang = 'en' AND hits = 0 THEN 'low_stopword'
                        WHEN avt < 4.3 THEN 'short_tokens'
                        ELSE 'kept' END AS reason,
                   count(*) AS n_docs
            FROM s GROUP BY reason ORDER BY reason
        """,
        "doc_pack_stats": """
            WITH d AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)),
                                          1, 8)) AS BIGINT) AS h,
                     CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
              FROM documents
            ), p AS (
              SELECT h % 16 AS shard, n_tok,
                     sum(n_tok) OVER (PARTITION BY h % 16 ORDER BY h, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS tok_end
              FROM d
            )
            SELECT shard,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                   CAST(floor((sum(n_tok) - 1) / 512) + 1 AS BIGINT) AS n_seqs,
                   CAST(sum(CASE WHEN floor((tok_end - 1) / 512)
                                   <> floor((tok_end - n_tok) / 512)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_crossers
            FROM p GROUP BY shard ORDER BY shard
        """,
        "doc_mixture_counts": """
            WITH cnt AS (SELECT source, count(*) AS n
                         FROM documents GROUP BY source),
            w AS (SELECT * FROM (VALUES ('src1', 3.0), ('src5', 1.0),
                                        ('src17', 2.0)) AS t(source, wt)),
            sc AS (SELECT min(c.n / w.wt) AS scale
                   FROM cnt c JOIN w USING (source)),
            rates AS (SELECT w.source,
                             least(1.0, sc.scale * w.wt / c.n) AS rate
                      FROM w JOIN cnt c USING (source), sc)
            SELECT d.source, count(*) AS n_docs
            FROM documents d JOIN rates r ON d.source = r.source
            WHERE CAST(('0x' || substr(md5('mixture'
                        || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 10000
                  < CAST(round(r.rate * 10000) AS BIGINT)
            GROUP BY d.source ORDER BY d.source
        """,
        "doc_contamination": """
            WITH toks AS (SELECT doc_id, source,
                                 string_split(trim(text), ' ') AS tk
                          FROM documents),
            sh AS (SELECT doc_id, source, list_distinct(list_transform(
                     generate_series(1, greatest(len(tk) - 4, 0)),
                     i -> array_to_string(tk[i:i+4], ' '))) AS shs
                   FROM toks),
            inv AS (SELECT doc_id, source, unnest(shs) AS s FROM sh),
            ev AS (SELECT DISTINCT s FROM inv WHERE source = 'src0'),
            hit AS (SELECT DISTINCT i.doc_id FROM inv i JOIN ev USING (s)
                    WHERE i.source <> 'src0')
            SELECT d.source, count(*) AS n_contaminated
            FROM documents d JOIN hit USING (doc_id)
            GROUP BY d.source ORDER BY d.source
        """,
        "doc_pii_stats": """
            SELECT count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))
                     AS BIGINT) AS n_email,
                   CAST(sum(CASE WHEN len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
                   CAST(sum(len(regexp_extract_all(text,
                     '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')))
                     AS BIGINT) AS n_ipv4,
                   CAST(sum(CASE WHEN len(regexp_extract_all(text,
                     '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ipv4,
                   CAST(sum(len(regexp_extract_all(text,
                     '\\+[0-9][0-9 ()-]{6,14}[0-9]')))
                     AS BIGINT) AS n_phone,
                   CAST(sum(CASE WHEN len(regexp_extract_all(text,
                     '\\+[0-9][0-9 ()-]{6,14}[0-9]')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
                   CAST(sum(length(text) - length(
                     regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                       '<IPV4>', 'g'),
                       '\\+[0-9][0-9 ()-]{6,14}[0-9]',
                       '<PHONE>', 'g'))) AS BIGINT) AS redaction_char_delta
            FROM documents
        """,
        "doc_commonness": """
            WITH tok AS (
              SELECT source,
                     unnest(string_split(trim(text), ' ')) AS token
              FROM documents
            ), freq AS (
              SELECT token, count(*) AS tok_freq FROM tok GROUP BY token
            )
            SELECT t.source,
                   count(*) AS n_tokens,
                   CAST(sum(f.tok_freq) AS BIGINT) AS freq_sum,
                   round(CAST(sum(f.tok_freq) AS DOUBLE) / count(*), 4)
                     AS mean_commonness
            FROM tok t JOIN freq f USING (token)
            GROUP BY t.source ORDER BY t.source
        """,
        "doc_repetition_stats": """
            WITH t AS (
              SELECT lang, string_split(trim(text), ' ') AS tk
              FROM documents
            ), d AS (
              SELECT lang,
                     CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS n_grams,
                     CAST(greatest(len(tk) - 1, 0)
                          - len(list_distinct(list_transform(
                              generate_series(1, greatest(len(tk) - 1, 0)),
                              i -> array_to_string(tk[i:i+1], ' '))))
                       AS BIGINT) AS n_dup
              FROM t
            )
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(n_grams) AS BIGINT) AS total_grams,
                   CAST(sum(n_dup) AS BIGINT) AS dup_grams,
                   round(CAST(sum(n_dup) AS DOUBLE)
                         / CAST(sum(n_grams) AS DOUBLE), 6) AS rep_frac,
                   CAST(sum(CASE WHEN n_dup * 5 > n_grams * 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_high_rep
            FROM d GROUP BY lang ORDER BY lang
        """,
        "corpus_ngram_topk": """
            WITH t AS (
              SELECT string_split(trim(text), ' ') AS tk FROM documents
            ), g AS (
              SELECT unnest(list_transform(
                       generate_series(1, greatest(len(tk) - 1, 0)),
                       i -> array_to_string(tk[i:i+1], ' '))) AS gram
              FROM t
            )
            SELECT gram, count(*) AS n
            FROM g GROUP BY gram
            ORDER BY n DESC, gram
            LIMIT 20
        """,
        "doc_keywords": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
              FROM documents
            ), tf AS (
              SELECT doc_id, token, count(*) AS tf
              FROM tok GROUP BY doc_id, token
            ), dfreq AS (
              SELECT token, count(*) AS df FROM tf GROUP BY token
            ), r AS (
              SELECT t.doc_id, t.token,
                     CAST(t.tf AS BIGINT) AS tf,
                     CAST(d.df AS BIGINT) AS df,
                     CAST(row_number() OVER (
                       PARTITION BY t.doc_id
                       ORDER BY t.tf DESC, d.df ASC, t.token ASC
                     ) AS INT) AS rank
              FROM tf t JOIN dfreq d USING (token)
            )
            SELECT doc_id, rank, token, tf, df
            FROM r WHERE rank <= 5
            ORDER BY doc_id, rank
        """,
        "doc_split_counts": f"""
            WITH b AS (
              SELECT n_chars,
                     {_h32_sql("'split' || CAST(doc_id AS VARCHAR)")} % 10000
                       AS bkt
              FROM documents
            ), s AS (
              SELECT n_chars,
                     CASE WHEN bkt < 9000 THEN 'train'
                          WHEN bkt < 9500 THEN 'val'
                          ELSE 'test' END AS split
              FROM b
            )
            SELECT split, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM s GROUP BY split ORDER BY split
        """,
        "doc_stratified_sample": f"""
            WITH b AS (
              SELECT doc_id, source,
                     {_h32_sql("'sample' || CAST(doc_id AS VARCHAR)")} % 10000
                       AS bkt
              FROM documents
            )
            SELECT doc_id, source FROM b
            WHERE (source = 'src0' AND bkt < 5000)
               OR (source = 'src1' AND bkt < 2000)
               OR (source = 'src2' AND bkt < 1000)
            ORDER BY doc_id
        """,
        "session_window_agg": """
            WITH ordered AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_ts
              FROM events
            ), flagged AS (
              SELECT user_id, ts,
                     CASE WHEN prev_ts IS NULL
                               OR epoch(ts) - epoch(prev_ts) > 28800
                          THEN 1 ELSE 0 END AS is_new
              FROM ordered
            ), sess AS (
              SELECT user_id, ts,
                     sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS session_id
              FROM flagged
            )
            SELECT user_id,
                   CAST(min(ts) AS TIMESTAMP) AS session_start,
                   CAST(max(ts) + INTERVAL 28800 SECONDS AS TIMESTAMP)
                     AS session_end,
                   count(*) AS n_events
            FROM sess
            GROUP BY user_id, session_id
            ORDER BY user_id, session_start
        """,
        "revenue_rollup": """
            SELECT r.r_name AS region, n.n_name AS nation,
                   CAST(GROUPING(r.r_name, n.n_name) AS BIGINT) AS gid,
                   CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(30,6))) AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY ROLLUP(r.r_name, n.n_name)
            ORDER BY gid, region, nation
        """,
        "nation_trade_volume": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                     AS revenue
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
              AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "discounted_brand_revenue": """
            SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                     AS revenue
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#12' AND p.p_size <= 5
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#23' AND p.p_size <= 10
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#34' AND p.p_size <= 15
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "idle_rich_customers": """
            WITH thr AS (
              SELECT sum(CAST(c_acctbal AS DECIMAL(20,6))) AS total_bal,
                     count(*) AS n_pos
              FROM customer WHERE c_acctbal > 0.0
            ), rich AS (
              SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
              FROM customer c, thr
              WHERE CAST(c.c_acctbal AS DECIMAL(20,6)) * thr.n_pos
                      > thr.total_bal
            )
            SELECT c_mktsegment, count(*) AS n_customers,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
                     AS total_acctbal
            FROM rich
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = rich.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "order_count_distribution": """
            WITH per_cust AS (
              SELECT c.c_custkey,
                     count(o.o_custkey) AS c_count
              FROM customer c
              LEFT JOIN (SELECT o_custkey FROM orders
                         WHERE o_orderpriority <> '4-NOT SPECIFIED') o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            )
            SELECT CAST(c_count AS BIGINT) AS c_count,
                   count(*) AS custdist
            FROM per_cust
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "small_quantity_revenue": """
            SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand = 'Brand#13'
              AND l.l_quantity < (
                SELECT 0.2 * avg(l2.l_quantity)
                FROM lineitem l2
                WHERE l2.l_partkey = l.l_partkey
              )
        """,
        "top_revenue_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name, r.total_revenue
            FROM supplier s
            JOIN rev r ON s.s_suppkey = r.l_suppkey
            WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
            ORDER BY s.s_suppkey
        """,
        "nation_market_share": """
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   round(
                     CAST(sum(CASE WHEN sn.n_name = 'NATION_2'
                              THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                   * (CAST(1 AS DECIMAL(3,2))
                                      - CAST(l.l_discount AS DECIMAL(18,2)))
                              ELSE CAST(0 AS DECIMAL(21,4)) END) AS DOUBLE)
                     / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                * (CAST(1 AS DECIMAL(3,2))
                                   - CAST(l.l_discount AS DECIMAL(18,2))))
                            AS DOUBLE), 4)
                     AS mkt_share
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN region r ON cn.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            WHERE r.r_name = 'ASIA'
              AND p.p_type = 'PROMO'
              AND o.o_orderdate >= TIMESTAMP '1995-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY o_year
            ORDER BY o_year
        """,
        "product_type_profit": """
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   CAST(round(sum(
                     CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(3,2))
                             - CAST(l.l_discount AS DECIMAL(18,2)))
                          AS DECIMAL(30,6))
                     - CAST(CAST(0.10 AS DECIMAL(4,2))
                            * CAST(p.p_retailprice AS DECIMAL(18,2))
                            * CAST(l.l_quantity AS DECIMAL(18,2))
                            AS DECIMAL(30,6))
                   ), 2) AS DOUBLE) AS sum_profit
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE contains(p.p_name, 'widget')
            GROUP BY nation, o_year
            ORDER BY nation, o_year DESC
        """,
        "shipping_delay_report": """
            SELECT CASE
                     WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                       THEN 'fast'
                     WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                       THEN 'normal'
                     ELSE 'slow'
                   END AS delay_bucket,
                   CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY delay_bucket
            ORDER BY delay_bucket
        """,
        "silver_rolling_features": """
            WITH b AS (
              SELECT event_type AS site, CAST(ts AS TIMESTAMP) AS ts_utc,
                     value AS ghi_wm2, value - 150.0 AS t2m_c,
                     value / 50.0 AS ws10_mps,
                     CAST(ts AS TIMESTAMP) AS ingested_at
              FROM events
            ), v AS (
              SELECT site, ts_utc, date_trunc('hour', ts_utc) AS ts_hour,
                     CASE WHEN ghi_wm2 >= 0 THEN ghi_wm2 END AS ghi_wm2,
                     CASE WHEN t2m_c BETWEEN -80 AND 80 THEN t2m_c END AS t2m_c,
                     CASE WHEN ws10_mps >= 0 THEN ws10_mps END AS ws10_mps,
                     ingested_at
              FROM b
            ), c AS (
              SELECT * FROM v
              WHERE ghi_wm2 IS NOT NULL AND t2m_c IS NOT NULL
                AND ws10_mps IS NOT NULL
            ), d AS (
              SELECT *, row_number() OVER (
                PARTITION BY site, ts_hour
                ORDER BY ingested_at DESC, ts_utc DESC) AS rn
              FROM c
            ), fact AS (
              SELECT site, CAST(ts_hour AS TIMESTAMP) AS ts_utc, ghi_wm2
              FROM d WHERE rn = 1
            )
            SELECT site, ts_utc, ghi_wm2,
                   CAST(sum(CAST(ghi_wm2 AS DECIMAL(20,6))) OVER w AS DOUBLE)
                     / count(ghi_wm2) OVER w AS roll_mean,
                   min(ghi_wm2) OVER w AS roll_min,
                   max(ghi_wm2) OVER w AS roll_max,
                   lag(ghi_wm2, 1) OVER
                     (PARTITION BY site ORDER BY ts_utc) AS lag_1h,
                   lag(ghi_wm2, 24) OVER
                     (PARTITION BY site ORDER BY ts_utc) AS lag_24h
            FROM fact
            WINDOW w AS (PARTITION BY site ORDER BY ts_utc
                         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
            ORDER BY site, ts_utc
        """,
        "silver_gap_fill": """
            WITH b AS (
              SELECT event_type AS site, CAST(ts AS TIMESTAMP) AS ts_utc,
                     value AS ghi_wm2, value - 150.0 AS t2m_c,
                     value / 50.0 AS ws10_mps,
                     CAST(ts AS TIMESTAMP) AS ingested_at
              FROM events
            ), v AS (
              SELECT site, ts_utc, date_trunc('hour', ts_utc) AS ts_hour,
                     CASE WHEN ghi_wm2 >= 0 THEN ghi_wm2 END AS ghi_wm2,
                     CASE WHEN t2m_c BETWEEN -80 AND 80 THEN t2m_c END AS t2m_c,
                     CASE WHEN ws10_mps >= 0 THEN ws10_mps END AS ws10_mps,
                     ingested_at
              FROM b
            ), c AS (
              SELECT * FROM v
              WHERE ghi_wm2 IS NOT NULL AND t2m_c IS NOT NULL
                AND ws10_mps IS NOT NULL
            ), d AS (
              SELECT *, row_number() OVER (
                PARTITION BY site, ts_hour
                ORDER BY ingested_at DESC, ts_utc DESC) AS rn
              FROM c
            ), fact AS (
              SELECT site, CAST(ts_hour AS TIMESTAMP) AS ts_utc,
                     ghi_wm2, t2m_c AS temp_c, ws10_mps AS wind_mps
              FROM d WHERE rn = 1
            ), spine AS (
              SELECT site, unnest(generate_series(lo, hi,
                                  INTERVAL 1 HOUR)) AS ts_utc
              FROM (SELECT site, min(ts_utc) AS lo, max(ts_utc) AS hi
                    FROM fact GROUP BY site)
            ), dense AS (
              SELECT s.site, CAST(s.ts_utc AS TIMESTAMP) AS ts_utc,
                     f.ghi_wm2, f.temp_c, f.wind_mps
              FROM spine s LEFT JOIN fact f
                ON s.site = f.site AND s.ts_utc = f.ts_utc
            )
            SELECT site, ts_utc,
                   last_value(ghi_wm2 IGNORE NULLS) OVER w AS ghi_wm2,
                   ghi_wm2 IS NULL
                     AND last_value(ghi_wm2 IGNORE NULLS) OVER w IS NOT NULL
                     AS ghi_wm2_filled,
                   last_value(temp_c IGNORE NULLS) OVER w AS temp_c,
                   temp_c IS NULL
                     AND last_value(temp_c IGNORE NULLS) OVER w IS NOT NULL
                     AS temp_c_filled,
                   last_value(wind_mps IGNORE NULLS) OVER w AS wind_mps,
                   wind_mps IS NULL
                     AND last_value(wind_mps IGNORE NULLS) OVER w IS NOT NULL
                     AS wind_mps_filled
            FROM dense
            WINDOW w AS (PARTITION BY site ORDER BY ts_utc
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY site, ts_utc
        """,
        "embedding_quantization": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings
            ), s AS (
              SELECT vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) / 127.0
                       AS scale
              FROM v
            ), err AS (
              SELECT vec_id, scale,
                     list_max(list_transform(e,
                       x -> abs(floor(x / (CASE WHEN scale = 0.0
                                           THEN 1.0 ELSE scale END) + 0.5)
                                * (CASE WHEN scale = 0.0
                                   THEN 1.0 ELSE scale END) - x)))
                       AS max_err
              FROM s
            )
            SELECT count(*) AS n_vectors,
                   max(max_err) AS worst_abs_err,
                   CAST(sum(CASE WHEN max_err <= scale * 0.5 + 1e-12
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_within_bound
            FROM err
        """,
        "hourly_distinct_users": """
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                   count(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY ts_hour
            ORDER BY ts_hour
        """,
        "orders_expectations": """
            WITH m AS (
              SELECT CAST(count(*) AS DOUBLE) AS m_rows,
                     CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE)
                       AS m_dupes,
                     CAST(sum(CASE WHEN o_custkey IS NULL
                              THEN 1 ELSE 0 END) AS DOUBLE) AS m_nulls,
                     CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                              THEN 1 ELSE 0 END) AS DOUBLE) AS m_domain,
                     CAST(min(o_totalprice) AS DOUBLE) AS m_min,
                     CAST(max(o_totalprice) AS DOUBLE) AS m_max
              FROM orders
            )
            SELECT * FROM (
              SELECT 'rows_at_least_100' AS "check", m_rows AS metric,
                     100.0 AS lo, CAST(NULL AS DOUBLE) AS hi,
                     m_rows >= 100.0 AS passed FROM m
              UNION ALL
              SELECT 'orderkey_unique', m_dupes, CAST(NULL AS DOUBLE),
                     0.0, m_dupes <= 0.0 FROM m
              UNION ALL
              SELECT 'custkey_no_nulls', m_nulls, CAST(NULL AS DOUBLE),
                     0.0, m_nulls <= 0.0 FROM m
              UNION ALL
              SELECT 'status_in_domain', m_domain, CAST(NULL AS DOUBLE),
                     0.0, m_domain <= 0.0 FROM m
              UNION ALL
              SELECT 'totalprice_nonneg', m_min, 0.0,
                     CAST(NULL AS DOUBLE), m_min >= 0.0 FROM m
              UNION ALL
              SELECT 'totalprice_under_cap', m_max, CAST(NULL AS DOUBLE),
                     1000000000.0, m_max <= 1000000000.0 FROM m
            ) ORDER BY "check"
        """,
        "sliding_window_agg": """
            WITH assigned AS (
              SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                             date_trunc('hour', ts)]) AS w_start,
                     value
              FROM events
            )
            SELECT CAST(w_start AS TIMESTAMP) AS w_start,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     / count(value) AS mean_value
            FROM assigned
            GROUP BY w_start
            ORDER BY w_start
        """,
        "order_gap_stats": """
            WITH g AS (
              SELECT o_custkey, o_orderdate,
                     lead(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate,
                                                      o_orderkey)
                       AS next_date
              FROM orders
            ), gaps AS (
              SELECT o_custkey,
                     date_diff('day', o_orderdate, next_date) AS gap_days
              FROM g WHERE next_date IS NOT NULL
            )
            SELECT c.c_mktsegment,
                   count(*) AS n_gaps,
                   CAST(sum(gap_days) AS BIGINT) AS total_gap_days,
                   round(CAST(sum(gap_days) AS DOUBLE) / count(*), 4)
                     AS avg_gap_days,
                   CAST(max(gap_days) AS BIGINT) AS max_gap_days
            FROM gaps JOIN customer c ON gaps.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
            ORDER BY c.c_mktsegment
        """,
        "balance_quartiles": """
            WITH q AS (
              SELECT c_nationkey, c_acctbal,
                     ntile(4) OVER (PARTITION BY c_nationkey
                                    ORDER BY c_acctbal, c_custkey)
                       AS quartile
              FROM customer
            )
            SELECT c_nationkey, CAST(quartile AS INTEGER) AS quartile,
                   count(*) AS n,
                   min(c_acctbal) AS lo_bal,
                   max(c_acctbal) AS hi_bal
            FROM q
            GROUP BY c_nationkey, quartile
            ORDER BY c_nationkey, quartile
        """,
        "customer_running_revenue": """
            SELECT o.o_custkey, o.o_orderkey,
                   CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
                   CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                              OVER (PARTITION BY o.o_custkey
                                    ORDER BY o.o_orderdate, o.o_orderkey
                                    ROWS UNBOUNDED PRECEDING), 2)
                        AS DOUBLE) AS running_total
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'MACHINERY'
            ORDER BY o.o_custkey, o.o_orderdate, o.o_orderkey
        """,
        "users_purchase_and_error": """
            SELECT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'error'
            ORDER BY user_id
        """,
        "type_status_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            ORDER BY l_returnflag, l_linestatus
        """,
        "value_histogram": """
            SELECT event_type,
                   CAST(floor(value / 25.0) AS INTEGER) AS bucket,
                   CAST(floor(value / 25.0) AS INTEGER) * 25.0 AS lo,
                   count(*) AS n
            FROM events
            GROUP BY event_type, bucket
            ORDER BY event_type, bucket
        """,
        "above_type_average_sql": """
            SELECT event_type, count(*) AS n_above
            FROM events e
            WHERE value > (
              SELECT CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     / count(value)
              FROM events i WHERE i.event_type = e.event_type
            )
            GROUP BY event_type
            ORDER BY event_type
        """,
        "value_outliers": """
            WITH m AS (
              SELECT event_type,
                     count(*) AS n,
                     sum(CAST(value AS DECIMAL(20,6))) AS s1,
                     sum(CAST(value AS DECIMAL(20,6))
                         * CAST(value AS DECIMAL(20,6))) AS s2
              FROM events GROUP BY event_type
            ), z AS (
              SELECT e.event_type,
                     (e.value - CAST(m.s1 AS DOUBLE) / m.n)
                       / sqrt(CAST(m.s2 AS DOUBLE) / m.n
                              - (CAST(m.s1 AS DOUBLE) / m.n)
                                * (CAST(m.s1 AS DOUBLE) / m.n)) AS z
              FROM events e JOIN m USING (event_type)
            )
            SELECT event_type, count(*) AS n_outliers,
                   round(max(abs(z)), 6) AS max_abs_z
            FROM z WHERE abs(z) > 2.5
            GROUP BY event_type ORDER BY event_type
        """,
        "cohort_retention": """
            WITH cohorts AS (
              SELECT user_id,
                     CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
                       AS cohort_week
              FROM events WHERE event_type = 'signup' GROUP BY user_id
            ), activity AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
              FROM events
            )
            SELECT c.cohort_week,
                   CAST(date_diff('day', c.cohort_week, a.act_week) / 7
                        AS INTEGER) AS week_offset,
                   count(*) AS n_active
            FROM activity a JOIN cohorts c USING (user_id)
            WHERE a.act_week >= c.cohort_week
            GROUP BY c.cohort_week, week_offset
            ORDER BY c.cohort_week, week_offset
        """,
        "event_funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1
              FROM events WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL 24 HOUR
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                AND e.ts <= s2.t2 + INTERVAL 24 HOUR
              GROUP BY e.user_id
            )
            SELECT * FROM (
              SELECT 1 AS step, 'view' AS step_name,
                     (SELECT count(*) FROM s1) AS n_users
              UNION ALL
              SELECT 2, 'click', (SELECT count(*) FROM s2)
              UNION ALL
              SELECT 3, 'purchase', (SELECT count(*) FROM s3)
            ) ORDER BY step
        """,
        "top_customers_per_nation": """
            WITH per_cust AS (
              SELECT o_custkey,
                     CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                          AS DOUBLE) AS order_value
              FROM orders GROUP BY o_custkey
            ), ranked AS (
              SELECT n.n_name, c.c_custkey, c.c_name, p.order_value,
                     row_number() OVER (PARTITION BY n.n_name
                                        ORDER BY p.order_value DESC,
                                                 c.c_custkey) AS rk
              FROM per_cust p
              JOIN customer c ON p.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
            )
            SELECT n_name, CAST(rk AS INTEGER) AS rk,
                   c_custkey, c_name, order_value
            FROM ranked WHERE rk <= 3
            ORDER BY n_name, rk
        """,
        "regional_cheapest_supplier": """
            WITH su AS (
              SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name AS nation
              FROM supplier s
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'EUROPE'
            ), pr AS (
              SELECT l.l_partkey, p.p_partkey, p.p_name,
                     su.s_suppkey, su.s_name, su.s_acctbal, su.nation,
                     CAST(round(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                / CAST(l.l_quantity AS DECIMAL(18,2)), 6)
                          AS DOUBLE) AS price
              FROM lineitem l
              JOIN su ON l.l_suppkey = su.s_suppkey
              JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_size = 15
            ), rk AS (
              SELECT *,
                     row_number() OVER (PARTITION BY l_partkey
                                        ORDER BY price, s_suppkey) AS rn,
                     min(price) OVER (PARTITION BY l_partkey) AS min_price
              FROM pr
            )
            SELECT p_partkey, p_name, min_price,
                   s_suppkey, s_name, s_acctbal, nation
            FROM rk WHERE rn = 1
            ORDER BY s_acctbal DESC, p_partkey
            LIMIT 100
        """,
        "important_part_share": """
            WITH per_part AS (
              SELECT l_partkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(3,2))
                            - CAST(l_discount AS DECIMAL(18,2))))
                       AS value_dec
              FROM lineitem GROUP BY l_partkey
            ), tot AS (SELECT sum(value_dec) AS total_dec FROM per_part)
            SELECT l_partkey,
                   CAST(round(value_dec, 2) AS DOUBLE) AS part_value
            FROM per_part, tot
            WHERE value_dec * 1000000 > total_dec * 500
            ORDER BY part_value DESC, l_partkey
        """,
        "excess_share_suppliers": """
            WITH qty AS (
              SELECT l.l_partkey, l.l_suppkey,
                     sum(l.l_quantity) AS supp_qty
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
              WHERE contains(p.p_name, 'red')
              GROUP BY l.l_partkey, l.l_suppkey
            ), tot AS (
              SELECT l_partkey, sum(supp_qty) AS part_qty
              FROM qty GROUP BY l_partkey
            )
            SELECT s.s_suppkey, s.s_name
            FROM supplier s
            WHERE s.s_suppkey IN (
              SELECT q.l_suppkey
              FROM qty q JOIN tot t USING (l_partkey)
              WHERE q.supp_qty > 0.125 * t.part_qty
            )
            ORDER BY s.s_suppkey
        """,
        "sole_failing_supplier": """
            WITH per_order AS (
              SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT CASE WHEN l_returnflag = 'R'
                                         THEN l_suppkey END) AS n_fail_supp,
                     max(CASE WHEN l_returnflag = 'R'
                              THEN l_suppkey END) AS fail_suppkey
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT s.s_suppkey, s.s_name, count(*) AS numwait
            FROM per_order po
            JOIN orders o ON po.l_orderkey = o.o_orderkey
                         AND o.o_orderstatus = 'F'
            JOIN supplier s ON po.fail_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE po.n_supp > 1 AND po.n_fail_supp = 1
              AND n.n_name = 'NATION_3'
            GROUP BY s.s_suppkey, s.s_name
            ORDER BY numwait DESC, s.s_suppkey
            LIMIT 100
        """,
        "type_status_cube": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """,
        "embedding_clusters": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            scored AS (
              SELECT e.vec_id, c.cid,
                     {_COS_SQL.format(a='e.v', b='c.cv')} AS sim
              FROM e CROSS JOIN c),
            ranked AS (
              SELECT vec_id, cid, sim,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cid) AS rn
              FROM scored)
            SELECT cid AS cluster, count(*) AS n_members,
                   min(sim) AS min_sim, max(sim) AS max_sim
            FROM ranked WHERE rn = 1
            GROUP BY cid ORDER BY cluster
        """,
    }
