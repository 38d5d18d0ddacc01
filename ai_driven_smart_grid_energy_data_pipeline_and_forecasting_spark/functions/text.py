"""Text-analysis functions for the training-data pipeline surface:
tokenization, shingles, quality scoring, language ID, fingerprinting,
and the cross-engine-deterministic 32-bit hash the dedup family builds on.

All pure Catalyst expressions (split/transform/aggregate/md5) — no
Python UDFs anywhere, so whole-stage codegen applies and the same
computation is exactly reproducible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def h32(col: Column) -> Column:
    """Deterministic 32-bit hash usable identically in Spark and DuckDB:
    first 8 hex chars of md5, as a long in [0, 2^32).

    Chosen over ``F.hash`` (Murmur3) because engine-native hashes don't
    agree across engines; md5 is bit-identical everywhere. The md5 is
    ~2x the cost of murmur3 — acceptable for shingle-level hashing,
    and it keeps every dedup operator oracle-checkable.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Whitespace tokenization (single-space convention of the corpus)."""
    return F.split(F.trim(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# BPE-style pre-tokenizer classes: letter runs, single digits,
# single punctuation marks — the GPT-2-family split shape. The pattern
# uses only literal character classes so Java regex (Spark) and RE2
# (DuckDB) agree symbol-for-symbol.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column) -> Column:
    """Subword-proxy token count: letter runs + digits + punctuation.
    A real BPE merges within letter runs, so this lower-bounds GPT-2-ish
    token counts while staying engine-portable and vectorized."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), F.lit(0)))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles. Empty array (not a descending-sequence
    artifact) when the doc has fewer than n tokens — ``F.sequence(1, 0)``
    yields [1, 0] descending, so the guard is mandatory."""
    toks = tokens(col)
    n_sh = F.size(toks) - F.lit(n - 1)
    sh = F.transform(
        F.sequence(F.lit(1), n_sh), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    return F.when(n_sh >= 1, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


# Tiny per-language stopword profiles (top function words). Order = tie
# priority for the argmax.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "les", "et", "des", "que", "une", "dans"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不"],
}

EN_STOPWORDS = LANG_PROFILES["en"]


def stopword_hits(col: Column, words: list[str]) -> Column:
    """Occurrence count (not set intersection) of profile words."""
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(wordlist, t)))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(col, "[^a-zA-Z0-9 ]", "")
    return (F.length(col) - F.length(stripped)) / F.length(col)


def avg_token_len(col: Column) -> Column:
    return F.length(F.regexp_replace(col, " ", "")) / token_count(col)


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: rewards mid-length docs and prose-like
    token lengths, penalizes punctuation soup. Deterministic arithmetic
    only (oracle-matchable)."""
    length_term = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    tok_term = F.least(avg_token_len(col) / F.lit(8.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    return length_term * 0.4 + tok_term * 0.3 + punct_term * 0.3


def lang_id(col: Column) -> Column:
    """N-gram-profile language ID: argmax of per-language stopword
    occurrence counts, priority order on ties (de < en < es < fr < zh by
    declaration). A chained CASE — identical semantics to the SQL oracle."""
    hits = {lang: stopword_hits(col, ws) for lang, ws in LANG_PROFILES.items()}
    langs = list(LANG_PROFILES)
    expr = None
    for i, lang in enumerate(langs):
        others = [hits[o] for o in langs[i + 1 :]]
        cond = F.lit(True)
        for o in others:
            cond = cond & (hits[lang] >= o)
        clause = (cond, F.lit(lang))
        expr = F.when(*clause) if expr is None else expr.when(*clause)
    return expr.otherwise(F.lit(langs[-1]))


def doc_fingerprint(col: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct lowercase token set. Identical docs (up to token order /
    duplication) collide — the exact-dedup key for shuffled near-copies."""
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.lower(col)))))
    return F.md5(canon)


def quality_drop_reason(
    text_col: Column,
    lang_col: Column,
    min_tokens: int = 20,
    max_chars: int = 450,
    min_avg_token_len: float = 4.3,
) -> Column:
    """Gopher/C4-style quality filter cascade, first-failure-wins (the
    text-domain analog of the reference's drop-reason cascade,
    ``streamlit/app.py:273-299``): a document gets exactly one label —
    the first rule it violates in a fixed priority order — so reason
    counts partition the corpus and are auditable.

    Rules (all public-heuristic shapes: length bounds, symbol density,
    stopword presence): too_short (< min_tokens), too_long
    (> max_chars), low_stopword (English doc with zero function-word
    hits), short_tokens (avg token below prose range — symbol soup),
    else kept. Pure per-row Catalyst expressions — integer-derived
    ratios are bit-identical across engines, so thresholds compare
    identically in the DuckDB oracle."""
    n_tok = token_count(text_col)
    return (
        F.when(n_tok < min_tokens, "too_short")
        .when(F.length(text_col) > max_chars, "too_long")
        .when(
            (lang_col == "en") & (stopword_hits(text_col, EN_STOPWORDS) == 0),
            "low_stopword",
        )
        .when(avg_token_len(text_col) < min_avg_token_len, "short_tokens")
        .otherwise("kept")
    )


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats table: the quality/scoring surface."""
    c = F.col(text_col)
    # deliberately unrounded: per-row scalar arithmetic is bit-identical
    # across engines (verified vs DuckDB), while ROUND implementations
    # disagree exactly at x.xxxx5 boundaries — which ratios of small
    # integers hit often
    return docs.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars_obs"),
        token_count(c).cast("long").alias("n_tokens"),
        avg_token_len(c).alias("avg_token_len"),
        (stopword_hits(c, EN_STOPWORDS) / token_count(c)).alias("stop_ratio"),
        punct_ratio(c).alias("punct_ratio"),
        quality_score(c).alias("quality"),
    )


# PII patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB)
# interpret identically: literal classes, bounded repetition, no
# backrefs/lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9 ()-]{6,14}[0-9]",
}


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (vectorized regexp, no UDF)."""
    return F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[kind]), F.lit(0)))


def redact_pii(col: Column) -> Column:
    """Replace every PII match with a typed placeholder — the standard
    pre-training scrub. A fixed chain of ``regexp_replace`` (email →
    ipv4 → phone; order matters only for overlapping matches, which the
    placeholder tokens preclude). Pure codegen'd expressions: at 100 TB
    this runs in the scan stage with zero extra passes."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def pii_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level PII audit: per-kind match totals + affected-doc
    counts, one scan, one scalar aggregate."""
    c = F.col(text_col)
    aggs = []
    for kind in PII_PATTERNS:
        n = pii_count(c, kind)
        aggs.append(F.sum(n.cast("bigint")).alias(f"n_{kind}"))
        aggs.append(
            F.sum((n > 0).cast("bigint")).alias(f"docs_with_{kind}")
        )
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *aggs,
        F.sum(
            (F.length(c) - F.length(redact_pii(c))).cast("bigint")
        ).alias("redaction_char_delta"),
    )


def ngram_totals(col: Column, n: int = 2) -> Column:
    """Total (non-distinct) n-gram count: ``max(len(tokens)-(n-1), 0)``."""
    return F.greatest(token_count(col) - F.lit(n - 1), F.lit(0))


def ngram_distinct(col: Column, n: int = 2) -> Column:
    """Distinct n-gram count (via the shared shingle builder)."""
    return F.size(word_shingles(col, n))


def repetition_stats(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    n: int = 2,
    high_num: int = 1,
    high_den: int = 5,
) -> DataFrame:
    """Gopher-style repetition audit per group: how much of the corpus
    is repeated n-grams, and how many documents exceed the
    high-repetition threshold (``dup/total > high_num/high_den``,
    stated as an integer cross-multiplication so the comparison is
    exact on every engine).

    The aggregate ratio divides two exact integer sums — one division
    at the end, no mean-of-ratios fold-order hazard. Scale: per-row
    expressions + one small groupBy; no shuffle of text, only counts."""
    c = F.col(text_col)
    total = ngram_totals(c, n)
    dup = total - ngram_distinct(c, n)
    return (
        docs.select(
            F.col(group_col),
            total.cast("long").alias("n_grams"),
            dup.cast("long").alias("n_dup"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_dup").alias("dup_grams"),
            F.round(
                F.sum("n_dup").cast("double") / F.sum("n_grams").cast("double"), 6
            ).alias("rep_frac"),
            F.sum(
                (F.col("n_dup") * high_den > F.col("n_grams") * high_num)
                .cast("bigint")
            ).alias("n_high_rep"),
        )
        .orderBy(group_col)
    )


def corpus_ngram_topk(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide heavy-hitter n-grams: explode every (non-distinct)
    n-gram, count, top-k with a total tiebreak (count desc, gram asc).

    Scale: the explode multiplies rows ×~doc_len, but the partial
    aggregate collapses them map-side before the one exchange on the
    gram key; top-k is TakeOrderedAndProject (no global sort). At
    extreme vocabularies a count-min sketch pre-pass would bound the
    exchange — unnecessary while distinct-gram cardinality ≪ corpus
    size, which holds for natural-language n-grams."""
    toks = tokens(F.col(text_col))
    n_sh = F.size(toks) - F.lit(n - 1)
    grams = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(k)
    )


def commonness_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency ("commonness") audit per group — the
    integer-exact proxy for LM-likelihood filtering: documents built
    from rare tokens score low, boilerplate built from the corpus's
    most common tokens scores high. Two aggregates: a global unigram
    frequency table (vocabulary-sized — broadcasts), then per-group
    totals. The score divides two exact integer sums at the very end,
    so no transcendental functions (log's last ulp is libm-specific,
    banned by the determinism policy) and no float fold-order anywhere.

    Scale: explode multiplies rows by doc length but both aggregates
    partial-combine map-side; the frequency join is a broadcast of the
    vocabulary."""
    tok = docs.select(
        F.col(group_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tok_freq"))
    return (
        tok.join(F.broadcast(freq), "token")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tok_freq").alias("freq_sum"),
            F.round(
                F.sum("tok_freq").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_commonness"),
        )
        .orderBy(group_col)
    )


def doc_keywords(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k distinctive terms per document — keyword extraction by
    (tf DESC, df ASC, term ASC): the TF-IDF ordering without the
    logarithm. For a FIXED document, rank by tf·ln(N/df) is exactly
    rank by (tf, −df) on ties-broken integer pairs whenever one term
    dominates another on both coordinates; using the integer ordering
    directly keeps the operator engine-exact (log's last ulp is
    libm-specific, banned by the determinism policy) while producing
    the classic "frequent here, rare elsewhere" keyword list.

    Plan shape at scale: tf is a (doc, term) aggregate (map-side
    partial), df one more aggregate over the tf table (one row per
    distinct (doc, term) — already deduped, so df = document
    frequency, not term count), the join shuffles on term, and the
    per-doc top-k is a bounded window. No floats anywhere, so the
    DuckDB oracle matches bit-exactly under any partitioning."""
    from pyspark.sql import Window

    tok = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("token")
    )
    return (
        tf.join(df_, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "token", "tf", "df")
        .orderBy("doc_id", "rank")
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token windows — the
    chunking pass every retrieval/embedding pipeline runs before
    vectorizing (fixed window so chunk embeddings are comparable;
    overlap so no span is split across a boundary unseen).

    Chunk k covers tokens [k·stride, k·stride + window) with
    stride = window − overlap; the chunk count ceil(max(n − window,
    0)/stride) + 1 covers every token, and a short document yields one
    whole-document chunk. Pure Catalyst: one generate-only posexplode
    over the per-doc chunk-index sequence and an array slice per chunk
    — no shuffle, no Python, fully deterministic, so the DuckDB oracle
    matches the text byte-for-byte.
    """
    if not 0 <= overlap < window:
        raise ValueError(
            f"need 0 <= overlap < window, got window={window} overlap={overlap}"
        )
    stride = window - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = (
        F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(float(stride))) + 1
    ).cast("int")
    out = docs.select(
        F.col(id_col),
        toks.alias("_tk"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    sliced = F.slice(F.col("_tk"), F.col("chunk_idx") * stride + 1, window)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(sliced).cast("long").alias("n_chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


def feature_hash_counts(
    docs: DataFrame,
    n_features: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "feat",
    ngram: int = 1,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009, "Feature Hashing for
    Large Scale Multitask Learning"): vectorize text WITHOUT a
    vocabulary — ``feature_idx = h32(salt ‖ token) mod n_features`` —
    so a 100 TB corpus needs no global token dictionary (building one
    is a corpus-wide distinct + broadcast that the trick exists to
    avoid; collisions are the accepted trade). Output is the sparse
    term-frequency triple (id, feature_idx, tf).

    ``salt`` decouples independent feature spaces on the same corpus
    (same convention as ``sampling.hash_bucket``); md5-backed ``h32``
    keeps the bucketing bit-identical in any engine. Plan: explode →
    one partial-aggregated shuffle on (id, feature_idx) — map-side
    combine absorbs each document's repeated tokens, so the shuffle
    carries ≤ distinct-features-per-doc rows, not token count.

    ``ngram > 1`` hashes overlapping token n-grams instead of single
    tokens (a generate-only transform, no extra shuffle). This is the
    knob that keeps downstream similarity joins sub-quadratic on
    small-vocabulary corpora: unigram document frequency approaches
    |corpus| for common words (every posting bucket hot), while n-gram
    df collapses to near-dup pairs — the same reason the Jaccard
    family shingles before indexing.
    """
    tk = tokens(F.col(text_col))
    if ngram > 1:
        # the short-doc guard matters: sequence(1, 0) in Spark is the
        # DESCENDING [1, 0] (not empty like SQL generate_series), and
        # slice(_, 0, _) then throws — a <ngram-token doc must yield
        # no grams, same as the oracle's empty generate_series
        grams = F.expr(
            f"CASE WHEN size(_tk) >= {ngram} THEN"
            f" transform(sequence(1, size(_tk) - {ngram - 1}),"
            f" i -> array_join(slice(_tk, i, {ngram}), ' '))"
            f" ELSE array() END"
        )
        exploded = docs.select(
            F.col(id_col), tk.alias("_tk")
        ).select(F.col(id_col), F.explode(grams).alias("_tok"))
    else:
        exploded = docs.select(
            F.col(id_col), F.explode(tk).alias("_tok")
        )
    return (
        exploded
        .select(
            id_col,
            (h32(F.concat(F.lit(salt), F.col("_tok"))) % n_features).alias(
                "feature_idx"
            ),
        )
        .groupBy(id_col, "feature_idx")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def domain_affinity_topk(
    docs: DataFrame,
    target_pred: Column,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-selection scoring in the DSIR family (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): rank the corpus by affinity to a TARGET slice
    (here: the rows satisfying ``target_pred``) measured on n-gram/
    unigram statistics, then keep the top-k. DSIR proper scores with a
    log-likelihood ratio; this implementation uses the exact rational
    form — for each document,

        affinity = Σ_t cnt_target[t]  /  Σ_t cnt_corpus[t]

    summed over the document's tokens with multiplicity: the fraction
    of the document's corpus-token mass that lives in the target slice.
    Monotone in the same signal, but both sums are exact BIGINTs and
    the single final division is one IEEE op — no ``log`` (libm-ulp-
    specific, banned by the determinism policy) and no float fold-order
    anywhere, so the ranking is engine-portable and oracle-checkable.

    Plan: one corpus token-frequency aggregate (token-keyed shuffle,
    carrying (cnt_all, cnt_target) per token in one pass via a
    conditional sum), a token-keyed join back to the exploded corpus
    (co-partitioned on the same key — at 100 TB both sides shuffle on
    token once), one per-doc partial agg, and a global top-k
    (TakeOrderedAndProject — per-partition heaps, no full sort).
    """
    toks = docs.select(
        F.col(id_col),
        # coalesce: a NULL predicate (e.g. NULL source) must count as
        # non-target 0, exactly like SQL's CASE WHEN ... ELSE 0 — a
        # bare cast would leave NULL and poison the SUM
        F.coalesce(target_pred.cast("int"), F.lit(0)).alias("_is_target"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    ).where(F.col("_t") != "")
    vocab = toks.groupBy("_t").agg(
        F.count(F.lit(1)).alias("_cnt_all"),
        F.sum("_is_target").alias("_cnt_target"),
    )
    return (
        toks.join(vocab, "_t")
        .groupBy(id_col)
        .agg(
            F.sum("_cnt_target").alias("target_mass"),
            F.sum("_cnt_all").alias("corpus_mass"),
        )
        .select(
            id_col,
            "target_mass",
            "corpus_mass",
            (
                F.col("target_mass").cast("double") / F.col("corpus_mass")
            ).alias("affinity"),
        )
        .orderBy(F.desc("affinity"), id_col)
        .limit(k)
    )


def lexical_diversity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical diversity as the Simpson repeat probability
    — the probability two tokens drawn without replacement are the
    same type, ``Σ c_t(c_t−1) / (n(n−1))`` — plus the type-token
    ratio. The log-free quality signal (entropy needs ``log``, whose
    last ulp is libm-specific and banned by the determinism policy):
    boilerplate built from few repeated types scores a high repeat
    probability, diverse prose scores near 0. Exact integer sums with
    one final division — bit-identical cross-engine.

    Plan: explode → one partial-aggregated shuffle on (doc, token) →
    per-doc partial agg. Docs with < 2 tokens emit NULL (no pair to
    draw)."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    ).where(F.col("_t") != "")
    per_type = toks.groupBy(id_col, "_t").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        per_type.groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("_c") * (F.col("_c") - 1)).alias("_rep"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_types",
            (F.col("n_types").cast("double") / F.col("n_tokens")).alias(
                "type_token_ratio"
            ),
            F.when(
                F.col("n_tokens") >= 2,
                F.col("_rep").cast("double")
                / (F.col("n_tokens") * (F.col("n_tokens") - 1)),
            ).alias("repeat_probability"),
        )
        .orderBy(id_col)
    )


def _adjacent_pairs(toks: Column, x: str, y: str) -> Column:
    """Every token paired with its successor: an array of
    ``struct<x, y>`` over a token array — the one positional-bigram
    builder of the co-occurrence family. The struct field names are the
    caller's, because the plans print them (``a``/``b`` for the directed
    bigram counts and the LM, ``x``/``y`` for the canonical edge list)."""
    return F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias(x), b.alias(y)),
    )


def _bigram_counts(base: DataFrame, count_col: str) -> DataFrame:
    """Directed corpus bigram counts ``(a, b, <count_col>)`` over the
    ``_tk`` token arrays of ``base``: one explode of the positional
    pairs, one partial-agg groupBy. Docs with < 2 tokens give no pair."""
    return (
        base.where(F.size("_tk") >= 2)
        .select(F.explode(_adjacent_pairs(F.col("_tk"), "a", "b")).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias(count_col))
    )


def _canonical_edges(docs, text_col, min_count):
    """The undirected co-occurrence edge list ``(a, b, w)`` with a < b:
    adjacent pairs canonicalized to (least, greatest), self-pairs
    dropped, both directions summed by one partial-agg groupBy, and
    edges seen fewer than ``min_count`` times pruned."""
    return (
        docs.select(tokens(F.col(text_col)).alias("_tk"))
        .where(F.size("_tk") >= 2)
        .select(F.explode(_adjacent_pairs(F.col("_tk"), "x", "y")).alias("p"))
        .select(
            F.least("p.x", "p.y").alias("a"),
            F.greatest("p.x", "p.y").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= min_count)
    )


def _both_ways(bi: DataFrame) -> DataFrame:
    """An ``(a, b, w)`` edge list as directed ``(u, v, w)`` rows, one
    per direction, each carrying the full pair weight."""
    return bi.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "w"
    ).unionByName(
        bi.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    )


def corpus_collocations(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Corpus-level collocation extraction: adjacent token bigrams
    ranked by pointwise-mutual-information LIFT — the log-free form

        lift(a,b) = (c(ab)·N·N) / (B·c(a)·c(b))

    (PMI = log lift; log is monotone, so the ranking is identical and
    the score stays a fixed sequence of IEEE ops on exact integer
    counts — the ``doc_keywords`` log-free-TF-IDF convention, keeping
    the result engine-portable where a transcendental would drift).
    ``min_count`` suppresses the classic PMI pathology of rare pairs
    dominating (Church & Hanks 1990's standard remedy).

    Plan: one explode for unigram counts, one for positional bigrams
    (both partial-aggregated), a token-keyed join of pair counts
    against the two unigram sides, 1-row scalar totals broadcast
    cross-joined, then a global top-k (TakeOrderedAndProject). No
    Python, no windows; counts are BIGINTs and every count is < 2⁵³
    at any realistic corpus size, so the double products round
    identically everywhere."""
    toks = tokens(F.col(text_col))
    base = docs.select(toks.alias("_tk"))
    uni = (
        base.select(F.explode("_tk").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi_all = _bigram_counts(base, "n_pair")
    # B is the total bigram mass BEFORE the min_count cut (p(ab) =
    # c(ab)/B over the whole corpus; the cut only prunes the output)
    bi = bi_all.where(F.col("n_pair") >= min_count)
    totals = uni.agg(
        F.sum("c").alias("_n")
    ).crossJoin(
        F.broadcast(
            bi_all.agg(F.sum("n_pair").alias("_b"))
        )
    )
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("_ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("_cb"))
    nd = F.col("_n").cast("double")
    bd = F.col("_b").cast("double")
    lift = (
        F.col("n_pair").cast("double") * nd * nd
    ) / (bd * F.col("_ca").cast("double") * F.col("_cb").cast("double"))
    return (
        bi.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(totals))
        .select("a", "b", "n_pair", lift.alias("lift"))
        .orderBy(F.desc("lift"), "a", "b")
        .limit(k)
    )


TFIDF_SCALE = 1_000_000


def _query_terms(query: str, fn: str) -> list[str]:
    """The query's distinct whitespace terms, sorted — a driver-side
    literal list; an empty query is refused in the caller's name."""
    terms = sorted(set(query.strip().split()))
    if not terms:
        raise ValueError(f"{fn} needs a non-empty query")
    return terms


def _check_search(fn, k, k1_scaled=0, b_scaled=0, fb_docs=1, fb_terms=1):
    """Refuse retrieval parameters outside the domain the fixed-point
    pipeline is defined on, on the driver before any job: a top-k or
    feedback size below 1 asks for nothing, and the BM25 overflow bound
    (every ``div`` quotient below the saturation ceiling) holds only
    for k1 >= 0 and 0 <= b <= 1."""
    if k < 1:
        raise ValueError(f"{fn}: k must be >= 1, got {k}")
    if k1_scaled < 0 or not 0 <= b_scaled <= TFIDF_SCALE:
        raise ValueError(
            f"{fn}: need k1_scaled >= 0 and 0 <= b_scaled <= {TFIDF_SCALE},"
            f" got k1_scaled={k1_scaled}, b_scaled={b_scaled}"
        )
    if fb_docs < 1 or fb_terms < 1:
        raise ValueError(
            f"{fn}: fb_docs and fb_terms must be >= 1, got"
            f" fb_docs={fb_docs}, fb_terms={fb_terms}"
        )


def _idf_tfidf(n: str, df: str) -> str:
    """The fixed-point TF-IDF idf ``(S·N) div df`` as a SQL fragment
    over the caller's column names; S·N rides a decimal(38,0) carrier.
    The tf factor and its cast stay with the caller."""
    return f"cast({TFIDF_SCALE} as decimal(38,0)) * {n} div {df}"


def _topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Top-k ``(id, score)`` by score descending, ties by ascending id
    (a TakeOrderedAndProject)."""
    return (
        scored.orderBy(F.desc("score"), id_col)
        .limit(k)
        .select(id_col, "score")
    )


def _tfidf_topk(hits, df_tbl, n, id_col, k, term_score):
    """The TF-IDF scorer: ``term_score`` of every ``hits`` row against
    the broadcast per-term ``df_tbl`` and one-row ``n``, summed per doc
    as an exact decimal, cast back to BIGINT once, then the top-k."""
    scored = (
        hits.join(F.broadcast(df_tbl), "t")
        .crossJoin(F.broadcast(n))
        .select(id_col, term_score.alias("_term_score"))
        .groupBy(id_col)
        .agg(F.sum("_term_score").cast("long").alias("score"))
    )
    return _topk(scored, id_col, k)


def _bm25_topk(
    hits, df_tbl, stats, id_col, k, k1_scaled, b_scaled,
    tf="_tf", dl="_dl", df="_df", n="_n", l="_l",
):
    """The one BM25 scorer (formula and overflow argument in
    ``bm25_search``): the idf table from ``df_tbl`` (t, df) and the
    one-row ``stats`` (n, l), the fixed-point term score of every
    ``hits`` row (id, t, tf, dl), the per-doc sum and the top-k.

    The column names are the callers' own — ``_tf``/``_dl``/``_df``/
    ``_n``/``_l`` inline, the postings' ``tf``/``dl`` and the index
    stats' ``n``/``l`` in the index probes — so every plan prints the
    names it printed before the five retrieval paths shared this."""
    S = TFIDF_SCALE
    idf_tbl = df_tbl.crossJoin(F.broadcast(stats)).select(
        "t",
        F.expr(
            f"floor({S}L * ln(1 + cast(2*{n} - 2*{df} + 1 as double)"
            f" / cast(2*{df} + 1 as double)))"
        ).alias("_idf_s"),
    )
    # decimal(38,0) carriers for the wide products; div quotients are
    # bounded by construction (see bm25_search) so the BIGINT result of
    # Spark's decimal div cannot wrap
    norm_s = (
        f"({S}L - {b_scaled}L"
        f" + cast({b_scaled} as decimal(38,0)) * {dl} * {n} div {l})"
    )
    tf_d = f"cast({tf} as decimal(38,0))"
    scored = (
        hits.join(F.broadcast(idf_tbl), "t")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.expr(
                f"_idf_s * (({tf_d} * {k1_scaled + S}L * {S}L)"
                f" div ({tf_d} * {S}L"
                f" + (cast({k1_scaled} as decimal(38,0)) * {norm_s})"
                f" div {S}L))"
            ).alias("_term_score"),
        )
        .groupBy(id_col)
        .agg(F.sum("_term_score").alias("score"))
    )
    return _topk(scored, id_col, k)


def _inline_bm25(docs, keep, k, k1_scaled, b_scaled, text_col, id_col):
    """BM25 over a raw corpus: the (N, L) scalar pair as one
    full-corpus aggregate, then the tf/df tables over the (doc,
    query-term) hit rows, with dl carried through the explode.
    ``keep`` narrows the exploded ``(id, _dl, t)`` rows to the query
    terms (an IN literal in ``bm25_search``, a broadcast semi-join in
    the final round of ``bm25_prf_search``)."""
    toks = tokens(F.col(text_col))
    stats = docs.select(toks.alias("_tk")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.size("_tk")).alias("_l"),
    )
    hits = keep(
        docs.select(
            F.col(id_col),
            F.size(toks).alias("_dl"),
            F.explode(toks).alias("t"),
        )
    )
    # _dl is functionally dependent on the id; grouping by both keeps
    # it available without a join back to the corpus
    tf_tbl = hits.groupBy(id_col, "_dl", "t").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    # df from the tf table (one row per (doc, term) pair) — counting
    # over _tf keeps the subplan un-pruned so ReuseExchange scans the
    # corpus once for both branches (see tfidf_search)
    df_tbl = tf_tbl.groupBy("t").agg(
        F.count(F.when(F.col("_tf") >= 1, 1)).alias("_df")
    )
    return _bm25_topk(tf_tbl, df_tbl, stats, id_col, k, k1_scaled, b_scaled)


def _prf_expansion(fb_tf, cand_df, n, fb_terms):
    """The PRF expansion terms as a one-column ``t`` frame: feedback-set
    tf (``_fbtf``) times the fixed-point corpus idf (candidate ``_df``,
    one-row ``n`` with ``_n``), the ``fb_terms`` heaviest, ties by term
    ascending — a total order, shared by the inline and index PRF."""
    return (
        fb_tf.join(cand_df, "t")
        .crossJoin(F.broadcast(n))
        .select(
            "t",
            F.expr(f"_fbtf * ({_idf_tfidf('_n', '_df')})").alias("_w"),
        )
        .orderBy(F.desc("_w"), "t")
        .limit(fb_terms)
        .select("t")
    )


def tfidf_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-driven text retrieval: rank documents by fixed-point
    TF-IDF against a query string —

        score(d) = Σ_t tf(t, d) · ((SCALE·N) // df(t))

    over the DISTINCT query terms, with N = corpus size and df = the
    term's document frequency. The idf factor is integer-floored at
    ``TFIDF_SCALE`` precision, so every per-term score and the final
    sum are EXACT integers — no float addition anywhere, hence no
    partition-order sensitivity and a value-exact SQL oracle (the
    ``doc_keywords`` log-free convention extended to retrieval; the
    floor costs < 1e-6 relative idf precision, far below any ranking
    consequence). The S·N and tf·idf products ride decimal(38,0) /
    HUGEINT carriers (bare BIGINT wraps silently at N ≈ 9e12 resp.
    tf·N ≈ 9e12 — the bm25_search overflow discipline); the idf div
    quotient is ≤ S·N, BIGINT-safe to N ≈ 9e12, documented bound.
    Ties break by ascending id.

    Plan: the query's terms are a literal array (driver-side constant,
    a handful of strings); one explode of the corpus filtered TO THOSE
    TERMS feeds two partial-agg aggregations (per-term df, per-doc
    per-term tf) and a broadcast of the tiny df/N tables; top-k is a
    TakeOrderedAndProject. The corpus shuffles only (doc, query-term)
    hit rows — for a q-term query that is ≤ q·N_docs rows, not the
    token stream."""
    terms = _query_terms(query, "tfidf_search")
    _check_search("tfidf_search", k)
    hits = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    ).where(F.col("t").isin(terms))
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    tf_tbl = hits.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("_tf"))
    # df from the tf table (one row per (doc, term) pair) rather than a
    # second explode of the corpus: counting over _tf (not lit(1))
    # keeps the tf aggregate un-pruned in this branch, so its exchange
    # subplan canonicalizes identically to the scoring branch's and
    # ReuseExchange scans + explodes the corpus ONCE for both
    df_tbl = tf_tbl.groupBy("t").agg(
        F.count(F.when(F.col("_tf") >= 1, 1)).alias("_df")
    )
    # integer floor division: (SCALE·N) div df — exact end to end; the
    # products ride decimal(38,0) so large-N/large-tf domains refuse to
    # wrap (the sum stays exact decimal, cast back once at the end)
    idf_scaled = F.expr(_idf_tfidf("_n", "_df"))
    return _tfidf_topk(
        tf_tbl, df_tbl, n_docs, id_col, k,
        F.col("_tf").cast("decimal(38,0)") * idf_scaled,
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1_scaled: int = 1_200_000,
    b_scaled: int = 750_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-driven Okapi BM25 retrieval (Robertson et al., TREC-3;
    Lucene's non-negative idf variant) in fixed point at scale
    S = ``TFIDF_SCALE``:

        idf_S(t)  = floor(S · ln(1 + (2N − 2df + 1) / (2df + 1)))
        norm_S(d) = S − bS + (bS · dl(d) · N) div L
        part_S    = (tf · (k1S + S) · S) div (tf·S + (k1S · norm_S) div S)
        score(d)  = Σ_t idf_S(t) · part_S(t, d)

    with N = corpus size, L = Σ dl (so dl/avgdl = dl·N/L needs no
    float division), k1 = k1S/S = 1.2 and b = bS/S = 0.75 (the
    standard defaults). This adds the two things ``tfidf_search``
    lacks — tf SATURATION (part_S plateaus at (k1+1)·S as tf grows)
    and LENGTH NORMALIZATION (long documents pay b·dl/avgdl).

    Exactness: the ONE transcendental (ln) is floored to an integer at
    S-precision before it touches any product or sum, so all checked
    arithmetic downstream is exact — partition-order-free, and the SQL
    oracle mirrors every div. Cross-engine risk is confined to the
    floor boundary of ln on bit-identical double inputs (engines agree
    to ≤2 ulp ≈ 1e-8 absolute after the S shift; a mismatch needs
    frac(S·ln) within that of 0 — negligible, and only on the ≤|query|
    distinct df values). Ties break by ascending id.

    Overflow hardening: the three wide products (bS·dl·N, tf·(k1+1)·S²,
    k1S·norm_S) ride a decimal(38,0) carrier on the Spark side and
    HUGEINT on the DuckDB side — 38 digits hold dl·N ≤ 1.3e32 and
    tf ≤ 4.5e25, i.e. any physically realizable corpus, where bare
    BIGINT would wrap at N·dl ≈ 1.2e13 (one day of a large crawl).
    Every ``div`` QUOTIENT is bounded by construction — part_S ≤
    (k1+1)·S = 2.2e6 (the saturation ceiling), the norm ratio by
    bS·(dl_max/avgdl) — so Spark's decimal ``div`` (which returns
    BIGINT and would wrap silently on a > 9.2e18 quotient) is safe.

    Plan: like ``tfidf_search`` — the corpus shuffles only the
    (doc, query-term) hit rows, with dl carried through the explode —
    plus ONE extra full-corpus aggregate for the (N, L) scalar pair
    (broadcast, 1 row). df/idf tables are ≤|query| rows, broadcast;
    top-k is a TakeOrderedAndProject. No windows, no Python."""
    terms = _query_terms(query, "bm25_search")
    _check_search("bm25_search", k, k1_scaled, b_scaled)
    return _inline_bm25(
        docs, lambda h: h.where(F.col("t").isin(terms)),
        k, k1_scaled, b_scaled, text_col, id_col,
    )


def _search_stats(docs, text_col, batch_id):
    toks = tokens(F.col(text_col))
    return docs.select(toks.alias("_tk")).agg(
        F.lit(batch_id).alias("batch_id"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("_tk")).alias("l"),
    )


def _write_index_batch(
    docs, table_prefix, text_col, id_col, batch_id, n_buckets, mode
):
    """Write one index batch — postings table + its stats row — with
    the corpus tokenized ONCE (r15): the stats aggregates ride the
    postings write job itself via ``observe`` (a ``CollectMetrics``
    node on the pre-explode frame — accumulator cost only, no second
    pass, no extra job), where the old shape paid a second full
    tokenize of the corpus to compute two scalars. At ingest scale the
    text column dominates the batch's bytes, so the saved pass is a
    full corpus read per index write.

    Value-identity with ``_search_stats(docs, ...)`` is by
    construction: ``n`` is ``count(1)`` and ``l`` is
    ``sum(size(tokens))`` over the SAME pre-explode rows the old
    aggregate read (NULL text contributes NULL to the sum and counts
    in ``n``, exactly as before) — tested on NULL/empty/whitespace
    corpora and across crash replays. Replay safety is unchanged: the
    observed values are deterministic in the input, so a replayed
    append writes a byte-identical stats row and the probe's
    content-dedup keeps holding. Observed metrics are exact under task
    retries (accumulator updates apply once per successful partition).
    The two scalars cross the driver (the registry's bounded-collect
    policy: 2 values per write)."""
    from pyspark.sql import Observation

    toks = tokens(F.col(text_col))
    obs = Observation()
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        toks.alias("_tk"),
    ).observe(obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("l"))
    postings = (
        base.select(id_col, "dl", F.explode("_tk").alias("t"))
        .groupBy("t", id_col, "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("t", id_col, "dl", "tf", F.lit(batch_id).alias("batch_id"))
    )
    writer = (
        postings.write.format("parquet").mode(mode)
        .bucketBy(n_buckets, "t").sortBy("t")
    )
    writer.saveAsTable(f"{table_prefix}_postings")
    if obs._jo.getRow().size() == 0:
        # a batch with ZERO posting rows (every text NULL — the only
        # way, since any non-NULL text yields >= 1 token) loses its
        # observed-metrics row to AQE empty-relation handling: the
        # metrics row comes back empty and obs.get would fail in row
        # conversion. Fall back to the direct aggregate — one extra
        # (trivial) pass over that degenerate batch only,
        # value-identical by definition
        stats_df = _search_stats(docs, text_col, batch_id)
    else:
        got = obs.get
        stats_df = docs.sparkSession.createDataFrame(
            [(batch_id, got["n"], got["l"])],
            "batch_id string, n bigint, l bigint",
        )
    stats_df.write.format("parquet").mode(mode).saveAsTable(
        f"{table_prefix}_stats"
    )


def persist_search_index(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: str = "base",
) -> None:
    """Materialize a corpus's INVERTED TEXT INDEX as catalog tables —
    the offline half of query-driven retrieval, so that serving a
    query never rescans (or even re-tokenizes) the corpus:

    - ``<prefix>_postings``: (t, doc_id, dl, tf, batch_id), bucketed +
      sorted by term — a probe for a handful of query terms reads only
      the matching buckets (bucket pruning on the IN filter),
      shuffle-free on the index side;
    - ``<prefix>_stats``: one (batch_id, N, Σdl) row per ingested
      batch — the scalars BM25 needs, summed at probe time.

    Per-term document frequency is NOT a stored table: the probe
    derives df from the posting rows it reads anyway (count of
    (t, doc) rows per term, over pruned buckets only) — one less
    aggregate to keep consistent under incremental growth.

    Every row carries its ``batch_id`` and the probe deduplicates by
    full row content, which makes ``append_search_index`` replays
    EXACTLY-once by construction — no side-channel marker files. The
    LSH index's marker protocol tolerates its residual
    append-commit→marker-touch window because duplicate bands are
    correctness-harmless there; here df/N/Σdl are SUMS, a replayed
    append would silently shift every score, so idempotency must come
    from content, not bookkeeping. ``search_index_topk`` reproduces
    ``tfidf_search`` / ``bm25_search`` BIT-EXACTLY from these tables
    (tested, including across appends and replays)."""
    # one corpus tokenize per write: the stats scalars ride the
    # postings write job via observe (see _write_index_batch) —
    # value-identical to _search_stats by construction
    _write_index_batch(
        docs, table_prefix, text_col, id_col, batch_id, n_buckets,
        "overwrite",
    )


def append_search_index(
    docs: DataFrame,
    table_prefix: str,
    batch_id: str,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a new batch of documents into a persisted search index:
    appends their postings (same bucket spec — files land pre-hashed,
    preserving the probe's pruned no-Exchange read) and one stats row,
    both tagged ``batch_id``. Contract: batches carry DISJOINT doc ids
    (re-ingesting a changed document is upsert territory — delete and
    rebuild its batch, or route through a transactional table format),
    and each DISTINCT batch gets a UNIQUE batch_id — reusing an id for
    different content defeats the content-dedup replay guard (two
    stats rows with the same id but different counts both survive the
    distinct and double-count).

    Crash-replay safe WITHOUT markers: a replayed append writes rows
    byte-identical to the committed ones, and the probe deduplicates by
    full row content — so any prefix of {postings committed, stats
    committed} followed by a full replay converges to exactly-once
    scores (tested with both crash windows). Contrast
    ``append_lsh_index``'s per-table markers, whose residual window is
    harmless there but would silently corrupt sums here."""
    # one corpus tokenize per append: stats ride the postings write
    # job via observe (see _write_index_batch); a replayed append
    # observes the same deterministic values, so the replay guard holds
    _write_index_batch(
        docs, table_prefix, text_col, id_col, batch_id, n_buckets,
        "append",
    )


def search_index_topk(
    spark,
    table_prefix: str,
    query: str,
    k: int = 10,
    mode: str = "bm25",
    k1_scaled: int = 1_200_000,
    b_scaled: int = 750_000,
) -> DataFrame:
    """ONLINE half of persisted retrieval: top-k documents for a query
    from the tables ``persist_search_index`` wrote, touching only the
    query terms' postings (bucket-pruned read, no Exchange on the
    index side) plus the tiny per-batch stats rows. The arithmetic is
    the SAME fixed-point pipeline as ``tfidf_search`` / ``bm25_search``
    (integer idf floor, decimal(38,0) carriers, bounded div quotients),
    so the result is bit-identical to running the inline search over
    the full ingested corpus — the offline/online split changes WHERE
    the postings come from, never a single score.

    Incremental-growth semantics: pruned postings and stats rows are
    DEDUPLICATED BY CONTENT before use (a crash-replayed append writes
    byte-identical rows, so the dedup makes replays exactly-once —
    sums would be silently wrong otherwise); per-term df is then the
    count of (t, doc) posting rows per term, derived from the rows the
    probe reads anyway, and (N, L) is the sum of the per-batch stats
    rows."""
    terms = _query_terms(query, "search_index_topk")
    if mode not in ("bm25", "tfidf"):
        raise ValueError(f"unknown mode {mode!r}: use 'bm25' or 'tfidf'")
    _check_search("search_index_topk", k, k1_scaled, b_scaled)
    postings = (
        spark.table(f"{table_prefix}_postings")
        .where(F.col("t").isin(terms))
        .distinct()
    )
    df_tbl = postings.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        spark.table(f"{table_prefix}_stats")
        .distinct()
        .agg(F.sum("n").alias("n"), F.sum("l").alias("l"))
    )
    if mode == "bm25":
        return _bm25_topk(
            postings, df_tbl, stats, "doc_id", k, k1_scaled, b_scaled,
            tf="tf", dl="dl", df="df", n="n", l="l",
        )
    return _tfidf_topk(
        postings, df_tbl, stats, "doc_id", k,
        F.expr(f"cast(tf as decimal(38,0)) * ({_idf_tfidf('n', 'df')})"),
    )


def prf_index_topk(
    spark,
    table_prefix: str,
    query: str,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    k1_scaled: int = 1_200_000,
    b_scaled: int = 750_000,
) -> DataFrame:
    """Pseudo-relevance feedback served ENTIRELY from the persisted
    inverted index (r14) — the at-scale path the repeated-scan audit
    prescribed for ``bm25_prf_search``: inline PRF pays ~5
    semi-join-filtered corpus passes per query because every stage
    re-tokenizes the text column; here every stage reads the postings
    tables instead, so a 100 TB corpus is tokenized once at ingest
    and never again:

    - round 1 = ``search_index_topk`` (bucket-pruned probe of the
      original query terms);
    - feedback term mining = the feedback docs' posting rows
      (``Σ tf`` per term ≡ the inline explode-count, since a posting
      row IS the per-(term, doc) occurrence count) — one narrow
      postings scan filtered by a broadcast ≤fb_docs id set, not a
      corpus re-tokenize;
    - candidate df = posting-row counts per candidate term;
    - round 2 = the BM25 fixed-point arithmetic over the expanded
      term set's postings (broadcast semi-join — the data-dependent
      analogue of the probe's IN filter).

    Every aggregate is over content-DEDUPLICATED rows (the replay
    guard of the index family), N/Σdl come from the summed per-batch
    stats rows, and every expression is the same fixed-point pipeline
    as ``bm25_prf_search`` — the result is BIT-IDENTICAL to inline
    PRF over the full ingested corpus (identity-tested incl. across
    appends), so the inline entry's chained oracle certifies this
    path verbatim."""
    terms = _query_terms(query, "prf_index_topk")
    _check_search("prf_index_topk", k, k1_scaled, b_scaled, fb_docs, fb_terms)
    # r14 probe-shape fixes (content-dedup semantics unchanged —
    # ``distinct`` commutes with every filter applied here, so
    # deduplicating AFTER the prune shuffles the pruned rows, not the
    # whole postings table; the prior shape paid a full-table distinct
    # exchange once per consumer):
    postings = spark.table(f"{table_prefix}_postings")
    stats = (
        spark.table(f"{table_prefix}_stats")
        .distinct()
        .agg(F.sum("n").alias("_n"), F.sum("l").alias("_l"))
    )
    top1 = search_index_topk(
        spark, table_prefix, query, k=fb_docs, mode="bm25",
        k1_scaled=k1_scaled, b_scaled=b_scaled,
    ).select("doc_id")
    fb_tf = (
        postings.join(F.broadcast(top1), "doc_id", "left_semi")
        .where(~F.col("t").isin(terms))
        .distinct()
        .groupBy("t")
        .agg(F.sum("tf").alias("_fbtf"))
    )
    cand_df = (
        postings.join(F.broadcast(fb_tf.select("t")), "t", "left_semi")
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    expansion = _prf_expansion(fb_tf, cand_df, stats.select("_n"), fb_terms)
    # the final term set is bounded by fb_terms + |query| — collect it
    # (the registry's bounded-collect policy) so round 2 is a
    # bucket-pruned IN-filter read of exactly the expanded terms'
    # postings, the same pruned shape as ``search_index_topk``, instead
    # of two more full-table scans behind a broadcast semi join.
    # Deterministic: the expansion ranking is a total order (_w desc,
    # then term).
    all_terms = sorted(set(terms) | {r[0] for r in expansion.collect()})
    hits = postings.where(F.col("t").isin(all_terms)).distinct()
    df_tbl = hits.groupBy("t").agg(F.count(F.lit(1)).alias("_df"))
    return _bm25_topk(
        hits, df_tbl, stats, "doc_id", k, k1_scaled, b_scaled,
        tf="tf", dl="dl",
    )


def doc_lm_nll(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Language-model quality scoring (the CCNet recipe, Wenzek et al.
    2020, with the corpus as its own training set): score every
    document by its negative log-likelihood under an add-one-smoothed
    BIGRAM model of the corpus,

        nll_S(a b)  = floor(S · ln((c(a·) + V) / (c(ab) + 1)))
        nll_sum(d)  = Σ_positions nll_S(bigram at position)
        avg_nll_s   = nll_sum div n_bigrams

    with c(ab) = corpus bigram count, c(a·) = count of bigrams whose
    context is a, V = vocabulary size (add-one mass). High average NLL
    = improbable-under-the-corpus text — the junk a perplexity filter
    drops; the registered query surfaces the top-k worst documents.

    Fixed point at S = ``TFIDF_SCALE``: like ``bm25_search``, the ONE
    transcendental is floored to an integer per DISTINCT bigram TYPE
    before it meets any sum, so per-document totals are exact BIGINTs
    (partition-order-free, value-exact oracle); the floor costs
    < 1e-6 nats per position. ln's argument is a ratio of exact
    integers, bit-identical in both engines.

    Plan: one explode produces the corpus's positional bigrams; from
    it three partial aggregates (bigram counts, context counts, V) —
    the per-doc bigram table reuses the same explode shape. The model
    table (distinct bigrams + nll_S) joins the per-doc counts on
    (a, b) — a shuffle of bigram TYPE rows per doc, not the token
    stream; self-trained scoring means every scored bigram hits the
    model (inner join is total). Documents with < 2 tokens have no
    bigrams and are not scored — a perplexity of nothing is undefined
    (the SQL oracle agrees by construction)."""
    return (
        doc_nll_scores(docs, text_col=text_col, id_col=id_col)
        .orderBy(F.desc("avg_nll_s"), id_col)
        .limit(k)
    )


def doc_nll_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unranked per-document LM scores — the full (id, n_bigrams,
    nll_sum, avg_nll_s) table ``doc_lm_nll`` takes its top-k from and
    ``ccnet_buckets`` terciles. See ``doc_lm_nll`` for the model and
    the fixed-point exactness contract."""
    S = TFIDF_SCALE
    toks = tokens(F.col(text_col))
    pairs = docs.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= 2, _adjacent_pairs(toks, "a", "b")
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p"),
    ).select(id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    # big/ctx deliberately re-explode the corpus instead of deriving
    # from per_doc: deriving them through the per-doc table LOOKS like
    # it saves a corpus pass, but Spark cannot reuse the shared
    # (id, a, b) exchange — the zip_with lambda variables defeat plan
    # canonicalization, so each consumer re-runs the explode into the
    # WIDER doc-keyed shuffle. Measured 2x slower at the 25x replica
    # (r11 A/B: 18.7 s vs 9.3 s warm); the two narrow (a, b)-keyed
    # aggregations below are the cheaper honest form.
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("_cab"))
    ctx = big.groupBy("a").agg(F.sum("_cab").alias("_ca"))
    vocab = docs.select(F.explode(toks).alias("t")).agg(
        F.count_distinct("t").alias("_v")
    )
    model = (
        big.join(ctx, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.expr(
                f"floor({S}L * ln(cast(_ca + _v as double)"
                " / cast(_cab + 1 as double)))"
            ).alias("_nll_s"),
        )
    )
    per_doc = pairs.groupBy(id_col, "a", "b").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    return (
        per_doc.join(model, ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.sum("_tf").alias("n_bigrams"),
            F.sum(F.col("_tf") * F.col("_nll_s")).alias("nll_sum"),
        )
        .select(
            id_col,
            "n_bigrams",
            "nll_sum",
            F.expr("nll_sum div n_bigrams").alias("avg_nll_s"),
        )
    )


def corpus_textrank(
    docs: DataFrame,
    k: int = 50,
    n_iter: int = 5,
    min_count: int = 5,
    damping_scaled: int = 850_000,
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    weighted PageRank over the corpus's token co-occurrence graph
    (adjacent-token bigrams as undirected edges, edge weight = corpus
    count, ``min_count`` pruning as in ``corpus_collocations``), run
    for a FIXED ``n_iter`` iterations in integer fixed point:

        r₀(v)    = R                       (R = TFIDF_SCALE)
        rᵢ₊₁(v) = ((R·(S−d) ) div S)
                   + (d · Σ_u (w(u,v)·rᵢ(u)) div W(u)) div S

    with W(u) = Σ_v w(u,v) the weighted degree and d = 0.85 scaled by
    S = 1e6. Every per-edge contribution is an integer floor-division
    — no floats anywhere, so the iteration is partition-order-free and
    the SQL oracle mirrors it as n_iter chained (non-recursive) CTEs;
    the truncation loses < 1 fixed-point unit of rank mass per edge
    per iteration, orders below any ranking consequence. A fixed
    iteration count (not a convergence test) keeps the plan static and
    the oracle finite; 5 iterations is far past practical keyword-rank
    stability on co-occurrence graphs.

    Plan: edges are ``_bigram_counts`` (explode → partial-agg, shared
    with ``corpus_collocations``), symmetrized by ``_both_ways``; each
    iteration is one join of the rank table to the edge list on the
    source + one partial-agg groupBy on the target — the classic
    distributed PageRank shape (edge list cached across iterations,
    rank table re-derived). The w·r product rides a decimal(38,0)
    carrier; quotients are bounded by the total rank mass N·R. Ties
    break by token ascending."""
    S = TFIDF_SCALE
    if not 0 < damping_scaled < S:
        raise ValueError("damping_scaled must be in (0, S)")
    bi = _bigram_counts(
        docs.select(tokens(F.col(text_col)).alias("_tk")), "w"
    ).where(F.col("w") >= min_count)
    # symmetrize: undirected co-occurrence — each direction carries the
    # full pair weight (self-loops a=b contribute once per direction,
    # consistently with the oracle)
    edges = _both_ways(bi).groupBy("u", "v").agg(F.sum("w").alias("w"))
    wdeg = edges.groupBy("u").agg(F.sum("w").alias("_wu"))
    edges = edges.join(wdeg, "u").localCheckpoint()
    nodes = edges.select(F.col("u").alias("t")).distinct()
    rank = nodes.select("t", F.lit(S).cast("long").alias("r"))
    teleport = (S * (S - damping_scaled)) // S  # R·(1−d), exact driver int
    for _ in range(n_iter):
        contrib = (
            edges.join(rank, edges["u"] == rank["t"])
            .select(
                "v",
                F.expr(
                    "cast(w as decimal(38,0)) * r div _wu"
                ).alias("_c"),
            )
            .groupBy("v")
            .agg(F.sum("_c").alias("_sum_c"))
        )
        rank = (
            nodes.join(contrib, nodes["t"] == contrib["v"], "left")
            .select(
                "t",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"cast({damping_scaled} as decimal(38,0))"
                        f" * coalesce(_sum_c, 0L) div {S}L"
                    )
                ).cast("long").alias("r"),
            )
        )
    return (
        rank.select("t", F.col("r").alias("rank_s"))
        .orderBy(F.desc("rank_s"), "t")
        .limit(k)
    )


def collocation_triangles(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Triangle enumeration over the token co-occurrence graph: all
    token triples mutually adjacent as bigrams (each pair ≥
    ``min_count`` corpus occurrences) — tightly-bound phrase clusters,
    and the canonical JOIN-HEAVY graph kernel (the Cohen 2009 /
    Suri-Vassilvitskii WWW 2011 MapReduce triangle pattern).

    Plan: the pruned bigram edge list is canonicalized to a < b (one
    partial-agg groupBy summing both directions), then two self-joins
    with the ordering constraint a < b < c enumerate each triangle
    exactly once — no candidate is generated twice, which is the point
    of the ordering trick. Edge weights are exact integer counts;
    ``strength`` = the triangle's weakest edge (the bottleneck bond);
    top-k by (strength, lexicographic) is a TakeOrderedAndProject.
    All integers — value-exact SQL oracle."""
    bi = _canonical_edges(docs, text_col, min_count)
    e1 = bi.select(F.col("a"), F.col("b"), F.col("w").alias("w_ab"))
    e2 = bi.select(
        F.col("a").alias("b"), F.col("b").alias("c"), F.col("w").alias("w_bc")
    )
    e3 = bi.select(
        F.col("a").alias("a3"), F.col("b").alias("c3"),
        F.col("w").alias("w_ac"),
    )
    return (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select(
            "a", "b", "c",
            F.least("w_ab", "w_bc", "w_ac").alias("strength"),
        )
        .orderBy(F.desc("strength"), "a", "b", "c")
        .limit(k)
    )


def collocation_kcore(
    docs: DataFrame,
    k_core: int = 3,
    n_rounds: int = 8,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """k-core decomposition of the token co-occurrence graph: the
    maximal subgraph where every token keeps >= k_core co-occurring
    neighbors (Seidman 1983) — the dense vocabulary nucleus that
    survives after peeling peripheral terms, the graph-robustness
    companion to ``collocation_triangles``'s local clusters.

    Synchronous peeling, ``n_rounds`` fixed rounds: each round drops
    every vertex whose CURRENT degree (distinct canonical neighbors)
    is below k_core, then the edges touching it. Peeling is monotone
    (the survivor set only shrinks) and converges in at most |V|
    rounds; a fixed round count keeps the plan finite and the SQL
    oracle expressible as chained CTEs (the ``corpus_textrank``
    convention — a recursive CTE cannot re-aggregate degrees per
    round). On corpora where n_rounds suffices the result IS the exact
    k-core (the registered configuration is convergence-asserted in
    tests by running one extra round); an unconverged call returns the
    round-n_rounds superset, never something smaller.

    Plan: one explode+groupBy builds the canonical a<b edge list
    (``_canonical_edges``, shared with the triangle query); each round
    is one degree aggregate plus two broadcast-able LEFT SEMI joins on
    the survivor set, and the edge list is ``localCheckpoint``ed per
    round so lineage stays constant across rounds (textrank's
    discipline). Degrees are exact integer counts — value-exact
    oracle."""
    if k_core < 1 or n_rounds < 1:
        raise ValueError(
            f"collocation_kcore: k_core and n_rounds must be >= 1, got"
            f" k_core={k_core}, n_rounds={n_rounds}"
        )
    edges = (
        _canonical_edges(docs, text_col, min_count)
        .select("a", "b")
        .localCheckpoint()
    )
    for _ in range(n_rounds):
        deg = (
            edges.select(F.explode(F.array("a", "b")).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k_core).select("v")
        edges = (
            edges.join(
                keep.withColumnRenamed("v", "a"), "a", "left_semi"
            )
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .localCheckpoint()
        )
    return (
        edges.select(F.explode(F.array("a", "b")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), "token")
    )


def bm25_prf_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    k1_scaled: int = 1_200_000,
    b_scaled: int = 750_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (the Rocchio/RM3 recipe,
    Abdul-Jaleel et al., TREC 2004): run BM25, take the top
    ``fb_docs`` documents as presumed-relevant, pick their
    ``fb_terms`` strongest NEW terms, and re-run BM25 with the
    expanded term set — the classic fix for vocabulary mismatch
    ("grid failure" finding documents that say "outage").

    Term selection is fixed-point tf·idf over the feedback set
    (feedback-set tf × corpus idf — the ``tfidf_search`` integers),
    excluding the original query terms, ties by term ascending; the
    final scoring is the exact ``bm25_search`` arithmetic. Everything
    stays in the established integer discipline, so the TWO-ROUND
    retrieval is value-exact against a single chained SQL oracle.

    Plan: round 1 is ``bm25_search`` (hit-rows-only). The expansion
    set is data-dependent, so the final round's token filter is a
    BROADCAST SEMI-JOIN against the tiny expanded-term table instead
    of a pushed-down IN literal — same hit-row volume, one broadcast
    more. The feedback docs' term stats come from a broadcast
    semi-join of the corpus explode against the ≤fb_docs id set."""
    terms = _query_terms(query, "bm25_prf_search")
    _check_search("bm25_prf_search", k, k1_scaled, b_scaled, fb_docs, fb_terms)
    toks = tokens(F.col(text_col))
    top1 = bm25_search(
        docs, query, k=fb_docs, k1_scaled=k1_scaled,
        b_scaled=b_scaled, text_col=text_col, id_col=id_col,
    ).select(id_col)
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    # feedback-set term frequencies (tokens of the presumed-relevant docs)
    fb_tf = (
        docs.join(F.broadcast(top1), id_col, "left_semi")
        .select(F.explode(toks).alias("t"))
        .where(~F.col("t").isin(terms))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("_fbtf"))
    )
    # corpus df for exactly those candidate terms (broadcast semi-join
    # filter on the corpus explode; candidates are a few hundred terms)
    cand_df = (
        docs.select(F.col(id_col), F.explode(toks).alias("t"))
        .join(F.broadcast(fb_tf.select("t")), "t", "left_semi")
        .groupBy("t", id_col)
        .agg(F.lit(1))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    expansion = _prf_expansion(fb_tf, cand_df, n_docs, fb_terms)
    term_tbl = expansion.unionByName(
        docs.sparkSession.createDataFrame([(t,) for t in terms], "t string")
    ).distinct()
    # final round: bm25 arithmetic with the data-dependent term set —
    # identical formula to bm25_search, filter as broadcast semi-join
    return _inline_bm25(
        docs, lambda h: h.join(F.broadcast(term_tbl), "t", "left_semi"),
        k, k1_scaled, b_scaled, text_col, id_col,
    )


def doc_frequent_pairs(
    docs: DataFrame,
    min_support: int = 20,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frequent co-occurring token pairs — Apriori 2-itemsets
    (Agrawal & Srikant, VLDB 1994) with documents as baskets: pairs of
    DISTINCT tokens appearing together (anywhere in the document, not
    adjacent — the complement of ``corpus_collocations``) in at least
    ``min_support`` documents, ranked by support then lift.

    The Apriori downward-closure property is the scale lever: a pair
    can only reach ``min_support`` if BOTH tokens individually do, so
    the quadratic per-document pair generation runs over each doc's
    FREQUENT distinct tokens only — min_support directly caps the
    frequent vocabulary (≤ total_token_mass / min_support terms) and
    with it the join fan-out; without the prune a single 10³-distinct-
    token document alone contributes 5·10⁵ candidate pairs.

    lift = (support · N) / (df_a · df_b) on exact integer counts (the
    collocation module's log-free PMI convention — one deterministic
    double quotient, no float sums). Plan: one explode → per-doc
    distinct (doc, token) rows; one partial-agg df table; a semi-join
    prune; one self-equi-join on the doc id (a < b); one partial-agg
    pair count; TakeOrderedAndProject."""
    toks = tokens(F.col(text_col))
    dt = (
        docs.select(F.col(id_col), F.explode(F.array_distinct(toks)).alias("t"))
    )
    df_tbl = dt.groupBy("t").agg(F.count(F.lit(1)).alias("_df"))
    freq = df_tbl.where(F.col("_df") >= min_support)
    pruned = dt.join(F.broadcast(freq.select("t")), "t", "left_semi")
    a = pruned.select(F.col(id_col), F.col("t").alias("a"))
    b = pruned.select(F.col(id_col), F.col("t").alias("b"))
    pairs = (
        a.join(b, id_col)
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    fa = freq.select(F.col("t").alias("a"), F.col("_df").alias("_dfa"))
    fb = freq.select(F.col("t").alias("b"), F.col("_df").alias("_dfb"))
    lift = (
        F.col("support").cast("double") * F.col("_n").cast("double")
    ) / (F.col("_dfa").cast("double") * F.col("_dfb").cast("double"))
    return (
        pairs.join(F.broadcast(fa), "a")
        .join(F.broadcast(fb), "b")
        .crossJoin(F.broadcast(n_docs))
        .select("a", "b", "support", lift.alias("lift"))
        .orderBy(F.desc("support"), F.desc("lift"), "a", "b")
        .limit(k)
    )


def source_distinctive_terms(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 5,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source distinctive vocabulary: the terms most
    over-represented in each source vs the REST of the corpus, ranked
    by the add-one-smoothed rate ratio

        r(t, s) = ((tf_ts + 1) · (T − T_s + V))
                  / ((T_s + V) · (tf_t − tf_ts + 1))

    — the odds form of Monroe, Colaresi & Quinn's "Fightin' Words"
    log-odds with a flat Dirichlet prior; log is monotone, so the
    ranking is identical and the score stays ONE double quotient of
    two exact integer products (the collocation module's log-free
    convention — no transcendental, value-exact oracle). T_s = source
    token mass, T = corpus mass, V = vocabulary size (the smoothing
    mass); ``min_count`` suppresses the rare-term pathology exactly as
    in PMI.

    Plan: one explode → (source, term) partial-agg counts; term and
    source totals derive from that table (no second corpus pass);
    totals broadcast back; one window per source for the top-k.
    Output: (source, term, tf, ratio), k rows per source."""
    toks = tokens(F.col(text_col))
    st = (
        docs.select(F.col(source_col).alias("source"), F.explode(toks).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    t_tot = st.groupBy("t").agg(F.sum("_tf").alias("_tft"))
    s_tot = st.groupBy("source").agg(F.sum("_tf").alias("_ts"))
    gl = st.agg(
        F.sum("_tf").alias("_tt"), F.count_distinct("t").alias("_v")
    )
    num = (F.col("_tf") + 1) * (F.col("_tt") - F.col("_ts") + F.col("_v"))
    den = (F.col("_ts") + F.col("_v")) * (
        F.col("_tft") - F.col("_tf") + 1
    )
    scored = (
        st.where(F.col("_tf") >= min_count)
        .join(t_tot, "t")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(gl))
        .withColumn(
            "ratio", num.cast("double") / den.cast("double")
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("ratio"), "t")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            "source", F.col("t").alias("term"),
            F.col("_tf").alias("tf"), "ratio",
        )
        .orderBy("source", F.desc("ratio"), "term")
    )


def vocab_growth_curve(
    docs: DataFrame,
    fractions: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Type-token (Heaps' law) growth curve: vocabulary size vs corpus
    size at nested sample fractions — the audit a scaling-law or
    tokenizer-budget analysis starts from (does vocabulary keep
    growing ∝ Nᵝ, or is the corpus template-saturated?).

    Samples are the DETERMINISTIC nested hash buckets of the sampling
    module (doc ∈ sample_i ⟺ h32(id) mod ``fractions`` < i), so each
    curve point's corpus is a strict superset of the previous one —
    an actual growth curve, not independent draws — and the whole
    table is RNG-free and value-exact against the oracle.

    Plan: ONE explode of the corpus; each (token, doc-bucket) pair is
    aggregated once (distinct shrink first), then every curve point
    reads the per-bucket table — the fractions axis multiplies rows of
    the tiny (token, bucket) table, never corpus work. Output:
    (sample_pct, n_tokens, vocab) ascending."""
    if fractions < 1:
        raise ValueError("vocab_growth_curve needs fractions >= 1")
    b = (h32(F.col(id_col).cast("string")) % fractions).alias("_b")
    toks = tokens(F.col(text_col))
    tb = (
        docs.select(b, F.explode(toks).alias("t"))
        .groupBy("_b", "t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # per curve point i (buckets < i): token mass = sum of counts,
    # vocab = distinct terms across included buckets; derive each from
    # the (bucket, term) table via min-bucket per term + cumulative sums
    term_min = tb.groupBy("t").agg(F.min("_b").alias("_bmin"))
    mass_b = tb.groupBy("_b").agg(F.sum("_n").alias("_mass"))
    vocab_b = term_min.groupBy("_bmin").agg(
        F.count(F.lit(1)).alias("_new_terms")
    )
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        mass_b.join(
            vocab_b.withColumnRenamed("_bmin", "_b"), "_b", "left"
        )
        .withColumn("n_tokens", F.sum("_mass").over(w))
        .withColumn(
            "vocab",
            F.sum(F.coalesce(F.col("_new_terms"), F.lit(0))).over(w),
        )
    )
    return curve.select(
        (
            (F.col("_b") + 1) * F.lit(100) / F.lit(fractions)
        ).cast("int").alias("sample_pct"),
        "n_tokens",
        "vocab",
    ).orderBy("sample_pct")


def corpus_zipf_fit(
    docs: DataFrame, top_n: int = 500, text_col: str = "text"
) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope/intercept of ln(frequency)
    on ln(rank) over the corpus's ``top_n`` most frequent tokens — the
    classic power-law diagnostic (Zipf's law: slope ≈ −1 for natural
    language; a synthetic or templated corpus bends it). The release
    sibling of the Heaps-law curve (``vocab_growth_curve`` measures
    vocabulary vs corpus size; this measures the frequency spectrum) —
    together the two plots a dataset card shows for "does this corpus
    look like language".

    Determinism discipline: the two transcendentals are floored at
    ``TFIDF_SCALE`` fixed-point precision (x = ⌊1e6·ln rank⌋,
    y = ⌊1e6·ln count⌋ — the BM25 idf convention), all OLS moments are
    EXACT decimal(38,0) sums (bounded ≲ 1e30, HUGEINT-safe in the
    oracle), and slope/intercept are each ONE cast-to-double division
    of exact integers — partition-order-free, value-exact oracle.

    Plan: one explode + partial-agg token count, TakeOrderedAndProject
    for the top-N, then a single-partition rank window BOUNDED by
    ``top_n`` by construction (the spectrum is a driver-scale table;
    the corpus never sees a global window) and one scalar aggregate.

    Returns 1 row: (n_terms, slope, intercept)."""
    if top_n < 2:
        raise ValueError(f"corpus_zipf_fit needs top_n >= 2, got {top_n}")
    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    top = counts.orderBy(F.desc("_cnt"), "_t").limit(top_n)
    from pyspark.sql import Window

    ranked = top.withColumn(
        "_rank",
        F.row_number().over(Window.orderBy(F.desc("_cnt"), "_t")),
    )
    S = TFIDF_SCALE
    dec = "decimal(38,0)"
    xy = ranked.select(
        F.expr(
            f"cast(floor({S} * ln(cast(_rank as double))) as {dec})"
        ).alias("_x"),
        F.expr(
            f"cast(floor({S} * ln(cast(_cnt as double))) as {dec})"
        ).alias("_y"),
    )
    mom = xy.agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.expr("_x * _x")).alias("_sxx"),
        F.sum(F.expr("_x * _y")).alias("_sxy"),
    )
    return mom.select(
        F.col("_n").cast("long").alias("n_terms"),
        F.expr(
            "cast(_n * _sxy - _sx * _sy as double)"
            " / cast(_n * _sxx - _sx * _sx as double)"
        ).alias("slope"),
        # intercept = (Σy·den − num·Σx) / (n·den), kept exact until the
        # final double division (units: ln-scale, the 1e6 cancels)
        F.expr(
            "cast(_sy * (_n * _sxx - _sx * _sx)"
            " - (_n * _sxy - _sx * _sy) * _sx as double)"
            " / cast(_n * (_n * _sxx - _sx * _sx) as double)"
            f" / {S}"
        ).alias("intercept"),
    )


def source_token_kl(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    KL(P_source ‖ P_corpus) in nats, the single-number "how far does
    this slice's language drift from the blend" that mixture designers
    weigh sources by (DoReMi-style reweighting, domain filtering both
    key on exactly this quantity; the per-TERM view is
    ``source_distinctive_terms``, this is its scalar summary).

    Every source's vocabulary is a subset of the corpus vocabulary by
    construction, so no term has p_corpus = 0 and the divergence is
    always finite — no smoothing needed, unlike the two-sample case.

    Exactness discipline (the ``source_language_entropy`` convention):

        KL = (1/n_s) · Σ_t c_st · ln((c_st · N) / (n_s · c_t))

    with ONE ln per (source, term) row, floored at 1e6 BEFORE the sum,
    so the numerator folds as an exact BIGINT (partition-order-free,
    value-exact oracle) and the single terminal division is the only
    float op. The ln argument is a ratio of BIGINT products — exact
    doubles up to 2^53, guarded by the same realistic-corpus bounds as
    the retrieval stack's idf.

    Plan: one explode → (source, term) partial-agg counts; corpus term
    counts and source/corpus totals all DERIVE from that table (no
    second corpus pass); totals broadcast back; final fold is one
    partial-agg groupBy. Output: one row per source."""
    toks = tokens(F.col(text_col))
    st = (
        docs.select(
            F.col(source_col).alias("source"), F.explode(toks).alias("t")
        )
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    term = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    src_tot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    corpus_tot = term.agg(F.sum("c_t").alias("_n"))
    ln_term = F.floor(
        F.lit(1_000_000)
        * F.log(
            (F.col("c_st").cast("double") * F.col("_n").cast("double"))
            / (F.col("n_s").cast("double") * F.col("c_t").cast("double"))
        )
    ).cast("long")
    num = (
        st.join(term, "t")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corpus_tot))
        .select("source", (F.col("c_st") * ln_term).alias("_x"))
        .groupBy("source")
        .agg(F.sum("_x").alias("_num"))
    )
    return (
        src_tot.join(num, "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            (
                F.col("_num").cast("double")
                / (F.col("n_s") * F.lit(1_000_000)).cast("double")
            ).alias("kl_nats"),
        )
        .orderBy("source")
    )


def collocation_communities(
    docs: DataFrame,
    n_rounds: int = 4,
    min_count: int = 5,
    min_size: int = 3,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Community detection on the token co-occurrence graph via
    synchronous label propagation (Raghavan-Albert-Kumara 2007), made
    DETERMINISTIC: each round every node adopts the label with the
    largest total incident edge weight among its neighbors, ties
    broken by SMALLEST label (the published algorithm breaks ties
    randomly, which no oracle could pin; min-label keeps the whole
    fixed-round run value-exact). Labels start as the tokens
    themselves, so a community's label is a readable exemplar member.
    Where ``collocation_kcore`` finds the dense nucleus and
    ``collocation_triangles`` local cliques, LPA partitions the whole
    graph into topic-ish clusters.

    Fixed ``n_rounds`` keeps the plan finite and the SQL oracle
    expressible as chained CTEs; synchronous LPA can oscillate on
    bipartite structures, so the result is pinned as "labels after
    exactly n rounds" — deterministic by construction, which is what
    the oracle certifies (the classic convergence caveat of the
    synchronous variant, documented rather than hidden behind a random
    async schedule).

    Plan: the canonical a<b edge list (``_canonical_edges``, shared
    with the triangle and k-core queries) symmetrized once by
    ``_both_ways``; each round is TWO partial-agg groupBys ((node,
    label) weight fold, then per-node max) + an equi-join back, with
    the label table ``localCheckpoint``ed per round (constant lineage,
    the k-core discipline). Output: the top-k communities by member
    count (≥ min_size), exact integers."""
    if n_rounds < 1:
        raise ValueError(
            f"collocation_communities: n_rounds must be >= 1, got {n_rounds}"
        )
    edges = _both_ways(
        _canonical_edges(docs, text_col, min_count)
    ).localCheckpoint()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    for _ in range(n_rounds):
        scored = (
            edges.join(labels, edges["u"] == labels["node"])
            .groupBy(edges["v"].alias("nv"), "lab")
            .agg(F.sum("w").alias("sw"))
        )
        best = scored.groupBy("nv").agg(F.max("sw").alias("mw"))
        labels = (
            scored.join(best, "nv")
            .where(F.col("sw") == F.col("mw"))
            .groupBy("nv")
            .agg(F.min("lab").alias("lab"))
            .select(F.col("nv").alias("node"), "lab")
            .localCheckpoint()
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .where(F.col("n_tokens") >= min_size)
        .orderBy(F.desc("n_tokens"), "community")
        .limit(k)
    )


def vocab_coverage(
    docs: DataFrame,
    coverage=((9, 10), (99, 100), (999, 1000)),
    vocab_sizes=(100, 1000, 10000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-coverage report — the tokenizer-SIZING query: how
    many types does a vocabulary need to cover 90/99/99.9% of the
    corpus token mass, and how many tokens fall out-of-vocabulary at
    fixed vocabulary sizes? (``vocab_growth_curve`` answers "does the
    vocabulary keep growing" and ``corpus_zipf_fit`` "what does the
    frequency spectrum look like"; this answers the budget question a
    tokenizer design actually starts from.) Not a reference-surface
    op — a corpus-release companion like the dataset cards.

    Everything is EXACT integer arithmetic (coverage targets are
    rational ``(num, den)`` pairs compared cross-multiplied; the
    partial-group take is an integer ceil-division), so the oracle is
    value-exact — no floats anywhere.

    Plan / 100 TB design: the only corpus-scale work is one explode +
    one partial-agg token count (one shuffle). The count table then
    collapses to its FREQUENCY SPECTRUM (distinct count value →
    n_types) — a table bounded by sqrt(2·T) rows (distinct positive
    integers summing to T), e.g. ≤ ~7M at T = 2.5e13 tokens — because
    coverage/OOV depend only on cumulative mass, and within an
    equal-count group every type contributes the same mass, so the
    partial-group take is closed-form. The count-descending
    cumulative sums over the spectrum ride the total-order-partitioner
    pattern (``relational.global_rank``): integer-log2 count bands
    (≤ 64, exact via base-2 ``conv`` — float log2 is not trusted near
    band edges), per-band totals collected driver-side (bounded), and
    band offsets + per-band windows give exact global prefixes with
    NO single-partition window over the spectrum. Answers are ONE
    conditional aggregate over the prefix table; first-matching-group
    selection is a struct-min (lexicographic on the strictly
    increasing cum_types).

    Output rows (kind, param, value BIGINT), ordered:
      ('coverage_k', 'num/den', minimal vocab size K)
      ('oov_tokens', str(V),    token mass outside the top-V types)
      ('total', 'tokens' | 'types', corpus totals)
    """
    coverage = [(int(n), int(d)) for n, d in coverage]
    vocab_sizes = [int(v) for v in vocab_sizes]
    for n, d in coverage:
        if not (0 < n <= d):
            raise ValueError(f"vocab_coverage: bad coverage fraction {n}/{d}")
    if any(v < 1 for v in vocab_sizes):
        raise ValueError(f"vocab_coverage: vocab sizes must be >= 1: {vocab_sizes}")

    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # frequency spectrum: distinct count value -> number of types
    spec = counts.groupBy("_c").agg(F.count(F.lit(1)).alias("_k"))
    # exact integer log2 band: number of binary digits of the count
    # (conv goes through a string — exact for the full BIGINT range,
    # unlike float log2 whose rounding near 2^k is not trusted)
    band = F.length(F.conv(F.col("_c").cast("string"), 10, 2)).cast("int")
    # materialize the tiny spectrum ONCE: both the per-band offset
    # collect below and the returned plan consume it, and without the
    # checkpoint the returned lineage would re-run the corpus-scale
    # explode + count shuffle a second time when the caller evaluates
    # (r10 self-review finding) — the spectrum is ≤ √(2T) rows, so
    # this is the cheap side to pin
    spec = spec.withColumn("_b", band).localCheckpoint(eager=True)
    per_band = (
        spec.groupBy("_b")
        .agg(
            F.sum("_k").alias("_types"),
            F.sum(F.col("_k") * F.col("_c")).alias("_mass"),
        )
        .orderBy(F.desc("_b"))
        .collect()  # <= 64 rows by construction (BIGINT bit length)
    )
    if not per_band:
        raise ValueError("vocab_coverage: empty corpus — no tokens at all")
    offsets, t_off, m_off = [], 0, 0
    for r in per_band:
        offsets.append((r["_b"], t_off, m_off))
        t_off += r["_types"]
        m_off += r["_mass"]
    total_tokens, total_types = m_off, t_off
    max_den = max(d for _, d in coverage)
    if total_tokens > (2**63 - 1) // max_den:
        raise ValueError(
            f"vocab_coverage: {total_tokens} tokens x den {max_den} "
            "would overflow the BIGINT cross-multiplied comparison — "
            "reduce the fraction denominators"
        )
    off_df = docs.sparkSession.createDataFrame(
        offsets, "_b int, _toff bigint, _moff bigint"
    )
    w = (
        Window.partitionBy("_b")
        .orderBy(F.desc("_c"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = (
        spec.join(F.broadcast(off_df), "_b")
        .withColumn("_cum_types", F.col("_toff") + F.sum("_k").over(w))
        .withColumn(
            "_cum_mass",
            F.col("_moff") + F.sum(F.col("_k") * F.col("_c")).over(w),
        )
        .select("_c", "_k", "_cum_types", "_cum_mass")
    )
    T = F.lit(total_tokens)
    aggs, names = [], []
    for n, d in coverage:
        # first spectrum group whose cumulative mass reaches
        # ceil(T*n/d) (cross-multiplied: cum_mass*d >= T*n); K takes
        # the whole groups before it plus an integer ceil-div partial
        # take of the matching group
        k_expr = F.expr(
            f"(_cum_types - _k) + "
            f"(({(total_tokens * n + d - 1) // d}L - (_cum_mass - _k * _c))"
            f" + _c - 1L) div _c"
        )
        cond = F.col("_cum_mass") * F.lit(d) >= T * F.lit(n)
        aggs.append(
            F.min(F.when(cond, F.struct(F.col("_cum_types"), k_expr.alias("_val"))))
            .getField("_val")
            .alias(f"_cov_{n}_{d}")
        )
        names.append(("coverage_k", f"{n}/{d}", f"_cov_{n}_{d}"))
    for v in vocab_sizes:
        covered = F.expr(
            f"(_cum_mass - _k * _c) + ({v}L - (_cum_types - _k)) * _c"
        )
        aggs.append(
            F.coalesce(
                F.min(
                    F.when(
                        F.col("_cum_types") >= F.lit(v),
                        F.struct(F.col("_cum_types"), covered.alias("_val")),
                    )
                ).getField("_val"),
                T,  # vocab larger than the whole type inventory
            ).alias(f"_oov_{v}")
        )
        names.append(("oov_tokens", str(v), f"_oov_{v}"))
    one = ranked.agg(*aggs)
    stack_items = []
    for kind, param, col in names:
        val = f"CAST({total_tokens}L - {col} AS BIGINT)" if kind == "oov_tokens" else f"CAST({col} AS BIGINT)"
        stack_items.append(f"'{kind}', '{param}', {val}")
    stack_items.append(f"'total', 'tokens', {total_tokens}L")
    stack_items.append(f"'total', 'types', {total_types}L")
    return one.selectExpr(
        f"stack({len(stack_items)}, {', '.join(stack_items)}) "
        "AS (kind, param, value)"
    ).orderBy("kind", "param")


def source_temperature_mix(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual /
    multi-source data-mixing recipe: sample source i with probability
    proportional to c_i^alpha with alpha < 1, so tail sources are
    upsampled relative to their raw token share (Xue et al. 2021 mT5
    and Conneau et al. 2020 XLM-R both mix with alpha-scaled source
    probabilities; not a reference-surface op — a corpus-release
    companion like the dataset cards).

    alpha is fixed at 1/2 (temperature T = 2) deliberately: sqrt is
    the one fractional power IEEE 754 requires to be correctly
    rounded, so ``floor(1e6 * sqrt(c))`` is bit-identical across
    engines, while ``pow(c, 0.3)`` is a libm call with no such
    guarantee — one ulp from a hash mismatch at every floor boundary.

    Exactness: token counts and both totals are BIGINT sums
    (order-free); each float step (cast to DOUBLE — exact below 2^53,
    ~9e15 tokens ≈ 36 PB of single-spaced text — one divide, one
    multiply, one floor) is correctly rounded with a fixed operand
    order, so the ppm shares are deterministic integers. boost_ppm is
    pure BIGINT arithmetic on those shares (≤ 1e6 · 1e6 = 1e12).

    Plan / 100 TB design: ONE corpus-scale shuffle — the partial-agg
    ``groupBy(source)`` over per-doc token counts (map-side combine
    carries the weight); the per-source table (|sources| rows) then
    crosses a broadcast single-row totals aggregate. No window, no
    per-doc sort anywhere.

    Output per source: ``n_tokens``, ``raw_share_ppm``
    (floor(1e6·c/T)), ``temp_share_ppm`` (floor(1e6·s/S) with
    s = floor(1e6·sqrt(c))), ``boost_ppm`` (floor(1e6·temp/raw);
    > 1_000_000 means the temperature upsamples the source; NULL when
    the raw share rounds to 0 ppm)."""
    per_src = (
        docs.select(
            F.col(source_col).alias("source"),
            token_count(F.col(text_col)).cast("long").alias("_n"),
        )
        .groupBy("source")
        .agg(F.sum("_n").alias("n_tokens"))
        .withColumn(
            "_s",
            F.floor(
                F.lit(1_000_000.0) * F.sqrt(F.col("n_tokens").cast("double"))
            ),
        )
        # materialize the tiny per-source table ONCE (≤ |sources|
        # rows): both the totals aggregate and the returned plan
        # consume it, and without the pin the totals branch would
        # re-run the corpus-scale token-count shuffle a second time
        # (the vocab_coverage spectrum discipline)
        .localCheckpoint(eager=True)
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("_tot"), F.sum("_s").alias("_tot_s")
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_tokens",
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.col("n_tokens").cast("double")
                    / F.col("_tot").cast("double")
                )
            )
            .cast("long")
            .alias("raw_share_ppm"),
            F.floor(
                F.lit(1_000_000.0)
                * (F.col("_s").cast("double") / F.col("_tot_s").cast("double"))
            )
            .cast("long")
            .alias("temp_share_ppm"),
        )
        .withColumn(
            "boost_ppm",
            F.expr(
                "CASE WHEN raw_share_ppm > 0 "
                "THEN temp_share_ppm * 1000000L div raw_share_ppm END"
            ),
        )
        .orderBy("source")
    )


def ccnet_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4): split
    each source's documents into head / middle / tail thirds by LM
    score — the shape downstream corpus curation keys on (CCNet and
    its successors keep head+middle, drop or downweight tail). Score
    is ``doc_lm_nll``'s fixed-point average bigram NLL, self-trained
    on the corpus, so the whole report is exact integers.

    Bucket rule (deterministic, tie-stable): within a source with n
    scored docs and cum_lt = docs scoring strictly BELOW mine,

        head    3·cum_lt < n     (the score group STARTS in the first third)
        middle  3·cum_lt < 2n    (and not head)
        tail    otherwise

    Every doc sharing a score shares a bucket — threshold semantics,
    not NTILE's arbitrary split of ties across bucket boundaries — a
    tie group straddling a boundary lands in the bucket where it
    starts (biasing toward keep, the right default for a filter that
    drops 'tail'), a uniform-score source is all 'head' rather than
    all 'tail', and the comparisons are pure BIGINT arithmetic.

    Plan / 100 TB design: the per-doc scores reuse the ``doc_lm_nll``
    pipeline (its explode + three partial aggregates + type-level
    join); bucketing then runs entirely on the per-(source, score)
    SPECTRUM — the same spectrum-not-rows shape as
    ``value_equidepth_bins``. The spectrum per source is bounded by
    the SCORE RANGE, not the doc count: avg_nll_s is a fixed-point
    integer in [0, S·ln(C+V)] ≈ [0, ~3.5e7] at S=1e6 for any corpus
    (the add-one model's worst per-bigram NLL), so even a source with
    10^12 documents feeds the cumulative window at most ~35M spectrum
    rows — a bounded per-source sort, never a sort of documents.
    Output is one row per (source, bucket): doc count and the score
    range the bucket spans. Docs with < 2 tokens have no score and no
    bucket (the oracle agrees by construction)."""
    scores = doc_nll_scores(docs, text_col=text_col, id_col=id_col)
    scored = docs.select(
        F.col(id_col), F.col(source_col).alias("source")
    ).join(scores.select(id_col, "avg_nll_s"), id_col)
    spec = scored.groupBy("source", "avg_nll_s").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("avg_nll_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    bucketed = (
        spec.withColumn("_cum_lt", F.sum("_c").over(w_cum) - F.col("_c"))
        .withColumn("_n", F.sum("_c").over(w_all))
        .withColumn(
            "bucket",
            F.when(3 * F.col("_cum_lt") < F.col("_n"), F.lit("head"))
            .when(3 * F.col("_cum_lt") < 2 * F.col("_n"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    )
    return (
        bucketed.groupBy("source", "bucket")
        .agg(
            F.sum("_c").cast("long").alias("n_docs"),
            F.min("avg_nll_s").alias("min_nll_s"),
            F.max("avg_nll_s").alias("max_nll_s"),
        )
        .orderBy("source", "bucket")
    )
