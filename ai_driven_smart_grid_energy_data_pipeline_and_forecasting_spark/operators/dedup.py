"""Deduplication family for the training-data pipeline surface:
exact, n-gram Jaccard, MinHash+LSH, SimHash. All Catalyst-expression
implementations with cross-engine-deterministic (md5-derived) hashing,
so every stage is DuckDB-oracle-checkable.

Scale design (the point of each variant):
- exact: one hash-groupBy; partial agg map-side; shuffle carries one
  row per distinct hash.
- ngram-jaccard: inverted-index self-join — exact but O(sum df(s)^2)
  in shingle document frequency; the honest baseline, quadratic on hot
  shingles. At 100 TB you cap df or switch to MinHash.
- minhash-lsh: signatures via partial-aggregatable per-band mins; the
  only shuffle after the signature agg is on (band, band_hash) — pairs
  emerge only within buckets. This is the 100 TB near-dedup path.
- simhash: 32-bit sign-aggregate signature, banded by the high 16 bits
  for candidate generation; Hamming verify on candidates.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import h32, tokens
from .relational import _pin

#: id types the driver union-find can hold as int64 without loss
_INTEGRAL_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)

# ------------------------------------------------------------------ exact


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    canonical (minimum) doc_id and the copy count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("canonical_id")
    )


def fingerprint_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on the order-insensitive token-set fingerprint —
    catches shuffled/duplicated-token copies exact md5 misses."""
    from ..functions.text import doc_fingerprint

    return (
        docs.groupBy(doc_fingerprint(F.col(text_col)).alias("fp"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("canonical_id")
    )


# ------------------------------------------------------- shingle utilities


def doc_shingle_sets(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shs) — the distinct n-token shingle array per doc,
    built in an Arrow-batched Python kernel. The pure-expression form
    (``functions.text.word_shingles``: transform+sequence+
    array_to_string) is a higher-order-function chain Catalyst
    evaluates interpreted, measured ~5× slower than ``str.split`` at
    corpus scale; semantics are identical (trim spaces, split on
    single space, first-occurrence-ordered distinct)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            shs_out = []
            for text in pdf[text_col]:
                toks = ("" if text is None else text).strip(" ").split(" ")
                seen: dict[str, None] = {}
                for i in range(len(toks) - n + 1):
                    seen.setdefault(" ".join(toks[i : i + n]))
                shs_out.append(list(seen))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "shs": shs_out})

    return docs.select("doc_id", text_col).mapInPandas(
        kernel, "doc_id long, shs array<string>"
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, sh, n_sh) inverted-index rows, distinct per doc —
    emitted flat from the kernel (an Arrow list<string> column plus a
    Spark-side explode costs ~2× the flat form). ``n_sh`` is the doc's
    distinct-shingle count, known for free inside the kernel — carrying
    it on every row lets the uncapped Jaccard join skip a whole
    set-size aggregation branch (one int64 per row of Arrow transfer)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            shs: list[str] = []
            szs: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = ("" if text is None else text).strip(" ").split(" ")
                seen: dict[str, None] = {}
                for i in range(len(toks) - n + 1):
                    seen.setdefault(" ".join(toks[i : i + n]))
                ids.extend([doc_id] * len(seen))
                shs.extend(seen)
                szs.extend([len(seen)] * len(seen))
            yield pd.DataFrame({"doc_id": ids, "sh": shs, "n_sh": szs})

    return docs.select("doc_id", text_col).mapInPandas(
        kernel, "doc_id long, sh string, n_sh long"
    )


def duplicated_spans(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize_grams: bool = True,
) -> DataFrame:
    """Span-level duplicate detection: maximal token ranges whose every
    n-gram occurs in ≥ ``min_df`` DISTINCT documents — the
    shingle-granularity form of exact-substring dedup (the observation
    behind suffix-array span dedup in published corpus-dedup work:
    boilerplate and quoted passages repeat across documents even when
    whole docs are unique). Returns (doc_id, span_start, span_end,
    span_tokens) with 0-based inclusive token indices.

    Plan, pure Catalyst: positional n-grams via one generate-only
    posexplode (no Python); the gram df aggregate partial-aggregates
    map-side and ``min_df`` filters BEFORE the semi join back, so the
    join's build side is only the corpus-repeated gram set; maximal
    runs fold via the gaps-and-islands window (p − row_number() is
    constant exactly on consecutive-p runs) — one window, one final
    agg. Shuffle inventory: gram agg + gram semi join + doc_id window,
    all key-partitioned, nothing corpus-quadratic.

    The gram frame feeds BOTH the df aggregate and the join probe;
    ``materialize_grams=True`` (default) checkpoints it so the doc
    scan + gram expansion runs once instead of twice (measured 3.6 →
    2.3 s at sf0.1). The gram frame is corpus-token-sized, so at
    scales where it exceeds executor storage pass ``False`` and pay
    the second scan instead — the scan is linear; the materialization
    is not free storage."""
    toks = tokens(F.col(text_col))
    gram_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda p: F.array_join(F.slice(toks, p + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(gram_arr).alias("p", "gram")
    )
    if materialize_grams:
        grams = grams.localCheckpoint(eager=True)
    if min_df == 2:
        # r15: "at least 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id)
        # — unlike countDistinct, min/max partial-aggregate fully
        # map-side, so the gram exchange carries ONE row per gram per
        # partition instead of every locally-distinct (gram, doc_id)
        # pair (guide §2.3: a corpus-repeated gram's shuffle weight
        # drops from its df to the partition count). Identical hot
        # set by definition.
        hot = (
            grams.groupBy("gram")
            .agg(F.min("doc_id").alias("_a"), F.max("doc_id").alias("_b"))
            .filter(F.col("_a") != F.col("_b"))
            .select("gram")
        )
    else:
        hot = (
            grams.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("_df"))
            .filter(F.col("_df") >= min_df)
            .select("gram")
        )
    hp = grams.join(hot, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = hp.withColumn("_grp", F.col("p") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "_grp")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + n - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def scrub_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite each document with its flagged token spans REMOVED — the
    consumer of ``duplicated_spans`` (published span-dedup pipelines
    cut the duplicated bytes out of the surviving text rather than drop
    whole documents). ``spans`` is any (doc_id, span_start, span_end)
    frame with 0-based inclusive token indices; overlapping spans are
    fine (a token inside ANY span is removed once).

    Plan: spans fold to one array per doc (shuffle bounded by the
    flagged-doc count), join back equi on doc_id — broadcastable
    whenever the flagged fraction is small, AQE decides — and the
    token cut is a single Catalyst higher-order ``filter`` with a
    positional lambda over the split array: no posexplode, so the
    corpus's token stream never hits a shuffle, and untouched docs
    (NULL span array) stream through with the text untouched. The
    interpreted-HOF cost is per-token × spans-per-doc, linear in
    corpus size — unlike the numeric-kernel cases (see
    ``similarity.py`` module notes) there is no quadratic inner loop
    to hoist into numpy.

    Output: (doc_id, n_tokens, n_removed, clean_text), one row per
    input doc.
    """
    sp = spans.groupBy(F.col(id_col)).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = tokens(F.col(text_col))
    in_any_span = lambda i: F.coalesce(  # noqa: E731
        F.exists(
            "_spans",
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
        F.lit(False),
    )
    kept = F.filter(toks, lambda tok, i: ~in_any_span(i))
    return (
        docs.join(sp, id_col, "left")
        .select(
            id_col,
            F.size(toks).alias("n_tokens"),
            (F.size(toks) - F.size(kept)).alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


# ------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    max_df: int | None = None,
    _inv: DataFrame | None = None,
) -> DataFrame:
    """Exact token-n-gram Jaccard near-dup pairs via inverted index.

    |A∩B| falls out of the shingle self-join as a pair count — no list
    intersection materialized; set sizes join back in (both sides of
    that join are keyed single rows per doc). The heavy operation is
    the self-join on shingle, which is O(Σ df(s)²) in shingle document
    frequency — one stop-shingle in 1% of a 10B-doc corpus is a 10^14-row
    join.  ``max_df`` is the standard prefilter for that blowup: shingles
    whose document frequency exceeds it are dropped from the index AND
    from the set sizes, so the result is exact Jaccard over the df-capped
    shingle vocabulary (stop-shingle removal).  With ``max_df=None`` (or a
    cap no shingle reaches) the output is bit-identical to the uncapped
    exact form.  The hot-shingle list is tiny by construction (only
    shingles with df > max_df), so the exclusion is a broadcast anti-join
    — no extra full shuffle of the index.

    Measured note: a PPJoin-style prefix-filter variant (canonical-order
    prefix index + array intersect/union verify) was tried and ran
    2–3× SLOWER on this corpus at sf0.1 — the verify step materializes
    shingle arrays per candidate, while this formulation only counts
    join rows that partial-aggregate map-side. Prefer this shape until
    profiled otherwise; at extreme df skew, cap df here or go MinHash.

    Memory bound (r15): with ``max_df`` set, the cap is applied as a
    window count BEFORE the posting aggregate, so no posting list
    longer than ``max_df`` is ever materialized in an aggregation
    buffer. With ``max_df=None`` the posting list of the hottest
    shingle IS the memory ceiling — one array of df (doc_id, n_sh)
    structs in a single task. That is inherent to the uncapped
    semantics (the pair fan-out is Σdf² regardless of formulation);
    at 100 TB always pass a cap — the uncapped form exists for exact
    small-corpus parity, not scale.
    ``_inv`` (private): a prebuilt — typically checkpointed —
    ``doc_shingles(docs, text_col, n)`` frame, so a caller composing
    this with other shingle consumers (``minhash_accuracy_audit``)
    shares one kernel pass instead of re-tokenizing per consumer.
    """
    inv = doc_shingles(docs, text_col, n) if _inv is None else _inv
    # One aggregate per shingle — the posting list — generates the
    # pairs via a double explode: one Exchange on `sh`, and the Python
    # shingle kernel executes ONCE (an inv⋈inv self-join re-executes
    # the kernel per side; measured, no exchange reuse under broadcast
    # planning). The df cap becomes a filter on posting-list size — no
    # separate hot-shingle anti-join pass. A posting list materializes
    # df ids in one task; under the cap that is ≤ max_df — and the
    # uncapped form was already unusable at stop-shingle df (df² join
    # rows), so the cap remains the 100 TB path either way.
    #
    # Set sizes: the kernel emits each doc's distinct-shingle count on
    # every index row, so the UNCAPPED path carries (id, n_sh) through
    # the posting list and needs no size aggregate at all — the
    # whole query is kernel → shuffle(sh) → shuffle(pair). The capped
    # path must recount over surviving shingles only (exact Jaccard on
    # the capped vocabulary), one extra branch off the same posting
    # aggregate.
    # r15: the df cap moves UPSTREAM of the posting aggregate as a
    # window count over the same shingle key (the winnow/_cap_hot_
    # buckets convention): rows of an over-cap shingle are dropped
    # before collect_list ever runs, so no posting list larger than
    # max_df is materialized in any aggregation buffer — the former
    # collect-then-filter shape built the full stop-shingle array
    # (df ~ corpus size at 100 TB) in one task before discarding it.
    # Identical output: size(collect_list) per shingle == the window
    # count, so the same groups survive; window and groupBy share one
    # hashpartitioning(sh) exchange.
    if max_df is not None:
        wsh = Window.partitionBy("sh")
        inv = (
            inv.withColumn("_df", F.count(F.lit(1)).over(wsh))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    posting = inv.groupBy("sh").agg(
        F.collect_list(F.struct("doc_id", "n_sh")).alias("ids")
    )
    pair_rows = (
        posting.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if max_df is None:
        j = (
            pair_rows.groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.first("a.n_sh").alias("n_a"),
                F.first("b.n_sh").alias("n_b"),
            )
            .select(
                "doc_a",
                "doc_b",
                (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias(
                    "jacc"
                ),
            )
        )
    else:
        sizes = (
            posting.select(F.explode("ids").alias("a"))
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        inter = pair_rows.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).agg(F.count(F.lit(1)).alias("inter"))
        # one scan of sizes (same role-explode shape as the minhash
        # verify) — joining sizes twice as sa/sb re-executes the whole
        # posting subplan per broadcast side
        roles = inter.select(
            "doc_a",
            "doc_b",
            "inter",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
        j = (
            roles.join(sizes, "doc_id")
            .groupBy("doc_a", "doc_b")
            .agg(
                F.first("inter").alias("inter"),
                F.first(
                    F.when(F.col("doc_id") == F.col("doc_a"), F.col("n_sh")),
                    ignorenulls=True,
                ).alias("n_a"),
                F.first(
                    F.when(F.col("doc_id") == F.col("doc_b"), F.col("n_sh")),
                    ignorenulls=True,
                ).alias("n_b"),
            )
            .select(
                "doc_a",
                "doc_b",
                (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias(
                    "jacc"
                ),
            )
        )
    return (
        j.filter(F.col("jacc") >= F.lit(threshold))
        .select("doc_a", "doc_b", F.col("jacc").alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------------ MinHash LSH

N_HASHES = 16
N_BANDS = 8  # 2 rows per band → candidate threshold ≈ (1/8)^(1/2) ≈ 0.35


MH_MOD = 1 << 32


def minhash_params(j: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients (a_j odd < 2^28,
    b_j < 2^32) — md5-derived so both engines compute the same family
    with no RNG state. a·h+b stays < 2^61: no overflow in either
    engine's 64-bit integers."""
    import hashlib

    a = int(hashlib.md5(f"mh_a:{j}".encode()).hexdigest()[:7], 16) | 1
    b = int(hashlib.md5(f"mh_b:{j}".encode()).hexdigest()[:8], 16)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    _inv: DataFrame | None = None,
) -> DataFrame:
    """K=16 minhash signature per doc. One md5 per shingle, then the
    universal family h_j(s) = (a_j·h32(s) + b_j) mod 2^32 — 16
    multiply-adds instead of 16 md5s per row (md5 dominates shingle
    hashing cost). Per-doc min is a partial-aggregatable groupBy agg —
    the shuffle carries 16 longs per doc per partition. ``_inv``
    (private): a prebuilt ``doc_shingles`` frame to share one kernel
    pass across shingle consumers."""
    inv = (doc_shingles(docs, text_col, n) if _inv is None else _inv).withColumn(
        "h", h32(F.col("sh"))
    )
    params = [minhash_params(j) for j in range(N_HASHES)]
    hashed = inv.select(
        "doc_id",
        *[
            ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MH_MOD)).alias(f"h{j}")
            for j, (a, b) in enumerate(params)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(N_HASHES)]
    )


def _band_hash(b: int):
    return F.md5(
        F.concat_ws("_", F.col(f"m{2 * b}").cast("string"), F.col(f"m{2 * b + 1}").cast("string"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    materialize: bool = False,
) -> DataFrame:
    """MinHash banding: docs sharing any of 8 (2-row) band hashes become
    candidates; candidates are verified with exact Jaccard over their
    shingle sets. Output matches ngram_jaccard_pairs up to LSH recall.

    Shaped so the expensive subplans execute ONCE. A bands⋈bands
    self-join re-executes the whole signature chain (corpus scan,
    Python shingle kernel, 16-min aggregate) on each side — measured 4
    MapInPandas executions per run with zero exchange reuse (broadcast
    joins don't create reusable exchanges). Instead: candidates come
    from ONE shuffle of the band rows — groupBy (band, band_hash),
    collect the bucket's doc ids, expand in-bucket pairs with a double
    explode (pure codegen) — and the verify step scans the shingle
    sets ONCE, exploding each candidate pair into two (pair, doc)
    roles and regrouping, instead of joining the sets subplan twice.
    Two kernel passes total (signatures + verify sets), down from four.

    Scale notes: the bucket collect_list is bounded by bucket width —
    run exact dedup first (standard pipeline order) so identical docs
    can't pile one bucket to corpus size; the candidate-pair output is
    O(Σ bucket²) regardless of formulation, which is the LSH
    parameterization's job to bound. The verify shuffle carries
    shingle arrays only for candidate docs, not the corpus.

    r14: ``materialize=True`` runs ONE kernel pass total — it
    checkpoints the flat shingle index (``doc_shingles``) and BOTH the
    signature aggregate and the verify sets derive from it (verify
    sets become a semi-join + collect_list over candidate docs only;
    collect_list order is irrelevant because only set SIZES feed the
    Jaccard, so the output is bit-identical either way). Default is
    ``False``: the two eager pins (index + candidate list) add ~3
    sequential job groups, and a same-host A/B at sf0.1 measured the
    pinned form ~0.3-0.9 s SLOWER across the registered consumers —
    the tokenize kernel is cheaper than the pin at benched scales.
    Flip to ``True`` when a corpus pass costs more than pinned
    storage (the ``duplicated_spans`` ``materialize_grams`` trade).
    """
    inv = doc_shingles(docs, text_col, n)
    if materialize:
        inv = inv.localCheckpoint(eager=True)
    params = [minhash_params(j) for j in range(N_HASHES)]
    hashed = inv.withColumn("h", h32(F.col("sh"))).select(
        "doc_id",
        *[
            ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MH_MOD)).alias(f"h{j}")
            for j, (a, b) in enumerate(params)
        ],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(N_HASHES)]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_hash(b).alias("bh"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bh")
    cands = (
        bands.groupBy("band", "bh")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    if materialize:
        # verify sets for CANDIDATE docs only, rebuilt from the pinned
        # index (collect_list over distinct rows — a permutation of the
        # set; only sizes feed the Jaccard). The candidate chain is
        # consumed twice below (roles + the semi join), so pin the
        # small pair list too rather than re-running the band chain.
        cands = cands.localCheckpoint(eager=True)
        cand_ids = cands.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        sets = (
            inv.join(cand_ids, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_list("sh").alias("shs"))
        )
    else:
        sets = doc_shingle_sets(docs, text_col, n)
    roles = cands.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    # exactly one non-null per (pair, role): first(ignorenulls) is
    # deterministic under any partitioning
    verified = (
        roles.join(sets, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(
                F.when(F.col("doc_id") == F.col("doc_a"), F.col("shs")), ignorenulls=True
            ).alias("shs_a"),
            F.first(
                F.when(F.col("doc_id") == F.col("doc_b"), F.col("shs")), ignorenulls=True
            ).alias("shs_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
                / F.size(F.array_union(F.col("shs_a"), F.col("shs_b")))
            ).alias("jacc"),
        )
    )
    return (
        verified.filter(F.col("jacc") >= F.lit(threshold))
        .select("doc_a", "doc_b", F.col("jacc").alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------- SimHash

SIMHASH_BITS = 32


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct tokens: bit b is set iff the count
    of tokens with bit b set exceeds those without. 32 conditional sums
    in one groupBy — partial-aggregated, codegen'd."""
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t")
    ).withColumn("th", h32(F.col("t")))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select("doc_id", sim.cast("long").alias("simhash")).orderBy("doc_id")


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 6, text_col: str = "text") -> DataFrame:
    """Banded SimHash near-dup: candidates share the high 16 bits,
    verified by Hamming distance ≤ max_hamming via bit_count(xor).

    Candidates come from one shuffle on the 16-bit bucket — groupBy,
    collect the bucket's (doc_id, simhash) structs, expand in-bucket
    pairs with a double explode — rather than a sig⋈sig self-join,
    which would execute the 32-sum signature aggregate (a full corpus
    scan) once per side. Bucket width is bounded by signature locality
    (identical docs go through exact dedup first)."""
    sig = simhash_signatures(docs, text_col)
    buckets = (
        sig.groupBy(F.shiftright(F.col("simhash"), 16).alias("bucket"))
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = (
        buckets.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------- transitive dedup clusters


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm): converges in O(log n)-ish rounds regardless of component
    DIAMETER, vs O(diameter) for min-label propagation — the right
    kernel for pathological chain/path graphs.

    ``edges``: distinct canonical pairs (u > v), no self-loops. Each
    round: large-star connects every strictly-larger neighbor of u to
    min(Γ(u) ∪ {u}) (on the symmetrized edge set); small-star connects
    u and its smaller neighbors to their minimum. Both are one
    groupBy-min + one join — the same shuffle budget per round as one
    propagation step. Fixed point = every component is a star centered
    at its minimum id; detected by edge-set equality (count match +
    empty subtract), then vertices map to their star center."""
    cur = edges.localCheckpoint(eager=True)
    n_cur = cur.count()
    for _ in range(max_iter):
        # large-star over the symmetrized neighborhood
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("_mv"))
        ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(
                F.col("v").alias("u"),
                F.least(F.col("_mv"), F.col("u")).alias("v"),
            )
            .distinct()
        )
        # small-star on the (canonical, u > v) large-star output
        mins2 = ls.groupBy("u").agg(F.min("v").alias("_mv"))
        nxt = (
            ls.join(mins2, "u")
            .filter(F.col("v") != F.col("_mv"))
            .select(F.col("v").alias("u"), F.col("_mv").alias("v"))
            .union(mins2.select("u", F.col("_mv").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur and nxt.subtract(cur).isEmpty():
            return nxt
        cur, n_cur = nxt, n_nxt
    raise RuntimeError(
        f"star-contraction connected components did not converge in "
        f"{max_iter} rounds; the bound is ~O(log n) — this indicates a "
        "bug or an adversarial graph, not a deep chain."
    )


def _cc_driver(
    pairs: DataFrame, src: str, dst: str, _pdf=None
) -> DataFrame:
    """Union-find on the driver over a BOUNDED pair list. The caller
    (``connected_components`` auto mode) guarantees the edge count is
    under ``max_driver_edges`` before this runs; the transfer is one
    Arrow batch of two int64 columns (16 B/edge — 16 MB at the 1M
    default), and path-halving union-find is O(E α(V)). For small pair
    lists this replaces ~4 Spark jobs *per propagation round* with one
    collect — measured 12.1 s → <1 s on a 920-edge graph at sf0.1.
    ``_pdf`` (private): the edge list already collected by the auto
    path's bounded probe (r15) — union-find is edge-order-independent
    (the fixpoint is the component min), so the probe's arbitrary
    limit order is safe."""
    import numpy as np

    pdf = (
        pairs.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        ).toPandas()
        if _pdf is None
        else _pdf
    )
    a = pdf["a"].to_numpy(dtype=np.int64)
    b = pdf["b"].to_numpy(dtype=np.int64)
    verts, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[: len(a)], idx[len(a):]
    parent = np.arange(len(verts), dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for x, y in zip(ia, ib):
        rx, ry = find(x), find(y)
        if rx != ry:
            # union by smaller VALUE so the root is the component min
            if verts[rx] < verts[ry]:
                parent[ry] = rx
            else:
                parent[rx] = ry
    roots = np.array([find(i) for i in range(len(verts))], dtype=np.int64)
    out = pd.DataFrame(
        {"doc_id": verts, "component": verts[roots]}
    )
    # preserve the input id dtype (an IntegerType graph must not come
    # back silently widened to long — review r5) — but output values mix
    # BOTH endpoint columns, so use the wider of the two (an int src
    # with long dst holding ids > 2^31 crashed the int schema — review r5 #2)
    widths = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
    types = [
        pairs.schema[c].dataType.simpleString() for c in (src, dst)
    ]
    id_type = max(types, key=lambda t: widths.get(t, 3))
    return pairs.sparkSession.createDataFrame(
        out, schema=f"doc_id {id_type}, component {id_type}"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    algorithm: str = "auto",
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    component) with component = min doc_id reachable. This is the step
    that turns pairwise similarity output into dedup *groups* (pick one
    canonical doc per component, drop the rest).

    ``algorithm="propagate"`` is iterative min-label
    propagation: each round every vertex takes the minimum of its label
    and its neighbors' labels; converges in O(component diameter)
    rounds (near-dup clusters are shallow — dup chains, not paths).
    Each round is one join + one agg, all DataFrame ops; the driver
    only checks the convergence counter. ``localCheckpoint`` truncates
    the growing lineage so round N's plan doesn't re-derive rounds
    1..N-1.

    ``algorithm="star"`` is alternating large-star/small-star
    contraction (``_cc_star``): O(log n)-ish rounds independent of
    diameter — pick it when components may be long chains (a depth-1000
    path converges in <15 rounds where propagation needs 1000).

    ``algorithm="auto"`` (default) sizes the edge list first (it is
    materialized once regardless): at or under ``max_driver_edges``
    with numeric ids it runs one bounded driver-side union-find
    (``_cc_driver`` — near-dup pair lists are KB-to-MB scale after
    heavy dedup, and every distributed round costs ~4 fixed-overhead
    jobs; measured 12.1 s → <1 s on a 920-edge graph), above it the
    distributed star contraction. The 100 TB path is therefore always
    available and the small case doesn't pay cluster-iteration tax —
    the same bounded-collect policy as the IVF centroid and query-set
    collects (SCALE.md "Python/JVM boundary policy").

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds — silently returning unconverged labels would
    split dedup groups with no signal. Under ``propagate`` a
    component's diameter bounds the rounds needed, so raise
    ``max_iter`` — or switch to ``star`` — for chain graphs.
    """
    if algorithm not in ("auto", "propagate", "star", "driver"):
        raise ValueError(
            "algorithm must be 'auto', 'propagate', 'star' or 'driver', "
            f"got {algorithm!r}"
        )
    # Materialize the projected pair list ONCE: `pairs` usually carries
    # the whole near-dup pipeline as lineage (kernel, banding, verify),
    # and every algorithm below consumes it more than once — the size
    # probe, the symmetrize/canonicalize union, and each iteration.
    # NULL endpoints are dropped up front: an edge to NULL carries no
    # dedup information, and the algorithms would otherwise diverge
    # (joins/greatest silently drop them, the driver union-find crashed
    # on the NaN — review r5)
    base = (
        pairs.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .localCheckpoint(eager=True)
    )
    if algorithm in ("auto", "driver"):
        numeric_ids = all(
            isinstance(base.schema[c].dataType, _INTEGRAL_TYPES)
            for c in ("_s", "_d")
        )
        if algorithm == "driver" and not numeric_ids:
            raise ValueError("algorithm='driver' requires integral id columns")
        if algorithm == "driver":
            return _cc_driver(base, "_s", "_d")
        if numeric_ids:
            # r15: ONE bounded probe replaces the count job + the full
            # collect — limit(max+1).toPandas() either comes back
            # complete (≤ max rows: it IS the whole edge list, feed it
            # straight to union-find) or proves the graph is over the
            # driver bound (max+1 rows — at most 16 MB fetched, where
            # the old count() scanned every edge first). Decision
            # boundary identical to `count() <= max_driver_edges`.
            probe = (
                base.select(
                    F.col("_s").cast("long").alias("a"),
                    F.col("_d").cast("long").alias("b"),
                )
                .limit(max_driver_edges + 1)
                .toPandas()
            )
            if len(probe) <= max_driver_edges:
                return _cc_driver(base, "_s", "_d", _pdf=probe)
        algorithm = "star"
    if algorithm == "star":
        canon = (
            base.select(
                F.greatest(F.col("_s"), F.col("_d")).alias("u"),
                F.least(F.col("_s"), F.col("_d")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        verts = (
            base.select(F.col("_s").alias("v"))
            .union(base.select(F.col("_d").alias("v")))
            .distinct()
            .alias("n")
        )
        stars = _cc_star(canon, max_iter).alias("s")
        # fixed point is a star per component: non-roots appear once as
        # u → their center; roots (and any vertex only ever seen as a
        # center) map to themselves
        return verts.join(stars, F.col("n.v") == F.col("s.u"), "left").select(
            F.col("n.v").alias("doc_id"),
            F.coalesce(F.col("s.v"), F.col("n.v")).alias("component"),
        )
    # Symmetrize off the materialized base (one distinct shuffle), and
    # checkpoint so the loop's per-round joins don't re-shuffle it
    # (measured before `base` existed: an unmaterialized graph re-ran
    # the pair pipeline 2×/iteration — dedup_corpus 6.9s → 4.5s).
    edges = (
        base.select(F.col("_s").alias("a"), F.col("_d").alias("b"))
        .union(base.select(F.col("_d").alias("a"), F.col("_s").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.v)
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        updated = (
            labels.join(neighbor_min, labels.v == neighbor_min.a, "left")
            .select(
                "v",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("o"), "v")
            .filter(F.col("u.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — "
            "returning partial labels would silently split dedup groups."
        )
    return labels.select(F.col("v").alias("doc_id"), F.col("lbl").alias("component"))


# ------------------------------------------------------- contamination


def ngram_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing at least
    one exact n-token shingle with the eval set (the decontamination
    primitive every training pipeline runs before a data release).

    Shape: eval shingles form a distinct inverted index (the small
    side — eval sets are thousands of docs, the corpus is the 100 TB
    side); the corpus index LEFT SEMI joins against it, so matched
    shingles short-circuit and nothing materializes a pair list (unlike
    the near-dup operators, overlap *existence* is enough). At scale the
    semi join broadcasts the eval index; a distinct on doc_id collapses
    multi-shingle hits map-side."""
    ev = doc_shingles(eval_set, text_col=text_col, n=n).select("sh").distinct()
    hits = doc_shingles(corpus, text_col=text_col, n=n).join(
        F.broadcast(ev), "sh", "left_semi"
    )
    return hits.select("doc_id").distinct()


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """The end-to-end dedup a corpus pipeline actually runs: given the
    near-dup pair output (any of the pair family), keep exactly one
    canonical document per connected component (minimum id — stable,
    engine-portable) and every untouched singleton. Composes
    ``connected_components`` with one LEFT ANTI join: the non-canonical
    member list is component-bounded (one row per *duplicate*, not per
    pair), so at 100 TB the anti join's build side is the duplicate
    fraction of the corpus, typically broadcastable after heavy dedup
    rounds; AQE picks broadcast vs shuffle from its runtime size."""
    comp = connected_components(pairs, src=src, dst=dst)
    losers = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Directed near-CONTAINMENT pairs: ``containment(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|`` ≥ threshold —
    the asymmetric cousin of Jaccard that symmetric dedup is blind to
    (a short quote inside a long article has tiny Jaccard but
    containment ≈ 1). This is the quote/excerpt/boilerplate-inclusion
    detector (Broder 1997 introduces both resemblance and containment
    on the same sketch machinery).

    Output: (inner_doc, outer_doc, containment) — inner's shingles
    mostly appear in outer; both directions of a pair are evaluated
    independently. Plan: the same posting-list shape as
    ``ngram_jaccard_pairs`` — shingle kernel once, one shuffle on the
    shingle, one on the pair; ``max_df`` is the identical hot-shingle
    escape, biasing containment low only.

    Memory bound: with ``max_df`` set the window-count prefilter keeps
    every materialized posting list ≤ max_df structs. With
    ``max_df=None`` the hottest shingle's full posting list is built
    in one aggregation buffer — inherent to exact uncapped containment
    (the old self-join's Σdf² row fan-out was the same quadratic paid
    differently); at 100 TB pass a cap.
    """
    # r14: posting-list double-explode (the ngram_jaccard_pairs
    # convention) replaces the inv⋈inv self-join — one Exchange on the
    # shingle instead of two join sides, and the FULL set size rides
    # each index row (the cap biases containment low only, so
    # denominators stay full-set — unchanged semantics), which removes
    # both sides of the former sizes join. The df cap becomes a window
    # count over the same shingle key (the _cap_hot_buckets
    # convention — no unbounded posting list materialized under a cap).
    sets = doc_shingle_sets(docs, text_col, n)
    inv = sets.select(
        "doc_id", F.size("shs").alias("sz"), F.explode("shs").alias("s")
    )
    if max_df is not None:
        ws = Window.partitionBy("s")
        inv = (
            inv.withColumn("_df", F.count(F.lit(1)).over(ws))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    posting = inv.groupBy("s").agg(
        F.collect_list(F.struct("doc_id", "sz")).alias("ids")
    )
    pair_rows = (
        posting.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # pinned: the ab/ba union consumes this twice, and each reference
    # would otherwise re-run the kernel + posting chain. Pair-level
    # rows — bounded by the candidate set, far below the index.
    # ``materialize=False`` trades the re-run back for lineage (see
    # relational._pin on the executor-loss failure mode).
    with_sizes = _pin(
        pair_rows.groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        ).agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a.sz").alias("sza"),
            F.first("b.sz").alias("szb"),
        ),
        materialize,
    )
    ab = with_sizes.select(
        F.col("da").alias("inner_doc"),
        F.col("db").alias("outer_doc"),
        ((F.col("inter") * F.lit(1.0)) / F.col("sza")).alias("containment"),
    )
    ba = with_sizes.select(
        F.col("db").alias("inner_doc"),
        F.col("da").alias("outer_doc"),
        ((F.col("inter") * F.lit(1.0)) / F.col("szb")).alias("containment"),
    )
    return (
        ab.unionByName(ba)
        .filter(F.col("containment") >= threshold)
        .orderBy("inner_doc", "outer_doc")
    )


def dedup_corpus_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """``dedup_corpus`` with a QUALITY survivor policy: keep the
    highest-``quality_col`` member of each near-dup cluster (ties →
    smallest id) instead of the smallest id. This is what production
    curation actually does — near-dup clusters usually contain one
    full document and several truncated/boilerplate copies, and
    min-id keeps whichever was crawled first; ranking by length or a
    quality score keeps the best (the RefinedWeb/Gopher convention).

    Plan: the component map joins ONLY the duplicate fraction of the
    corpus (one row per doc-in-a-pair), the survivor per component is
    one ``max_by`` partial-aggregatable arg-max (no window sort), and
    the final keep-set is one anti join of the loser list — the same
    scale contract as ``dedup_corpus``, plus one tiny aggregate.
    """
    comp = connected_components(pairs, src=src, dst=dst).select(
        F.col("doc_id").alias(id_col), "component"
    )
    members = comp.join(
        docs.select(id_col, quality_col), id_col
    )
    # arg-min by (quality DESC, id ASC), expressed as min_by over
    # (-quality, id): negating the (numeric) quality makes "smaller"
    # mean "higher quality", and the untouched id column breaks ties
    # toward the SMALLEST id while keeping id types generic (string
    # ids work — only quality must be numeric, which a score is)
    winners = members.groupBy("component").agg(
        F.min_by(
            F.col(id_col),
            F.struct(
                (-F.col(quality_col)).alias("_nq"),
                F.col(id_col).alias("_id"),
            ),
        ).alias("_winner")
    )
    losers = comp.join(winners, "component").filter(
        F.col(id_col) != F.col("_winner")
    ).select(id_col)
    return docs.join(losers, id_col, "left_anti")


def novel_against_index(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup: the new-batch rows whose order-insensitive
    token-set fingerprint (``functions.text.doc_fingerprint``, the
    ``fingerprint_dedup`` key) does NOT already exist in an ingested
    corpus — the daily-crawl-vs-index check a continuously growing
    corpus runs instead of re-deduplicating 100 TB from scratch.

    One semi-structured anti join on the fingerprint: the index side
    reduces to its distinct fingerprint column (map-side partial
    distinct; at steady state this is the corpus's fingerprint index,
    which a production deployment would persist and bucket by ``fp`` so
    the daily anti join co-locates without a full index shuffle).
    Batch-internal duplicates are intentionally kept — within-batch
    dedup is ``exact_dedup``/``fingerprint_dedup_groups``'s job and
    composes before or after.
    """
    from ..functions.text import doc_fingerprint

    idx = index_docs.select(
        doc_fingerprint(F.col(text_col)).alias("fp")
    ).distinct()
    return (
        new_docs.withColumn("fp", doc_fingerprint(F.col(text_col)))
        .join(idx, "fp", "left_anti")
        .drop("fp")
    )


def _lsh_bands(
    docs: DataFrame, text_col: str, n: int, _inv: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band, bh) rows — the persistable LSH index of a corpus
    (same banding as ``minhash_lsh_pairs``). ``_inv``: prebuilt
    ``doc_shingles`` frame to share one kernel pass."""
    sig = minhash_signatures(docs, text_col, n, _inv=_inv)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_hash(b).alias("bh"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bh")


def novel_against_index_near(
    new_docs: DataFrame,
    index_docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """NEAR-duplicate incremental dedup: new-batch rows with no
    verified near-duplicate (exact shingle Jaccard ≥ ``threshold``) in
    the ingested corpus — the fuzzy complement of
    ``novel_against_index`` (which only catches token-set-identical
    copies; a crawl re-fetch with one changed sentence sails through
    it).

    Candidates come from a cross-corpus LSH band join, NOT a
    self-join: the index side's (doc_id, band, bh) rows are exactly
    the persistable LSH index — at steady state a deployment stores
    them (and the index shingle sets) bucketed by (band, bh), and the
    daily batch computes only its own signatures and probes, touching
    the 100 TB corpus nowhere. Verification is exact Jaccard over the
    two corpora's shingle sets, each computed in one kernel pass.
    Recall is LSH recall (same banding parameters and the same
    exact-dedup-first bucket-width discipline as
    ``minhash_lsh_pairs``); a missed near-dup is a false "novel", the
    standard LSH trade.
    """
    # r14 note: a one-kernel-pass variant (pin the flat shingle index,
    # fold verify sets with groupBy+collect_list) was A/B'd and
    # REVERTED — it replaced the second narrow tokenize kernel with a
    # full Exchange of the token stream (caught by the shuffle-budget
    # contract; shuffles, not kernel passes, are the scarce resource
    # at scale) and measured a wash at sf0.1.
    ib = _lsh_bands(index_docs, text_col, n)
    sets_idx = doc_shingle_sets(index_docs, text_col, n)
    return _novel_vs_index_frames(
        new_docs, ib, sets_idx, threshold, n, text_col
    )


def _novel_vs_index_frames(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    threshold: float,
    n: int,
    text_col: str,
) -> DataFrame:
    """Shared probe flow for ``novel_against_index_near`` (index frames
    computed inline) and ``probe_lsh_index`` (index frames read from
    persisted bucketed tables)."""
    nb = _lsh_bands(new_docs, text_col, n).withColumnRenamed("doc_id", "new_id")
    ib = index_bands.withColumnRenamed("doc_id", "idx_id")
    cands = nb.join(ib, ["band", "bh"]).select("new_id", "idx_id").distinct()
    sets_new = (
        doc_shingle_sets(new_docs, text_col, n)
        .withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("shs", "shs_a")
    )
    sets_idx = index_sets.withColumnRenamed("doc_id", "idx_id").withColumnRenamed(
        "shs", "shs_b"
    )
    jacc = F.size(F.array_intersect("shs_a", "shs_b")) / F.size(
        F.array_union("shs_a", "shs_b")
    )
    matched = (
        cands.join(sets_new, "new_id")
        .join(sets_idx, "idx_id")
        .filter(jacc >= F.lit(threshold))
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return new_docs.join(matched, "doc_id", "left_anti")


def persist_lsh_index(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int = 8,
    text_col: str = "text",
    n: int = 3,
) -> None:
    """Materialize a corpus's LSH index as two bucketed catalog tables —
    ``<prefix>_bands`` (doc_id, band, bh; bucketed+sorted by bh) and
    ``<prefix>_sets`` (doc_id, shs; bucketed by doc_id) — the OFFLINE
    half of incremental near-dup dedup. This pays the corpus's
    signature/shingle kernels and the bucket shuffles exactly once; at
    100 TB a daily ``probe_lsh_index`` then touches the corpus text
    nowhere and re-executes none of its kernels (plan-asserted in
    ``tests/test_sampling.py``)."""
    from ..plans.layout import write_bucketed

    write_bucketed(
        _lsh_bands(docs, text_col, n),
        f"{table_prefix}_bands",
        ["bh"],
        n_buckets,
        sort_cols=["bh"],
    )
    write_bucketed(
        doc_shingle_sets(docs, text_col, n),
        f"{table_prefix}_sets",
        ["doc_id"],
        n_buckets,
    )


def append_lsh_index(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int = 8,
    text_col: str = "text",
    n: int = 3,
    marker_dir: str | None = None,
    marker_key: str | None = None,
) -> None:
    """Fold new documents into a persisted LSH index: appends their
    bands/shingle-sets to the two bucketed tables ``persist_lsh_index``
    wrote (same bucket spec, so appended files land pre-hashed and the
    probe's no-Exchange property is preserved). The incremental-growth
    half of streaming near-dup dedup: probe-then-append per micro-batch
    keeps the index covering the full ingested corpus with per-batch
    (not corpus-wide) kernel cost.

    Replay idempotency is PER TABLE when ``marker_dir``/``marker_key``
    are given: each table's append commits its own marker file, so a
    crash between the two appends (bands committed, sets not) replays
    only the missing table — a single all-or-nothing marker would
    re-append the bands and permanently duplicate them (review r6).
    The residual window is append-commit → marker-touch; duplicates
    from that window are correctness-harmless (the probe's candidate
    set is DISTINCT and the verify join keys on doc_id) and cost only
    storage — a transactional table format shrinks the window to its
    commit, the same note as the upsert family's staged publish.

    Marker IO goes through the Hadoop FileSystem API (``fsutil``,
    VERDICT r7 Next #3), resolved from ``marker_dir``'s scheme — a
    bare local path, ``file:///...``, or an ``hdfs://``/``s3a://``
    checkpoint location all read and write the same markers, so the
    exactly-once contract no longer assumes a driver-local POSIX
    checkpoint dir (the ADVICE r6 documented bound, now lifted)."""
    from .. import fsutil

    def _marker(table: str) -> str | None:
        if marker_dir is None or marker_key is None:
            return None
        return fsutil.join(marker_dir, f"{marker_key}.{table}")

    def _append(frame: DataFrame, table: str, bucket_col: str, sort: bool):
        mk = _marker(table)
        if mk is not None and fsutil.exists(mk, frame.sparkSession):
            return
        writer = frame.write.format("parquet").mode("append").bucketBy(
            n_buckets, bucket_col
        )
        if sort:
            writer = writer.sortBy(bucket_col)
        writer.saveAsTable(f"{table_prefix}_{table}")
        if mk is not None:
            fsutil.touch(mk, frame.sparkSession)

    _append(_lsh_bands(docs, text_col, n), "bands", "bh", sort=True)
    _append(doc_shingle_sets(docs, text_col, n), "sets", "doc_id", sort=False)


def probe_lsh_index(
    new_docs: DataFrame,
    table_prefix: str,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """ONLINE half of incremental near-dup dedup: novel rows of
    ``new_docs`` against an index written by ``persist_lsh_index``.
    Only the batch's own signatures/shingles are computed; the index is
    read from its bucketed tables (pre-hashed files — the band join
    needs no index-side Exchange). Result is identical to
    ``novel_against_index_near`` over the original corpus."""
    spark = new_docs.sparkSession
    return _novel_vs_index_frames(
        new_docs,
        spark.table(f"{table_prefix}_bands"),
        spark.table(f"{table_prefix}_sets"),
        threshold,
        n,
        text_col,
    )


def auto_gram_size(
    strings: DataFrame,
    text_col: str = "s",
    target_ratio: int = 8,
    q_max: int = 5,
) -> int:
    """Derive Ed-Join's q-gram size from the corpus itself: the
    smallest ``q`` with ``|Σ|^q ≥ target_ratio·n`` (capped at
    ``q_max``), where Σ is the OBSERVED character alphabet and n the
    corpus row count — ``edit_distance_pairs``'s own documented sizing
    rule, applied automatically instead of left to the caller (VERDICT
    r7 Next #4; the same default-safety pattern that closed
    ``semantic_dedup``'s pinned k in r7).

    Rationale: the prefix join's candidate volume degrades toward
    n²/|Σ|^q when the gram space is smaller than the corpus (measured
    in SCALE.md's digit-corpus probe: q=3 slope 16.7 vs q=4 slope 3.1
    on |Σ|=10), so the gram space must out-size the corpus by a
    constant factor. Larger q also grows the small-string broadcast
    block (length ≤ q·(k+1)−1) and the prefix length q·k+1, hence the
    cap — past ``q_max`` a corpus this size wants signature blocking,
    not longer grams.

    Cost: one pass over the corpus characters (explode + two exact
    aggregates) plus a row count — trivially amortized against the
    join it sizes."""
    if target_ratio < 1 or q_max < 1:
        raise ValueError("auto_gram_size needs target_ratio, q_max >= 1")
    n = strings.count()
    row = (
        strings.select(
            F.explode(F.split(F.col(text_col), "")).alias("_ch")
        )
        .where(F.col("_ch") != "")
        .agg(F.countDistinct("_ch").alias("sigma"))
        .collect()
    )
    sigma = int(row[0]["sigma"]) if row else 0
    if sigma <= 1 or n == 0:
        return 1  # degenerate alphabet: no q can out-size the corpus
    q, space = 1, sigma
    while q < q_max and space < target_ratio * n:
        q += 1
        space *= sigma
    return q


def edit_distance_pairs(
    strings: DataFrame,
    max_dist: int,
    q: int | None = None,
    id_col: str = "id",
    text_col: str = "s",
) -> DataFrame:
    """String-similarity join: all pairs within Levenshtein distance
    ``max_dist``, found WITHOUT the quadratic cross join — POSITIONAL
    q-gram prefix filtering (Gravano et al., VLDB 2001's count/length/
    position bounds; Xiao, Wang & Lin's Ed-Join, VLDB 2008): one edit
    operation destroys at most ``q`` positional q-gram occurrences and
    shifts survivors by at most k positions, so for two strings within
    distance k there exist occurrences of the SAME gram, at positions
    within k of each other, in both strings' (q·k+1)-PREFIXES — the
    first q·k+1 occurrences under the global (corpus frequency, gram,
    position) order. (Completeness of the position filter on BAG
    prefixes: take a surviving prefix occurrence o₁ of s₁; if its
    image is outside s₂'s prefix, some prefix occurrence o₂ of s₂ has
    an out-of-prefix preimage, which forces value(o₂) = value(o₁) and
    pos(o₁) − k < pos(o₂) < pos(o₁) + k — the matched pair the join
    sees.) Rarest-first ordering makes the candidate join meet on RARE
    grams, which shrinks candidates and bounds posting-list skew; the
    position filter prunes a further ~(2k+1)/len of value matches.

    Strings with at most q·k gram occurrences (length ≤ q·(k+1) − 1)
    can be within k of each other sharing NO gram — e.g. "aaa" vs
    "aba" at q=2, k=1 — so they additionally pair among THEMSELVES in
    a broadcast block (bounded-length strings, a vanishing fraction of
    any real corpus; small-vs-large pairs are covered by the prefix
    join because the large side's prefix has a survivor and the small
    side's bag is entirely its own prefix).

    Plan: one posexplode for the gram-frequency table, one window
    shuffle (by string id) to rank each string's occurrences and keep
    the (q·k+1)-prefix, a self-equi-join of the prefixes on the gram
    with the position and |len₁−len₂| ≤ k filters, the small×small
    broadcast block, then an id-join back to the strings and the exact
    banded ``levenshtein(s₁, s₂, k)`` verification (O(k·len) per
    candidate, JVM-side).

    Output: (id1, id2, dist) with id1 < id2, ordered — deterministic,
    and value-exact against a brute-force SQL oracle since every
    number is an integer. Scale envelope: candidate volume is
    Σ_g df_prefix(g)²·(2k+1)/len̄ — linear while rare-gram posting
    lists stay bounded; a small-alphabet corpus of short strings
    degrades toward n²/|Σ|^q (grow q, or block on longer signatures,
    when the gram space is the bottleneck). All-near-identical corpora
    degrade to the output's own quadratic size, which no filter can
    beat.

    ``q=None`` (the default) derives q from the observed alphabet and
    corpus size via ``auto_gram_size`` — the |Σ|^q ≥ c·n rule above,
    applied automatically so the default cannot land in the degraded
    regime; pass an explicit q only to pin a measured configuration.
    q does not affect RESULTS (the levenshtein verify is exact and the
    filter is complete for any q ≥ 1), only the candidate volume."""
    if q is None:
        q = auto_gram_size(strings, text_col=text_col)
    if max_dist < 0 or q < 1:
        raise ValueError("edit_distance_pairs needs max_dist >= 0, q >= 1")
    k, pref = max_dist, q * max_dist + 1
    base = strings.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_s"),
        F.length(text_col).alias("_len"),
    )
    grams = base.where(F.col("_len") >= q).select(
        "_id",
        "_len",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, _len - {q} + 1),"
                f" i -> substring(_s, i, {q}))"
            )
        ).alias("_pos", "_g"),
    )
    gram_df = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_g", "_pos")
    prefix = (
        grams.join(gram_df, "_g")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= pref)
        .select("_id", "_len", "_g", "_pos")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._g") == F.col("b._g"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.abs(F.col("a._len") - F.col("b._len")) <= k)
            & (F.abs(F.col("a._pos") - F.col("b._pos")) <= k),
        )
        .select(F.col("a._id").alias("_id1"), F.col("b._id").alias("_id2"))
        .distinct()
    )
    small = base.where(F.col("_len") <= q * (k + 1) - 1).select("_id", "_len")
    sa = small.select(F.col("_id").alias("_ida"), F.col("_len").alias("_la"))
    sb = small.select(F.col("_id").alias("_idb"), F.col("_len").alias("_lb"))
    small_cand = (
        sa.join(
            F.broadcast(sb),
            (F.col("_ida") < F.col("_idb"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= k),
        )
        .select(F.col("_ida").alias("_id1"), F.col("_idb").alias("_id2"))
    )
    cand = cand.unionByName(small_cand).distinct()
    s1 = base.select(F.col("_id").alias("_id1"), F.col("_s").alias("_s1"))
    s2 = base.select(F.col("_id").alias("_id2"), F.col("_s").alias("_s2"))
    dist = F.levenshtein("_s1", "_s2", k)
    return (
        cand.join(s1, "_id1")
        .join(s2, "_id2")
        .select("_id1", "_id2", dist.alias("dist"))
        .where((F.col("dist") >= 0) & (F.col("dist") <= k))
        .select(
            F.col("_id1").alias("id1"),
            F.col("_id2").alias("id2"),
            "dist",
        )
        .orderBy("id1", "id2")
    )


_WINNOW_POS_CAP = 1 << 20  # per-doc gram positions must fit the key packing


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    _dedup: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every POSITIONAL k-token
    gram, slide a window of ``w`` consecutive gram hashes, and select
    each window's minimum (rightmost on ties, the paper's rule that
    minimizes selected fingerprints). Guarantee: any two documents
    sharing a run of ≥ w+k−1 tokens share at least one fingerprint —
    POSITION-AWARE local fingerprinting, the complement of the bag
    models in this family (MinHash ignores order; SimHash ignores
    locality; ``duplicated_spans`` needs exact 50-token runs).
    Expected density is 2/(w+1) of grams.

    Plan: one gram posexplode, ONE window shuffle per doc (min over a
    ``[current, w−1 following]`` frame of the packed key
    ``h·2²¹ + (2²⁰ − pos)`` — min h, ties to the LARGEST pos, in one
    BIGINT so the frame aggregate stays a primitive min), then a
    distinct. The packing is mirrored verbatim by the SQL oracle;
    ``assert_true`` refuses docs past 2²⁰ grams rather than silently
    mis-packing. Docs shorter than ``w`` grams degenerate to one
    window over all their grams (the guarantee's boundary case).

    Returns (id_col, fp, pos): fingerprint hash + the gram position it
    was selected at."""
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints needs k >= 1, w >= 1")
    from ..functions.text import h32, tokens

    toks = tokens(F.col(text_col))
    grams = docs.select(
        F.col(id_col),
        (F.size(toks) - k + 1).alias("_ng"),
        F.posexplode(
            # sequence(1, 0) is DESCENDING [1, 0] in Spark (the r5
            # short-doc trap), so sub-k-token docs need the CASE guard
            F.expr(
                f"CASE WHEN size(split(trim({text_col}), ' ')) >= {k}"
                f" THEN transform(sequence(1,"
                f" size(split(trim({text_col}), ' ')) - {k} + 1),"
                f" i -> array_join(slice(split(trim({text_col}), ' '),"
                f" i, {k}), ' '))"
                f" ELSE array() END"
            )
        ).alias("_pos", "_g"),
    )
    key = (
        h32(F.col("_g")) * F.lit(2 * _WINNOW_POS_CAP)
        + (F.lit(_WINNOW_POS_CAP) - F.col("_pos"))
    )
    guarded = grams.withColumn(
        "_key",
        F.when(
            F.assert_true(
                F.col("_pos") < _WINNOW_POS_CAP,
                f"winnow_fingerprints: doc exceeds {_WINNOW_POS_CAP} "
                "grams — the key packing would alias positions",
            ).isNull(),
            key,
        ),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    selected = guarded.withColumn("_wkey", F.min("_key").over(win)).where(
        (F.col("_pos") == 0) | (F.col("_pos") <= F.col("_ng") - w)
    ).select(id_col, "_wkey")
    if _dedup:
        # public contract: one row per selected (doc, packed key).
        # ``_dedup=False`` (private) skips this exchange for callers
        # that re-key and deduplicate on (doc, fp) anyway
        # (winnow_pairs: fp = _wkey div cap is coarser than _wkey, so
        # its own distinct subsumes this one — identical output, one
        # Exchange saved).
        selected = selected.distinct()
    return selected.select(
        id_col,
        # integer div — a float division would round at the 2^53 edge
        F.expr(f"_wkey div {2 * _WINNOW_POS_CAP}").alias("fp"),
        (
            F.lit(_WINNOW_POS_CAP)
            - F.pmod(F.col("_wkey"), F.lit(2 * _WINNOW_POS_CAP))
        ).cast("int").alias("pos"),
    )


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    k: int = 3,
    w: int = 4,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprint
    VALUES (the MOSS report): candidate generation is the fingerprint
    posting-list join — banded by construction (fingerprints are
    ~2/(w+1) of grams) with the standard ``max_df`` cap dropping
    stop-gram fingerprints whose postings would dominate the pair
    quadratic (the ``ngram_jaccard_capped`` scale lever; at 100 TB the
    cap is what bounds Σdf²). Output (doc_a, doc_b, n_shared) ordered
    by strength — every count an exact integer, value-exact oracle."""
    fps = winnow_fingerprints(docs, k, w, text_col, id_col, _dedup=False).select(
        F.col(id_col), "fp"
    ).distinct()
    # Posting-list pair generation (r14 optimization — the
    # ngram_jaccard_pairs convention this operator predated): ONE
    # shuffle on fp builds the posting list; in-bucket pairs expand
    # with a double explode. The prior shape joined fps→capped twice
    # and then a⋈b on fp — Catalyst shares no common subplans, so the
    # whole fingerprint chain (scan, gram posexplode, winnow window,
    # distinct) executed THREE times (audited: 4 documents scans / 7
    # exchanges → 1 scan / 4 exchanges). The df cap rides a window
    # count over the SAME key the posting aggregate shuffles on
    # (the _cap_hot_buckets convention — zero extra exchange), so no
    # posting list above max_df is ever materialized: identical
    # output, hot-fp-safe at any corpus size.
    wfp = Window.partitionBy("fp")
    posting = (
        fps.withColumn("_df", F.count(F.lit(1)).over(wfp))
        .where((F.col("_df") > 1) & (F.col("_df") <= F.lit(max_df)))
        .groupBy("fp")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
    )
    return (
        posting.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
    )


def minhash_accuracy_audit(
    docs: DataFrame,
    threshold: float = 0.3,
    n: int = 3,
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Accuracy audit for the MinHash estimator (the missing member of
    the sketch-audit family beside the HLL/percentile/CMS/PQ-recall
    audits): over all exact-Jaccard pairs ≥ ``threshold``, compare the
    K=16 signature agreement rate ĵ = (#matching components)/K —
    MinHash's unbiased estimate of Jaccard (Broder 1997) — against the
    exact value, and summarize the error distribution.

    Output (1 row): n_pairs, max_abs_err, and counts within 1/8 and
    2/8 absolute error. Counts and max are partition-order-free (both
    operands are exact rationals evaluated identically per pair; max
    of doubles is order-free, unlike a mean — which is why no avg
    column appears). With K=16 the estimator's std dev is
    √(j(1−j)/16) ≤ 0.125, so the 2/8 bucket should hold nearly every
    pair — the invariant the audit exposes without hard-coding a
    probabilistic bound as a hard assertion.

    Plan: the exact pairs come from the posting-list jaccard kernel
    (one shingle shuffle + one pair shuffle); signatures are one
    partial-agg groupBy; two id-joins attach them to the pairs. All
    md5-deterministic → value-exact oracle."""
    # r14: ONE shingle-kernel pass — the pair join and the signature
    # aggregate both consume the same pinned flat index (previously 3
    # kernel executions: pairs ×1 + the sig chain re-derived per side
    # of the sa/sb join). sig is pinned too: it is consumed twice
    # below and re-deriving it costs a 16-min aggregate per side.
    # ``materialize=False`` trades the kernel re-runs back for lineage
    # (see relational._pin on the executor-loss failure mode).
    inv = _pin(doc_shingles(docs, text_col, n), materialize)
    pairs = ngram_jaccard_pairs(docs, threshold=threshold, n=n,
                                text_col=text_col, _inv=inv)
    sig = _pin(
        minhash_signatures(docs, text_col=text_col, n=n, _inv=inv),
        materialize,
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(N_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    per = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.abs(
                agree.cast("double") / F.lit(float(N_HASHES))
                - F.col("jaccard")
            ).alias("_err")
        )
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("_err").alias("max_abs_err"),
        F.sum(F.when(F.col("_err") <= 0.125, 1).otherwise(0)).alias(
            "n_within_eighth"
        ),
        F.sum(F.when(F.col("_err") <= 0.25, 1).otherwise(0)).alias(
            "n_within_quarter"
        ),
    )


def sorted_neighbor_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    bucket_of_key=None,
    window: int = 4,
    min_shared_tokens: int = 1,
) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernández &
    Stolfo, SIGMOD 1995): sort records by a blocking key and emit all
    pairs within ``window`` positions of each other — the classic
    alternative to hash blocking (LSH bands, SimHash prefixes) that
    catches near-matches differing in a LOW-ORDER part of the key,
    which land in different hash buckets but adjacent sort positions.
    Candidates then pass a cheap verify: at least ``min_shared_tokens``
    distinct tokens shared between the keys (array_intersect — both
    engines dedup, so the count is set semantics).

    The global sort position comes from ``global_rank`` (total-order
    partitioner: range-bucket + per-bucket window — no single-partition
    sort). ``bucket_of_key`` maps the key Column to a range bucket and
    MUST be monotone in the key — global_rank VERIFIES that via bucket
    envelopes; the default (first character) is monotone for any
    string key under lexicographic order. Ties on the
    key break by id, so the order — and therefore the candidate set —
    is fully deterministic. Pair generation is a sequence-explode of
    the w−1 following ranks joined back on rank: candidates scale
    LINEARLY (≤ (w−1)·n, the method's selling point vs the df² of
    posting joins), one shuffle each side of the rank join.

    Emits (id_a, id_b, key_a, key_b, shared_tokens) with id_a's rank
    strictly below id_b's."""
    if window < 2:
        raise ValueError(
            f"sorted_neighbor_pairs: window must be >= 2, got {window}"
        )
    base = df.select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_k")
    ).where(F.col(key_col).isNotNull() & F.col(id_col).isNotNull())
    from .relational import global_rank

    if bucket_of_key is None:
        bucket_of_key = lambda k: F.substring(k, 1, 1)  # noqa: E731
    ranked = global_rank(
        base,
        bucket_of_key(F.col("_k")),
        F.struct(F.col("_k"), F.col("_id")),
        "rank",
    )
    right = ranked.select(
        F.col("rank").alias("_rr"),
        F.col("_id").alias("id_b"),
        F.col("_k").alias("key_b"),
    )
    probes = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_k").alias("key_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + window - 1)
        ).alias("_rr"),
    )
    shared = F.size(
        F.array_intersect(
            F.split(F.col("key_a"), " "), F.split(F.col("key_b"), " ")
        )
    ).cast("long")
    return (
        probes.join(right, "_rr")
        .select("id_a", "id_b", "key_a", "key_b", shared.alias("shared_tokens"))
        .where(F.col("shared_tokens") >= min_shared_tokens)
        .orderBy("id_a", "id_b")
    )
