"""Distributed BPE merge training — the vocabulary-induction step of a
training-data pipeline (byte-pair encoding as published by Sennrich et
al. 2016, arXiv:1508.07909; the same algorithm behind GPT-2/SentencePiece
vocabularies).

Classic formulation: training operates on the WORD-FREQUENCY table, not
the raw corpus — one corpus-scale aggregate builds (word, count), and
every merge iteration then runs over that (much smaller, but still
potentially huge at 100 TB byte-level) frame:

    1. explode each word's symbol sequence into adjacent pairs,
       weighted by the word's count;
    2. pick the globally most frequent pair (deterministic tie-break:
       count desc, then lexicographic) — a tiny 1-row aggregate;
    3. rewrite every word's symbols with that pair merged.

Spark shapes: step 1-2 are a generate-only explode + partial-agg
groupBy (one shuffle of (pair, partial count)); step 3 is an Arrow
kernel pass over the vocab frame (the merge rewrite is a sequential
scan per word — not expressible as a Catalyst array op because merges
can cascade through overlapping pairs, e.g. ``a a a`` with merge
``(a, a)``). The vocab frame is ``localCheckpoint``-ed each round so
iteration N+1 does not replay rounds 1..N (the same lineage-growth
trap ``connected_components`` hit, fixed the same way).

Scale notes: the per-iteration cost is one shuffle over the vocab
frame — the published algorithm's cost, parallelized; production
trainers also pre-truncate the word table to the top-K words (the tail
contributes negligible pair mass), which is one ``quota``-style rank
cut a caller composes in front. Merge count is the driver loop bound —
n_merges sequential Spark jobs, inherently sequential in the algorithm
itself (each merge depends on the last).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over whitespace tokens — the one corpus-scale pass."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _merge_adjacent(syms: list[str], left: str, right: str) -> list[str]:
    """The ONE scan-and-merge rule every BPE site shares (trainer
    kernel, driver trainer, tokenizer): rewrite ``syms`` with
    (left, right) → left+right, scanning left-to-right; after a merge
    the scan continues AFTER the merged token (the standard BPE
    cascade rule). Keeping this a single function is a correctness
    contract — train and apply must rewrite identically."""
    merged = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            merged.append(left + right)
            i += 2
        else:
            merged.append(syms[i])
            i += 1
    return merged


def _merge_pair_kernel(left: str, right: str):
    """Arrow kernel: apply ``_merge_adjacent`` to every vocab row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _merge_adjacent(list(syms), left, right)
                for syms in pdf["syms"]
            ]
            yield pd.DataFrame(
                {"word": pdf["word"], "n": pdf["n"], "syms": out}
            )

    return run


def _train_bpe_local(
    vocab_rows: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Driver-side merge loop over the collected (syms, n) vocab — the
    classic Sennrich formulation. The symbol sequences are the SAME
    code-point split the distributed loop computed (collected, not
    re-derived), and Python's str ordering equals Spark's UTF8String
    byte ordering on code points, so the argmax tie-break matches the
    distributed ``orderBy(desc(cnt), l, r)`` bit-for-bit.
    Property-tested equal in ``tests/test_training_ops.py`` (ASCII and
    astral-plane corpora)."""
    vocab = [(list(syms), n) for syms, n in vocab_rows]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        # max by (count desc, pair lexicographic asc) — the exact
        # ordering the distributed orderBy(desc(cnt), l, r) applies
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if cnt < 2:
            break
        merges.append((left, right, cnt))
        vocab = [
            ((_merge_adjacent(syms, left, right) if len(syms) >= 2 else syms), n)
            for syms, n in vocab
        ]
    return merges


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    driver_threshold: int = 200_000,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge
    table [(left, right, pair_count), ...] in learned order. Stops
    early (shorter list) when no pair occurs twice — the vocabulary is
    exhausted. Deterministic: ties break lexicographically, no RNG.

    The returned table is the driver-side artifact a tokenizer ships;
    it is ``n_merges`` rows — never corpus-sized.

    Two execution modes, auto-selected like ``connected_components``'
    union-find cutover: the corpus-scale pass (word_freq_table) always
    runs in Spark, but the ITERATIVE loop only operates on the
    word-frequency table, whose size is bounded by the distinct-word
    count (and in production trainers is top-K-capped in front). When
    that table fits the driver (≤ ``driver_threshold`` rows) the loop
    runs locally — 10 sequential Spark jobs collapse to one collect —
    and both paths produce the identical merge table. Set
    ``driver_threshold=0`` to force the distributed loop.
    """
    vocab = word_freq_table(docs, text_col).withColumn(
        # CODE-POINT symbols: Java regex `.` consumes one code point,
        # so astral-plane characters stay single symbols (a position-
        # based split would shear them into lone surrogates, which
        # neither Python nor the py4j string transport round-trips).
        # Code points also make the orderings agree everywhere: Spark
        # compares strings as UTF-8 bytes (= code-point order), which
        # is exactly Python's str ordering — so the driver loop's
        # tie-break matches the distributed orderBy bit-for-bit.
        "syms", F.expr("regexp_extract_all(word, '(?s).', 0)")
    )
    vocab = vocab.localCheckpoint(eager=True)

    if driver_threshold > 0 and vocab.count() <= driver_threshold:
        # collect the JVM-split syms rather than re-deriving them in
        # Python: both splits are code-point based TODAY, but the
        # symbol inventory is part of the trained artifact's identity —
        # consuming the one authoritative split keeps the two paths
        # identical by construction instead of by parallel convention
        rows = vocab.select("syms", "n").collect()
        return _train_bpe_local([(r["syms"], r["n"]) for r in rows], n_merges)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = vocab.select(
            "n",
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.col("syms")[i].alias("l"),
                            F.col("syms")[i + 1].alias("r"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((left, right, cnt))
        vocab = vocab.mapInPandas(
            _merge_pair_kernel(left, right),
            "word string, n bigint, syms array<string>",
        ).localCheckpoint(eager=True)
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a learned merge table: per doc,
    (doc_id, n_words, n_tokens) where n_tokens is the symbol count
    after replaying every merge in order. One Arrow kernel pass over
    the corpus — the merge table broadcasts via closure capture
    (n_merges rows)."""
    order = [(left, right) for left, right, _ in merges]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Corpora repeat words heavily (Zipf), so the merge replay is
        # memoized per DISTINCT word for the task's lifetime — the
        # dominant cost drops from per-occurrence to per-type. The
        # cache is str→int and capped so task memory stays bounded on
        # adversarial corpora (past the cap, rare words just replay).
        cache: dict[str, int] = {}
        cache_cap = 1_000_000

        def count_tokens(w: str) -> int:
            hit = cache.get(w)
            if hit is not None:
                return hit
            # list(w) = code points — the trainer's symbol alphabet
            # (the JVM side splits with regexp `.`, one code point)
            syms = list(w)
            for left, right in order:
                if len(syms) < 2:
                    break
                # symbols are always contiguous substrings of w, so a
                # merge can only ever apply if left+right occurs in w
                if left + right not in w:
                    continue
                syms = _merge_adjacent(syms, left, right)
            n = len(syms)
            if len(cache) < cache_cap:
                cache[w] = n
            return n

        for pdf in batches:
            ids, n_words, n_tokens = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = ("" if text is None else text).strip(" ").split(" ")
                words = [w for w in words if w]
                ids.append(doc_id)
                n_words.append(len(words))
                n_tokens.append(sum(count_tokens(w) for w in words))
            yield pd.DataFrame(
                {id_col: ids, "n_words": n_words, "n_tokens": n_tokens}
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_type}, n_words long, n_tokens long"
    )
