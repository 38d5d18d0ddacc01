"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline. Query set broadcast
  against the corpus; the corpus streams through an Arrow-batched
  numpy kernel (mapInPandas); top-k via rank window partitioned by
  query.
- Threshold pairs: all corpus pairs above a cosine cutoff (near-dup by
  embedding).
- Random-hyperplane LSH (scale path): sign-bit signatures from
  md5-derived deterministic hyperplanes; candidates share a bucket, so
  the all-pairs cross join disappears. Approximate — recall depends on
  bits/bands like any SRP-LSH.

Why numpy kernels and not pure Catalyst expressions: a 64-term unrolled
dot inside a cross join gets pushed into the BroadcastNestedLoopJoin's
join condition, where Spark evaluates it *interpreted*, per pair, and
then recomputes it in the projection — measured ~10 s for a 2k×2k
corpus. The mapInPandas kernels below do the same arithmetic 100×
faster and — critically for the DuckDB differential oracle — in the
SAME IEEE-754 order: every reduction accumulates dimension-by-dimension
(``acc = acc + X[:,d]*Y[:,d]`` for d ascending), which is exactly the
left-to-right fold of ``list_dot_product`` / ``F.aggregate``, just
vectorized across the pair axis. numpy elementwise ops don't fuse or
reassociate, so results are bit-identical to the expression path.

Scale: brute force is O(|Q|·|C|) — fine when one side is small enough
to broadcast (the kernel ships the small side to every task exactly
like a broadcast hash join build side); the LSH path is the 100 TB
corpus-vs-corpus strategy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _vec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Fold-based dot for unknown dims. Prefer dot_fixed when the
    dimensionality is known: higher-order functions are interpreted
    (no whole-stage codegen), ~10x slower per row."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def dot_fixed(a: Column, b: Column, dims: int) -> Column:
    """Dot product unrolled to explicit getItem terms. Left-associated
    addition — the identical IEEE order to the fold and to DuckDB's
    list_dot_product, so results stay bit-identical — but fully
    codegen-able by Catalyst."""
    acc = a.getItem(0) * b.getItem(0)
    for d in range(1, dims):
        acc = acc + a.getItem(d) * b.getItem(d)
    return acc


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def norm_fixed(a: Column, dims: int) -> Column:
    return F.sqrt(dot_fixed(a, a, dims))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ----------------------------------------------- ordered numpy kernels


def _batch_topk_cut(
    qids: np.ndarray, nids: np.ndarray, sim: np.ndarray, k: int
) -> np.ndarray:
    """Row indices of each query's top-k WITHIN one Arrow batch of
    row-paired (query, neighbor, sim) candidates, under the engines'
    total order: sim desc with NaN ranked ABOVE +inf (Spark and DuckDB
    both sort NaN greatest, so a pre-cut that dropped NaN rows would
    diverge from the rank window on degenerate inputs), ties by
    neighbor id asc. The global top-k under the same order is a
    subset of the union of per-batch cuts, so the downstream window
    sees ≤ |Q|·k rows per task instead of the whole probed fraction —
    at a 10⁹-row corpus the uncut plan concentrates one query's
    every candidate in a single window partition. The explicit
    isnan sort key keeps NaN strictly above +inf (both map to the
    same -inf value key, so without it a +inf row with a smaller
    neighbor id would outrank a NaN row at a k boundary — the
    opposite of the engines' NaN-greatest total order)."""
    isn = np.isnan(sim)
    key = np.where(isn, -np.inf, -sim)
    order = np.lexsort((nids, key, ~isn, qids))
    sq = qids[order]
    starts = np.r_[0, np.flatnonzero(sq[1:] != sq[:-1]) + 1]
    sizes = np.diff(np.r_[starts, len(sq)])
    ranks = np.arange(len(sq)) - np.repeat(starts, sizes)
    return order[ranks < k]


def _scan_topk(
    corpus: DataFrame, q_ids: np.ndarray, payload, score_batch,
    score_schema: str, k: int, sim_col: str = "sim",
) -> DataFrame:
    """The exact-scan plan: ``score_batch(pdf, payload)`` scores a
    corpus batch against every broadcast query (batch ids, B×Q
    ``score_schema`` columns); self-matches drop, each query keeps its
    ≤ k finite best under (sim desc, id asc), and the rank window ends."""
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, payload))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, qp = bc.value
        if len(ids_q) == 0:
            return
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nid, cols = score_batch(pdf, qp)
            sim = cols[sim_col]
            sim[np.equal.outer(nid, ids_q)] = -np.inf  # self-match
            for qi in range(len(ids_q)):
                order = np.lexsort((nid, -sim[:, qi]))[: min(k, len(nid))]
                keep = order[np.isfinite(sim[order, qi])]
                if len(keep):
                    yield pd.DataFrame(
                        {
                            "query_id": ids_q[qi],
                            "neighbor_id": nid[keep],
                            **{c: v[keep, qi] for c, v in cols.items()},
                        }
                    )

    scored = corpus.mapInPandas(
        score, f"query_id long, neighbor_id long, {score_schema}"
    )
    return _rank_topk(scored, k, sim_col)


def _pack_codes(q: np.ndarray) -> list[bytes]:
    """int8 code matrix → one dims-byte two's-complement buffer per
    row — the FAISS SQ8 storage layout (1 byte/dim, 4× narrower than
    the bit-portable ``array<int>`` schema). Codes are always in
    [-127, 127] by the half-up quantizer's construction, so int8
    round-trips losslessly."""
    qb = np.ascontiguousarray(q, dtype=np.int8)
    return [qb[i].tobytes() for i in range(len(qb))]


def _unpack_codes(col: pd.Series, dims: int) -> np.ndarray:
    """binary code column → (n, dims) int64 matrix, the exact inverse
    of ``_pack_codes`` (unpack-identity-tested incl. the ±127
    extremes), widened for the exact integer dot."""
    if len(col) == 0:
        return np.empty((0, dims), dtype=np.int64)
    buf = b"".join(col)
    return (
        np.frombuffer(buf, dtype=np.int8)
        .astype(np.int64)
        .reshape(-1, dims)
    )


def _as_matrix(col: pd.Series, dims: int) -> np.ndarray:
    """Stack an Arrow list<float> column into an (n, dims) float64
    matrix — float32→float64 widening matches Spark's cast."""
    if len(col) == 0:
        return np.empty((0, dims), dtype=np.float64)
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _ordered_norms(m: np.ndarray) -> np.ndarray:
    """sqrt(sum_d x_d²) accumulated d=0..dims-1 — the left-to-right
    fold order, vectorized across rows."""
    acc = m[:, 0] * m[:, 0]
    for d in range(1, m.shape[1]):
        acc = acc + m[:, d] * m[:, d]
    return np.sqrt(acc)


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2, zero rows passing through unchanged —
    the one normalization convention of the PQ/IVFADC family (a single
    definition so encode and query sides can never disagree)."""
    n = _ordered_norms(m)
    return m / np.where(n == 0.0, 1.0, n)[:, None]


def _ordered_gemm(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """X·Yᵀ with the sum over dimensions accumulated in index order —
    NOT np.matmul (BLAS reassociates into pairwise/SIMD sums). Each
    output element sees adds in exactly the d=0,1,…,dims-1 sequence."""
    acc = np.multiply.outer(x[:, 0], y[:, 0])
    for d in range(1, x.shape[1]):
        acc = acc + np.multiply.outer(x[:, d], y[:, d])
    return acc


def _ordered_rowdot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Row-paired dot (x_i · y_i), dimension-ordered accumulation."""
    acc = x[:, 0] * y[:, 0]
    for d in range(1, x.shape[1]):
        acc = acc + x[:, d] * y[:, d]
    return acc


def ann_bruteforce_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors for the query subset, by ``metric``:

    - ``"cosine"`` — angular similarity (the near-dup / semantic
      retrieval default);
    - ``"dot"`` — maximum inner product (MIPS), what retrieval with
      unnormalized learned embeddings ranks by. MIPS reduces to
      cosine over norm-augmented vectors (append sqrt(M²−‖x‖²) to
      each corpus vector, 0 to each query — Bachrach et al. 2014,
      RecSys; Neyshabur & Srebro 2015), so every cosine-bucketed
      scale path (SRP-LSH, IVF) extends to it; the brute-force kernel
      simply skips the norm division. tests/test_similarity_ops.py
      asserts the augmented-cosine ranking equals this dot ranking.

    The query matrix is collected and shipped to every task (the build
    side of a broadcast join, made explicit); the corpus streams
    through an Arrow-batched numpy kernel that scores one corpus block
    against all queries per batch and emits per-batch top-k candidates.
    The global exact top-k is the rank window over those candidates —
    at scale each task emits ≤|Q|·k rows, not |Q|·|C|. Ties broken by
    neighbor id; arithmetic order bit-identical to the DuckDB oracle
    (see module docstring).
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(f"ann_bruteforce_topk: unknown metric {metric!r}")
    qpdf = (
        emb.filter(query_filter)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .toPandas()
    )
    q_ids = qpdf["query_id"].to_numpy(dtype=np.int64)
    q_mat = _as_matrix(qpdf["qv"], dims)
    q_norm = _ordered_norms(q_mat) if len(q_ids) else np.empty(0)

    def score_batch(pdf, q):
        mq, nq = q
        mc = _as_matrix(pdf[vec_col], dims)
        sim = _ordered_gemm(mq, mc)
        if metric == "cosine":
            sim = sim / np.multiply.outer(nq, _ordered_norms(mc))
        return pdf[id_col].to_numpy(dtype=np.int64), {"sim": sim.T}

    return _scan_topk(
        emb.select(id_col, vec_col), q_ids, (q_mat, q_norm), score_batch,
        "sim double", k,
    )


#: Per-task memory budget the auto block count is sized against.  A
#: block-pair task materializes two (n/B)×dims float64 matrices plus the
#: Arrow batch they came from; 128 MiB keeps that comfortably inside a
#: default 1 GiB-heap executor core even with the gemm temporaries.
_DEFAULT_TASK_BUDGET_BYTES = 128 * 1024 * 1024

#: Above this block count, exact all-pairs stops being the right tool:
#: the B(B+1)/2 block-pair table exceeds broadcast comfort (~4096 →
#: 8.4M pairs) and — more fundamentally — a corpus whose memory floor
#: needs that many blocks implies O(n²) kernel FLOPs nobody should pay.
#: `ann_lsh_pairs` is the sub-quadratic path at that scale.
_MAX_AUTO_N_BLOCKS = 4096


def _auto_n_blocks(
    n_rows: int,
    dims: int,
    parallelism: int = 32,
    task_budget_bytes: int = _DEFAULT_TASK_BUDGET_BYTES,
) -> int:
    """Derive the block count for :func:`cosine_threshold_pairs`.

    This is the docstring formula made code (VERDICT r2 #8): peak task
    memory is the two side matrices, ~2·(n/B)·dims·8 bytes, so the
    memory floor is B ≥ 2·n·dims·8 / task_budget — a caller can no
    longer pick (or default into) a B that OOMs a task.  Below that
    floor, use just enough blocks that the B(B+1)/2 block-pair groups
    cover the cluster's cores; shuffle volume grows linearly in B
    (corpus × (B+1)), so parallelism we can't use isn't worth paying
    replication for.

    Refuses (loudly, not with a silent cap) when the memory floor
    exceeds ``_MAX_AUTO_N_BLOCKS``: at that point exact all-pairs is
    the wrong algorithm and the caller should use :func:`ann_lsh_pairs`
    — or pass ``n_blocks`` explicitly if they really mean it.
    """
    if n_rows <= 0:
        return 1
    mem_floor = -(-2 * n_rows * dims * 8 // max(1, task_budget_bytes))
    if mem_floor > _MAX_AUTO_N_BLOCKS:
        raise ValueError(
            f"cosine_threshold_pairs: corpus needs n_blocks={mem_floor} to fit "
            f"the {task_budget_bytes >> 20} MiB task budget, above the "
            f"{_MAX_AUTO_N_BLOCKS} auto cap — exact all-pairs is impractical at "
            f"this scale; use ann_lsh_pairs (sub-quadratic) or pass n_blocks "
            f"explicitly to override."
        )
    par_floor = 1
    while par_floor * (par_floor + 1) // 2 < max(1, parallelism):
        par_floor += 1
    return max(int(mem_floor), par_floor)


def cosine_threshold_pairs(
    emb: DataFrame,
    threshold: float,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """All corpus pairs with cosine ≥ threshold — embedding near-dup.

    Exact all-pairs is inherently O(n²) in *scoring*, but nothing needs
    to be resident on the driver or broadcast whole: block-matrix
    self-join.  Vectors are assigned to B = ``n_blocks`` blocks by
    ``id % B``; each unordered block pair (i ≤ j) becomes one
    ``applyInPandas`` group holding the two block matrices (tagged by
    side), scored in one vectorized kernel; only pairs ≥ threshold leave
    the task.  Each unordered vector pair is scored exactly once: the
    diagonal group (i == i) applies a strict id< mask, off-diagonal
    groups emit (min, max).

    Scale shape: shuffle volume is corpus × (B+1) — each vector is
    replicated into the B+1 block pairs it participates in — and peak
    task memory is the two block matrices, ~2·(n/B)·dims·8 bytes.  Pick
    ``n_blocks`` ≈ n·dims·8 / task_budget to bound memory; replication
    grows only linearly in B.  No driver collect, no full-corpus
    broadcast — the O(n²) stays in the kernel FLOPs, which is what
    "exact all-pairs" irreducibly costs.  Beyond that, ``ann_lsh_pairs``
    is the sub-quadratic scale path.  Per-pair arithmetic is
    dimension-ordered (`_ordered_gemm`), so results are bit-identical
    for any B.

    ``metric="dot"`` (r12) is the MIPS pair join — all unordered pairs
    with raw inner product ≥ threshold, the graph-building primitive
    for unnormalized embedding dumps. For τ > 0 a Cauchy–Schwarz
    prefilter runs BEFORE replication: ``dot(a,b) ≤ ‖a‖·‖b‖``, so a
    vector with ``‖v‖·max_norm < τ`` cannot appear in any passing pair
    and never enters a block — on real embedding dumps (long norm
    tails) this cuts the quadratic term to the high-norm head, the
    public ip-join/norm-prefix pruning idea. The filter carries a
    1e-9 relative slack so engine fold-order rounding can only
    OVERcount candidates, never drop a valid pair.
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(
            f"cosine_threshold_pairs: unknown metric {metric!r}"
        )
    spark = emb.sparkSession
    if n_blocks is None:
        # One extra count() action (a scan of emb's lineage) before the
        # real job — the price of a safe default.  Callers with a known
        # row count (or a cached input) can pass n_blocks to skip it.
        n_blocks = _auto_n_blocks(
            emb.count(), dims, parallelism=spark.sparkContext.defaultParallelism
        )
    # Block-pair table generated distributed (spark.range), never as a
    # driver-side Python list: at the 100 TB floor B can reach tens of
    # thousands and B(B+1)/2 tuples would OOM the driver.  pair_id is
    # LONG — i*n_blocks + j overflows int32 once n_blocks > 46341.
    pairs = (
        spark.range(n_blocks * n_blocks)
        .select(
            F.floor(F.col("id") / n_blocks).cast("int").alias("blk_a"),
            F.pmod(F.col("id"), n_blocks).cast("int").alias("blk_b"),
            F.col("id").alias("pair_id"),
        )
        .filter(F.col("blk_a") <= F.col("blk_b"))
    )
    # Blocks are assigned by hash, not id % B: results are provably
    # invariant to the blocking (every unordered pair is scored exactly
    # once either way), so hashing changes only balance — and it keeps
    # the 2·(n/B)·dims·8 task-memory guarantee honest under skewed or
    # sparse id distributions (e.g. ids all ≡ 0 mod B, which would put
    # the whole corpus in one block under modulo assignment).
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    if metric == "dot" and threshold > 0:
        # Cauchy–Schwarz prefilter (see docstring): a vector whose
        # norm times the corpus max norm is under τ cannot pass with
        # ANY partner — drop it before the ×(B+1) replication. One
        # extra corpus pass for the max-norm aggregate (broadcast one
        # row back); output-invariant, so the oracle needs no twin.
        # Widen to double BEFORE the norm fold: squaring the raw
        # array<float> components in float32 loses up to ~6e-8
        # relative — more than the 1e-9 slack — so a pair sitting at
        # the Cauchy–Schwarz bound could be silently DROPPED,
        # breaking the overcount-only guarantee (and the hash-exact
        # oracle for embedding_mips_pairs).  _vec matches the scoring
        # kernel and every other call site.
        nv = v.withColumn("_nrm", norm(_vec(F.col("vec"))))
        mx = nv.agg(F.max("_nrm").alias("_mx"))
        v = (
            nv.crossJoin(F.broadcast(mx))
            .filter(
                F.col("_nrm") * F.col("_mx")
                >= F.lit(threshold * (1.0 - 1e-9))
            )
            .select("vid", "vec", "blk")
        )
    # One corpus scan, not two: instead of joining v once per side (a
    # union whose branches each re-scan the embeddings), explode each
    # block pair into its (block, pair, side) memberships — side 1 is
    # dropped for diagonal pairs, which carry only side 0 by contract —
    # and join the corpus against that broadcast once.
    pairs_long = (
        pairs.select(
            (F.col("blk_a") == F.col("blk_b")).alias("diag"),
            F.explode(
                F.array(
                    F.struct(
                        F.col("blk_a").alias("blk"),
                        F.col("pair_id"),
                        F.lit(0).alias("side"),
                    ),
                    F.struct(
                        F.col("blk_b").alias("blk"),
                        F.col("pair_id"),
                        F.lit(1).alias("side"),
                    ),
                )
            ).alias("e"),
        )
        .filter(~((F.col("e.side") == 1) & F.col("diag")))
        .select("e.blk", "e.pair_id", "e.side")
    )
    both = v.join(F.broadcast(pairs_long), v.blk == pairs_long.blk).select(
        "pair_id", "vid", "vec", "side"
    )

    empty = pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []}).astype(
        {"vec_a": np.int64, "vec_b": np.int64, "sim": np.float64}
    )

    def score_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        # Diagonal groups (blk_a == blk_b) carry only side-0 rows by
        # construction.  Decide from the group KEY, not from b's emptiness:
        # pair_id = i*n_blocks + j ≡ (j - i) mod (n_blocks+1), so the
        # diagonal is exactly pair_id % (n_blocks+1) == 0.  An off-diagonal
        # group whose partner block holds no ids (residues mod n_blocks not
        # all populated) must emit nothing — treating it as a diagonal would
        # re-emit block i's internal pairs once per empty partner.
        diagonal = int(pdf["pair_id"].iloc[0]) % (n_blocks + 1) == 0
        if diagonal:
            b = a
        if len(a) == 0 or len(b) == 0:
            return empty
        ids_a = a["vid"].to_numpy(dtype=np.int64)
        ids_b = b["vid"].to_numpy(dtype=np.int64)
        ma = _as_matrix(a["vec"], dims)
        mb = _as_matrix(b["vec"], dims)
        sim = _ordered_gemm(ma, mb)
        if metric == "cosine":
            sim = sim / np.multiply.outer(
                _ordered_norms(ma), _ordered_norms(mb)
            )
        mask = sim >= threshold
        if diagonal:
            mask &= np.less.outer(ids_a, ids_b)
        ai, bi = np.nonzero(mask)
        if not len(ai):
            return empty
        xa, xb = ids_a[ai], ids_b[bi]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(xa, xb),
                "vec_b": np.maximum(xa, xb),
                "sim": sim[ai, bi],
            }
        )

    return (
        both.groupBy("pair_id")
        .applyInPandas(score_pair, "vec_a long, vec_b long, sim double")
        .orderBy("vec_a", "vec_b")
    )


def mips_threshold_pairs(
    emb: DataFrame,
    threshold: float,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """All unordered pairs with raw inner product ≥ ``threshold`` —
    the MIPS pair join (r12), completing the metric="dot" family's
    pairs column: positive-pair mining / retrieval-graph building over
    unnormalized embedding dumps. Delegates to the blocked exact
    kernel with ``metric="dot"``; for τ > 0 the Cauchy–Schwarz norm
    prefilter drops can't-pass vectors before block replication (see
    ``cosine_threshold_pairs``)."""
    return cosine_threshold_pairs(
        emb, threshold, dims, id_col, vec_col, n_blocks, metric="dot"
    )


# ------------------------------------------------------------ IVF probe


def _id_head(
    emb: DataFrame, n: int, dims: int, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """The rows with id < n — one bounded collect — as (ids, matrix)
    sorted by id."""
    pdf = emb.filter(F.col(id_col) < n).select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    return ids[order], _as_matrix(pdf[vec_col], dims)[order]


def _head_centroids(
    emb: DataFrame,
    n_centroids: int,
    dims: int,
    id_col: str,
    vec_col: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic id-ordered head-sample coarse quantizer shared by
    the whole IVF family (fixed sample — Lloyd refinement is an
    offline concern that changes centroid quality, not plan shape).
    Returns (c_ids, c_mat, c_norm) sorted by centroid id so
    argmax-first-max ties resolve to the smallest id (the SQL ORDER BY
    convention)."""
    c_ids, c_mat = _id_head(emb, n_centroids, dims, id_col, vec_col)
    if len(c_ids) == 0:
        raise ValueError(
            f"no centroid rows: filter {id_col} < {n_centroids} matched "
            "nothing (ids not starting at 0?) — supply a corpus whose id "
            "head exists, or use the trained-KMeans variant"
        )
    c_norm = _ordered_norms(c_mat)
    bad = ~(np.isfinite(c_norm) & (c_norm > 0.0))
    if bad.any():
        # a zero-norm (or NaN/Inf-bearing) centroid makes its cosine
        # NaN in the numpy kernels but NULL in the oracle SQL (DuckDB
        # `/` yields NULL on zero divisors), and the two rank a MIXED
        # NaN/finite probe column differently (numpy: NaN last; the
        # engines: NaN greatest / NULL last respectively) — the
        # hash-exact contract cannot hold, so refuse loudly instead
        # of silently probing different cells (ADVICE r13 #2)
        raise ValueError(
            "degenerate centroid head: rows "
            f"{c_ids[bad][:8].tolist()} have zero or non-finite norm — "
            "an angular quantizer cannot assign a direction to them; "
            "drop or re-embed these rows, or use the trained-KMeans "
            "variant"
        )
    return c_ids, c_mat, c_norm


def _cell_cosines(mx: np.ndarray, cents: tuple) -> np.ndarray:
    """Cosine of each row of ``mx`` to each (c_ids, c_mat, c_norm)
    centroid. Centroids are id-sorted, so argmax's first maximum is
    the smallest centroid id (SQL ORDER BY sim DESC, cid ASC)."""
    _, c_mat, c_norm = cents
    return _ordered_gemm(mx, c_mat) / np.multiply.outer(_ordered_norms(mx), c_norm)


def _raw_cells(
    ids: np.ndarray, vecs: pd.Series, mx: np.ndarray, cents: tuple
) -> dict:
    """Encode step that keeps the raw vector: (id, vector, angular
    cell) — the exact-scoring IVF kernels and SemDeDup's cells."""
    best = np.argmax(_cell_cosines(mx, cents), axis=1)
    return {"neighbor_id": ids, "v": vecs, "cluster": cents[0][best]}


def _encode_stream(
    emb: DataFrame, bc, dims: int, id_col: str, vec_col: str, encode, schema: str
) -> DataFrame:
    """One streamed ``mapInPandas`` pass of the corpus through
    ``encode(ids, vecs, matrix, model)`` against the broadcast model
    ``bc`` — raw vectors are read once, no shuffle."""

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf[vec_col]
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame(encode(ids, vecs, _as_matrix(vecs, dims), model))

    return emb.select(id_col, vec_col).mapInPandas(assign, schema)


def _probe_table(spark, rows: list[tuple[int, int]]) -> DataFrame:
    """(query_id, cluster) probe rows as a (possibly empty) frame."""
    probes = spark.createDataFrame(rows or [(-1, -1)], "query_id long, cluster long")
    return probes if rows else probes.filter(F.lit(False))


def _angular_probes(
    spark,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    c_ids: np.ndarray,
    c_mat: np.ndarray,
    c_norm: np.ndarray,
    n_probe: int,
) -> DataFrame:
    """(query_id, cluster) probe table: each query's ``n_probe``
    angular-nearest cells (cosine on raw vectors — assignment and
    probing stay angular for every metric; ties by centroid id).
    Tiny by construction (|Q|·n_probe rows) — always broadcast.

    Degenerate-input contract: ``_head_centroids`` rejects zero-norm
    and non-finite centroid rows, so a probe key can be NaN only when
    the QUERY is zero-norm — an all-NaN row, where np.lexsort's
    stable fallback to the ``c_ids`` key gives cid-ascending, exactly
    the oracle's ``ORDER BY cos DESC, cid`` over an all-NULL column
    (DuckDB's ``/`` yields NULL on zero divisors and sorts NULLs
    last; ties resolve by cid). A MIXED NaN/finite column — the one
    shape where numpy's NaN-last and the engines' orders could ever
    disagree — cannot reach this sort."""
    qsim = _cell_cosines(q_mat, (c_ids, c_mat, c_norm))
    return _probe_table(
        spark,
        [
            (int(q_ids[i]), int(c_ids[j]))
            for i in range(len(q_ids))
            for j in np.lexsort((c_ids, -qsim[i]))[:n_probe]
        ],
    )


def _rank_topk(scored: DataFrame, k: int, sim_col: str = "sim") -> DataFrame:
    """Global top-k per query over per-batch candidates: the
    ``row_number`` window under (sim desc, neighbor id asc)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(sim_col), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _ivf_pipeline(
    emb: DataFrame, query_filter: Column, cents: tuple, k: int, n_probe: int,
    dims: int, id_col: str, vec_col: str, encode, code_schema: str, payload,
    score_rows, score_schema: str, sim_col: str = "sim", probes=_angular_probes,
) -> DataFrame:
    """The one IVF plan. ``encode(ids, vecs, matrix, cents)`` streams
    the corpus once against the broadcast quantizer ``cents`` = (c_ids,
    c_mat, c_norm) into ``code_schema`` rows (neighbor_id, cluster,
    codes); the queries are collected once and ``payload(q_mat)`` is
    broadcast; ``probes(spark, q_ids, q_mat, *cents, n_probe)`` is the
    (query_id, cluster) table broadcast-joined to the codes, self-matches
    dropped; ``score_rows(pdf, qi, payload, cents)`` returns the
    ``score_schema`` columns of a candidate batch (``qi`` = each row's
    query position in the payload), cut to ≤ |Q|·k rows per batch; the
    rank window keeps the global top-k by ``sim_col``."""
    spark = emb.sparkSession
    bc_c = spark.sparkContext.broadcast(cents)
    assigned = _encode_stream(emb, bc_c, dims, id_col, vec_col, encode, code_schema)

    qpdf = emb.filter(query_filter).select(id_col, vec_col).toPandas()
    q_ids = qpdf[id_col].to_numpy(dtype=np.int64)
    q_mat = _as_matrix(qpdf[vec_col], dims)
    probe_df = probes(spark, q_ids, q_mat, *cents, n_probe)
    bc_q = spark.sparkContext.broadcast((q_ids, payload(q_mat)))

    cand = (
        F.broadcast(probe_df)
        .join(assigned, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, qp = bc_q.value
        qpos = {int(q): i for i, q in enumerate(ids_q)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qid = pdf["query_id"].to_numpy(dtype=np.int64)
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            qi = np.asarray([qpos[q] for q in qid.tolist()])
            cols = score_rows(pdf, qi, qp, bc_c.value)
            keep = _batch_topk_cut(qid, nid, cols[sim_col], k)
            yield pd.DataFrame(
                {
                    "query_id": qid[keep],
                    "neighbor_id": nid[keep],
                    **{c: v[keep] for c, v in cols.items()},
                }
            )

    scored = cand.mapInPandas(
        score, f"query_id long, neighbor_id long, {score_schema}"
    )
    return _rank_topk(scored, k, sim_col)


def ann_ivf_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer assigns every
    corpus vector to its nearest centroid; queries probe only their
    ``n_probe`` closest clusters and score exactly within them. Recall
    trades against the ``n_probe/n_centroids`` ratio; the scored set
    shrinks from |C| to ~|C|·n_probe/n_centroids per query.

    ``metric="dot"`` is the inner-product IVF (the public
    METRIC_INNER_PRODUCT convention: assignment and probing stay
    angular — a cell groups directions — while candidates are scored
    by the raw inner product, so high-norm neighbors rank first
    within the probed cells; Bachrach et al. 2014's norm-augmented
    reduction shows why direction-partitioning remains a valid coarse
    quantizer for MIPS). Exhaustive probing (n_probe = n_centroids)
    recovers ``ann_bruteforce_topk(metric="dot")`` exactly —
    identity-tested.

    Centroids here are the deterministic id-ordered head of the corpus
    (a fixed sample — Lloyd refinement is an offline concern that
    changes centroid quality, not the plan shape). Scale profile: the
    corpus never leaves its partitions — assignment is one streamed
    kernel pass; the probe join broadcasts (query, cluster) pairs; only
    candidate rows are scored. This is the resident-matrix-free
    alternative to ``cosine_threshold_pairs`` alongside
    ``ann_lsh_pairs``.
    """
    cents = _head_centroids(emb, n_centroids, dims, id_col, vec_col)
    return _ivf_flow(
        emb, query_filter, cents, k, n_probe, dims, id_col, vec_col, metric
    )


def _ivf_flow(
    emb: DataFrame, query_filter: Column, cents: tuple, k: int, n_probe: int,
    dims: int, id_col: str, vec_col: str, metric: str = "cosine",
) -> DataFrame:
    """Exact-scoring IVF over any coarse quantizer (head sample or
    trained model — the plan is identical): raw vectors ride the probe
    join; candidates score by ``metric`` ("cosine" | "dot"; assignment
    and probing stay angular, see ``ann_ivf_topk``)."""
    if metric not in ("cosine", "dot"):
        raise ValueError(f"_ivf_flow: unknown metric {metric!r}")

    def score(pdf, qi, q, cents):
        q_mat, q_norm = q
        mx = _as_matrix(pdf["v"], dims)
        sim = _ordered_rowdot(q_mat[qi], mx)
        if metric == "cosine":
            sim = sim / (q_norm[qi] * _ordered_norms(mx))
        return {"sim": sim}

    return _ivf_pipeline(
        emb, query_filter, cents, k, n_probe, dims, id_col, vec_col,
        encode=_raw_cells,
        code_schema="neighbor_id long, v array<float>, cluster long",
        payload=lambda q_mat: (q_mat, _ordered_norms(q_mat)),
        score_rows=score,
        score_schema="sim double",
    )


def kmeans_ivf_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF top-k with a TRAINED coarse quantizer: MLlib KMeans
    (distributed Lloyd — each iteration is one map-side partial
    assignment + a tiny per-center aggregate, no data ever collected)
    learns the ``n_centroids`` centers, then the standard IVF
    assign→probe→score flow runs against them.

    Versus ``ann_ivf_topk``'s fixed head-sample centroids this buys
    balanced cells (better recall at the same ``n_probe``) for
    ``max_iter`` extra passes over the corpus — the classic offline
    index-build trade. Model-dependent output → rows-only driver check
    (the one query class SURVEY.md exempts from SQL oracles, like the
    forecast fits).
    """
    c_mat = _kmeans_centers(emb, F.col(vec_col), n_centroids, max_iter, seed)
    cents = (np.arange(len(c_mat), dtype=np.int64), c_mat, _ordered_norms(c_mat))
    return _ivf_flow(emb, query_filter, cents, k, n_probe, dims, id_col, vec_col)


def _kmeans_centers(
    src: DataFrame, vec: Column, k: int, max_iter: int, seed: int
) -> np.ndarray:
    """MLlib KMeans (distributed Lloyd) centers of an array column, as
    a float64 matrix."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = src.select(array_to_vector(vec.cast("array<double>")).alias("features"))
    model = KMeans(k=k, maxIter=max_iter, seed=seed, featuresCol="features").fit(train)
    return np.stack([np.asarray(c) for c in model.clusterCenters()]).astype(np.float64)


def cluster_assign_stats(
    emb: DataFrame,
    n_centroids: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cluster assignment + per-cluster summary.

    The coarse-quantizer half of IVF (see ``ann_ivf_topk``) exposed as
    its own analytic: every corpus vector is assigned to its most
    similar centroid (deterministic id-ordered head of the corpus; a
    Lloyd refinement would change centroid quality, not plan shape) and
    the result is summarized per cluster.

    Scale profile: centroids broadcast (n_centroids × dims × 8 B);
    the corpus streams through one Arrow kernel pass — no shuffle until
    the tiny per-cluster aggregate. Outputs are partition-order
    invariant: counts plus min/max of similarities (no float sums), so
    the DuckDB oracle matches bit-exactly.
    """
    bc = emb.sparkSession.sparkContext.broadcast(
        _head_centroids(emb, n_centroids, dims, id_col, vec_col)
    )

    def encode(ids, vecs, mx, cents):
        sim = _cell_cosines(mx, cents)
        best = np.argmax(sim, axis=1)  # ties -> smallest centroid id
        return {"cluster": cents[0][best], "sim": sim[np.arange(len(best)), best]}

    assigned = _encode_stream(
        emb, bc, dims, id_col, vec_col, encode, "cluster long, sim double"
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("sim").alias("min_sim"),
            F.max("sim").alias("max_sim"),
        )
        .orderBy("cluster")
    )


# ----------------------------------------------- random-hyperplane LSH

SRP_BITS = 16


def hyperplane_weight(bit: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    md5-derived constant, so signatures are reproducible run-to-run,
    across engines, and in the SQL oracle. No RNG state to ship."""
    import hashlib

    h = int(hashlib.md5(f"srp:{bit}:{dim}".encode()).hexdigest()[:8], 16)
    return h / 2147483648.0 - 1.0


def hyperplanes(dims: int) -> list[list[float]]:
    return [[hyperplane_weight(b, d) for d in range(dims)] for b in range(SRP_BITS)]


def rp_sign(j: int, d: int) -> int:
    """Deterministic ±1 entry of the Achlioptas sign projection matrix
    (Achlioptas 2003, "Database-friendly random projections" — the
    public JL-transform construction with {±1} entries): md5-derived,
    so reduced vectors are reproducible across runs, engines, and the
    SQL oracle. No RNG state to ship."""
    import hashlib

    h = int(hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()[:8], 16)
    return 1 if h & 1 else -1


def rp_matrix(out_dims: int, dims: int) -> list[list[int]]:
    return [[rp_sign(j, d) for d in range(dims)] for j in range(out_dims)]


def random_projection(
    emb: DataFrame,
    out_dims: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: 64-dim float
    embeddings → ``out_dims`` doubles via the deterministic ±1 sign
    matrix scaled by 1/√out_dims. The JL lemma bounds pairwise-distance
    distortion with high probability — this is the cheap front half of
    every large-scale similarity pipeline (4× fewer bytes per vector at
    out_dims=16 before PQ/int8 take over; composes with ``pq_encode``
    and the ANN family, which are all dims-parameterized).

    Plan: one Arrow kernel pass, matrix is a compile-time constant (no
    broadcast); projections accumulate dimension-by-dimension
    (``_ordered_gemm``) — the identical left-to-right fold as the SQL
    oracle's ``list_dot_product``, so every output double matches the
    oracle BIT-EXACTLY (the ``srp_signatures`` convention, but here the
    float VALUES are the result, not just their signs). Division by
    √out_dims is a single IEEE op mirrored verbatim in SQL."""
    r_mat = np.asarray(rp_matrix(out_dims, dims), dtype=np.float64)

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mx = _as_matrix(pdf[vec_col], dims)
            proj = _ordered_gemm(mx, r_mat) / np.sqrt(float(out_dims))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "rvec": list(proj),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        project, f"{id_col} long, rvec array<double>"
    )


def kcenter_select(
    emb: DataFrame,
    k: int,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_max: int = 65536,
) -> DataFrame:
    """Greedy k-center (farthest-point / Gonzalez 1985) coreset
    selection: start from the smallest id, then k−1 times pick the
    point FARTHEST from the chosen set (max over points of min squared
    distance to any center, ties → smallest id). The classic
    2-approximation for diversity-maximizing data selection — the
    "pick maximally spread examples" step of active-learning and
    coreset pipelines, where quota/stratified sampling picks by
    metadata and this picks by geometry.

    Plan: k−1 rounds, each ONE distributed aggregate over the corpus —
    a carried running-min-distance column folds in only the NEWEST
    center per round (least(_mind, dist)) via the |a|²−2a·b+|b|²
    identity in pure Catalyst folds (zip_with + aggregate, sequential —
    bit-identical to the SQL oracle's list_dot_product), then a
    TakeOrderedAndProject of row 1. Driver state is the k chosen
    vectors — bounded by construction (the BPE-driver-loop
    convention); each round's column is localCheckpoint-ed so lineage
    and expression-tree size stay constant in k. O(k·n) total
    dot-products, the distributed-greedy standard; k is small by the
    algorithm's nature (a coreset is ≪ corpus).

    Small corpora take a bounded DRIVER fast path (the union-find /
    BPE-driver-loop convention): at or below ``driver_max`` rows the
    vectors collect once and the k rounds run in numpy with the same
    dimension-ordered arithmetic — row-identical to the distributed
    loop (property-tested), one job instead of k plans. Above the
    bound, the distributed per-round aggregate runs; nothing ever
    collects more than ``driver_max`` vectors.

    Returns (rank, id, gain): gain = the selected point's distance² to
    the previously chosen set (monotone non-increasing — the coverage
    radius trace; rank 0 has no prior set, gain NULL)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = emb.sparkSession

    v = F.col(vec_col).cast("array<double>")
    pts = emb.select(F.col(id_col).alias("_id"), v.alias("_v"))
    n = pts.count()
    if n == 0:
        raise ValueError("kcenter_select needs a non-empty corpus")
    k = min(k, n)  # with k >= n every point is a center, once
    chosen: list[tuple[int, list[float], float | None]]
    if n <= driver_max:
        rows = pts.orderBy("_id").collect()
        ids = np.array([r["_id"] for r in rows], dtype=np.int64)
        m = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])
        vv = _ordered_rowdot(m, m)
        chosen = [(int(ids[0]), list(m[0]), None)]
        mind = np.full(len(ids), np.inf)
        # already-chosen points are excluded from the argmax — with
        # duplicate vectors every copy of a chosen center has mind=0
        # and the (mind DESC, id ASC) tie-break would otherwise re-pick
        # the chosen point itself, emitting duplicate ids and skipping
        # a never-selected point (review r7)
        taken = np.zeros(len(ids), dtype=bool)
        taken[0] = True
        last = m[0]
        for _ in range(min(k, len(ids)) - 1):
            cc = _ordered_rowdot(last[None, :], last[None, :])[0]
            vc = _ordered_gemm(m, last[None, :])[:, 0]
            # same op order as the distributed expression:
            # (v·v − 2.0·v·c) + c·c, then least over the chosen set
            mind = np.minimum(mind, (vv - 2.0 * vc) + cc)
            cand = np.where(taken, -np.inf, mind)
            order = np.lexsort((ids, -cand))
            best = order[0]
            taken[best] = True
            chosen.append((int(ids[best]), list(m[best]), float(mind[best])))
            last = m[best]
    else:

        def dist_to(cvec):
            lit = F.array(*[F.lit(float(x)) for x in cvec])
            return (
                dot(F.col("_v"), F.col("_v"))
                - F.lit(2.0) * dot(F.col("_v"), lit)
                + dot(lit, lit)
            )

        first = pts.orderBy("_id").limit(1).collect()
        chosen = [(int(first[0]["_id"]), list(first[0]["_v"]), None)]
        # the running min-distance column is CARRIED FORWARD across
        # rounds (ADVICE r7): each round folds in only the NEWEST
        # center — least(_mind, dist_to(new)) — so the whole loop does
        # O(k·n) dot-products as the docstring claims, not O(k²·n)
        # from re-evaluating every prior center, and the expression
        # tree stays constant-size. localCheckpoint pins each round's
        # column (one corpus-width materialization per round) so the
        # lineage cannot grow with k — the corpus_textrank convention.
        # least() over doubles is order-insensitive (no NaNs: finite
        # vectors), so the carried fold is value-identical to the
        # all-centers least() the SQL oracle still computes.
        cur = pts.withColumn("_mind", dist_to(chosen[0][1])).localCheckpoint()
        while len(chosen) < k:
            # exclude already-chosen ids: duplicate vectors tie at
            # mind=0 and the id tie-break would re-pick a center
            top = (
                cur.where(~F.col("_id").isin([cid for cid, _, _ in chosen]))
                .orderBy(F.desc("_mind"), "_id")
                .limit(1)
                .collect()
            )
            row = top[0]
            chosen.append(
                (int(row["_id"]), list(row["_v"]), float(row["_mind"]))
            )
            if len(chosen) < k:
                cur = cur.withColumn(
                    "_mind", F.least(F.col("_mind"), dist_to(row["_v"]))
                ).localCheckpoint()
    return spark.createDataFrame(
        [(i, cid, gain) for i, (cid, _, gain) in enumerate(chosen)],
        f"rank int, {id_col} long, gain double",
    )


def srp_signatures(
    emb: DataFrame, dims: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Sign-random-projection signature: bit b = sign(v · r_b).

    The hyperplane matrix is a deterministic constant (md5-derived), so
    the kernel needs no broadcast; projections accumulate dimension-by-
    dimension — the identical left-to-right order as the SQL oracle's
    list_dot_product, so every sign bit matches exactly. (The pure
    expression form of this — 16 bits × dims literal terms — is a
    >1000-node Catalyst tree that Janino compiles slowly and poorly;
    the kernel is both faster and constant-size.)"""
    w_mat = np.asarray(hyperplanes(dims), dtype=np.float64)  # (SRP_BITS, dims)

    def sign_bits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mx = _as_matrix(pdf[vec_col], dims)
            proj = _ordered_gemm(mx, w_mat)  # (n, SRP_BITS)
            weights = (1 << np.arange(SRP_BITS, dtype=np.int64))
            srp = ((proj > 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id_sig": pdf[id_col].to_numpy(dtype=np.int64),
                    "srp": srp,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        sign_bits, "vec_id_sig long, srp long"
    )


SRP_BANDS = 2  # 2 bands × 8 bits: candidates share either half-signature
# Band geometry is DERIVED, never restated: every banding site (the two
# Spark explodes below and the DuckDB oracles in __spark_entry__) slices
# the signature as (srp >> i*SRP_BAND_BITS) & SRP_BAND_MASK, so changing
# SRP_BANDS/SRP_BITS re-splits kernel and oracle together (ADVICE r12).
SRP_BAND_BITS = SRP_BITS // SRP_BANDS
SRP_BAND_MASK = (1 << SRP_BAND_BITS) - 1
# Registered hot-bucket cap for the LSH pair joins: a (band, bucket)
# with more members than this is skipped (recall-only). 4096 bounds
# the worst in-bucket explode at ~16.8M id pairs (cosine) / ~4.2M
# (MIPS Q×P) — a few hundred MB of longs, well inside one task — and
# sits far above the bucket sizes healthy banding produces (corpus /
# 2^SRP_BAND_BITS per band on signature-diverse data). The oracle SQL
# twins implement the identical rule, so kernel and oracle stay
# lock-step even when the cap fires.
LSH_MAX_BUCKET = 4096


def _cap_hot_buckets(bands: DataFrame, max_bucket: int | None) -> DataFrame:
    """Hot-bucket guard shared by the LSH pair joins (r13): drop every
    (band, bv) bucket whose member-row count exceeds ``max_bucket``
    before any collect/explode. Window count over the same key the
    downstream aggregation shuffles on — the exchange is reused, so
    the guard costs zero extra shuffles. Deterministic (pure count
    threshold, no ordering), hence exactly reproducible in the DuckDB
    oracles; recall-only by construction."""
    if max_bucket is None:
        return bands
    if max_bucket < 2:
        # a bucket needs ≥2 members to emit any pair — a lower cap is
        # a mis-parameterization, not a degenerate request
        raise ValueError(
            f"max_bucket must be ≥ 2 (got {max_bucket}): buckets of "
            "size < 2 emit no pairs, so the guard would drop everything"
        )
    wb = Window.partitionBy("band", "bv")
    return (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bsz") <= F.lit(max_bucket))
        .drop("_bsz")
    )


def _srp_bands(sig: DataFrame, **tags: Column) -> DataFrame:
    """(vid, *tags, band, bv): every ``srp_signatures`` row exploded
    into its SRP_BANDS half-signature buckets."""
    return sig.select(
        F.col("vec_id_sig").alias("vid"),
        *[c.alias(n) for n, c in tags.items()],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("srp"), SRP_BAND_BITS * i)
                        .bitwiseAND(SRP_BAND_MASK)
                        .alias("bv"),
                    )
                    for i in range(SRP_BANDS)
                ]
            )
        ).alias("e"),
    ).select("vid", *tags, "e.band", "e.bv")


def _verify_pairs(
    emb: DataFrame, cands: DataFrame, dims: int, threshold: float,
    id_col: str, vec_col: str, cosine: bool,
) -> DataFrame:
    """Exact verify of LSH candidate pairs (vec_a, vec_b): vectors
    rejoin once per candidate; a row-paired kernel keeps cosine (or raw
    dot) ≥ threshold."""
    va = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    paired = cands.join(va, "vec_a").join(vb, "vec_b")

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ma = _as_matrix(pdf["va"], dims)
            mb = _as_matrix(pdf["vb"], dims)
            sim = _ordered_rowdot(ma, mb)
            if cosine:
                sim = sim / (_ordered_norms(ma) * _ordered_norms(mb))
            keep = sim >= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "vec_a": pdf["vec_a"].to_numpy(dtype=np.int64)[keep],
                        "vec_b": pdf["vec_b"].to_numpy(dtype=np.int64)[keep],
                        "sim": sim[keep],
                    }
                )

    return paired.mapInPandas(
        verify, "vec_a long, vec_b long, sim double"
    ).orderBy("vec_a", "vec_b")


def ann_lsh_pairs(
    emb: DataFrame,
    dims: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """SRP-LSH near-neighbor pairs: signatures split into 2 bands of
    8 bits; docs sharing any band become candidates (equi-join on
    (band, half-signature) — no n² cross join); candidates verified
    with exact cosine ≥ threshold. Distinct pairs survive both bands
    colliding.

    ``max_bucket`` is the hot-bucket guard (r13): a (band, bucket)
    whose member count exceeds it is SKIPPED ENTIRELY — on a
    near-duplicate-rich corpus one hot bucket otherwise makes a
    single task quadratic (the in-bucket explode) and can OOM the
    executor. The rule is deterministic and order-free (pure count
    threshold), so the DuckDB oracle reproduces it exactly; the
    effect is recall-only — every emitted pair still passes the exact
    verify, precision untouched. The guard runs as a window count
    over the SAME (band, bucket) key the aggregation shuffles on, so
    Catalyst reuses the exchange: zero extra shuffles, and the filter
    lands BEFORE collect_list, bounding the aggregation buffer too,
    not just the explode.

    Shuffle discipline: candidate generation is ONE shuffle on
    (band, bucket) — groupBy, collect the bucket's ids, double-explode
    the in-bucket pairs — moving only (id, band, bucket) triples, never
    the 512-byte vectors, and never re-executing the signature kernel
    (a bands⋈bands self-join runs it once per side — measured, no
    exchange reuse under broadcast planning). Vectors rejoin once per
    surviving candidate, and the cosine verify runs in a row-paired
    numpy kernel (same dimension-ordered arithmetic as the oracle; a
    Catalyst filter here would be pushed into the hash join's non-equi
    condition and evaluated interpreted).
    """
    bands = _srp_bands(srp_signatures(emb, dims, id_col, vec_col))
    bands = _cap_hot_buckets(bands, max_bucket)
    cands = (
        bands.groupBy("band", "bv")
        .agg(F.collect_list("vid").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("vec_a"), "ids")
        .select("vec_a", F.explode("ids").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .distinct()
    )
    return _verify_pairs(emb, cands, dims, threshold, id_col, vec_col, True)


def mips_lsh_pairs(
    emb: DataFrame,
    dims: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Sub-quadratic MIPS pair candidates via the SYMMETRIC norm
    embedding (Neyshabur & Srebro 2015, "On Symmetric and Asymmetric
    LSHs for Inner Product Search"): scale the corpus by its max norm
    M, lift every vector twice into dims+2 —
    ``P(x) = [x/M, √(1−‖x/M‖²), 0]`` (index role) and
    ``Q(x) = [x/M, 0, √(1−‖x/M‖²)]`` (query role), both exactly unit
    norm — so ``cos(Q(a), P(b)) = (a·b)/M²`` and the existing SRP-LSH
    banding becomes a valid MIPS bucketer. A pair is a candidate iff
    some band of Q(a) collides with P(b) or vice versa; candidates are
    verified by the exact raw inner product ≥ threshold, so the output
    is always a SUBSET of ``mips_threshold_pairs`` — recall traded for
    the sub-quadratic candidate generation, exactly the
    ``ann_lsh_pairs`` contract with cosine swapped for dot.

    Determinism / oracle exactness: every float step is bit-portable —
    M = max √(ordered-fold dot) in double (the array is cast to double
    BEFORE any arithmetic; folding float32 products would round
    differently from the SQL oracle's DOUBLE[] lists), per-component
    x/M, ``√(max(1 − u·u, 0))`` (clamped: the max-norm row rounds to a
    tiny negative), md5-derived hyperplanes over dims+2, and the same
    band split — the DuckDB oracle reproduces signatures, candidate
    set, and sims exactly.

    Scale shape: two streamed signature passes (P and Q roles — the
    corpus never leaves its partitions), ONE shuffle on (band, bucket)
    carrying (id, side) pairs, in-bucket Q×P candidate explode, and a
    vector re-join only for surviving candidates; no n² stage
    anywhere. Degenerate all-zero corpus (M = 0) yields NaN embeds and
    no verified pairs for τ > 0 — dots are all zero."""
    v64 = _vec(F.col(vec_col))
    m_row = emb.select(F.max(F.sqrt(dot(v64, v64))).alias("_m"))
    base = (
        emb.crossJoin(F.broadcast(m_row))
        .select(
            F.col(id_col).alias("vid"),
            F.transform(v64, lambda x: x / F.col("_m")).alias("u"),
        )
        .select(
            "vid",
            "u",
            F.sqrt(
                F.greatest(
                    F.lit(1.0) - dot(F.col("u"), F.col("u")), F.lit(0.0)
                )
            ).alias("s"),
        )
    )
    pside = base.select(
        "vid",
        F.concat(F.col("u"), F.array(F.col("s"), F.lit(0.0))).alias("ev"),
    )
    qside = base.select(
        "vid",
        F.concat(F.col("u"), F.array(F.lit(0.0), F.col("s"))).alias("ev"),
    )

    bands = _srp_bands(
        srp_signatures(qside, dims + 2, "vid", "ev"), side=F.lit(0)
    ).unionByName(
        _srp_bands(srp_signatures(pside, dims + 2, "vid", "ev"), side=F.lit(1))
    )
    # hot-bucket guard (r13): bucket size here counts Q-rows + P-rows
    # together — the explode below is |Q|×|P| ≤ (size/2)², so capping
    # the combined count bounds the quadratic term. See
    # _cap_hot_buckets for the zero-extra-shuffle argument.
    bands = _cap_hot_buckets(bands, max_bucket)
    # one shuffle on (band, bucket): collect the bucket's Q-role and
    # P-role ids side-by-side, explode Q×P in place — ids only, the
    # vectors never ride the shuffle (the ann_lsh_pairs discipline)
    cands = (
        bands.groupBy("band", "bv")
        .agg(
            F.collect_list(
                F.when(F.col("side") == 0, F.col("vid"))
            ).alias("qs"),
            F.collect_list(
                F.when(F.col("side") == 1, F.col("vid"))
            ).alias("ps"),
        )
        .filter((F.size("qs") > 0) & (F.size("ps") > 0))
        .select(F.explode("qs").alias("ida"), "ps")
        .select("ida", F.explode("ps").alias("idb"))
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("vec_a"),
            F.greatest("ida", "idb").alias("vec_b"),
        )
        .distinct()
    )
    return _verify_pairs(emb, cands, dims, threshold, id_col, vec_col, False)


def _sq8(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric int8 quantizer per row: scale = max|v| / 127 and
    float64 codes floor(v/scale + 0.5) (explicit round-half-up; a zero
    row gives scale 0 and zero codes)."""
    scale = np.abs(m).max(axis=1) / 127.0
    safe = np.where(scale == 0.0, 1.0, scale)
    return scale, np.floor(m / safe[:, None] + 0.5)


def quantize_embeddings(
    emb: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    packed: bool = False,
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector — the embedding-
    compression step a 100 TB vector corpus runs before serving.

    Two storage layouts, identical arithmetic (r14):
    - ``packed=False`` → ``qvec array<int>``: bit-portable semantics
      (a DuckDB oracle can fold the list directly) at 4-ish bytes/dim.
    - ``packed=True`` → ``qcode binary``: the FAISS SQ8 layout, ONE
      byte/dim two's-complement — the actual 4× width saving for
      persisted code tables and any exchange the codes ride.
      ``_unpack_codes`` is the exact inverse; scores are bit-identical
      (identity-tested).

    scale = max|v| / 127; q = floor(v/scale + 0.5) (explicit
    round-half-up — numpy's rint is half-even and DuckDB's round is
    half-away, so neither is used: floor(x+0.5) is bit-identical
    everywhere). Zero vectors quantize to zeros with scale 0. Arrow
    kernel, one streamed pass, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            scale, q = _sq8(_as_matrix(pdf[vec_col], dims))
            q = q.astype(np.int32)
            out = {
                id_col: pdf[id_col].to_numpy(dtype=np.int64),
                "scale": scale,
            }
            if packed:
                out["qcode"] = _pack_codes(q)
            else:
                out["qvec"] = list(q)
            yield pd.DataFrame(out)

    code_field = "qcode binary" if packed else "qvec array<int>"
    return emb.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, scale double, {code_field}"
    )


def quantization_error_stats(
    emb: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-level quantization audit: reconstruction error of the
    int8 code per vector, summarized with partition-invariant stats
    (max / exact-decimal mean of per-vector max-abs error)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _as_matrix(pdf[vec_col], dims)
            scale, q = _sq8(m)
            # q is 0 wherever scale is 0, so q·scale is the reconstruction
            err = np.abs(q * scale[:, None] - m).max(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(dtype=np.int64), "max_err": err,
                 "scale": scale}
            )

    per_vec = emb.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, max_err double, scale double"
    )
    # error bound: |recon - v| <= scale/2 per dimension
    return per_vec.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.max("max_err").alias("worst_abs_err"),
        F.sum(
            (F.col("max_err") <= F.col("scale") * 0.5 + 1e-12).cast("bigint")
        ).alias("n_within_bound"),
    )


def ann_int8_mips_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    packed: bool = False,
) -> DataFrame:
    """Int8-quantized maximum-inner-product top-k (r12): the scalar-
    quantization member of the compressed-MIPS family — the corpus is
    scanned as ``quantize_embeddings`` int8 codes (4× smaller than
    float32) and scored by
    ``sim = (scale_q · scale_x) · (q_q ⊙ q_x)``, one integer dot per
    pair plus two multiplies.

    Unlike PQ/IVFADC, this approximation is EXACTLY reproducible in
    ANSI SQL, so the registry entry carries a full hash-exact oracle
    rather than a count audit: the quantizer rounds with
    ``floor(x/scale + 0.5)`` (explicit half-up — numpy rint is
    half-even, SQL round is half-away, neither is portable), the
    integer dot is exact at any fold order (|q| ≤ 127 → partials
    < 2^53), and the two double multiplies use a pinned operand order
    ``(scale_q · scale_x) · dot``. Output includes the exact BIGINT
    ``int_dot`` so the oracle constrains the integer path, not just
    the float product.

    Scale profile: identical to ``ann_bruteforce_topk`` — one
    streamed quantize pass (no shuffle), queries broadcast as an
    int64 matrix, per-task candidate cut ≤ |Q|·k (sim desc, id asc),
    one final rank window over ≤ |Q|·k·n_tasks rows. Ties between
    equal sims resolve by neighbor id on both engines.

    ``packed=True`` (r14) streams the corpus as ``binary`` one-byte
    codes instead of ``array<int>`` — the same integer dot on the
    ``_unpack_codes`` matrix, bit-identical rows (identity-tested and
    sharing the array-layout entry's hash-exact oracle); the 4×
    narrower code column is what a persisted 100 TB code table and
    any code-bearing exchange actually ship."""
    q8 = quantize_embeddings(emb, dims, id_col, vec_col, packed=packed)
    # query_filter is applied to EMB (columns id/embedding), matching
    # the pq_topk/ivfadc_topk contract — a filter referencing the
    # embedding column is legal here like everywhere else in the
    # family (ADVICE r12). The selected rows are then quantized
    # locally; scale is per-vector, so quantizing the subset yields
    # bit-identical codes to filtering the quantized corpus.
    qpdf = emb.filter(query_filter).select(id_col, vec_col).toPandas()
    q_ids = qpdf[id_col].to_numpy(dtype=np.int64)
    q_scales, q_mat = _sq8(_as_matrix(qpdf[vec_col], dims))
    q_mat = q_mat.astype(np.int32).astype(np.int64)  # as the corpus codes

    def score_batch(pdf, q):
        sq, qm = q
        ns = pdf["scale"].to_numpy(dtype=np.float64)
        nm = (
            _unpack_codes(pdf["qcode"], dims)
            if packed
            else np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
        )
        d = nm @ qm.T  # B×Q, exact: |entries| ≤ 127²·dims < 2^53
        # pinned order: (scale_q · scale_x) first, then · dot —
        # the oracle SQL parenthesizes identically
        sim = (ns[:, None] * sq[None, :]) * d.astype(np.float64)
        return pdf[id_col].to_numpy(dtype=np.int64), {"int_dot": d, "sim": sim}

    return _scan_topk(
        q8, q_ids, (q_scales, q_mat), score_batch, "int_dot long, sim double", k
    )


def ivf_sq8_mips_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-SQ8 maximum-inner-product top-k (r13): the other standard
    FAISS deployment shape (``IVF…,SQ8`` with METRIC_INNER_PRODUCT) —
    coarse IVF cells over angular direction + an int8 scalar-quantized
    scan inside the probed cells. Composes the two already-audited
    parts: the coarse stage is ``ann_ivf_topk``'s deterministic
    head-sample quantizer with angular assignment/probing (a cell
    groups DIRECTIONS — the public METRIC_INNER_PRODUCT convention;
    Bachrach et al. 2014), the fine stage is ``quantize_embeddings``'
    symmetric SQ8 code with ``ann_int8_mips_topk``'s exact integer
    scoring ``sim = (scale_x · scale_q) · (q_x ⊙ q_q)``.

    Unlike PQ/IVFADC, every step is EXACTLY reproducible in ANSI SQL
    — the coarse cosine runs on double-cast raw vectors (the audited
    ``ann_mips_ivf_topk`` expression), the quantizer rounds half-up
    ``floor(x/s + 0.5)``, the integer dot is exact at any fold order
    (partials < 2^53), and the two double multiplies are pinned
    ``(scale_x · scale_q) · dot`` — so this is the first SUB-LINEAR
    compressed entry carrying a FULL hash-exact oracle rather than a
    count audit (the ``int_dot`` column constrains the integer path
    itself). Exhaustive probing (n_probe = n_centroids) recovers
    ``ann_int8_mips_topk`` exactly — identity-tested.

    Scale shape: ONE streamed corpus pass fuses assignment and
    quantization (centroids broadcast; raw vectors are read once and
    never shuffled — only codes ride the probe join; the array<int>
    schema keeps the semantics bit-portable, a production layout
    packs the int8 codes as binary for the actual 4× width saving),
    (query, cluster) probes broadcast, candidates = the probed
    n_probe/n_centroids fraction of each cell, one rank window over
    candidate rows. Queries are selected from ``emb`` by
    ``query_filter`` (the family contract — filters may reference the
    embedding column) and quantized locally; per-vector scale makes
    subset quantization bit-identical."""

    def encode(ids, vecs, mx, cents):
        scale, q = _sq8(mx)
        best = np.argmax(_cell_cosines(mx, cents), axis=1)
        return {
            "neighbor_id": ids,
            "cluster": cents[0][best],
            "scale": scale,
            "qvec": list(q.astype(np.int32)),
        }

    def score(pdf, qi, q, cents):
        q_scale, q_codes = q
        nm = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
        qm = q_codes[qi].astype(np.int64)
        d = np.einsum("ij,ij->i", nm, qm)  # exact: int64 partials
        # pinned order: (scale_x · scale_q) first, then · dot —
        # the oracle SQL parenthesizes identically
        ns = pdf["scale"].to_numpy(dtype=np.float64)
        return {"int_dot": d, "sim": (ns * q_scale[qi]) * d.astype(np.float64)}

    return _ivf_pipeline(
        emb, query_filter,
        _head_centroids(emb, n_centroids, dims, id_col, vec_col),
        k, n_probe, dims, id_col, vec_col,
        encode=encode,
        code_schema="neighbor_id long, cluster long, scale double, qvec array<int>",
        # queries quantized locally with the identical kernel arithmetic
        payload=_sq8,
        score_rows=score,
        score_schema="int_dot long, sim double",
    )


def ivf_sq8r_mips_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-SQ8 MIPS top-k with RESIDUAL encoding (r13): the FAISS
    ``by_residual`` convention — each cell stores int8 codes of the
    residual ``r = x − c(x)`` instead of the raw vector, and scoring
    uses the exact decomposition ``q·x = q·c(x) + q·r`` with only the
    residual term approximated:

        sim = q·c  +  scale_r · (q · codes_r)

    (IVFADC's identity with the residual codebook swapped for a
    scalar quantizer). Asymmetric by design: queries stay RAW doubles
    — the standard ADC convention — so residual quantization is the
    ONLY approximation, and a vector that equals its centroid (r = 0,
    scale 0, codes 0) scores EXACTLY q·x; with the centroid head as
    the whole corpus this recovers exact MIPS bit-for-bit
    (identity-tested, the ADC exact-representability pattern).

    Still FULLY hash-exact in SQL: r is one elementwise double
    subtract (``list_transform(list_zip(v, cv), x -> x[1] - x[2])``),
    the quantizer is the audited half-up ``floor(r/s + 0.5)``, and
    the two dots are left-fold ``list_dot_product`` against
    integer-valued-double codes — every step the same IEEE ops on
    both engines, pinned as ``q·c + scale · (q·codes)``.

    Scale shape identical to ``ivf_sq8_mips_topk``: one streamed pass
    fuses assignment + residual encoding (centroids broadcast, raw
    vectors never shuffled — only codes ride the probe join), probes
    broadcast, candidates are the probed fraction, one rank window.
    Versus the symmetric variant this buys finer codes (residual
    ranges shrink with cell coherence — the reason FAISS defaults
    IVF indexes to residual encoding) at the cost of one centroid
    lookup per candidate at score time (the centroid matrix rides
    the same broadcast as the query rows)."""

    def encode(ids, vecs, mx, cents):
        best = np.argmax(_cell_cosines(mx, cents), axis=1)
        # r = x − c(x): exact, one elementwise double subtract
        scale, codes = _sq8(mx - cents[1][best])
        return {
            "neighbor_id": ids,
            "cluster": cents[0][best],
            "scale": scale,
            "codes": list(codes.astype(np.int32)),
        }

    def score(pdf, qi, q_mat, cents):
        c_ids, c_mat, _ = cents
        crows = c_mat[np.searchsorted(c_ids, pdf["cluster"].to_numpy(dtype=np.int64))]
        codes = np.stack(pdf["codes"].to_numpy()).astype(np.float64)
        ns = pdf["scale"].to_numpy(dtype=np.float64)
        qm = q_mat[qi]
        # pinned order: q·c + scale · (q·codes) — the oracle SQL
        # parenthesizes identically; both dots are left folds
        return {"sim": _ordered_rowdot(qm, crows) + ns * _ordered_rowdot(qm, codes)}

    return _ivf_pipeline(
        emb, query_filter,
        _head_centroids(emb, n_centroids, dims, id_col, vec_col),
        k, n_probe, dims, id_col, vec_col,
        encode=encode,
        code_schema="neighbor_id long, cluster long, scale double, codes array<int>",
        # asymmetric ADC: queries broadcast RAW (never quantized)
        payload=lambda q_mat: q_mat,
        score_rows=score,
        score_schema="sim double",
    )


# ----------------------------------------- product quantization (ADC)


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: bool = False,
    max_iter: int = 5,
    seed: int = 42,
    metric: str = "cosine",
) -> np.ndarray:
    """Per-subspace codebooks for product quantization (Jégou et al.
    2011, "Product Quantization for Nearest Neighbor Search", IEEE
    TPAMI — the compression behind FAISS's IVFADC): split every
    vector into ``m`` subvectors of ``dims/m`` and learn ``n_codes``
    codewords per subspace. Returns a dense ``(m, n_codes, dims/m)``
    array — ``m·n_codes·dims/m`` floats, the same bounded-collect
    class as the IVF centroids.

    ``metric="cosine"`` (default) learns on L2-normalized vectors — PQ
    approximates cosine only on normalized inputs. ``metric="dot"``
    learns on the RAW vectors (r12): for maximum-inner-product search
    the norm IS signal (FAISS METRIC_INNER_PRODUCT quantizes
    unnormalized data), so normalizing here would erase exactly what
    MIPS ranks by.

    Default codewords are the id-ordered corpus head's subvector
    slices — deterministic, so the whole PQ family stays
    invariant-audit-oracle-able (the same fixed-sample convention as
    ``ann_ivf_topk``). ``train=True`` refines each subspace with MLlib
    KMeans (m distributed fits — balanced codewords, better recall,
    model-dependent output; the offline index-build trade again)."""
    if metric not in ("cosine", "dot"):
        raise ValueError(f"pq_codebooks: unknown metric {metric!r}")
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m} subspaces")
    dsub = dims // m
    head_ids, head = _id_head(emb, n_codes, dims, id_col, vec_col)
    if len(head_ids) < n_codes:
        raise ValueError(
            f"codebook head needs {n_codes} rows with {id_col} < {n_codes}, "
            f"got {len(head_ids)} — ids not starting at 0? use train=True with "
            "a filter that exists, or renumber"
        )
    if metric == "cosine":
        head = _unit_rows(head)
    books = np.stack(
        [head[:, j * dsub : (j + 1) * dsub] for j in range(m)]
    )
    if not train:
        return books
    normed = (
        _l2_normalized(emb, dims, id_col, vec_col)
        if metric == "cosine"
        else emb.select(id_col, vec_col)
    )
    for j in range(m):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        centers = _kmeans_centers(normed, sub, n_codes, max_iter, seed + j)
        if centers.shape[0] < n_codes:
            # KMeans can converge to fewer than k distinct centers on
            # small or duplicate-heavy corpora; pad the missing slots
            # with the deterministic head codewords so the codebook
            # keeps its (n_codes, dsub) contract — a padded codeword at
            # worst goes unused by the nearest-code assignment
            pad = books[j][centers.shape[0] - n_codes :]
            centers = np.concatenate([centers, pad], axis=0)
        books[j] = centers
    return books


def _l2_normalized(
    emb: DataFrame, dims: int, id_col: str, vec_col: str
) -> DataFrame:
    """One streamed kernel pass normalizing every vector to unit L2
    (zero vectors pass through as zeros) — PQ approximates *cosine*
    only on normalized inputs."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mx = _unit_rows(_as_matrix(pdf[vec_col], dims))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    vec_col: list(mx.astype(np.float32)),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, {vec_col} array<float>"
    )


def _pq_assign(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Nearest codeword per subspace in L2 → (n, m) int32 codes via
    argmin (||c||² - 2x·c); first min = smallest index."""
    m, _, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for j in range(m):
        c_sq = _ordered_rowdot(books[j], books[j])
        xj = x[:, j * dsub : (j + 1) * dsub]
        d = c_sq[None, :] - 2.0 * _ordered_gemm(xj, books[j])
        codes[:, j] = np.argmin(d, axis=1)
    return codes


def _adc_tables(q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """T[q, j, c] = q_j · books[j, c] — the ADC lookup tables,
    Q×m×n_codes."""
    dsub = books.shape[2]
    return np.stack(
        [
            _ordered_gemm(q[:, j * dsub : (j + 1) * dsub], books[j])
            for j in range(len(books))
        ],
        axis=1,
    )


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Encode every vector as ``m`` codeword indices → (id, codes
    array<int>): ``dims·4`` bytes shrink to ``m`` bytes (32× at
    dims=64, m=8). Assignment is nearest codeword per subspace in L2
    (ties → smallest index, the first-argmin convention shared with
    the IVF assign kernel). ``metric`` must match the codebooks':
    cosine encodes the L2-normalized vector, dot encodes the raw one.
    One streamed Arrow pass, no shuffle — the encode of a 100 TB
    corpus is embarrassingly parallel and the output is small enough
    to cache per executor."""
    if metric not in ("cosine", "dot"):
        raise ValueError(f"pq_encode: unknown metric {metric!r}")
    m, n_codes, dsub = codebooks.shape
    dims = m * dsub
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mx = _as_matrix(pdf[vec_col], dims)
            if metric == "cosine":
                mx = _unit_rows(mx)
            codes = _pq_assign(mx, bc.value)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, codes array<int>"
    )


def pq_topk(
    emb: DataFrame,
    query_filter: Column,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC):
    queries stay exact, the corpus is scanned in PQ-code form —
    ``approx_sim(q, x) = Σ_j  q_j · c[j, codes_j]``, an inner-product
    table lookup instead of a ``dims``-wide dot product.

    ``metric="cosine"`` normalizes queries and corpus (PQ over unit
    vectors ≈ cosine); ``metric="dot"`` (r12) keeps both RAW — the
    compressed MIPS scan for unnormalized learned embeddings (FAISS
    ``PQx`` with METRIC_INNER_PRODUCT): the ADC sum then approximates
    the raw inner product, norms included. Codebooks must have been
    built with the same metric.

    Scale profile: the corpus never leaves its partitions and moves
    through the scan at ``m`` bytes/vector — a 32× scan-bandwidth
    reduction, which is the entire point of PQ (the compressed linear
    scan). The per-task cost is one ``Q×m×n_codes`` lookup-table GEMM
    plus a gather; queries and codebooks broadcast (both bounded).
    Sub-linear candidate generation composes exactly like the exact
    path: assign codes within IVF cells and probe (IVFADC) — here the
    full scan IS the honest baseline the recall audit measures.
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(f"pq_topk: unknown metric {metric!r}")
    m, n_codes, dsub = codebooks.shape
    dims = m * dsub
    qpdf = emb.filter(query_filter).select(id_col, vec_col).toPandas()
    q_ids = qpdf[id_col].to_numpy(dtype=np.int64)
    q_mat = _as_matrix(qpdf[vec_col], dims)
    if metric == "cosine":
        q_mat = _unit_rows(q_mat)

    def score_batch(pdf, tabs):
        cm = np.stack(pdf["codes"].to_numpy())  # B×m int
        # sim[b, q] = Σ_j tabs[q, j, cm[b, j]] — fixed j-order fold
        sim = np.zeros((len(cm), len(tabs)), dtype=np.float64)
        for j in range(m):
            sim += tabs[:, j, :][:, cm[:, j]].T
        return pdf[id_col].to_numpy(dtype=np.int64), {"approx_sim": sim}

    return _scan_topk(
        pq_encode(emb, codebooks, id_col, vec_col, metric), q_ids,
        _adc_tables(q_mat, codebooks), score_batch, "approx_sim double", k,
        "approx_sim",
    )


def ivfadc_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §V, the FAISS ``IVFx,PQy`` index):
    the two approximations composed the way a 100 TB vector corpus
    actually deploys them — IVF cells make the scan *sub-linear*
    (probe ``n_probe/n_centroids`` of the corpus), PQ codes make the
    probed fraction *compressed* (``m`` bytes/vector through the
    scan). Codes are learned on RESIDUALS ``x − c(x)`` — residuals
    concentrate near 0 so a small codebook covers them far better
    than raw vectors (the reason IVFADC beats flat PQ at equal bits).

    ``approx_sim(q, x) = q·c(x) + Σ_j q_j · cb[j, codes_j]`` — the
    per-(query, cell) base term plus the shared residual lookup
    tables. Determinism: head-sample centroids (ids < n_centroids),
    residual codebooks from the next ``n_codes`` head rows (the first
    head would give all-zero residuals), first-argmin/argmax tie
    convention throughout — same invariant-audit-oracle contract as
    ``ann_ivf_topk`` and ``pq_topk``.

    ``metric="dot"`` (r12) is MIPS-IVFADC, the production index shape
    for unnormalized learned embeddings (FAISS ``IVFx,PQy`` with
    METRIC_INNER_PRODUCT): centroids stay UNIT-norm so assignment and
    probing remain angular (a cell groups directions — the same
    convention as ``ann_ivf_topk(metric="dot")``; argmax of
    ``x·c_unit`` is scale-invariant in ‖x‖, so the assignment itself
    is literally the cosine one), while residuals, queries, and the
    base term use the RAW vectors. The decomposition
    ``q·x = q·c(x) + q·(x − c(x))`` is exact for any norms, so the
    only approximation is still the residual codebook.

    Scale profile: one streamed assign+encode pass over the corpus
    (no shuffle), a broadcast probe join, and a per-task ≤ Q·k
    candidate cut — the corpus moves at m bytes/vector and only
    probed cells are touched at all.
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(f"ivfadc_topk: unknown metric {metric!r}")
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m} subspaces")
    dsub = dims // m
    spark = emb.sparkSession

    # centroids + residual-codebook sample: one bounded head collect
    head_ids, head_raw = _id_head(emb, n_centroids + n_codes, dims, id_col, vec_col)
    if len(head_ids) < n_centroids + n_codes:
        raise ValueError(
            f"need {n_centroids + n_codes} head rows with {id_col} < "
            f"{n_centroids + n_codes}, got {len(head_ids)} — ids not "
            "starting at 0?"
        )

    def space(x):
        # dot mode: vectors stay raw — ranking by x·c_unit is the same
        # angular order (‖x‖ scales every cell score equally), and the
        # base term q·c(x) must carry the query's true magnitude
        return _unit_rows(x) if metric == "cosine" else x

    # coarse quantizer is ALWAYS unit-norm (angular cells); the
    # residual sample matches the encode space
    c_mat = _unit_rows(head_raw[:n_centroids])
    sample = space(head_raw[n_centroids:])
    # residuals of the sample after coarse assignment (first-argmax)
    cells = np.argmax(_ordered_gemm(sample, c_mat), axis=1)
    resid = sample - c_mat[cells]
    books = np.stack(
        [resid[:, j * dsub : (j + 1) * dsub] for j in range(m)]
    )
    cents = (
        np.arange(n_centroids, dtype=np.int64), c_mat, _ordered_norms(c_mat)
    )
    bc_b = spark.sparkContext.broadcast(books)

    def encode(ids, vecs, mx, cents):
        mx = space(mx)
        cell = np.argmax(_ordered_gemm(mx, cents[1]), axis=1)
        codes = _pq_assign(mx - cents[1][cell], bc_b.value)
        return {
            "neighbor_id": ids,
            "cluster": cell.astype(np.int64),
            "codes": list(codes),
        }

    def probes(spark, q_ids, q_mat, c_ids, c_mat, c_norm, n_probe):
        # unnormalized ranking q·c_unit (c_norm unused): the same cell
        # order as the encode side's argmax
        qc = _ordered_gemm(space(q_mat), c_mat)
        return _probe_table(
            spark,
            [
                (int(q_ids[i]), int(c_ids[c]))
                for i in range(len(q_ids))
                for c in np.lexsort((c_ids, -qc[i]))[:n_probe]
            ],
        )

    def payload(q_mat):
        # residual lookup tables and the per-(query, cell) base term q·c
        qs = space(q_mat)
        return _adc_tables(qs, books), _ordered_gemm(qs, c_mat)

    def score(pdf, qi, q, cents):
        tabs, qc = q
        codes = np.stack(pdf["codes"].to_numpy())
        sim = qc[qi, pdf["cluster"].to_numpy(dtype=np.int64)]
        for j in range(m):
            sim += tabs[qi, j, codes[:, j]]
        return {"approx_sim": sim}

    return _ivf_pipeline(
        emb, query_filter, cents, k, n_probe, dims, id_col, vec_col,
        encode=encode,
        code_schema="neighbor_id long, cluster long, codes array<int>",
        payload=payload,
        score_rows=score,
        score_schema="approx_sim double",
        sim_col="approx_sim",
        probes=probes,
    )

# -------------------------------------- sparse-vector (term) similarity


def sparse_cosine_pairs(
    triples: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    feat_col: str = "feature_idx",
    tf_col: str = "tf",
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs cosine over SPARSE integer term vectors (e.g. the
    output of ``text.feature_hash_counts``) — document similarity with
    no embedding model, the classic TF-vector near-dup/search primitive.

    ``triples`` must be unique per (id, feature) — the contract
    ``feature_hash_counts`` produces; duplicate triples would inflate
    both the df cap's counts and the dot products.

    Arithmetic is deliberately all-integer until the final division:
    ``dot = Σ tf_a·tf_b`` and ``‖v‖² = Σ tf²`` are exact long sums
    (associative — partition-invariant with no decimal tricks), and
    ``cos = dot / (sqrt(sq_a)·sqrt(sq_b))`` is IEEE basic-op exact —
    the whole operator is bit-identical in any engine.

    Plan: inverted-index self-join — postings shuffle on the feature
    key, matched pairs partial-aggregate on (a, b), then one norm
    join. Candidate volume is O(Σ df²) over feature buckets, the same
    blowup family as the n-gram Jaccard join, with the same escape:
    ``max_df`` drops buckets hotter than the cap from PAIR GENERATION
    only (norms keep every feature, so scores of surviving pairs are
    biased low, never high — a hot *hashed* bucket is a stopword-
    collision bucket, exactly what you want out of candidates at
    100 TB). The threshold filter needs dot > 0 pairs only, which the
    join produces by construction.

    Two candidate-reduction variants were benched at sf0.1 (r6) and
    REJECTED — keep the lean plan unless the corpus shape changes:
    (1) the Bayardo-style length/max-weight filter
    (dot ≤ min(‖a‖₁·maxtf(b), ‖b‖₁·maxtf(a)) attached to posting rows)
    pruned only 4.4% of pair-rows on this homogeneous-length corpus
    while the stats-attach join and wider _f shuffle cost 3.8 s →
    5.1 s; (2) a single-shuffle ``groupBy(_f).collect_list`` +
    nested-``transform`` pair generation halves the shuffle bytes but
    the higher-order-function lambdas execute interpreted (no codegen)
    and measured 3.8 s → 4.6 s. The quadratic-in-df candidate volume
    itself is inherent to exact all-pairs cosine; ``max_df`` is the
    documented escape.
    """
    # Materialize the triple projection ONCE: `triples` usually carries
    # a tokenize/explode/aggregate lineage, and four consumers read it
    # below (norms, the df filter, both join sides) — Spark re-executes
    # the subtree per consumer otherwise (the round-4 LSH lesson:
    # count subplan *executions*, not just shuffles; measured 4.3 s →
    # ~3 s at sf0.1 on the trigram registry query).
    base = triples.select(
        F.col(id_col).alias("_id"),
        F.col(feat_col).alias("_f"),
        F.col(tf_col).cast("long").alias("_tf"),
    ).localCheckpoint()
    norms = base.groupBy("_id").agg(
        F.sum(F.col("_tf") * F.col("_tf")).alias("_sq")
    )
    posting = base
    if max_df is not None:
        df_ok = (
            base.groupBy("_f")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_f")
        )
        posting = base.join(df_ok, "_f", "left_semi")
    a = posting.select(
        F.col("_id").alias("doc_a"), "_f", F.col("_tf").alias("_tfa")
    )
    b = posting.select(
        F.col("_id").alias("doc_b"), "_f", F.col("_tf").alias("_tfb")
    )
    dots = (
        a.join(b, "_f")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("_tfa") * F.col("_tfb")).alias("_dot"))
    )
    return (
        dots.join(
            norms.select(F.col("_id").alias("doc_a"), F.col("_sq").alias("_sqa")),
            "doc_a",
        )
        .join(
            norms.select(F.col("_id").alias("doc_b"), F.col("_sq").alias("_sqb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("_dot")
                / (F.sqrt(F.col("_sqa")) * F.sqrt(F.col("_sqb")))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def persist_feature_index(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int = 8,
    n_features: int = 1 << 20,
    ngram: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize a corpus's hashed-feature index as two bucketed
    catalog tables — ``<prefix>_postings`` (id, feature_idx, tf;
    bucketed+sorted by feature_idx) and ``<prefix>_norms`` (id, sq) —
    the OFFLINE half of incremental text-similarity search. The
    corpus's tokenize/hash kernels and the posting shuffle run exactly
    once; a daily ``probe_feature_index`` then reads pre-bucketed
    postings with no index-side Exchange and never touches corpus
    text (the ``persist_lsh_index`` pattern, for TF-cosine search
    instead of Jaccard dedup)."""
    from ..functions.text import feature_hash_counts
    from ..plans.layout import write_bucketed

    spark = docs.sparkSession
    fh = feature_hash_counts(
        docs, n_features=n_features, id_col=id_col,
        text_col=text_col, ngram=ngram,
    )
    write_bucketed(
        fh,
        f"{table_prefix}_postings",
        ["feature_idx"],
        n_buckets,
        sort_cols=["feature_idx"],
    )
    # norms and the per-feature df derive from the postings TABLE just
    # written, not from `fh` — a second action on the unmaterialized
    # frame would re-execute the corpus tokenize/hash lineage (the
    # subplan-execution lesson; review r5), where reading the bucketed
    # files back costs one scan of the (much smaller) posting triples
    written = spark.table(f"{table_prefix}_postings")
    norms = written.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("sq")
    )
    write_bucketed(norms, f"{table_prefix}_norms", [id_col], n_buckets)
    # df is a property of the static index — pay it once offline so
    # probes never re-aggregate the corpus-sized posting table
    df_tbl = written.groupBy("feature_idx").agg(
        F.count(F.lit(1)).alias("df")
    )
    df_tbl.write.format("parquet").mode("overwrite").saveAsTable(
        f"{table_prefix}_df"
    )
    # hashing parameters are part of the index's identity: a probe
    # with different ones hashes into a different feature space and
    # would silently miss everything — store them for loud validation
    spark.createDataFrame(
        [(int(n_features), int(ngram))], "n_features long, ngram long"
    ).write.format("parquet").mode("overwrite").saveAsTable(
        f"{table_prefix}_meta"
    )


def probe_feature_index(
    new_docs: DataFrame,
    table_prefix: str,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    n_features: int = 1 << 20,
    ngram: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ONLINE half: cosine pairs between a (small) new batch and the
    indexed corpus → (new_id, index_id, cos), cos ≥ threshold. Only
    the batch's own features are computed; the index side streams from
    its bucketed posting files. ``max_df`` drops corpus-hot feature
    buckets from candidate generation (index-side df), same
    bias-low-never-high contract as ``sparse_cosine_pairs`` — scores
    use FULL norms from the index's norm table. Within-batch pairs are
    deliberately not emitted (that is ``sparse_cosine_pairs``'s job on
    the batch alone, exactly like the LSH probe's split of concerns)."""
    from ..functions.text import feature_hash_counts

    spark = new_docs.sparkSession
    meta = spark.table(f"{table_prefix}_meta").first()
    if (meta["n_features"], meta["ngram"]) != (n_features, ngram):
        raise ValueError(
            f"index {table_prefix} was built with n_features="
            f"{meta['n_features']}, ngram={meta['ngram']} but the probe "
            f"asked for n_features={n_features}, ngram={ngram} — "
            "mismatched hashing parameters land in a different feature "
            "space and would silently match nothing"
        )
    postings = spark.table(f"{table_prefix}_postings")
    norms_idx = spark.table(f"{table_prefix}_norms")
    if max_df is not None:
        # the per-feature df was persisted at index-build time — the
        # probe's index-side work stays a pure bucketed read
        df_ok = (
            spark.table(f"{table_prefix}_df")
            .filter(F.col("df") <= max_df)
            .select("feature_idx")
        )
        postings = postings.join(df_ok, "feature_idx", "left_semi")
    batch = feature_hash_counts(
        new_docs, n_features=n_features, id_col=id_col,
        text_col=text_col, ngram=ngram,
    ).localCheckpoint()
    batch_norms = batch.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("_sqb")
    )
    dots = (
        batch.select(
            F.col(id_col).alias("new_id"), "feature_idx",
            F.col("tf").alias("_tfb"),
        )
        .join(
            postings.select(
                F.col(id_col).alias("index_id"), "feature_idx",
                F.col("tf").alias("_tfi"),
            ),
            "feature_idx",
        )
        # a re-probed doc whose id is already indexed must not report
        # itself as its own near-duplicate (mirrors the doc_a < doc_b
        # self-pair guard of the inline operator)
        .filter(F.col("new_id") != F.col("index_id"))
        .groupBy("new_id", "index_id")
        .agg(F.sum(F.col("_tfb") * F.col("_tfi")).alias("_dot"))
    )
    return (
        dots.join(
            batch_norms.select(F.col(id_col).alias("new_id"), "_sqb"),
            "new_id",
        )
        .join(
            norms_idx.select(
                F.col(id_col).alias("index_id"), F.col("sq").alias("_sqi")
            ),
            "index_id",
        )
        .select(
            "new_id",
            "index_id",
            (
                F.col("_dot")
                / (F.sqrt(F.col("_sqb")) * F.sqrt(F.col("_sqi")))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .orderBy("new_id", "index_id")
    )


# ------------------------------------------- cluster-scoped (SemDeDup)


def auto_centroids(
    n_rows: int, target_cell_rows: int = 1024, lo: int = 8
) -> int:
    """Scale-safe centroid count for SemDeDup-style cell-scoped dedup:
    hold the EXPECTED cell size constant (~``target_cell_rows``) by
    growing k with the corpus, ``k = max(lo, ceil(n / target))``. This
    is the published constant-cell-size rule (Abbas et al. 2023 cluster
    into k ∝ n cells); with it the within-cell exact pairwise term is
    O(n·target) — linear in n — instead of O(n²/k) at fixed k, which
    the 25× scale probe measured super-linear (slope 37.3 at k=8; 2.26 s
    vs 40.4 s restored linear at the derived k; SCALE.md round-6 probe).

    Integer arithmetic only (``(n + t - 1) // t``) so a SQL oracle can
    reproduce the derivation exactly with ``greatest(lo, (count(*) +
    t - 1) // t)``."""
    if n_rows < 0:
        raise ValueError(f"auto_centroids: negative corpus size {n_rows}")
    if target_cell_rows < 1:
        raise ValueError(
            f"auto_centroids: target_cell_rows={target_cell_rows} < 1"
        )
    return max(lo, (n_rows + target_cell_rows - 1) // target_cell_rows)


def semantic_cell_pairs(
    emb: DataFrame,
    n_centroids: int | None = None,
    threshold: float = 0.4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int = 32768,
    target_cell_rows: int = 1024,
) -> DataFrame:
    """Near-dup embedding pairs, SemDeDup-style (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv:2303.09540): a coarse quantizer
    assigns every vector to its nearest centroid, and exact pairwise
    cosine runs only WITHIN each cell. The global O(n²) of
    ``cosine_threshold_pairs`` becomes O(Σ|cell|²) — with k balanced
    cells that is n²/k, and the cells are embarrassingly parallel.
    Cross-cell near-dups are missed by construction; that recall trade
    is the published algorithm, not a shortcut (near-dups cluster
    together under any reasonable quantizer).

    Plan: one Arrow assignment pass (centroids broadcast, corpus never
    collected) → ONE shuffle grouping (id, vector) by cell →
    ``applyInPandas`` computes the cell's pair list with the same
    dimension-ordered arithmetic as every other kernel here (bit-equal
    to the DuckDB oracle). A cell larger than ``max_cell_rows`` raises
    loudly — at that size the quantizer is too coarse and the fix is
    more centroids, not a silent quadratic blowup (same refuse-loudly
    contract as ``cosine_threshold_pairs``).

    Centroids are the deterministic id-ordered corpus head, matching
    ``ann_ivf_topk``/``cluster_assign_stats`` (ties → smallest centroid
    id); swap in MLlib KMeans centers for balanced cells offline.

    ``n_centroids=None`` (the default) derives k from the corpus size
    via ``auto_centroids`` — constant ~``target_cell_rows``-row cells,
    k ∝ n — at the cost of one count job over the id column. Pinning
    ``n_centroids`` keeps the fixed-k behaviour (the oracle-twin
    configuration) and is NOT scale-safe: at fixed k the within-cell
    quadratic grows as n²/k (measured slope 37.3 at 25×, SCALE.md).
    """
    spark = emb.sparkSession
    if n_centroids is None:
        n_centroids = auto_centroids(emb.count(), target_cell_rows)
    bc = spark.sparkContext.broadcast(
        _head_centroids(emb, n_centroids, dims, id_col, vec_col)
    )
    assigned = _encode_stream(
        emb, bc, dims, id_col, vec_col, _raw_cells,
        "neighbor_id long, v array<float>, cluster long",
    )
    empty = pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []}).astype(
        {"vec_a": np.int64, "vec_b": np.int64, "sim": np.float64}
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell_rows:
            raise RuntimeError(
                f"semantic_cell_pairs: cell {int(pdf['cluster'].iloc[0])} has "
                f"{n} rows (> max_cell_rows={max_cell_rows}). Raise "
                "n_centroids (finer quantizer) or max_cell_rows explicitly."
            )
        if n < 2:
            return empty
        order = np.argsort(pdf["neighbor_id"].to_numpy(dtype=np.int64))
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)[order]
        m = _as_matrix(pdf["v"], dims)[order]
        nrm = _ordered_norms(m)
        out_a, out_b, out_s = [], [], []
        # row-blocked upper triangle: bounds kernel memory at
        # block × |cell| doubles regardless of cell size
        block = 512
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            sim = _ordered_gemm(m[i0:i1], m) / np.multiply.outer(
                nrm[i0:i1], nrm
            )
            for i in range(i0, i1):
                j = np.nonzero(sim[i - i0] >= threshold)[0]
                j = j[j > i]
                if len(j):
                    out_a.append(np.full(len(j), ids[i]))
                    out_b.append(ids[j])
                    out_s.append(sim[i - i0][j])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        cell_pairs, "vec_a long, vec_b long, sim double"
    )


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int | None = None,
    threshold: float = 0.4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_rows: int = 1024,
) -> DataFrame:
    """End-to-end SemDeDup: cell-scoped near-dup pairs → connected
    components → one canonical survivor per component (minimum id) plus
    all untouched singletons. Composes ``semantic_cell_pairs`` with
    ``dedup.dedup_corpus`` — identical survivor semantics to
    ``embedding_dedup`` but with the cell-bounded candidate generation
    that scales past the block-matrix form.

    Scale-safe BY DEFAULT: ``n_centroids=None`` derives k from the
    corpus count (constant ~``target_cell_rows``-row cells, k ∝ n —
    see ``auto_centroids``). Pin ``n_centroids`` only when a fixed
    quantizer is required (e.g. the fixed-k oracle twin); fixed k is
    O(n²/k) and was measured super-linear at 25× (SCALE.md)."""
    from .dedup import dedup_corpus

    pairs = semantic_cell_pairs(
        emb, n_centroids, threshold, dims, id_col, vec_col,
        target_cell_rows=target_cell_rows,
    )
    return dedup_corpus(
        emb.select(id_col), pairs, id_col=id_col, src="vec_a", dst="vec_b"
    ).orderBy(id_col)


RRF_SCALE = 1_000_000


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k0: int = 60,
    k: int = 20,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    — the standard way to combine heterogeneous retrieval lists (e.g.
    lexical BM25 and embedding ANN) without comparable scores:

        rrf(d) = Σ_lists  S div (k0 + rank_list(d))

    in fixed point at S = ``RRF_SCALE`` (integer floor division — RRF
    only consumes RANKS, so fusing integer contributions is exact,
    partition-order-free, and value-exact against the SQL oracle; the
    published k0 = 60 default damps any single list's top rank).
    Documents missing from a list simply contribute nothing for it —
    the union-of-lists semantics of the paper.

    Plan: each input is a top-k list (tens of rows); the fuse is a
    union of tiny projections, one partial-agg groupBy, and a top-k
    heap. The heavy lifting stays in the upstream searches — fusion
    adds no corpus-sized work."""
    if not ranked_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = [
        df.select(
            F.col(id_col),
            F.expr(f"{RRF_SCALE}L div ({k0}L + {rank_col})").alias("_c"),
        )
        for df in ranked_lists
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.groupBy(id_col)
        .agg(F.sum("_c").alias("rrf_s"))
        .orderBy(F.desc("rrf_s"), id_col)
        .limit(k)
    )


def embedding_split_drift(
    emb: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-distribution drift audit: cosine between the MEAN
    vectors of two halves of the corpus (here: even vs odd ids — the
    stand-in for yesterday's shard vs today's). A new encoder
    checkpoint, a domain shift, or a bad batch moves the centroid;
    cos(μ_a, μ_b) ≈ 1 is the cheap invariant a pipeline asserts
    before mixing shards (the embedding-space analog of
    ``event_type_drift``'s count-distribution check).

    Determinism: per-dimension means fold as exact decimal(30,12)
    sums (the ``det_mean`` convention — partition-order-free) divided
    once; the 64-term dot/norm reductions run as ``F.aggregate``
    left-to-right folds over the index-sorted mean arrays, the exact
    IEEE order of the oracle's ``list_dot_product`` (module
    docstring). Plan: one posexplode → one (half, dim) partial-agg
    groupBy (2·dims rows) → a 2-row array rollup → a 1-row join; the
    corpus is read once."""
    half = (F.col(id_col) % 2).alias("_half")
    d = emb.select(
        half, F.posexplode(F.col(vec_col)).alias("_i", "_v")
    )
    m = (
        d.groupBy("_half", "_i")
        .agg(
            F.sum(F.col("_v").cast("double").cast("decimal(30,12)"))
            .cast("double")
            .alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "_half", "_i", (F.col("_s") / F.col("_n")).alias("_m"), "_n"
        )
    )
    arrs = m.groupBy("_half").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_m"))),
            lambda s: s["_m"],
        ).alias("_mv"),
        F.first("_n").alias("_cnt"),
    )
    a = arrs.where(F.col("_half") == 0).select(
        F.col("_mv").alias("_ma"), F.col("_cnt").alias("n_a")
    )
    b = arrs.where(F.col("_half") == 1).select(
        F.col("_mv").alias("_mb"), F.col("_cnt").alias("n_b")
    )

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    dot = fold(F.zip_with(F.col("_ma"), F.col("_mb"), lambda x, y: x * y))
    na = fold(F.transform(F.col("_ma"), lambda x: x * x))
    nb = fold(F.transform(F.col("_mb"), lambda x: x * x))
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        (dot / (F.sqrt(na) * F.sqrt(nb))).alias("cos_means"),
    )


def pack_sign_bits(vec: Column, dims: int = 64) -> tuple[Column, Column]:
    """1-bit (sign) quantization of an embedding packed into two BIGINT
    words: bit i of ``lo`` is 1 iff vec[i] > 0 (dims 0..31), ``hi``
    covers 32..63. Two words instead of one keep every shift strictly
    below 2^62 — a single 64-bit word would need bit 63, whose shift
    overflows SIGNED ranges differently across engines. 64 explicit
    WHEN terms: fully codegen-able, no fold."""
    if dims != 64:
        raise ValueError(
            f"pack_sign_bits: packed layout is defined for dims=64, got {dims}"
        )
    lo = F.lit(0).cast("long")
    hi = F.lit(0).cast("long")
    for i in range(32):
        lo = lo + F.when(vec.getItem(i) > 0, F.lit(1 << i)).otherwise(0)
    for i in range(32, 64):
        hi = hi + F.when(
            vec.getItem(i) > 0, F.lit(1 << (i - 32))
        ).otherwise(0)
    return lo, hi


def binary_hamming_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 10,
    coarse_k: int = 50,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage binary ANN: 1-bit sign quantization (64 dims → two
    BIGINT words) + XOR/popcount Hamming distance as the COARSE stage,
    exact cosine re-rank of the coarse top-``coarse_k`` as the FINE
    stage — the binary-passage-retrieval pattern: for sign-random
    projections, Hamming distance is monotone in expected angle
    (Goemans-Williamson / Charikar SRP), so the cheap integer stage
    finds the angular neighborhood and the float stage orders it.
    Completes the compression family: PQ/IVFADC (8-bit codebooks),
    int8 quantization, JL projection, now 1-bit — 512× smaller than
    the float vectors, and the scan stage is two XORs + two popcounts
    per candidate, fully whole-stage-codegen.

    Plan: the ≤-handful query rows broadcast against the packed corpus;
    the candidate stream carries ONLY (query_id, vec_id, hamming) —
    three integers, never the float vectors — and the coarse prune is
    an Arrow-batched per-partition top-``coarse_k`` combiner
    (``mapInPandas`` holding ≤ |Q|·coarse_k rows per partition), so NO
    exchange exists below the prune at all. (The previous
    window-over-``spark_partition_id`` formulation was refuted by its
    own executedPlan: EnsureRequirements inserts the
    hashpartitioning(query_id, _part) Exchange BELOW the window, so
    the full |Q|×|corpus| candidate set — float vectors included —
    crossed a shuffle despite the "prunes before the shuffle" claim.)
    The prune is lossless (the global top-k is a subset of the union
    of per-partition top-ks) and its RESULT partitioning-invariant;
    the only exchanges left are the two tiny query_id-partitioned
    windows over ≤ partitions × |Q| × coarse_k integer rows. Float
    vectors re-attach to the ≤ |Q|·coarse_k coarse winners only, via
    broadcast joins that leave the corpus scan un-shuffled. Ties break
    by neighbor id at both stages; the cosine is the repo's ordered
    ``dot_fixed`` fold ≡ ``list_dot_product`` (bit-identical to the
    oracle). Output: (query_id, vec_id, hamming, cosine, rank ≤ k).

    Input contract: ``emb`` must scan DETERMINISTICALLY (same rows and
    vectors on every pass) — the fine stage re-reads it by id to
    re-attach float vectors without carrying them through the coarse
    stage. ``query_filter`` is evaluated exactly once (both stages
    read the same filtered DataFrame), but a lineage with
    rand()/unseeded sampling upstream must be materialized
    (checkpoint/write) before calling."""
    if k < 1 or coarse_k < k:
        raise ValueError(
            f"binary_hamming_topk: need 1 <= k <= coarse_k, got k={k},"
            f" coarse_k={coarse_k}"
        )
    vec = _vec(vec_col)
    # the packing/dot expressions are built as SINGLE SQL strings, not
    # chained Column ops: 128 py4j `+` calls cost ~5 s of driver time
    # per plan build and produce a 128-deep Add tree the analyzer walks
    # recursively; one F.expr parse is milliseconds and the SQL `+` is
    # left-associative, so the IEEE fold order (and the oracle match)
    # is unchanged. Measured: 5.0 s -> sub-second warm at sf0.001.
    def _pack_expr(name: str, lo_half: bool) -> str:
        rng = range(32) if lo_half else range(32, 64)
        terms = " + ".join(
            f"(CASE WHEN {name}[{i}] > 0.0D THEN "
            f"{1 << (i if lo_half else i - 32)}L ELSE 0L END)"
            for i in rng
        )
        return f"CAST({terms} AS BIGINT)"

    packed = emb.select(
        F.col(id_col).alias("vec_id"), vec.alias("_v")
    ).select(
        "vec_id",
        F.expr(_pack_expr("_v", True)).alias("_lo"),
        F.expr(_pack_expr("_v", False)).alias("_hi"),
    )
    # qsrc is built ONCE and feeds BOTH the packed coarse-stage query
    # set and the fine-stage re-rank vectors (qvecs below): evaluating
    # query_filter twice against emb would let a non-deterministic
    # predicate or lineage (rand()/sample upstream) hand the re-rank a
    # different query set than the one the coarse candidates were
    # generated for — silently yielding NULL cosines (r9 ADVICE).
    qsrc = emb.filter(query_filter).select(
        F.col(id_col).alias("query_id"), vec.alias("_qv")
    )
    q = qsrc.select(
        "query_id",
        F.expr(_pack_expr("_qv", True)).alias("_qlo"),
        F.expr(_pack_expr("_qv", False)).alias("_qhi"),
    )
    ham = (
        F.bit_count(F.col("_lo").bitwiseXOR(F.col("_qlo")))
        + F.bit_count(F.col("_hi").bitwiseXOR(F.col("_qhi")))
    ).cast("long")
    cand = packed.join(
        F.broadcast(q), packed["vec_id"] != q["query_id"]
    ).select("query_id", "vec_id", ham.alias("hamming"))

    def _coarse_prune(batches):
        # Per-partition lossless top-coarse_k combiner: the running
        # accumulator never exceeds |Q|·coarse_k rows, so each Arrow
        # batch costs one sort of (accumulator + batch). Runs where
        # the candidates already live — no exchange below the prune.
        # Cost note (r9 verdict): the per-batch full sort is
        # O(batches · (|Q|·coarse_k + batch)·log(...)) — fine at the
        # registered |Q| (a handful of query rows); if |Q| ever grows
        # to thousands, replace the sort with a per-query bounded heap
        # / np.partition partial select.
        import pandas as pd

        acc = None
        for pdf in batches:
            both = (
                pdf
                if acc is None
                else pd.concat((acc, pdf), ignore_index=True)
            )
            both = both.sort_values(["query_id", "hamming", "vec_id"])
            acc = both.groupby("query_id", sort=False).head(coarse_k)
        if acc is not None:
            yield acc

    pruned = cand.mapInPandas(_coarse_prune, cand.schema)
    wg = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    coarse = (
        pruned.withColumn("_g", F.row_number().over(wg))
        .where(F.col("_g") <= coarse_k)
        .select("query_id", "vec_id", "hamming")
    )
    # Float vectors re-attach to the coarse winners only: broadcast the
    # ≤ |Q|·coarse_k-row coarse set so the corpus scan is never
    # shuffled, then broadcast the query vectors onto it. The query
    # side reuses qsrc (the same DataFrame the packing stage read —
    # query_filter is evaluated exactly once in this plan); the corpus
    # side is an id-keyed re-read of emb, which requires emb to be a
    # DETERMINISTIC scan — the same vec_id must yield the same vector
    # on every pass (true for any stored table; a lineage with
    # rand()/unseeded sample upstream must be materialized first).
    vecs = emb.select(F.col(id_col).alias("vec_id"), vec.alias("_v"))
    qvecs = qsrc
    coarse = vecs.join(F.broadcast(coarse), "vec_id").join(
        F.broadcast(qvecs), "query_id"
    )
    def _dot_expr(a: str, b: str) -> str:
        return " + ".join(f"{a}[{d}] * {b}[{d}]" for d in range(dims))

    cos = F.expr(
        f"({_dot_expr('_v', '_qv')}) / (sqrt({_dot_expr('_v', '_v')})"
        f" * sqrt({_dot_expr('_qv', '_qv')}))"
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.col("vec_id")
    )
    return (
        coarse.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            "hamming",
            F.col("_cos").alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )
