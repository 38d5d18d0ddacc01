"""Core relational operators from SURVEY.md §2 (A1-A9, O20-O24, J1-J3, W1-W3).

Every operator here is a pure DataFrame→DataFrame function built from
``pyspark.sql.functions`` only — fully Catalyst-visible, whole-stage
codegen eligible, no Python in the row path. Scale notes per operator.

Reference parity citations point into ``/root/reference`` (behavioral
spec only; the implementations are Spark-native, not ports).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _pin(frame: DataFrame, on: bool) -> DataFrame:
    """``localCheckpoint(eager=True)`` when ``on`` (r15, ADVICE r14 #2).

    The pin trades fault tolerance for plan sharing: localCheckpoint
    truncates lineage to NON-REPLICATED executor-local storage, so an
    executor loss/decommission after the pin fails the query
    unrecoverably instead of recomputing the subtree. Operators that
    benefit from pinning multiply-consumed subtrees expose a
    ``materialize`` flag (default True — the benched-fast value);
    pass False on long-running clusters where executor churn is the
    bigger risk.
    """
    return frame.localCheckpoint(eager=True) if on else frame


def summary(df: DataFrame, ts_col: str, where: Column | None = None) -> DataFrame:
    """Count/min/max summary (A1; reference ``fastapi/app/main.py:81-104``).

    One partial-agg + single-row final: map-side combine means the shuffle
    carries exactly one row per partition regardless of input size.
    Empty input → ``(0, NULL, NULL)``, matching the reference's 0-row path.
    """
    if where is not None:
        df = df.filter(where)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
    )


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """DISTINCT + ORDER BY ASC (A2; ``main.py:74-77``).

    Partial-distinct happens map-side before the shuffle, so the exchange
    carries unique values only — safe at any row count when the domain is
    small (sites / event types).
    """
    return df.select(col).distinct().orderBy(col)


def latest_per_group(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Keep the newest row per key (A3; ``silver_clean.py:99-101`` does
    sort + groupby(...).last() in pandas).

    Implemented as ``max_by`` over a struct rather than a row_number
    window: a groupBy aggregate gets map-side partial aggregation (the
    shuffle carries one candidate row per key per partition), while a
    window would shuffle every duplicate. At 100 TB with low duplication
    that is the difference between shuffling ~|keys| rows and ~|input| rows.
    """
    order_struct = F.struct(*[F.col(order_col)] + [F.col(c) for c in tiebreak])
    payload = F.struct(*[F.col(c) for c in df.columns])
    agg = df.groupBy(*keys).agg(F.max_by(payload, order_struct).alias("_row"))
    return agg.select([F.col(f"_row.{c}").alias(c) for c in df.columns])


def mark_duplicates(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Label (not drop) all-but-newest rows per key with ``is_duplicate``
    (W2; the dashboard's ``duplicated(keep="last")``,
    ``streamlit/app.py:294-299``). Needs every row, so this one *is* a
    window — used only in the explain/diagnostics path, not the clean path.
    """
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tiebreak]
    )
    return df.withColumn("is_duplicate", F.row_number().over(w) > F.lit(1))


def topk_recent(df: DataFrame, ts_col: str, k: int, tiebreak: Sequence[str] = ()) -> DataFrame:
    """Latest-k rows presented chronologically (O22; ``main.py:117-124``
    does ``ORDER BY ts DESC LIMIT k`` then ``rows.reverse()``).

    ``orderBy(desc).limit(k)`` compiles to ``TakeOrderedAndProject`` —
    each partition keeps a k-row heap, the driver merges k·p rows; no
    global sort. The chronological re-sort then acts on ≤k rows.
    """
    desc_cols = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak]
    latest = df.orderBy(*desc_cols).limit(k)
    return latest.orderBy(ts_col, *tiebreak)


def half_open_window(
    df: DataFrame, ts_col: str, lo, hi, extra: Column | None = None
) -> DataFrame:
    """Half-open time-range predicate ``[lo, hi)`` (O4/O5;
    ``silver_clean.py:39-41``). Plain comparisons → parquet row-group
    min/max skipping + (with date partitioning) partition pruning.
    """
    cond = (F.col(ts_col) >= F.lit(lo)) & (F.col(ts_col) < F.lit(hi))
    if extra is not None:
        cond = cond & extra
    return df.filter(cond)


def pivot_align(
    df: DataFrame,
    key_col: str,
    name_col: str,
    value_col: str,
    names: Sequence[str],
) -> DataFrame:
    """N-way series alignment: long → wide, one row per key, one column
    per series, missing → NULL (J1; ``nasa.py:91-108`` unions timestamp
    keys across parameter dicts and probes each).

    ``groupBy().pivot(values=...)`` with the pivot domain supplied
    explicitly — no extra distinct pass — is a single shuffle on the key.
    That replaces the reference's O(params × timestamps) driver loop.
    """
    return (
        df.groupBy(key_col)
        .pivot(name_col, list(names))
        .agg(F.first(value_col, ignorenulls=True))
        .orderBy(key_col)
    )


def completeness_by_bucket(
    df: DataFrame, bucket: Column, bucket_name: str, cols: Sequence[str]
) -> DataFrame:
    """Per-bucket boolean-ALL completeness 0/1 matrix (A6;
    ``streamlit/app.py:519-524``'s groupby-lambda). ``min(isNotNull)`` is
    the distributed bool_and — partial-aggregated map-side.
    """
    aggs = [
        F.min(F.col(c).isNotNull().cast("int")).alias(f"{c}_complete") for c in cols
    ]
    return df.groupBy(bucket.alias(bucket_name)).agg(*aggs).orderBy(bucket_name)


def keep_metrics(raw: DataFrame, kept: DataFrame) -> DataFrame:
    """Two-table scalar combine → dropped_rows / kept_percentage (J3/A8;
    ``main.py:274-287``). Both sides collapse to single-row aggregates
    before the cross join, so the join is trivially broadcast.
    """
    r = raw.agg(F.count(F.lit(1)).alias("raw_rows"))
    k = kept.agg(F.count(F.lit(1)).alias("kept_rows"))
    joined = r.crossJoin(k)
    return joined.select(
        "raw_rows",
        "kept_rows",
        F.greatest(F.col("raw_rows") - F.col("kept_rows"), F.lit(0)).alias("dropped_rows"),
        F.when(
            F.col("raw_rows") > 0,
            F.round(F.col("kept_rows") / F.col("raw_rows") * 100.0, 4),
        ).alias("kept_percentage"),
    )


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """Frequency count ordered desc (A5/O21; ``streamlit/app.py:307-308``)."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("n")).orderBy(F.desc("n"), col)


def melt(df: DataFrame, id_cols: Sequence[str], value_cols: Sequence[str]) -> DataFrame:
    """Wide→long reshape (A9; ``streamlit/app.py:525-526``'s ``melt``).
    Spark's native ``unpivot`` — a generate, no shuffle at all.
    """
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        "variable",
        "value",
    )


def global_rank(
    df: DataFrame,
    bucket: Column,
    key: Column,
    rank_col: str = "rank",
    max_buckets: int = 100_000,
) -> DataFrame:
    """Exact global 1-based rank under the total order of ``key``
    (ascending; make it a struct with negated/tie-break fields for
    descending or composite orders) WITHOUT a single-partition window
    — the total-order-partitioner pattern (TeraSort's range
    partitioning, expressed declaratively):

    1. ``bucket`` coarsely ranges the sort key (caller supplies an
       expression MONOTONE in ``key`` — e.g. ``floor(score/64)`` for a
       score-ascending order);
    2. per-bucket counts (tiny) get cumulative offsets;
    3. rank = bucket offset + local row_number within the bucket.

    The monotonicity promise is VERIFIED, not trusted: per-bucket
    (min, max) key envelopes are checked for overlap (bounded by the
    bucket count, capped at ``max_buckets``), and a violation raises —
    a silently wrong global order is the one failure mode this
    operator must not have. Window sorts are per-bucket, so the skew
    ceiling is the hottest bucket, which the bucket expression's
    granularity controls.

    Laziness / error surface (r15): the audit and the cumulative
    offsets are FOLDED INTO THE PLAN — the bucket envelopes feed
    ``raise_error`` guards inside the broadcast join key, so every
    consumer of the result (``count()``, a projection that omits the
    rank, the rank itself) evaluates them, and the
    offsets are a running sum over the (tiny, ≤ max_buckets) bucket
    table — so calling this function launches NO job and performs no
    driver collect; each former call paid one driver round-trip per
    rank pass (Spearman paid two). A violated contract (NULL bucket,
    NULL/NaN key, non-monotone bucket, bucket blow-up) therefore
    raises when the returned frame is first ACTED on, surfacing as a
    SparkRuntimeException (USER_RAISED_EXCEPTION carrying the same
    message text) from the job instead of a ValueError from the call.
    The ``max_buckets`` breach is likewise detected in-plan: a
    pathological bucket expression now sorts its (huge) bucket table
    once before failing, where the eager form failed after a capped
    collect — loud either way, the cost of the failure path moved.

    Use case: curriculum ordering (rank a corpus by quality before
    packing), leaderboards, exact percentile assignment.
    """
    from pyspark.sql import types as T

    def _key_invalid(c: Column, dtype: T.DataType) -> Column:
        # NULL/NaN anywhere in the key — including INSIDE struct
        # fields: a non-null struct with a NULL field would pass a
        # bare isNull() and then poison the ordering comparisons
        out = c.isNull()
        if isinstance(dtype, T.StructType):
            for fld in dtype.fields:
                out = out | _key_invalid(c[fld.name], fld.dataType)
        elif isinstance(dtype, (T.DoubleType, T.FloatType)):
            out = out | F.isnan(c)
        return out

    with_b = df.withColumn("_gb", bucket).withColumn("_gk", key)
    ktype = with_b.schema["_gk"].dataType
    per_bucket = with_b.groupBy("_gb").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            _key_invalid(F.col("_gk"), ktype).cast("long")
        ).alias("_bad_keys"),
        F.min("_gk").alias("_lo"),
        F.max("_gk").alias("_hi"),
    )
    # The envelope-overlap audit runs IN Spark (lead() over the tiny
    # bucket table) so the comparison uses Spark's own ordering
    # semantics — a driver-side Python `<=` on collected Rows disagrees
    # with Spark for struct keys (Row tuples) and raises bare
    # TypeErrors on mixed-null fields. Single-partition window is fine:
    # the frame holds at most max_buckets rows unless the query fails.
    # It is not cut with limit(max_buckets + 1): the optimizer would
    # size it at max_buckets + 1 rows in every consumer's join estimate
    # and turn their broadcast joins into sort-merge joins. The offsets
    # are a running count over the SAME single-partition sort, and
    # every contract check guards the join key (a raise_error branch
    # feeding the join condition cannot be pruned away, whatever the
    # caller projects) — no collect, no createDataFrame, no driver job
    # per call.
    wb = Window.orderBy("_gb")
    env = per_bucket.select(
        "_gb",
        "_bad_keys",
        "_hi",
        F.lead("_lo").over(wb).alias("_next_lo"),
        F.coalesce(
            F.sum("_n").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("_off"),
        F.count(F.lit(1))
        .over(
            wb.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_nb"),
    )
    # NULL buckets would silently vanish in the equi-join below and
    # NULL/NaN keys have no place in a total order — refuse both loudly
    # (the operator's one forbidden failure mode is silent wrongness).
    # The overlap test is NULL-safe: the last bucket's _next_lo is NULL,
    # so `>` yields NULL and the branch falls through.
    off_df = env.select(
        F.col("_off"),
        F.when(
            F.col("_nb") > max_buckets,
            F.raise_error(
                F.lit(
                    f"global_rank bucket expression produced more than "
                    f"{max_buckets} buckets — coarsen it (the bucket "
                    "table rides a broadcast and must stay tiny)"
                )
            ),
        )
        .when(
            F.col("_gb").isNull(),
            F.raise_error(
                F.lit(
                    "global_rank bucket expression is NULL for some "
                    "row(s) — a NULL bucket has no rank position; "
                    "filter or coalesce those rows first"
                )
            ),
        )
        .when(
            F.col("_bad_keys") > 0,
            F.raise_error(
                F.format_string(
                    "global_rank key is NULL or NaN for %s row(s) in "
                    "bucket %s (struct keys: any field) — neither "
                    "admits a total order; filter or coalesce them "
                    "first",
                    F.col("_bad_keys"),
                    F.col("_gb").cast("string"),
                )
            ),
        )
        .when(
            F.col("_hi") > F.col("_next_lo"),
            F.raise_error(
                F.format_string(
                    "global_rank bucket expression is not monotone in "
                    "the requested order: bucket %s envelope max %s "
                    "exceeds the next bucket's min %s — ranks would "
                    "interleave across buckets",
                    F.col("_gb").cast("string"),
                    F.col("_hi").cast("string"),
                    F.col("_next_lo").cast("string"),
                )
            ),
        )
        .otherwise(F.col("_gb"))
        .alias("_gb2"),
    )
    w = Window.partitionBy("_gb").orderBy("_gk")
    # NULL-SAFE join key (r15): a plain inner equi-join lets the
    # optimizer infer isnotnull(_gb) on both sides, which would drop a
    # NULL-bucket row — and its raise_error guard — before either
    # evaluates, i.e. the silent-wrongness failure mode this operator
    # forbids. <=> blocks that inference, so the NULL-bucket row meets
    # its guard and the query refuses loudly.
    return (
        with_b.join(
            F.broadcast(off_df),
            F.col("_gb").eqNullSafe(F.col("_gb2")),
        )
        .withColumn(
            rank_col,
            (F.col("_off") + F.row_number().over(w)).cast("long"),
        )
        .drop("_gb", "_gb2", "_gk", "_off")
    )


def winsorized_stats(
    df: DataFrame, key_col: str, value_col: str, p: float = 0.01
) -> DataFrame:
    """Per-key winsorization audit: clamp ``value_col`` to its per-key
    [p, 1-p] order statistics and report the bounds plus the clamped
    mean — the outlier-taming pass a feature pipeline runs before
    normalization.

    The bounds are DISCRETE order statistics (the rank-⌈p·n⌉ smallest
    value), not interpolated percentiles: interpolation formulas
    differ across engines in the last ulp ((1-g)·lo + g·hi vs
    lo + g·(hi-lo)), while "the value at rank r" is engine-independent
    — which keeps this operator hash-exact against the SQL oracle.

    Plan: one per-key window sort ranks the values (skew ceiling =
    hottest key, the ``value_percentiles`` trade), a tiny per-key
    bounds table comes back via broadcast, and the clamped aggregate is
    a partial-agg groupBy. Ties sort by value only — equal values make
    rank order among them arbitrary but the VALUE at any rank is still
    deterministic, which is all the bounds read.
    """
    vals = df.select(key_col, value_col).where(F.col(value_col).isNotNull())
    w = Window.partitionBy(key_col).orderBy(value_col)
    ranked = vals.withColumn("_rn", F.row_number().over(w))
    counts = vals.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    lo_rank = F.greatest(F.ceil(F.lit(p) * F.col("_n")), F.lit(1))
    hi_rank = F.greatest(F.ceil(F.lit(1.0 - p) * F.col("_n")), F.lit(1))
    bounds = (
        ranked.join(F.broadcast(counts), key_col)
        .groupBy(key_col)
        .agg(
            F.min(F.when(F.col("_rn") == lo_rank, F.col(value_col))).alias("lo"),
            F.min(F.when(F.col("_rn") == hi_rank, F.col(value_col))).alias("hi"),
            F.first("_n").alias("n"),
        )
    )
    clamped = F.least(F.greatest(F.col(value_col), F.col("lo")), F.col("hi"))
    return (
        vals.join(F.broadcast(bounds), key_col)
        .groupBy(key_col)
        .agg(
            F.first("n").alias("n"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
            (
                F.sum(clamped.cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_winsorized"),
        )
        .orderBy(key_col)
    )


def table_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-pass column profiling — (column_name, n_rows, n_nulls,
    n_distinct, min_str, max_str) per requested column, the dataset
    summary a pipeline publishes next to every snapshot.

    TWO aggregates over the scan, deliberately not one: the basic
    stats (count/nulls/min/max) hash-aggregate in a single pass, and
    the exact multi-column countDistinct hash-aggregates over its
    Expand (rows × |cols|) — but MIXING them in one agg makes Spark
    fall back to SortAggregate keyed on every profiled column at once
    (first()-FILTER over the Expand defeats the hash buffer), which
    benched 3.2 s vs 1.1 s for the split form on 150k orders rows. The
    two 1-row results meet in a trivial cross. Swap in
    ``approx_count_distinct`` at 100 TB if ±2% is acceptable — that
    variant DOES fuse into the basic agg. min/max are cast to string
    so heterogeneous column types share one output schema; cast
    numeric columns to DECIMAL upstream when their string forms must
    be engine-portable (float formatting differs across engines;
    decimal and integer forms do not).
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    basic = df.agg(*aggs)
    distinct = df.agg(
        *[F.count_distinct(F.col(c)).alias(f"_nd_{c}") for c in cols]
    )
    one = basic.crossJoin(F.broadcast(distinct))
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_n_rows").alias("n_rows"),
                (F.col("_n_rows") - F.col(f"_nn_{c}")).alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_str"),
                F.col(f"_max_{c}").alias("max_str"),
            )
            for c in cols
        ]
    )
    return (
        one.select(F.explode(per_col).alias("p"))
        .select("p.*")
        .orderBy("column_name")
    )


def trend_slopes(
    df: DataFrame, group_col: str, x_col: Column, y_col: Column
) -> DataFrame:
    """Per-group closed-form simple linear regression (OLS trend):

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n

    The per-series "is this metric trending up?" primitive — MLlib's
    solver fits one global model with driver-side iteration; this fits
    every group in ONE partial-aggregated shuffle with no model object,
    the right shape for thousands of series.

    Determinism contract (the ``det_mean`` convention): x must be an
    INTEGER column (caller buckets timestamps to epoch hours/days
    first); Σx and Σx² fold as exact DECIMALS — a plain BIGINT sum of
    x² wraps SILENTLY under non-ANSI Spark once n·x² passes 9.2e18,
    which epoch-hour x reaches at ~4e7 rows per group (review r7) —
    the decimal(19,0) carrier multiplies to decimal(38,0), whose 1e38
    cap is beyond any physical corpus. Σy and Σxy accumulate as exact
    decimals (x·y formed in double — one exact IEEE multiply — then
    cast). The final slope/intercept are a fixed sequence of IEEE ops
    on deterministic sums — partition-invariant and bit-identical to
    the SQL oracle (DuckDB's HUGEINT sums are exact over the same
    range, and both engines round the exact integer to the same
    double). Groups with n < 2 or zero x-variance emit NULLs.

    Conditioning note: the sums are exact, but the one-pass identity
    n·Σx² − (Σx)² cancels catastrophically when |x| ≫ x's spread
    (epoch hours: offset ~5e5, spread ~1e4 → relative slope error
    ~1e-6; offset 2e9 → ~5e-4). The result is still deterministic and
    oracle-identical; when more precision matters, center x per group
    first (x − min(x)) — a second cheap aggregate, caller's choice."""
    x = x_col.cast("long")
    xd = x.cast("decimal(19,0)")
    y = y_col.cast("double")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("_sx"),
        F.sum(xd * xd).alias("_sxx"),
        F.sum(y.cast("decimal(30,6)")).cast("double").alias("_sy"),
        F.sum((x.cast("double") * y).cast("decimal(38,6)"))
        .cast("double")
        .alias("_sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    den = n * sxx - sx * sx
    slope = F.when(
        (F.col("n") > 1) & (den != 0),
        (n * F.col("_sxy") - sx * F.col("_sy")) / den,
    )
    return agg.select(
        group_col,
        F.col("n"),
        slope.alias("slope"),
        ((F.col("_sy") - slope * sx) / n).alias("intercept"),
    )


def zscore_normalize(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Per-key z-score standardization — the feature-normalization pass
    an ML pipeline runs before training — with ORDER-INDEPENDENT
    moments: ``stddev_samp`` partial-aggregates float sums in shuffle
    order, so its last ulp (and any z built on it) varies run to run;
    here Σv and Σv² are exact DECIMAL sums (the ``det_mean``
    convention, value² formed in double first — one exact IEEE
    multiply — then cast), and the variance

        var = (Σv² − (Σv)²/n) / (n − 1)

    is a fixed sequence of IEEE double ops on deterministic inputs —
    bit-stable under any partitioning and bit-identical to the SQL
    oracle. Keys with one row or zero variance emit NULL z (nothing to
    standardize); the textbook cancellation caveat of this one-pass
    formula is bounded by the decimal sums being exact (error enters
    only in the final three float ops).

    Plan: one partial-agg groupBy builds the tiny per-key moment table,
    which broadcasts back onto the rows — no window, no second shuffle
    of the data.

    Value-domain bound (loud guard): v² is cast to decimal(38,6), which
    holds 32 integer digits — under non-ANSI Spark a |v| ≳ 1e16 row
    overflows that cast to NULL and would be SILENTLY dropped from Σv²,
    skewing the variance (the operator family's forbidden failure mode;
    the DuckDB oracle errors instead), and an in-bound SUM can overflow
    the same way for large groups. The moment aggregate therefore also
    computes max(|v|) and the plan raises per offending key unless
    |v| < 1e15 AND n·max|v|² < 1e31 AND n·max|v| < 1e23 (a decimal
    digit of headroom under the 1e32 / 1e24 carrier caps) — rescale
    the column first if the domain is genuinely that large.
    """
    # a NULL key never joins, so its rows are dropped here rather than
    # meeting the guard below (they reach no output to skew)
    vals = df.select(key_col, value_col).where(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    )
    v = F.col(value_col)
    moments = vals.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(v.cast("decimal(30,6)")).cast("double").alias("_s1"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("_s2"),
        F.max(F.abs(v)).alias("_vmax"),
    )
    mean = F.col("_s1") / F.col("_n")
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n")) / (
        F.col("_n") - 1
    )
    # guard rides the broadcast join key, so Catalyst cannot prune it
    # whatever the caller projects (a raise_error branch feeding the
    # join condition is evaluated for every stats row the join reads,
    # and counting or projecting the result still needs the join); the
    # branch only raises for an offending key. Two bounds (review r7:
    # the per-row cast bound alone is not enough — in-bound values can
    # still overflow the SUM to NULL silently): the per-row v² cast
    # (|v| < 1e15) AND the accumulated sums, conservatively
    # n·vmax² < 1e31 for Σv² (decimal(38,6) holds 1e32) and
    # n·vmax < 1e23 for Σv (decimal(30,6) holds 1e24).
    unsafe = (
        (F.col("_vmax") >= F.lit(1e15))
        | (F.col("_vmax") * F.col("_vmax") * F.col("_n") >= F.lit(1e31))
        | (F.col("_vmax") * F.col("_n") >= F.lit(1e23))
    )
    key = F.when(
        unsafe,
        F.raise_error(
            F.concat(
                F.lit(
                    "zscore_normalize: value domain too large for the"
                    " exact decimal moment sums (max|v| = "
                ),
                F.col("_vmax").cast("string"),
                F.lit(", n = "),
                F.col("_n").cast("string"),
                F.lit(
                    "); need |v| < 1e15 AND n*max|v|^2 < 1e31 AND"
                    " n*max|v| < 1e23 — otherwise the decimal cast or"
                    " sum would overflow to NULL and silently skew the"
                    " variance. Rescale the column first."
                ),
            )
        ),
    ).otherwise(F.col(key_col))
    stats = moments.select(
        key.alias("_key"),
        mean.alias("_mean"),
        F.when((F.col("_n") > 1) & (var > 0), F.sqrt(var)).alias("_sd"),
    )
    return (
        vals.join(F.broadcast(stats), F.col(key_col) == F.col("_key"))
        .select(
            key_col,
            v.alias(value_col),
            ((v - F.col("_mean")) / F.col("_sd")).alias("z"),
        )
        .orderBy(key_col, value_col)
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_bucket: Column,
    y_bucket: Column,
    materialize: bool = True,
) -> DataFrame:
    """Spearman rank correlation ρ between two columns — monotone
    association, the distribution-free complement of Pearson (which
    the profile/trend family already covers via exact moments): rank
    both columns with AVERAGE ranks for ties (the textbook treatment;
    Spearman = Pearson on those ranks), then one exact-moment Pearson.

    Scale discipline: ranks come from ``global_rank`` (the verified
    total-order partitioner — NO single-partition window over the
    data; callers supply the same monotone bucket expressions that
    operator requires), tie-averaging is a per-value groupBy on
    2·min(rank)+count−1 (an INTEGER — doubling the average rank keeps
    every moment exact), and the five moments ride decimal(38,0)
    (bounded by 4n³ — exact past 10¹² rows). The only floats are the
    two sqrt's and one division at the very end, each a single IEEE op
    mirrored verbatim in SQL — partition-order-free, value-exact
    oracle. Rows with a NULL/NaN in either column are excluded up
    front (global_rank refuses invalid keys loudly rather than
    ordering them arbitrarily).

    Returns 1 row: (n, rho).

    ``materialize=True`` (r14) pins the narrow (x, y, bucket)
    projection — and the x-ranked intermediate — with
    ``localCheckpoint``: each ``global_rank`` call consumes its input
    several times (the envelope-audit aggregate, the offsets join,
    the tie fold), and Catalyst shares no common subplans, so the
    un-pinned form re-derived the caller's upstream join ~6× (audited
    at sf0.1: 8 parquet scans / 14 exchanges → 2 scans; the pinned
    frames are 4-6 numeric columns per surviving row — the
    guide-§8 "decide on small rows" proxy table, linear storage).
    Pass ``False`` to trade re-computation for zero pinned storage."""
    # bucket expressions are evaluated against the CALLER's columns
    # here, before the rename — they ride along as materialized cols
    base = df.select(
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        x_bucket.alias("_bx"),
        y_bucket.alias("_by"),
    ).where(
        F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
        & ~F.isnan(F.col("_x").cast("double"))
        & ~F.isnan(F.col("_y").cast("double"))
    )
    if materialize:
        base = base.localCheckpoint(eager=True)

    def avg2_ranks(frame: DataFrame, col: str, bucket_col: str, out: str):
        ranked = global_rank(
            frame, F.col(bucket_col), F.col(col), rank_col="_rk"
        )
        ties = ranked.groupBy(col).agg(
            (2 * F.min("_rk") + F.count(F.lit(1)) - 1).alias(out)
        )
        return ranked.drop("_rk").join(ties, col)

    xr = avg2_ranks(base, "_x", "_bx", "_u")
    if materialize:
        xr = xr.localCheckpoint(eager=True)
    both = avg2_ranks(xr, "_y", "_by", "_v")
    dec = "decimal(38,0)"
    mom = both.select(
        F.col("_u").cast(dec).alias("_u"), F.col("_v").cast(dec).alias("_v")
    ).agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum("_u").alias("_su"),
        F.sum("_v").alias("_sv"),
        F.sum(F.expr("_u * _u")).alias("_suu"),
        F.sum(F.expr("_v * _v")).alias("_svv"),
        F.sum(F.expr("_u * _v")).alias("_suv"),
    )
    # a constant column has zero rank variance — ρ is undefined there,
    # returned as an explicit NULL (ANSI-safe try_divide) rather than
    # an engine-dependent inf/NaN/error
    return mom.select(
        F.col("_n").cast("long").alias("n"),
        F.expr(
            "try_divide(cast(_n * _suv - _su * _sv as double),"
            " sqrt(cast(_n * _suu - _su * _su as double))"
            " * sqrt(cast(_n * _svv - _sv * _sv as double)))"
        ).alias("rho"),
    )


def weighted_percentile(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    q_num: int,
    q_den: int,
) -> DataFrame:
    """Exact weighted q-quantile per group: the smallest value v whose
    cumulative weight reaches q of the group total — the weighted
    median/percentile the unweighted family (``value_percentiles``,
    ``histogram_percentile``) cannot express (a revenue-weighted
    median price weights each row by its quantity, not 1).

    Exactness discipline: ``q`` is the RATIONAL q_num/q_den, weights
    ride decimal(20,6) sums, and the threshold test is the cross-
    multiplied integer-exact comparison ``cum·q_den ≥ total·q_num`` —
    no float threshold, so ties and boundary rows resolve identically
    on any engine and any partitioning. Ties are folded BEFORE the
    window by the distinct-(group, value) pre-aggregation below, so
    every frame row is a distinct value and ROWS ≡ RANGE — all rows
    tied on a value enter the cumulative together, which is what makes
    the answer well-defined under duplicate values.

    Plan: one partial-agg groupBy to the DISTINCT (group, value) table
    with summed weights, then the cumulative window over THAT table —
    the window input is bounded by |distinct values|, not rows, which
    is what holds on a tiny group domain (the 100× probe of the
    row-windowed form measured slope 108.8 on 3 groups: per-group
    sorts of the whole fact table; value domains grow sub-linearly in
    any real corpus, so the pre-aggregated form stays under the line).
    Summing weights per distinct value before the cumulative is an
    exact identity — it folds ties the way a RANGE frame over raw rows
    would, and decimal sums are associative. NULL values/weights and non-positive
    weights are excluded up front (a zero/negative weight has no place
    in a CDF)."""
    if q_den < 1 or not 0 < q_num <= q_den:
        raise ValueError(
            f"weighted_percentile needs 0 < q_num/q_den <= 1, got "
            f"{q_num}/{q_den}"
        )
    groups = list(group_cols)
    v = F.col(value_col)
    wt = F.col(weight_col).cast("decimal(20,6)")
    base = (
        df.where(v.isNotNull() & F.col(weight_col).isNotNull() & (wt > 0))
        .select(*groups, v.alias("_v"), wt.alias("_w"))
        .groupBy(*groups, "_v")
        .agg(F.sum("_w").alias("_w"))
    )
    win = (
        Window.partitionBy(*groups)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # group total as an unbounded window over the SAME partition keys
    # the cumulative window already shuffles/sorts on (r14): one pass
    # over one exchange, where the former groupBy+join re-derived
    # ``base`` (its scan + distinct-value aggregate) a second time and
    # paid a join exchange. Decimal sums are associative, so the
    # window total is bit-identical to the aggregate total.
    wtot = Window.partitionBy(*groups)
    cum = base.withColumn("_cum", F.sum("_w").over(win)).withColumn(
        "_tot", F.sum("_w").over(wtot)
    )
    return (
        cum
        .where(
            F.col("_cum") * F.lit(q_den) >= F.col("_tot") * F.lit(q_num)
        )
        .groupBy(*groups)
        .agg(F.min("_v").alias(f"weighted_p{q_num}_{q_den}"))
        .orderBy(*groups)
    )


# Floored ppm of Benford's law P(d) = log10(1 + 1/d) — a shared literal
# constant table (both the Spark plan and the SQL oracle carry these
# exact integers, so no runtime transcendental enters the comparison).
BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


def benford_audit(df: DataFrame, col: str) -> DataFrame:
    """Leading-digit distribution of a positive amount column against
    Benford's law — the forensic data-quality screen for fabricated or
    truncated monetary data (naturally-grown multiplicative amounts
    follow log10(1+1/d); synthetic/capped/defaulted ones don't, and the
    per-digit delta says WHERE the distortion sits).

    Exactness discipline: the leading digit is the first character of
    the BIGINT integer part rendered as a string — integer-to-string is
    deterministic in both engines, where a log10-based exponent test
    can straddle a ulp at powers of ten. Shares are integer ppm
    ((1e6·n) div total) against the floored literal constants above, so
    every output column is an exact BIGINT. Rows with NULL or value < 1
    are out of domain and excluded (Benford is about magnitudes ≥ 1;
    sub-unit amounts need rescaling, which is the caller's semantic
    call, not this audit's).

    Plan: one partial-agg shuffle to the ≤9-row digit table; the total
    and the digit spine (all nine digits emit a row even at count 0 —
    a MISSING digit is the loudest Benford violation there is) are
    single-row/9-row broadcasts. Output is 9 rows regardless of input
    size.

    Value-domain bound (loud guard): the digit rides a BIGINT cast,
    which non-ANSI Spark SATURATES at 2^63−1 for larger doubles — a
    v ≥ 2^63 row would silently read digit 9 (the DuckDB oracle errors
    instead). The digit aggregate carries max(v) and the plan raises if
    any value ≥ 9.2e18 — rescale the column first."""
    v = F.col(col)
    cnt = (
        df.select(v.alias("_v"))
        .where(v.isNotNull() & (v >= 1))
        .select(
            F.substring(
                F.floor(F.col("_v")).cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit"),
            "_v",
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"), F.max("_v").alias("_vmax"))
    )
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_PPM.items()],
        "digit long, benford_ppm long",
    )
    tot = cnt.agg(F.sum("n").alias("_t"), F.max("_vmax").alias("_vmax"))
    guarded_t = F.when(
        F.col("_vmax") >= F.lit(9.2e18),
        F.raise_error(
            F.concat(
                F.lit(
                    "benford_audit: max value "
                ),
                F.col("_vmax").cast("string"),
                F.lit(
                    " >= 9.2e18 — the BIGINT digit cast saturates there"
                    " and would silently misread the leading digit as 9."
                    " Rescale the column first."
                ),
            )
        ).cast("long"),
    ).otherwise(F.col("_t"))
    joined = (
        spine.join(cnt, "digit", "left")
        .crossJoin(F.broadcast(tot.select(guarded_t.alias("_t"))))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_obs"),
            F.expr("(1000000 * coalesce(n, 0)) div _t")
            .cast("long")
            .alias("obs_ppm"),
            "benford_ppm",
        )
    )
    return joined.select(
        "digit",
        "n_obs",
        "obs_ppm",
        "benford_ppm",
        (F.col("obs_ppm") - F.col("benford_ppm")).alias("delta_ppm"),
    ).orderBy("digit")


def _lower_median(
    frame: DataFrame, groups: Sequence[str], col: str, out: str
) -> DataFrame:
    """Exact per-group LOWER median: the smallest value whose cumulative
    count reaches half the group size (2·cum ≥ n, the unit-weight case
    of ``weighted_percentile``'s rational threshold — integer-exact, no
    float midpoint averaging, so the answer is always an actual data
    value and resolves identically on any engine). Counts are
    pre-aggregated per DISTINCT (group, value) so the cumulative
    window runs on the distinct-value table, not the rows (exact
    identity — the pre-aggregation folds ties, making the ROWS frame
    below behave as RANGE would on raw rows; bounds per-group window
    cost by the value domain, the ``weighted_percentile`` scale fix). One partial-agg groupBy + one window + one total."""
    agg = frame.groupBy(*groups, col).agg(F.count(F.lit(1)).alias("_c"))
    win = (
        Window.partitionBy(*groups)
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # group total via an unbounded window over the same partition keys
    # the cumulative already shuffles/sorts on (r14, the
    # weighted_percentile fix): integer sums are associative, so the
    # window total is bit-identical to the former groupBy+join total —
    # and ``agg`` is derived once instead of twice.
    cum = agg.withColumn("_cumn", F.sum("_c").over(win)).withColumn(
        "_totn", F.sum("_c").over(Window.partitionBy(*groups))
    )
    return (
        cum.where(F.col("_cumn") * 2 >= F.col("_totn"))
        .groupBy(*groups)
        .agg(F.min(col).alias(out))
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k_num: int = 3,
    k_den: int = 1,
    materialize: bool = True,
) -> DataFrame:
    """Robust per-key outlier detection via median absolute deviation:
    rows with |v − median| > (k_num/k_den)·MAD — the screen that keeps
    working when the outliers themselves poison mean/stddev (a single
    1e9 spike inflates ``value_outliers``'s σ until nothing is 3σ out;
    the median and MAD barely move — the breakdown-point argument,
    Hampel 1974). The threshold multiple stays a RATIONAL so both
    sides of the comparison are one IEEE multiply each — no float
    division enters.

    Both medians are the exact LOWER median (rational-threshold
    cumulative counts; ties folded by the distinct-(key, value)
    pre-aggregation, so ROWS ≡ RANGE) — actual data values,
    engine-portable, no interpolation. MAD = 0 (at least half the
    values equal the median) degenerates to flagging every v ≠ median
    that is textbook MAD behavior on discrete/saturated domains and
    exactly what the oracle computes.

    Plan: two window shuffles (value order, then deviation order) +
    two partial-agg totals + one final fold — all on (key, value)
    pairs, no driver collection. NULL/NaN values are excluded up front
    (NaN orders AFTER every double in Spark but its |v − med| is NaN,
    which would poison the deviation median on one engine and not the
    other)."""
    v = F.col(value_col)
    # r14 subtree pinning: ``base`` feeds the median chain AND the
    # deviation join, ``dev`` feeds the MAD chain AND the flag fold,
    # and the per-key median/MAD rows are consumed by joins — Catalyst
    # re-derives each reference, so the un-pinned plan scanned the
    # fact table 9×. Pinning the narrow (_k, _v) projection plus the
    # two per-key single-row tables makes it ONE scan; ``dev`` stays
    # lazy (pinned base ⋈ broadcast median is cheap to derive twice).
    # ``materialize=False`` trades the re-scans back for lineage (see
    # ``_pin`` on the executor-loss failure mode).
    base = _pin(
        df.select(F.col(key_col).alias("_k"), v.alias("_v")).where(
            v.isNotNull() & ~F.isnan(v)
        ),
        materialize,
    )
    med = _pin(_lower_median(base, ["_k"], "_v", "_med"), materialize)
    dev = base.join(med, "_k").select(
        "_k", "_v", "_med", F.abs(F.col("_v") - F.col("_med")).alias("_d")
    )
    mad = _pin(_lower_median(dev, ["_k"], "_d", "_mad"), materialize)
    flagged = dev.join(mad, "_k").select(
        "_k",
        "_med",
        "_mad",
        (F.col("_d") * F.lit(float(k_den)) > F.lit(float(k_num)) * F.col("_mad"))
        .cast("long")
        .alias("_out"),
    )
    return (
        flagged.groupBy("_k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.first("_med").alias("median"),
            F.first("_mad").alias("mad"),
            F.sum("_out").alias("n_outliers"),
        )
        .select(
            F.col("_k").alias(key_col),
            "n_rows",
            "median",
            "mad",
            "n_outliers",
        )
        .orderBy(key_col)
    )


def equidepth_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 8,
    max_distinct: int = 1 << 20,
) -> DataFrame:
    """Exact equi-depth (quantile) binning — the feature-discretization
    pass an ML pipeline runs before bucketed models / monotone binning
    (each bin holds ~n/B rows by construction, where equi-WIDTH bins
    collapse under skew). Edge i is the smallest value whose cumulative
    count reaches i·n/B — the ``weighted_percentile`` rational
    threshold at every i at once:

        edge_i = min{ v : cum(v)·B ≥ n·i },  i = 1..B

    A distinct value spanning cumulative mass (cum_prev, cum] serves as
    edge for every integer i in (cum_prev·B/n, cum·B/n] — computed as
    the integer sequence [cum_prev·B div n + 1 .. cum·B div n], pure
    column algebra (one sequence-explode), no driver loop and no float
    thresholds, so ties and boundaries resolve identically on any
    engine. Per-bin counts fall out of the SAME cumulative column:
    n_rows_i = cum(edge_i) − cum(edge_{i−1}).

    Plan: one partial-agg groupBy to the distinct-value count table,
    then ONE unpartitioned cumulative window over it — deliberate and
    bounded: the table is |distinct values|, guarded by a loud refusal
    past ``max_distinct`` (the ``ks_two_sample`` discipline; a
    near-unique continuous column should be pre-rounded or routed to
    ``histogram_percentile``'s fixed bins). NULL/NaN excluded up
    front. Output: (bin, hi, n_rows), B rows."""
    if n_bins < 2:
        raise ValueError(f"equidepth_bins: n_bins must be >= 2, got {n_bins}")
    v = F.col(value_col)
    vc = (
        df.select(v.alias("_v"))
        .where(v.isNotNull() & ~F.isnan(v))
        .groupBy("_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.select(
        "_v",
        F.sum("_c").over(w).alias("_cum"),
        (F.sum("_c").over(w) - F.col("_c")).alias("_prev"),
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_nd"),
        F.sum("_c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    guard = F.when(
        F.col("_nd") > F.lit(max_distinct),
        F.raise_error(
            F.concat(
                F.lit("equidepth_bins: "),
                F.col("_nd").cast("string"),
                F.lit(
                    f" distinct values exceed the {max_distinct} bound for"
                    " the single cumulative window — pre-round the column"
                    " or use histogram_percentile's fixed bins."
                ),
            )
        ).cast("long"),
    ).otherwise(F.col("_cum"))
    lo_i = F.expr(f"(_prev * {n_bins}) div _n") + 1
    hi_i = F.expr(f"(_cum * {n_bins}) div _n")
    edges = (
        cum.withColumn("_cum", guard)
        .where(hi_i >= lo_i)
        .select(
            F.explode(F.sequence(lo_i, hi_i)).alias("bin"),
            F.col("_v").alias("hi"),
            "_cum",
        )
    )
    wb = Window.orderBy("bin")
    return edges.select(
        "bin",
        "hi",
        (F.col("_cum") - F.coalesce(F.lag("_cum").over(wb), F.lit(0))).alias(
            "n_rows"
        ),
    ).orderBy("bin")


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_distinct: int = 1 << 20,
) -> DataFrame:
    """2-D skyline (Pareto frontier, both dimensions MAXIMIZED):
    rows no other row dominates — dominates = ≥ on both dimensions,
    strictly > on at least one (Börzsönyi-Kossmann-Stocker, ICDE 2001;
    the multi-objective "best trade-offs" query: biggest-and-most-
    recent orders, cheapest-and-fastest suppliers).

    The quadratic NOT-EXISTS definition collapses to the classic
    sort-scan identity on the DISTINCT POINT set: with ymax(x) = the
    best y at x and A(x) = max ymax over all strictly larger x, a row
    is on the frontier iff

        y = ymax(x)  AND  (A(x) IS NULL OR y > A(x))

    (equal-x rows below their column's best are dominated within the
    column; anything ≤ the best y of a larger x is dominated by that
    point; equal points do NOT dominate each other, so ties on the
    frontier all survive). A(x) is one lag-of-running-max window over
    the distinct-x table — bounded by |distinct x|, guarded loudly
    past ``max_distinct`` (the ``equidepth_bins`` discipline), never
    the row count. Exact comparisons only — no floats are derived, so
    any orderable column types work. NULLs in either dimension are
    excluded up front (no place in a dominance order).

    Plan: one partial-agg groupBy to the distinct-x table, ONE
    unpartitioned window over it, then a broadcast-size join of the
    frontier points back to the rows."""
    x, y = F.col(x_col), F.col(y_col)
    base = df.where(x.isNotNull() & y.isNotNull())
    per_x = base.groupBy(x.alias("_x")).agg(
        F.max(y).alias("_ymax"), F.count(F.lit(1)).alias("_n")
    )
    w = Window.orderBy(F.desc("_x")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    nd = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    ).orderBy(F.lit(1))
    guard = F.when(
        F.count(F.lit(1)).over(nd) > F.lit(max_distinct),
        F.raise_error(
            F.lit(
                f"skyline_2d: more than {max_distinct} distinct x values"
                " for the single frontier window — bucket the dimension"
                " first."
            )
        ).cast(per_x.schema["_ymax"].dataType.simpleString()),
    ).otherwise(F.max("_ymax").over(w))
    frontier = (
        per_x.withColumn("_a", guard)
        .where(F.col("_a").isNull() | (F.col("_ymax") > F.col("_a")))
        .select("_x", "_ymax")
    )
    return base.join(
        F.broadcast(frontier),
        (x == F.col("_x")) & (y == F.col("_ymax")),
    ).drop("_x", "_ymax")


def quantile_match(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ref_key,
    materialize: bool = True,
) -> DataFrame:
    """Exact quantile normalization: map every key's value distribution
    onto the REFERENCE key's distribution — each distinct value v of
    key k is replaced by the smallest reference value whose cumulative
    fraction reaches v's cumulative fraction within k (CDF matching,
    the genomics quantile-normalization / feature-alignment transform:
    after it, every key's marginal IS the reference marginal up to
    rank granularity).

    Exactness discipline: cumulative fractions live on DIFFERENT
    denominators (n_k rows in key k, n_r in the reference), so
    comparing cum_k/n_k ≥ cum_r/n_r in floats could flip at near-ties.
    Within a key both denominators are constants, so each side scales
    by the other's: probe sort key cum_k·n_r, reference sort key
    cum_r·n_k — exact BIGINTs, and the match condition becomes plain
    integer order. The match itself is the union-scan trick: probe and
    reference rows interleave in one DESCENDING sort per key
    (reference first on ties, because a reference at exactly the
    probe's fraction IS the match), and a running last-non-null over
    the reference value column hands every probe the smallest
    reference fraction ≥ its own — one window, no inequality join, no
    quadratic candidate set.

    Plan: both cumulative tables ride the distinct-value discipline
    (groupBy (key, value) first — window inputs are value domains, not
    rows); the reference table replicates per key through a broadcast
    (it is one key's distinct values). Two loud guards (r8 ADVICE):
    a ``ref_key`` matching no usable rows (typo, or every reference
    value NULL/NaN) raises instead of silently emitting matched=NULL
    for every probe row, and any key past the BIGINT-safe row bound
    raises instead of letting a cum·n product wrap. Overflow bound:
    both factors of every product are ≤ some key's row count, so
    capping every key at floor(sqrt(2^63−1)) ≈ 3.03e9 rows makes
    wrap impossible — far past any keyed slice; beyond, bucket
    first.

    Output: (key, value, n, matched) per distinct (key, value),
    matched = the reference-distribution value. Reference-key rows map
    to themselves (the identity sanity check rides in the result)."""
    k, v = F.col(key_col), F.col(value_col)
    # r14 subtree pinning: base feeds cum + tot, cum feeds ref + the
    # probe rows, tot feeds the cum join + keys — un-pinned, the fact
    # table was scanned 7×. base (the distinct-(key, value) table —
    # value-domain-sized, the same bound the window relies on) and the
    # joined cum table are pinned; everything downstream derives from
    # them. ONE fact scan.
    # ``materialize=False`` trades the re-scans back for lineage (see
    # ``_pin`` on the executor-loss failure mode)
    base = _pin(
        df.where(k.isNotNull() & v.isNotNull() & ~F.isnan(v))
        .groupBy(k.alias("_k"), v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c")),
        materialize,
    )
    wcum = Window.partitionBy("_k").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = base.withColumn("_cum", F.sum("_c").over(wcum))
    # both factors of every cum·n product are key row counts, so one
    # per-key bound makes BIGINT wrap impossible; the guard rides _n,
    # which feeds both products, so Catalyst cannot prune it
    lim = 3_037_000_499  # floor(sqrt(2^63 - 1))
    tot = (
        base.groupBy("_k")
        .agg(F.sum("_c").alias("_raw_n"))
        .select(
            "_k",
            F.when(
                F.col("_raw_n") > lim,
                F.raise_error(
                    F.concat(
                        F.lit("quantile_match: key "),
                        F.col("_k").cast("string"),
                        F.lit(" has "),
                        F.col("_raw_n").cast("string"),
                        F.lit(
                            f" rows > {lim} — the exact cum·n BIGINT"
                            " sort keys would wrap; bucket values"
                            " first"
                        ),
                    )
                ),
            )
            .otherwise(F.col("_raw_n"))
            .alias("_n"),
        )
    )
    cum = _pin(cum.join(tot, "_k"), materialize)
    ref = (
        cum.where(F.col("_k") == F.lit(ref_key))
        .select(
            F.col("_v").alias("_rv"),
            F.col("_cum").alias("_rcum"),
            F.col("_n").alias("_rn"),
        )
    )
    keys = tot.select("_k", "_n")
    ref_rows = keys.crossJoin(F.broadcast(ref)).select(
        "_k",
        F.lit(None).cast(base.schema["_v"].dataType).alias("_v"),
        F.lit(None).cast("long").alias("_c"),
        (F.col("_rcum") * F.col("_n")).alias("_sort"),
        F.col("_rv").alias("_refv"),
    )
    # an aggregate over an EMPTY reference still yields one row, with
    # NULL _rn — a missing/typo'd ref_key (or one whose values are all
    # NULL/NaN) must fail loudly here, not propagate matched=NULL
    rn_checked = F.when(
        F.col("_rn").isNull(),
        F.raise_error(
            F.lit(
                f"quantile_match: reference key {ref_key!r} has no"
                " non-null, non-NaN rows — nothing to match onto"
            )
        ),
    ).otherwise(F.col("_rn"))
    probe_rows = cum.crossJoin(
        F.broadcast(ref.agg(F.max("_rn").alias("_rn")))
    ).select(
        "_k",
        "_v",
        "_c",
        (F.col("_cum") * rn_checked).alias("_sort"),
        F.lit(None).cast(ref.schema["_rv"].dataType).alias("_refv"),
    )
    both = ref_rows.unionByName(probe_rows)
    # descending scan: reference rows first on sort-key ties (equal
    # fraction -> that reference IS the match); running last non-null
    # reference value = smallest reference fraction >= the probe's
    wscan = (
        Window.partitionBy("_k")
        .orderBy(F.desc("_sort"), F.col("_refv").isNull().cast("int"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        both.withColumn(
            "matched", F.last("_refv", ignorenulls=True).over(wscan)
        )
        .where(F.col("_v").isNotNull())
        .select(
            F.col("_k").alias(key_col),
            F.col("_v").alias(value_col),
            F.col("_c").alias("n"),
            "matched",
        )
        .orderBy(key_col, value_col)
    )
