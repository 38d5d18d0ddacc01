"""Incremental view maintenance for JOIN views.

The aggregate side of IVM already exists (`aggstate.aggregate_state`
merge ≡ recompute; `plans.silver.incremental_silver_refresh` touched-
site replace).  This module adds the JOIN delta rule for insert-only
updates (Blakeley, Larson & Tompa, SIGMOD 1986; the bag-algebra form
in Griffin & Libkin, SIGMOD 1995): for a view M = A ⋈ B and insert
deltas ΔA, ΔB,

    (A ∪ ΔA) ⋈ (B ∪ ΔB)  =  A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB

as a BAG identity (unionByName is UNION ALL), so maintaining the view
costs three delta-sized joins instead of one full recompute — at
100 TB the full sides are read once at view creation and never again;
each refresh joins |Δ|-sized frames against the (pruned, pre-
partitioned) stored sides.

Deletes ride the COUNTING form (r8, closing the boundary the
insert-only half documented): rows carry a multiplicity column, a
delete is multiplicity −1, joins MULTIPLY multiplicities, and the same
three-term delta rule holds over signed bags (Griffin & Libkin's
algebra; the "counting algorithm" of Gupta, Mumick & Subrahmanian,
SIGMOD 1993). Applying a delta sums multiplicities per row and drops
zeros; a NEGATIVE result means the caller deleted a row the view never
had — refused loudly, never clamped.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def incremental_join_delta(
    a_old: DataFrame,
    b_old: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """ΔM = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — the rows an insert-only refresh
    appends to the stored view.  Exact bag semantics: row
    multiplicities match the full recompute's (tested).  Plan shape:
    the two cross terms join a delta against a stored side (shuffle
    sized by the delta under AQE's build-side pick; with the stored
    side bucketed on the join keys the exchange is one-sided), and the
    ΔA⋈ΔB term is delta×delta (usually broadcast)."""
    on = list(on)
    return (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def incremental_join_view(
    a_old: DataFrame,
    b_old: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """The maintained view after the refresh: M_old ∪ ΔM.  Bag-equal to
    ``(A ∪ ΔA) ⋈ (B ∪ ΔB)`` recomputed from scratch — the property the
    unit test and the driver oracle pin.  In a deployment M_old is the
    STORED view table (read, not recomputed); it is a parameter here
    precisely so the stored-table case and the test's recompute case
    share one code path."""
    m_old = a_old.join(b_old, list(on))
    return m_old.unionByName(
        incremental_join_delta(a_old, b_old, a_delta, b_delta, on)
    )


# ------------------------------------------------ counting form (deletes)


def with_multiplicity(df: DataFrame, mult_col: str = "_mult") -> DataFrame:
    """Collapse a bag to the COUNTING representation: one row per
    distinct tuple with its multiplicity — the storage form counting
    IVM maintains (one partial-agg groupBy; at scale the stored view
    is already in this form, so this runs once at view creation)."""
    return df.groupBy(*df.columns).agg(
        F.count(F.lit(1)).cast("long").alias(mult_col)
    )


def counted_join_delta(
    a_old: DataFrame,
    b_old: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str],
    mult_col: str = "_mult",
) -> DataFrame:
    """Signed delta of a counted join view: the same three-term rule
    as ``incremental_join_delta`` but over COUNTED frames — every
    input carries ``mult_col`` (stored sides positive; deltas signed,
    deletions negative) and a joined row's multiplicity is the PRODUCT
    of its inputs' (the bag-join law, which is what makes the identity
    hold for inserts and deletes uniformly). Three delta-sized joins,
    exactly the insert-only plan shape."""
    on = list(on)

    def j(x: DataFrame, y: DataFrame) -> DataFrame:
        xm = x.withColumnRenamed(mult_col, "_ma")
        ym = y.withColumnRenamed(mult_col, "_mb")
        return (
            xm.join(ym, on)
            .withColumn(mult_col, F.col("_ma") * F.col("_mb"))
            .drop("_ma", "_mb")
        )

    return (
        j(a_delta, b_old)
        .unionByName(j(a_old, b_delta))
        .unionByName(j(a_delta, b_delta))
    )


def apply_counted_delta(
    view_old: DataFrame, delta: DataFrame, mult_col: str = "_mult"
) -> DataFrame:
    """Fold a signed delta into a counted view: sum multiplicities per
    tuple, drop zeros, REFUSE negatives (a negative multiplicity means
    a delete of a row the view never contained — silently clamping it
    would hide a corrupted delta feed). Expressed as a full groupBy so
    the driver oracle can certify maintenance ≡ recompute; a deployment
    routes the delta-sized result through a keyed MERGE instead (the
    ``merge_upsert`` family), touching only affected partitions."""
    cols = [c for c in view_old.columns if c != mult_col]
    merged = view_old.unionByName(delta).groupBy(*cols).agg(
        F.sum(mult_col).alias(mult_col)
    )
    guarded = merged.withColumn(
        mult_col,
        F.when(
            F.assert_true(
                F.col(mult_col) >= 0,
                "apply_counted_delta: negative multiplicity — the delta "
                "deletes a row the view does not contain",
            ).isNull(),
            F.col(mult_col),
        ),
    )
    return guarded.where(F.col(mult_col) > 0)
