"""Bronze → Silver clean chain (reference ``silver_clean.py:74-121``).

The reference's 7 pandas steps become one lazy DataFrame chain that
Catalyst fuses into a single pipelined stage with exactly one shuffle
(the per-(site, hour) dedup). At 100 TB, with bronze partitioned by
``site``, the per-site window read is partition-pruned and the dedup
shuffle only carries surviving candidate rows (max_by partial agg).

Step map (reference line → here):
  tz-coerce F4  (silver_clean.py:81-82)  → session TZ=UTC + cast
  hour-floor W1 (silver_clean.py:84-85)  → date_trunc("hour")
  range-nullify O6 (silver_clean.py:88-91) → validation.nullify_out_of_range
  drop-nulls O7 (silver_clean.py:94)     → na.drop
  last-per-group A3 (silver_clean.py:99-101) → latest_per_group (max_by)
  rename/project O2 (silver_clean.py:107-113) → select with aliases
  hourly/tz assertions W3 (silver_clean.py:116-118) → filter assertions
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.validation import WEATHER_RULES, nullify_out_of_range, drop_any_null
from ..operators.relational import latest_per_group

CRITICAL_COLS = ["ghi_wm2", "t2m_c", "ws10_mps"]


def clean_to_hourly(bronze: DataFrame) -> DataFrame:
    """Full Silver transform; returns FACT_WEATHER-shaped rows in
    ``(site, ts_utc)`` order.

    Input: RAW_WEATHER-shaped DataFrame (already range/site filtered by
    the caller — predicates stay outside so they push into the scan).
    """
    return _clean(bronze).orderBy("site", "ts_utc")


def _clean(bronze: DataFrame) -> DataFrame:
    """``clean_to_hourly`` without its global sort. Every output row
    depends on its own ``(site, hour)`` group alone, so the clean of a
    site's Bronze rows is that site's Silver."""
    hourly = bronze.withColumn("ts_hour", F.date_trunc("hour", F.col("ts_utc")))
    validated = nullify_out_of_range(hourly, WEATHER_RULES)
    complete = drop_any_null(validated, CRITICAL_COLS)
    deduped = latest_per_group(
        complete, keys=["site", "ts_hour"], order_col="ingested_at", tiebreak=["ts_utc"]
    )
    fact = deduped.select(
        F.col("site"),
        F.col("ts_hour").alias("ts_utc"),
        F.col("ghi_wm2"),
        F.col("t2m_c").alias("temp_c"),
        F.col("ws10_mps").alias("wind_mps"),
    )
    # W3 write-path assertion: hourly alignment is guaranteed by
    # date_trunc, but keep the reference's explicit guard as a filter so
    # a future non-truncating path can't write misaligned rows.
    return fact.filter((F.minute("ts_utc") == 0) & (F.second("ts_utc") == 0))


def silver_drop_reasons(bronze: DataFrame) -> DataFrame:
    """O12 for the weather pipeline: label every bronze row with the
    reference dashboard's first-failure-wins reason cascade
    (``streamlit/app.py:273-299``): invalid_ghi → invalid_temp →
    invalid_wind → missing_* → duplicate → kept.

    The duplicate rank orders valid rows first (valid DESC, recency
    DESC), so a valid row's row_number is its position among valid rows
    only — reproducing the reference's ``reason.eq("kept")`` guard
    without a second pass.
    """
    from pyspark.sql import Window

    h = bronze.withColumn("ts_hour", F.date_trunc("hour", F.col("ts_utc")))
    invalid_ghi = F.col("ghi_wm2").isNotNull() & (F.col("ghi_wm2") < 0)
    invalid_temp = F.col("t2m_c").isNotNull() & (
        (F.col("t2m_c") < -80) | (F.col("t2m_c") > 80)
    )
    invalid_wind = F.col("ws10_mps").isNotNull() & (F.col("ws10_mps") < 0)
    valid = (
        ~invalid_ghi
        & ~invalid_temp
        & ~invalid_wind
        & F.col("ghi_wm2").isNotNull()
        & F.col("t2m_c").isNotNull()
        & F.col("ws10_mps").isNotNull()
    )
    w = Window.partitionBy("site", "ts_hour").orderBy(
        valid.cast("int").desc(), F.col("ingested_at").desc(), F.col("ts_utc").desc()
    )
    rn = F.row_number().over(w)
    reason = (
        F.when(invalid_ghi, "invalid_ghi")
        .when(invalid_temp, "invalid_temp")
        .when(invalid_wind, "invalid_wind")
        .when(F.col("ghi_wm2").isNull(), "missing_ghi")
        .when(F.col("t2m_c").isNull(), "missing_temp")
        .when(F.col("ws10_mps").isNull(), "missing_wind")
        .when(rn > 1, "duplicate")
        .otherwise("kept")
    )
    return h.withColumn("reason", reason)


def clean_vs_actual_diff(bronze: DataFrame) -> DataFrame:
    """The reference Data-Health page's accidental differential test
    (``streamlit/app.py:477-517``; SURVEY.md §5) made a first-class
    query: the label cascade's kept-count must equal the clean chain's
    output count per site — two independent implementations of the
    same semantics reconciled relationally. diff != 0 is a bug."""
    sim = (
        silver_drop_reasons(bronze)
        .filter(F.col("reason") == "kept")
        .groupBy("site")
        .agg(F.count(F.lit(1)).alias("sim_kept"))
    )
    act = clean_to_hourly(bronze).groupBy("site").agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    return (
        sim.join(act, "site", "full_outer")
        .select(
            "site",
            F.coalesce("sim_kept", F.lit(0)).alias("sim_kept"),
            F.coalesce("actual_rows", F.lit(0)).alias("actual_rows"),
            (
                F.coalesce("sim_kept", F.lit(0)) - F.coalesce("actual_rows", F.lit(0))
            ).alias("diff"),
        )
        .orderBy("site")
    )


def incremental_silver_refresh(
    spark,
    bronze_path: str,
    silver_path: str,
    bronze_delta: DataFrame,
) -> int:
    """Incremental view maintenance for the silver table: merge a
    bronze delta, then recompute ONLY the sites the delta touches — the
    100 TB alternative to re-running the full clean (a delta touching
    0.01% of the sites reads/writes 0.01% of the table). This is the one
    Silver write path; ``stream_to_silver`` calls it once per
    micro-batch.

    Semantics a plain keyed merge cannot give: group *deletion*. If an
    update invalidates every surviving row of an hour (range rules /
    critical nulls / recency dedup), that hour must DISAPPEAR from
    silver; here each touched site is replaced wholesale by the clean of
    its merged Bronze rows (every Silver row depends on its own
    ``(site, hour)`` group alone), so the result is row-identical to a
    full recompute — the tests assert exactly that equivalence.

    IO profile: the bronze merge collects the touched site list (one
    small collect, the only one) and hands it on with its row count;
    the touched sites' Bronze partitions, which the merge has just
    rewritten, are then read back (partition filter, with the schema of
    their footers read on the driver: no inference job) and cleaned.
    Silver is never read. The clean runs in one ``site`` exchange: the
    per-(site, hour) dedup reuses it, the rows are sorted within their
    partitions, and each site leaves one file. Silver's touched sites
    are replaced through ``upsert._staged_overwrite`` (staged write,
    rename publish: a crash leaves the old snapshot readable, a re-run
    converges; the row count rides the write), and a touched site left
    with no rows leaves the table in the same publish. The delta is read
    by the collect and the merge: a caller whose delta is costly to
    compute pins it first (``stream_to_silver`` does). An empty delta
    writes nothing. On Delta this whole function is ``MERGE WHEN
    MATCHED/NOT MATCHED BY SOURCE DELETE`` — the call signature is the
    contract.

    Returns rows now present in the refreshed sites.
    """
    from ..fsutil import parquet_schema
    from ..operators.upsert import (
        _clear_work_dirs, _in_partitions, _staged_overwrite, merge_upsert,
    )

    parts = merge_upsert(spark, bronze_path, bronze_delta, keys=["site", "ts_utc"],
                         order_col="ingested_at").touched
    if not parts:
        return 0  # an empty delta touches no site and writes nothing
    cand = (
        spark.read.schema(parquet_schema(bronze_path, spark, dirs=list(parts)))
        .parquet(bronze_path).filter(_in_partitions(["site"], parts.values()))
    )
    out = _clean(cand.repartition("site")).sortWithinPartitions("site", "ts_utc")
    # recover a crashed writer first: a half-published partition may
    # sit only in Silver's work dirs, which the staged write replaces
    _clear_work_dirs(spark, silver_path)
    return _staged_overwrite(spark, silver_path, out, ["site"], replaced=list(parts))
