"""Streaming bronze/silver ingest (SURVEY.md §2.8).

The reference's batch loop — 7-day fetch chunks → parse → align →
idempotent upsert (``nasa.py:160-177``) — maps onto Structured
Streaming as:

- source: file-drop of NASA payload JSON (one file per fetched chunk);
  each micro-batch is one chunk — the direct analog of the loop body.
- exactly-once effect: ``foreachBatch`` + keyed merge_upsert — the
  idempotent sink makes replays observable no-ops, like the
  reference's ``ON CONFLICT DO UPDATE`` re-runs (``README.md:36``).
- late data: watermark on ts_utc (default 48 h). In-watermark
  duplicates resolve inside the merge (latest ingested_at wins —
  reference semantics, ``silver_clean.py:99-101``, which plain
  ``dropDuplicates`` would get wrong: it keeps *first* seen).
  Beyond-watermark corrections take the batch merge path.
- silver: tumbling 1 h windows (``window(ts_utc, '1 hour')``) mirror
  the hour-floor binning (``silver_clean.py:85``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.upsert import merge_upsert
from ..sources.nasa_power import payloads_to_bronze

WATERMARK = "48 hours"


def read_payload_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-drop source: JSON lines files with (site, payload) columns —
    one file per fetch chunk = one micro-batch per trigger."""
    return (
        spark.readStream.schema("site STRING, payload STRING")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )


def _parse_once(batch: DataFrame, ingested_at) -> DataFrame:
    """The micro-batch parsed to Bronze rows and pinned
    (``localCheckpoint``): the sink's merge reads the delta twice (the
    touched partitions, then the merge itself), and each read would
    otherwise re-run the JSON parse and its alignment shuffle over the
    batch's files. An empty batch pins no rows and the sink writes
    nothing. If the pin is lost the batch fails, and the restarted query
    replays it into the idempotent sink."""
    return payloads_to_bronze(batch, ingested_at).localCheckpoint()


def stream_to_bronze(
    stream: DataFrame,
    bronze_path: str,
    checkpoint_dir: str,
    ingested_at=None,
) -> StreamingQuery:
    """payload stream → parse/align → idempotent keyed upsert per batch.

    The merge runs inside foreachBatch so the sink stays exactly-once
    in effect even though the parse re-runs on replay: same keys, same
    recency resolution, same bytes.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch.sparkSession,
            bronze_path,
            _parse_once(batch, ingested_at),
            keys=["site", "ts_utc"],
            order_col="ingested_at",
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hourly_stream_aggregate(
    events: DataFrame, ts_col: str = "ts_utc", deterministic: bool = False
) -> DataFrame:
    """Watermarked tumbling-hour aggregate — the streaming form of the
    silver hour binning. Emits one row per (site, hour) with mean obs;
    state for hours older than the watermark is dropped.

    ``deterministic=True`` computes means as exact-decimal sums divided
    by counts: float ``avg`` partial-aggregates in shuffle order, so
    two runs (or two engines) can differ in the last ulp — enough to
    flip a rounded digit when the true mean sits on a rounding
    boundary. Decimal(20,6) summation is exact, so the quotient is
    bit-stable under any partitioning. Costs ~2× on the agg; the
    default float path is fine when the consumer doesn't hash-compare.
    """

    def mean(c: str):
        if deterministic:
            return (
                F.sum(F.col(c).cast("decimal(20,6)")).cast("double") / F.count(c)
            ).alias(c)
        return F.avg(c).alias(c)

    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy("site", F.window(F.col(ts_col), "1 hour").alias("w"))
        .agg(
            mean("ghi_wm2"),
            mean("t2m_c"),
            mean("ws10_mps"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select("site", F.col("w.start").alias("ts_utc"), "ghi_wm2", "t2m_c", "ws10_mps", "n_obs")
    )


def stream_session_aggregate(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 28800,
    watermark: str = WATERMARK,
) -> DataFrame:
    """Watermarked streaming sessionization: Spark's merging
    ``session_window`` keeps one open session per user in state,
    extends it while events keep arriving within the gap, and emits +
    evicts it once the watermark passes ``session_end`` (last event +
    gap). The batch twin (``operators.sessions.session_window_stats``)
    is the identical expression without the watermark — the oracle-
    checked `session_window_agg` driver query pins its semantics."""
    w = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_to_silver(
    stream: DataFrame,
    bronze_path: str,
    silver_path: str,
    checkpoint_dir: str,
    ingested_at=None,
) -> StreamingQuery:
    """The full streaming medallion loop in one query: each micro-batch
    is parsed and handed to ``incremental_silver_refresh`` inside
    ``foreachBatch`` — bronze MERGE, then a replace of every touched
    site's Silver partition by the clean of its merged Bronze rows — so
    both tiers commit per micro-batch and replays are observable no-ops
    at both levels (the reference's re-run contract, ``README.md:36``,
    extended to the tier it never built). A later file that invalidates an hour an earlier
    one kept removes that hour from Silver, exactly as a full
    ``clean_to_hourly`` of Bronze would."""
    from ..plans.silver import incremental_silver_refresh

    def sink(batch: DataFrame, batch_id: int) -> None:
        incremental_silver_refresh(
            batch.sparkSession, bronze_path, silver_path,
            _parse_once(batch, ingested_at),
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hourly_stream_distinct_users(
    events: DataFrame,
    ts_col: str = "ts_utc",
    user_col: str = "user_id",
    rsd: float = 0.02,
) -> DataFrame:
    """Watermarked hourly distinct-user estimate (HLL++). Exact
    count(DISTINCT) is unsupported in streaming aggregations for a
    reason — per-window distinct state is unbounded — so the streaming
    form uses the mergeable sketch; the batch twin (exact, oracle-
    checked: ``hourly_distinct_users``) is the accuracy reference, and
    the test asserts the estimate lands within sketch tolerance of it
    on identical data."""
    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct(user_col, rsd=rsd).alias("n_users_approx")
        )
        .select(F.col("w.start").alias("ts_hour"), "n_users_approx")
    )


def stream_dedup_append(
    stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> StreamingQuery:
    """FIRST-WINS streaming dedup of an at-least-once source into an
    append-only sink — the complement of the latest-wins MERGE path
    above (which needs a keyed, rewritable store; this needs only
    append, the cheap sink shape at 100 TB fan-in).

    ``dropDuplicatesWithinWatermark`` keeps the first row per key and
    holds key state ONLY until the watermark passes it, so state is
    bounded by (arrival rate × watermark) instead of the full key
    history — the documented trade: a duplicate arriving later than
    the watermark re-emits (an at-least-once source with bounded
    duplicate lag; pick the watermark past that lag and the output is
    exactly-once per key). The plain ``dropDuplicates`` alternative
    keeps state FOREVER — unbounded at stream scale — which is why it
    has no place here; a true latest-wins correction feed rides the
    MERGE sink instead.

    Sink is native streaming parquet append (checkpoint-tracked file
    manifest → exactly-once files even across crashes; no foreachBatch
    needed because append of deduped rows is idempotent per epoch)."""
    deduped = stream.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(keys)
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
