"""NASA POWER payload source (reference ``fastapi/app/etl/nasa.py``).

The reference fetches JSON over HTTP driver-side and parses it with
nested Python loops (``nasa.py:58-108``). Here the payload lands as
JSON text (file drop or HTTP fetch — transport stays at the edge) and
the *parse* runs distributed: ``from_json`` → ``explode`` → shape
dispatch → full-outer alignment in one aggregate. Both payload shapes
(F10, ``nasa.py:62-75``) are handled in one pass:

- shape A: ``{"yyyymmddhh": float-or-null}`` — hourly keys
- shape B: ``{"yyyymmdd": [24 hourly floats]}`` — day keys, hour = index

Malformed keys → NULL timestamp → dropped, matching the reference's
``continue`` (``nasa.py:73-74``). JSON nulls survive as NULL doubles
(kept in Bronze, ``nasa.py:67,75``).

Scale: one payload row fans out to (params × hours) rows through
generate-only operators (no shuffle); the only shuffle is the final
per-timestamp alignment aggregate, keyed (site, ts_utc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PARAMS = ["ALLSKY_SFC_SW_DWN", "T2M", "WS10M"]
PARAM_COLS = {"ALLSKY_SFC_SW_DWN": "ghi_wm2", "T2M": "t2m_c", "WS10M": "ws10_mps"}

# properties.parameter as map<param, map<key, raw-json-value>>: the inner
# value stays a JSON string so one schema reads both shapes.
_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField(
            "properties",
            T.StructType(
                [
                    T.StructField(
                        "parameter",
                        T.MapType(
                            T.StringType(), T.MapType(T.StringType(), T.StringType())
                        ),
                        True,
                    )
                ]
            ),
            True,
        )
    ]
)


def parse_payloads(payloads: DataFrame, json_col: str = "payload") -> DataFrame:
    """(site, payload-json) rows → long series (site, param, ts_utc, value).

    Shape dispatch is per inner entry: list values (``[..]``) explode by
    position (hour = index, ``nasa.py:63-67``); scalar keys parse as
    ``yyyymmddhh`` (first 10 chars, ``nasa.py:69-75``).
    """
    parsed = payloads.withColumn(
        "p", F.from_json(F.col(json_col), _PAYLOAD_SCHEMA)
    ).select("site", F.explode_outer("p.properties.parameter").alias("param", "series"))

    entries = parsed.select(
        "site", "param", F.explode_outer("series").alias("k", "v")
    ).filter(F.col("param").isin(PARAMS))

    # NULL values (JSON null observations) must route to the scalar
    # branch — startswith on NULL is NULL, which both filters would drop
    is_list = F.coalesce(F.col("v").startswith("["), F.lit(False))

    # shape B: explode the 24-value day list; hour = position.
    # try_* variants: malformed keys yield NULL (then filtered) instead of
    # an ANSI runtime error — the reference skips them (nasa.py:73-74)
    day_rows = (
        entries.filter(is_list)
        .select(
            "site",
            "param",
            F.try_to_timestamp(F.col("k").substr(1, 8), F.lit("yyyyMMdd")).alias("day"),
            F.posexplode_outer(
                F.from_json(F.col("v"), T.ArrayType(T.DoubleType()))
            ).alias("hour", "value"),
        )
        .withColumn(
            "ts_utc",
            F.col("day") + F.make_interval(hours=F.col("hour")),
        )
        .select("site", "param", "ts_utc", "value")
    )

    # shape A: yyyymmddhh keys; malformed keys -> NULL ts -> dropped
    hour_rows = entries.filter(~is_list).select(
        "site",
        "param",
        F.try_to_timestamp(F.col("k").substr(1, 10), F.lit("yyyyMMddHH")).alias("ts_utc"),
        F.col("v").try_cast("double").alias("value"),
    )

    return day_rows.unionByName(hour_rows).filter(F.col("ts_utc").isNotNull())


def align_to_bronze(series: DataFrame, ingested_at=None) -> DataFrame:
    """J1 n-way timestamp alignment (``nasa.py:91-108``): long → one wide
    row per (site, ts_utc) with NULLs where a param lacks that hour,
    plus the reference's raw_json payload column (``nasa.py:106``).

    Each column is the first non-null value of its param in one
    ``groupBy`` aggregate: a ``pivot`` plans the same rule as two
    aggregations, so two shuffles."""
    wide = series.groupBy("site", "ts_utc").agg(
        *[
            F.first(F.when(F.col("param") == param, F.col("value")), ignorenulls=True).alias(col)
            for param, col in PARAM_COLS.items()
        ]
    )
    raw_json = F.to_json(
        F.struct(
            F.lit("NASA_POWER").alias("source"),
            F.col("ghi_wm2"),
            F.col("t2m_c"),
            F.col("ws10_mps"),
        )
    )
    ts = F.lit(ingested_at).cast("timestamp") if ingested_at else F.current_timestamp()
    return wide.select(
        "site",
        "ts_utc",
        "ghi_wm2",
        "t2m_c",
        "ws10_mps",
        raw_json.alias("raw_json"),
        ts.alias("ingested_at"),
    )


def payloads_to_bronze(payloads: DataFrame, ingested_at=None) -> DataFrame:
    """Full S1→J1 path: payload JSON → RAW_WEATHER-shaped DataFrame."""
    return align_to_bronze(parse_payloads(payloads), ingested_at)
