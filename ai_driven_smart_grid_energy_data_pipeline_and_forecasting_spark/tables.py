"""Test-data table loading and catalog registration.

The driver's synthetic star schema (TESTDATA.md) is the harness input;
the engine reads it exactly as it would read a production lakehouse:
``spark.read.parquet`` with Catalyst doing column pruning and predicate
pushdown into the scan. The schema is read from a footer on the driver
(``fsutil.parquet_schema``), so opening a table runs no Spark job;
never infer-and-cache data eagerly — plans stay lazy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import parquet_schema

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Declared canonical-timestamp columns, normalized to TIMESTAMP (LTZ,
# session zone pinned UTC) whatever encoding the parquet arrives in.
# The driver has regenerated testdata with three encodings so far:
#   - TIMESTAMP(NANOS): Spark ≤4.x can't read natively → read as
#     epoch-nanos long (legacy.parquet.nanosAsLong), integer-DIV to
#     micros. DIV, not float division — epoch nanos ≈ 1.7e18 exceeds
#     double's 2^53 mantissa, a float path corrupts microseconds.
#   - timestamp[us] without UTC adjustment → Spark reads TIMESTAMP_NTZ;
#     cast to LTZ interprets the wall-clock as UTC (session zone).
#   - timestamp[us, tz=UTC] → already TIMESTAMP, no-op.
# Normalizing here (instead of per-operator shims) means a future
# encoding flip breaks one table-load test, not a scattered set of
# operators — the round-3 NTZ drift broke sessionization downstream.
_CANONICAL_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def _normalize_ts(df: DataFrame, cols: list[str]) -> DataFrame:
    dtypes = dict(df.dtypes)
    for c in cols:
        t = dtypes.get(c)
        if t == "bigint":  # epoch nanos via nanosAsLong
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
        elif t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp_ltz"))
        # "timestamp" (LTZ) or absent column: leave as-is
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    # Pin UTC on whatever session the caller supplies (the driver hands
    # us its own, not get_spark's): date_trunc hour-binning and
    # timestamp-literal casts are session-zone-dependent, and a +05:30
    # session would silently shift every result away from the oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    # The schema Spark would infer, read from the first data file's
    # footer on the driver, so opening a table runs no job. This is
    # table metadata, not cached results: every read still scans the
    # files. No data file: let the plain read raise as it always has.
    schema = parquet_schema(path, spark, first=True)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    return _normalize_ts(df, _CANONICAL_TS_COLS.get(name, []))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register all tables as temp views so operators can be written in
    either DataFrame or SQL form against the same catalog names."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
