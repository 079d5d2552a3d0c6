"""Loaders for the driver-provided parquet star schema (TESTDATA.md).

All reads go through :func:`load_table` so every query sees the same
session-conf normalization (UTC timestamps) and so that, at scale, a swap to
a catalog/bucketed source is one change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.session import apply_runtime_conf

TABLES = (
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
)


# event-time columns whose physical parquet type has drifted across driver
# data generations: TIMESTAMP(NANOS) (read as long nanos via
# legacy.parquet.nanosAsLong, floored to micros to match DuckDB's truncating
# conversion) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
# TIMESTAMP_NTZ by Spark 4). Both are normalized to plain TIMESTAMP so every
# downstream plan — including streaming watermarks, which reject NTZ event
# time — is layout-agnostic.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _normalize_event_time(df: DataFrame, col: str) -> DataFrame:
    """Normalize a drifted event-time column to TIMESTAMP (session TZ is
    pinned to UTC in ENGINE_CONF, so the NTZ→TZ cast is value-preserving)."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":  # TIMESTAMP(NANOS) read as long nanos
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if dtype == "timestamp_ntz":  # TIMESTAMP(MICROS, isAdjustedToUTC=false)
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df

# sessions whose runtime conf we already normalized (avoid re-setting conf
# on the driver for every single load_table call)
_CONF_APPLIED: set[int] = set()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = id(spark)
    if key not in _CONF_APPLIED:
        apply_runtime_conf(spark)
        _CONF_APPLIED.add(key)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in NANOS_TS_COLS.get(name, ()):
        if col in df.columns:
            df = _normalize_event_time(df, col)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
