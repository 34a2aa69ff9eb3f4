"""Test-table loaders for /root/testdata/sf*/ (schemas: FIXTURES.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from hive_task_spark.plans.session import apply_runtime_conf

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


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Coerce events.ts to TIMESTAMP regardless of how the parquet file
    encodes it. The testdata has shipped with two encodings so far:

      * TIMESTAMP(NANOS) → Spark reads a raw BIGINT of nanoseconds when
        ``spark.sql.legacy.parquet.nanosAsLong`` is set (data µs-aligned,
        so div-1000 is lossless);
      * TIMESTAMP_MICROS (isAdjustedToUTC=0) → Spark reads TIMESTAMP_NTZ;
        the session is pinned UTC so casting NTZ→TIMESTAMP is a no-op.

    Branch on the ACTUAL scan dtype — never assume the encoding (a
    testdata regeneration between rounds silently flipped it once).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampType):
        return df
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


# Parquet schemas Spark inferred, keyed by (path, st_size, st_mtime_ns):
# a rewritten file changes size or mtime and is inferred afresh. The key
# holds no session conf because the one conf that changes inference here,
# ``spark.sql.legacy.parquet.nanosAsLong``, is pinned by
# apply_runtime_conf just before every lookup.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file version. Inference is a distributed footer-read job; a cache hit
    launches none. Pins runtime conf (UTC) on every call."""
    apply_runtime_conf(spark)
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; pins runtime conf (UTC) on every call
    (through ``parquet_schema``)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df
