"""Regression tests for the events.ts parquet encoding.

The driver's testdata has shipped events.ts under two different parquet
logical types across rounds: TIMESTAMP(NANOS) (rounds 1-2, read by Spark
as a BIGINT of nanos under ``legacy.parquet.nanosAsLong``) and
TIMESTAMP_MICROS / isAdjustedToUTC=0 (round 3+, read as TIMESTAMP_NTZ).
A hardcoded assumption either crashes (batch: BINARY_OP_DIFF_TYPES) or —
far worse — is silently 1000x off (streaming LongType schema over a
MICROS file). These tests pin ``tables.normalize_events_ts`` to handle
BOTH encodings and assert the decoded values land in the fixture's real
date range, so a future testdata regeneration cannot pass silently.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_task_spark.tables import TABLES, load, normalize_events_ts, parquet_schema

# The fixture generator writes one month of 2024 events; anything outside
# a generous bracket means a unit error (1000x off lands in 1970 or 56941).
_LO = datetime.datetime(2020, 1, 1)
_HI = datetime.datetime(2035, 1, 1)


def test_actual_testdata_footer_is_a_known_encoding(sf_dir):
    """Probe the real parquet footer: we only claim support for the two
    encodings normalize_events_ts handles. A third encoding should fail
    loudly here, not deep inside 27 queries."""
    f = pq.read_schema(f"{sf_dir}/events.parquet").field("ts")
    assert f.type in (
        pa.timestamp("us"),
        pa.timestamp("us", tz="UTC"),
        pa.timestamp("ns"),
        pa.timestamp("ns", tz="UTC"),
        pa.int64(),
    ), f"unrecognized events.ts encoding: {f.type}"


def test_load_decodes_current_testdata_into_real_range(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert _LO <= row["lo"] <= row["hi"] <= _HI, (row["lo"], row["hi"])


def _ts_range(df):
    row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    return row["lo"], row["hi"]


def _write_events(sf_dir: str, path: str, unit: str) -> None:
    """Copy the real events fixture to `path` with ts stored as a
    parquet TIMESTAMP of `unit`. store_schema=False drops the Arrow
    schema hint so readers see the raw parquet logical type, like the
    r1-2 (NANOS) and r3+ (MICROS) testdata."""
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ts = tbl.column("ts").cast(pa.timestamp(unit))
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(tbl, path, version="2.6", store_schema=False)


def test_load_handles_legacy_nanos_encoding(spark, sf_dir, tmp_path):
    """A MICROS file rewritten in place as TIMESTAMP(NANOS) — a testdata
    regeneration — must be re-inferred, not served the cached MICROS
    schema (that would read the nanos as microseconds, 1000x off)."""
    path = str(tmp_path / "events.parquet")
    _write_events(sf_dir, path, "us")
    micros = load(spark, str(tmp_path), "events")
    assert not isinstance(parquet_schema(spark, path)["ts"].dataType, T.LongType)
    assert isinstance(micros.schema["ts"].dataType, T.TimestampType)
    micros_range = _ts_range(micros)

    _write_events(sf_dir, path, "ns")
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    legacy = load(spark, str(tmp_path), "events")
    assert isinstance(parquet_schema(spark, path)["ts"].dataType, T.LongType)
    assert isinstance(legacy.schema["ts"].dataType, T.TimestampType)
    assert _ts_range(legacy) == micros_range == _ts_range(load(spark, sf_dir, "events"))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_cached_schema_equals_inferred_schema(spark, sf_dir, sf):
    """`load` reads with the cached schema; it must be exactly the one an
    uncached read infers, field metadata and nullability included."""
    d = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(d):
        pytest.skip(f"no {sf} fixture beside {sf_dir}")
    for name in TABLES:
        ref = spark.read.parquet(f"{d}/{name}.parquet")
        if name == "events":
            ref = normalize_events_ts(ref)
        got = load(spark, d, name).schema
        assert got.jsonValue() == ref.schema.jsonValue(), name


def test_warm_load_runs_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return list(tracker.getJobIdsForGroup(group))

    # the probe sees jobs: an uncached inference is one
    assert jobs_of("cold_infer_probe",
                   lambda: spark.read.parquet(f"{sf_dir}/orders.parquet").schema)
    for name in TABLES:
        load(spark, sf_dir, name)
    assert jobs_of("warm_load_probe",
                   lambda: [load(spark, sf_dir, n).schema for n in TABLES]) == []


def test_normalize_is_noop_on_already_timestamp(spark):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 5, 12, 0, 0))], "event_id long, ts timestamp"
    )
    out = normalize_events_ts(df)
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)
    assert out.collect()[0]["ts"] == datetime.datetime(2024, 1, 5, 12, 0, 0)


def test_stream_windows_land_in_real_date_range(spark, sf_dir):
    """The r2 bug class: a wrong streaming schema read MICROS as raw
    longs and produced 1000x-off event times — green rows, wrong windows.
    Pin every ts-sensitive stream's window starts to the fixture range."""
    from hive_task_spark.streaming.stream_queries import stream_tumbling_window

    out = stream_tumbling_window(spark, sf_dir)
    row = out.agg(
        F.min("window_start_s").alias("lo"), F.max("window_start_s").alias("hi")
    ).collect()[0]
    lo_s = int(_LO.replace(tzinfo=datetime.timezone.utc).timestamp())
    hi_s = int(_HI.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert lo_s <= row["lo"] <= row["hi"] <= hi_s, (row["lo"], row["hi"])
