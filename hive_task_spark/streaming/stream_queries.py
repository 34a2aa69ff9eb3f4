"""Structured Streaming operators over `events` — SURVEY.md §2B
streaming block.

Verification strategy (SURVEY.md §5.2.3): every stream runs with
``Trigger.AvailableNow`` over the static events parquet (or a staged
copy of it, replayed as throttled micro-batches) into a sink, and the
materialized result is oracle-checked against the equivalent BATCH SQL
— exact batch-replay equivalence. `_drain` owns that run lifecycle and
`_staged_stream` the staging, so no query here sets session conf or
starts a stream by hand.

100 TB posture: file source → Kafka source is a one-line swap; the
shuffle per micro-batch is keyed the same as batch; watermark bounds
state size (without it, windowed state grows unboundedly); complete
mode is for small dashboards only — production uses append+watermark,
demonstrated (and oracle-checked) in `stream_tumbling_append`.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from hive_task_spark.functions import exact
from hive_task_spark.plans.session import apply_runtime_conf, scoped_conf
from hive_task_spark.registry import register
from hive_task_spark.scratch import fresh_scratch, scratch_path
from hive_task_spark.tables import load, normalize_events_ts, parquet_schema


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file source; explicit schema
    is mandatory for streaming scans — also the 100 TB posture).

    The schema is probed from the batch footer rather than hardcoded:
    the testdata's ts encoding has changed between rounds (NANOS-as-long
    vs TIMESTAMP_MICROS NTZ), and a hardcoded LongType read of a MICROS
    column is SILENTLY 1000× off, not a crash. `normalize_events_ts`
    branches on the real dtype either way."""
    batch_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def _drain(writer: DataStreamWriter, cp: str) -> StreamingQuery:
    """Run one stream to completion under Trigger.AvailableNow with its
    checkpoint at `cp`, and return the finished query. `cp` is not
    cleared here: the exactly-once restart drill reuses it.

    State-store overhead scales with the shuffle-partition count (2
    checkpoint files per partition per batch); replay state here is
    tiny, so the run pins 8 state partitions — halves replay wall-clock
    at sf0.1. Values are partitioning-independent; a real cluster sizes
    this to executor cores instead."""
    with scoped_conf(writer._spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            writer.trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        q.awaitTermination()
    return q


def _run_to_table(
    spark: SparkSession, sdf: DataFrame, name: str, output_mode: str
) -> DataFrame:
    """Drain into a memory sink named `name`, checkpointed fresh at
    `cp_<name>`; return the materialized batch DataFrame. The sink's
    temp view is dropped: the analyzed DataFrame still reads the sink."""
    _drain(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        fresh_scratch(f"cp_{name}"),
    )
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


def _staged_stream(
    spark: SparkSession, tag: str, batches: list[DataFrame]
) -> DataFrame:
    """Replay `batches` as throttled micro-batches: each DataFrame is
    written into a fresh scratch dir, the files are stamped with
    ascending mtimes in batch order, and the returned file stream reads
    one file per trigger (maxFilesPerTrigger=1; FileStreamSource orders
    by modification time, and the 100 s steps are far above any
    filesystem timestamp granularity). A batch written as n files
    replays as n micro-batches. The schema is the batches' own, so no
    footer-read job runs."""
    src = fresh_scratch(f"staged_{tag}")
    files: list[str] = []
    for b in batches:
        b.write.mode("append").parquet(src)
        files += sorted(
            f for f in os.listdir(src) if f.endswith(".parquet") and f not in files
        )
    now = time.time()
    for i, f in enumerate(files):
        t = now - 100 * (len(files) - i)
        os.utime(os.path.join(src, f), (t, t))
    return (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT
        CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
        CAST(count(*) AS BIGINT)                      AS n_events,
        CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (complete mode ≡ batch)."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value")
    )
    out = agg.select(
        F.unix_timestamp("w.start").cast("long").alias("window_start_s"),
        "n_events",
        "total_value",
    )
    return _run_to_table(spark, out, "stream_tumbling_window", "complete")


@register(
    "stream_tumbling_append",
    oracle="""
    SELECT
        CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
        CAST(count(*) AS BIGINT)                      AS n_events,
        CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY 1
    HAVING window_start_s + 3600
           <= (SELECT epoch(max(ts) - INTERVAL 1 HOUR) FROM events)
    """,
)
def stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows in APPEND mode with a 1-hour watermark — the
    production shape: only windows whose end precedes the final
    watermark (max event time - delay) are emitted; trailing windows
    stay in state. The oracle encodes exactly that late-data rule."""
    s = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = s.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value")
    )
    out = agg.select(
        F.unix_timestamp("w.start").cast("long").alias("window_start_s"),
        "n_events",
        "total_value",
    )
    return _run_to_table(spark, out, "stream_tumbling_append", "append")


@register(
    "stream_sliding_window",
    oracle="""
    SELECT
        CAST(epoch(date_trunc('hour', ts) - k * INTERVAL 1 HOUR) AS BIGINT)
                                                      AS window_start_s,
        CAST(count(*) AS BIGINT)                      AS n_events,
        CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events, unnest([0, 1]) AS t(k)
    GROUP BY 1
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour windows every 1 hour: each event lands in the two
    hourly-aligned windows covering it (the oracle materializes that
    membership explicitly)."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "2 hours", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value")
    )
    out = agg.select(
        F.unix_timestamp("w.start").cast("long").alias("window_start_s"),
        "n_events",
        "total_value",
    )
    return _run_to_table(spark, out, "stream_sliding_window", "complete")


@register(
    "stream_session_window",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    y AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM x
    )
    SELECT
        user_id,
        CAST(epoch_us(min(ts)) AS BIGINT)                  AS session_start_us,
        CAST(epoch_us(max(ts)) + 1800000000 AS BIGINT)     AS session_end_us,
        CAST(count(*) AS BIGINT)                           AS n_events,
        CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM y
    GROUP BY user_id, sess
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute gap). Session end = last
    event + gap, merge while next_ts < current_end (strict) — the
    oracle's gaps-and-islands formulation pins identical semantics."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value"))
    out = agg.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        "n_events",
        "total_value",
    )
    return _run_to_table(spark, out, "stream_session_window", "complete")


@register("stream_dedup_watermark", oracle="SELECT DISTINCT event_id FROM events")
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id with a watermark bounding state.
    Append mode emits each id on first sight, so replay ≡ DISTINCT.
    Only the key is emitted: which duplicate wins is arrival-order-
    dependent, the key set is not."""
    s = _events_stream(spark, sf_dir)
    deduped = s.withWatermark("ts", "1 hour").dropDuplicates(["event_id"]).select(
        "event_id"
    )
    return _run_to_table(spark, deduped, "stream_dedup_watermark", "append")


@register(
    "stream_static_join_agg",
    oracle="""
    SELECT
        c.c_mktsegment           AS mktsegment,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: streaming events enriched with the static
    customer dimension (broadcast per micro-batch), then aggregated."""
    s = _events_stream(spark, sf_dir)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(F.broadcast(c), s["user_id"] == c["c_custkey"])
    agg = joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value")
    )
    return _run_to_table(spark, agg, "stream_static_join_agg", "complete")


_STATE_SCHEMA = "n long, total double"
_STATEFUL_OUT_SCHEMA = "user_id long, n_events long, total_value_r double"


def _running_per_user(key, pdf_iter, state):
    """Custom stateful kernel: cumulative count/sum per user, persisted
    in GroupState across micro-batches (Arrow-batched). The emitted
    total rounds at 2dp: pandas sums pairwise, DuckDB sequentially —
    the 1e-12 summation-order gap closes at the money grain."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value_r": [round(total, 2)],
        }
    )


@register(
    "stream_stateful_running",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value_r
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState: per-user running totals with explicit
    GroupState — the arbitrary-stateful-operator surface (the
    Spark-native analog of a per-key accumulator service). Oracle-
    checkable BECAUSE the single-file AvailableNow replay is exactly
    one micro-batch, so update mode emits each key once with its
    final state == the batch aggregate; on a live multi-batch stream
    the same query emits a per-key running series (cadence is the
    engine's choice — the update-mode contract is per-key last-value,
    which is what the oracle pins)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = _events_stream(spark, sf_dir).select("user_id", "value")
    out = s.groupBy("user_id").applyInPandasWithState(
        _running_per_user,
        _STATEFUL_OUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return _run_to_table(spark, out, "stream_stateful_running", "update")


@register(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT
        event_type,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as parquet (the
    arbitrary-sink escape hatch — idempotent by (batch_id) at scale;
    here batches append into one dataset which is then read back and
    aggregated, oracle-checked against the source). This is how
    streams feed non-streaming stores (JDBC, Delta-less parquet,
    external services)."""
    out_dir = fresh_scratch("stream_fb_parquet")
    s = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    _drain(s.writeStream.foreachBatch(_sink), fresh_scratch("cp_stream_fb"))
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value")
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views joined to the purchases that
    follow within 10 minutes for the same user. Both sides carry
    watermarks and the join carries an event-time range — the two
    requirements that let Spark bound join state (a view older than
    watermark + 10 min can never match again and is evicted). Inner
    stream-stream joins emit exactly the matches, so AvailableNow
    replay equals the batch self-join oracle."""
    a = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "1 hour")
    )
    b = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "1 hour")
    )
    j = a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES")),
    ).select("view_id", "purchase_id", "user_id")
    return _run_to_table(spark, j, "stream_stream_join", "append")


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@register(
    "stream_quality_filter",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_words,
               length(replace(text, ' ', ''))
                 / greatest(len(string_split(text, ' ')), 1) AS mean_word_len
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_words) AS BIGINT) AS kept_tokens
    FROM t
    WHERE n_words BETWEEN 10 AND 100000
      AND mean_word_len BETWEEN 2.0 AND 12.0
    GROUP BY lang
    """,
)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus quality-filter stage run as a STREAM: documents
    arrive as files, pass the Gopher-style length/word-shape rules as
    a stateless map, and per-language keep-statistics aggregate in
    complete mode. Composition proof that the LLM-pipeline operators
    are streaming-compatible — on a cluster this is the
    continuously-ingesting variant of the batch filter with the file
    source swapped for Kafka; the filter itself needs no state, so
    only the final count aggregate holds any."""
    apply_runtime_conf(spark)
    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_len = F.length(F.regexp_replace("text", " ", "")) / F.greatest(
        n_words, F.lit(1)
    )
    kept = raw.select(
        "doc_id", "lang", n_words.alias("n_words"), mean_len.alias("mwl")
    ).filter(
        F.col("n_words").between(10, 100000) & F.col("mwl").between(2.0, 12.0)
    )
    agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_words").cast("long").alias("kept_tokens"),
    )
    return _run_to_table(spark, agg, "stream_quality_filter", "complete")


@register(
    "stream_zscore_static",
    oracle="""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 6) AS zscore_r,
           (abs((e.value - s.mu) / s.sigma) > 2.0) AS is_outlier
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
)
def stream_zscore_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly scoring against a static reference model:
    per-type mean/stddev are computed in batch (the "trained" profile)
    and broadcast into the stream; each event is scored stateless in
    its micro-batch — the standard shape for production anomaly
    detection, where the model is periodically refit in batch and the
    stream only applies it (no unbounded streaming state, no
    watermark needed, append mode). Batch-replay oracle-checked
    end-to-end."""
    stats = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.avg("value").alias("mu"),
            F.stddev_samp("value").alias("sigma"),
        )
    )
    s = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    scored = (
        s.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(z, 6).alias("zscore_r"),
            (F.abs(z) > 2.0).alias("is_outlier"),
        )
    )
    return _run_to_table(spark, scored, "stream_zscore_static", "append")


@register(
    "stream_multibatch_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value_r
    FROM events
    GROUP BY event_type
    """,
)
def stream_multibatch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE multi-micro-batch stateful aggregation: the events table
    is re-laid as four parquet files and the file source is throttled
    to one file per trigger (maxFilesPerTrigger=1), so AvailableNow
    drains it in four micro-batches and the per-type counts/sums are
    MERGED across batch boundaries through the state store — the
    state-evolution path every other stream here (single file = one
    batch) cannot exercise. Batch-replay oracle: the final complete-
    mode table must equal the one-shot batch aggregate exactly."""
    e = load(spark, sf_dir, "events")
    s = _staged_stream(spark, "multibatch", [e.repartition(4)])
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value_r"),
    )
    return _run_to_table(spark, agg, "stream_multibatch_agg", "complete")


@register(
    "stream_late_drop_proof",
    oracle="""
    WITH kept AS (
        SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
    ),
    wm AS (
        SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events
    )
    SELECT CAST(epoch(date_trunc('hour', k.ts)) AS BIGINT) AS window_start_s,
           CAST(count(*) AS BIGINT)                        AS n_events
    FROM kept k, wm
    GROUP BY date_trunc('hour', k.ts), wm.w
    HAVING date_trunc('hour', k.ts) + INTERVAL 1 HOUR <= wm.w
    """,
)
def stream_late_drop_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark EVICTION proof — the one semantic every other stream
    here can't exercise (single-batch replays never drop anything).
    Three micro-batches, ordered by file mtime: (1) the on-time tail
    (>= Jan 25) advances the watermark to max(ts)-1h; (2) a mid-range
    file (Jan 20-25) is admitted — Spark applies the watermark
    LAGGED BY ONE BATCH (empirically verified: the drop filter in
    batch N uses the watermark committed after batch N-1), so these
    rows aggregate and their long-passed windows emit immediately;
    (3) the oldest 19 days arrive when the advanced watermark IS in
    force and are dropped wholesale (numRowsDroppedByWatermark > 0,
    zero output rows). Append output = hourly windows from files 1-2
    whose end cleared the watermark — exactly what the batch oracle
    states. A unit error in the event-time column (the round-2
    silent-wrongness class) makes this output explode or vanish — it
    cannot pass silently."""
    e = load(spark, sf_dir, "events")
    c_hi, c_lo = "2024-01-25 00:00:00", "2024-01-20 00:00:00"
    s = _staged_stream(spark, "late_drop", [
        e.filter(F.col("ts") >= c_hi).coalesce(1),
        e.filter((F.col("ts") >= c_lo) & (F.col("ts") < c_hi)).coalesce(1),
        e.filter(F.col("ts") < c_lo).coalesce(1),
    ])
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
    return _run_to_table(spark, agg, "stream_late_drop_proof", "append")


@register(
    "stream_file_sink_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value_r
    FROM events
    WHERE value > 10.0
    GROUP BY event_type
    """,
)
def stream_file_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-sink path: the stream writes PARQUET FILES with an
    exactly-once manifest (_spark_metadata commit log) instead of a
    memory table — the production topology (memory sinks are demo
    hardware). The filtered stream lands append-only; the batch
    read-back then aggregates and must match the all-batch oracle:
    proves the file sink commits exactly the processed rows (no
    dupes, no loss) across the replay. On a cluster the same code
    writes to object storage and downstream jobs read the manifest,
    never partial files."""
    out_dir = fresh_scratch("file_sink_out")
    s = _events_stream(spark, sf_dir).filter(F.col("value") > 10.0).select(
        "event_id", "event_type", "value"
    )
    _drain(
        s.writeStream.format("parquet").option("path", out_dir).outputMode("append"),
        fresh_scratch("cp_file_sink"),
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value_r"),
        )
    )


@register(
    "stream_statestore_inspect",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value_r
    FROM events
    GROUP BY user_id
    """,
)
def stream_statestore_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER (Spark 4 `spark.read.format("statestore")`):
    after a stateful stream completes, its checkpointed per-key state
    is itself a queryable DataFrame — the production debugging/audit
    path for 'what does my stream believe right now' (state-size
    audits, stuck-key hunts, offline repair validation) without
    touching the running query. The replayed per-user aggregate's
    state must equal the batch aggregate over the same input exactly
    — proving checkpoint round-trip fidelity, not just that the
    stream ran. State key/value arrive as structs; the aggregation
    buffer's count and sum fields are flattened positionally."""
    name = "stream_statestore_inspect_run"
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value")
    )
    _run_to_table(spark, agg, name, "update")
    state = spark.read.format("statestore").load(scratch_path(f"cp_{name}"))
    # key = (user_id); value = the agg buffer (count, sum) in
    # declaration order — flatten positionally, then re-alias. The
    # sum buffer holds exact BIGINT cents since r18 (order-independent
    # state); decode with one division at the edge.
    kf = state.schema["key"].dataType.names[0]
    vf = state.schema["value"].dataType.names
    return state.select(
        F.col(f"key.{kf}").alias("user_id"),
        F.col(f"value.{vf[0]}").cast("long").alias("n_events"),
        F.round(F.col(f"value.{vf[1]}").cast("double") / 100, 2).alias(
            "total_value_r"
        ),
    )


@register(
    "stream_chained_windows",
    oracle="""
    SELECT
        CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start_s,
        CAST(count(*) AS BIGINT)                     AS n_events,
        CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                                                     AS n_active_hours,
        round(sum(value), 2)                         AS total_value_r
    FROM events
    GROUP BY 1
    HAVING day_start_s + 86400
           <= (SELECT epoch(max(ts) - INTERVAL 1 HOUR) FROM events)
    """,
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark 4
    multi-stateful-operator support): hourly tumbling windows roll up
    into daily windows via window-of-window re-aggregation —
    `window(col("w"), "1 day")` groups the finalized hourly results
    without re-reading events. Both stages share the event-time
    watermark; append mode emits a day only once the watermark passes
    its end, so the batch oracle is the daily aggregate restricted to
    days fully below the final watermark (max ts - 1h). This is the
    production rollup topology at scale: the second stage's state is
    24 rows per day instead of the raw stream, and the hourly stage's
    state evicts on the same watermark."""
    s = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly = s.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"), (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value")
    )
    daily = hourly.groupBy(F.window(F.col("w"), "1 day").alias("d")).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_active_hours"),
        F.sum("total_value").alias("total_value"),
    )
    out = daily.select(
        F.unix_timestamp("d.start").cast("long").alias("day_start_s"),
        "n_events",
        "n_active_hours",
        # two-stage (hourly->daily) summation reorders float adds vs the
        # one-stage batch twin; value is exactly 2dp, so the 2dp round
        # is at-grain (exact-decimal safe), not below it.
        F.round("total_value", 2).alias("total_value_r"),
    )
    return _run_to_table(spark, out, "stream_chained_windows", "append")


@register(
    "stream_outer_join_watermark",
    oracle="""
    WITH v AS (
        SELECT event_id AS view_id, user_id, ts FROM events
        WHERE event_type = 'view'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    v2 AS (SELECT ts FROM v), p2 AS (SELECT ts FROM p),
    wm AS (  -- global watermark = MIN of the two per-stream watermarks
        SELECT least((SELECT max(ts) FROM v2), (SELECT max(ts) FROM p2))
               - INTERVAL 1 HOUR AS w
        FROM (SELECT 1) one
    ),
    matched AS (
        SELECT v.view_id, p.purchase_id, v.user_id
        FROM v JOIN p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
    )
    SELECT view_id, purchase_id, user_id FROM matched
    UNION ALL
    SELECT v.view_id, NULL AS purchase_id, v.user_id
    FROM v, wm
    WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.view_id = v.view_id)
      AND v.ts + INTERVAL 10 MINUTE < wm.w
    """,
)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-driven null
    emission — the semantics inner joins can't show: an unmatched
    view emits its null-padded row only once the watermark proves no
    purchase can ever arrive for it (state eviction). Two
    time-ordered micro-batches (split at Jan 21, mtime-ordered,
    maxFilesPerTrigger=1) exercise cross-batch state; the final
    null set is governed by the GLOBAL watermark — the MIN of the
    two per-stream watermarks (empirically pinned: the last view and
    last purchase differ, and the two views between the per-stream
    cutoffs stay in state) — so the oracle emits a null exactly for
    unmatched views whose 10-minute window closed below
    least(max view ts, max purchase ts) - 1h. At
    100 TB this is THE outer-enrichment topology: state is bounded
    by watermark + join range, nulls are late but exact."""
    e = load(spark, sf_dir, "events")
    cut = "2024-01-21 00:00:00"
    s = _staged_stream(spark, "outer_join", [
        e.filter(F.col("ts") < cut).coalesce(1),
        e.filter(F.col("ts") >= cut).coalesce(1),
    ])
    a = (
        s.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("ts_a"))
        .withWatermark("ts_a", "1 hour")
    )
    b = (
        s.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "1 hour")
    )
    j = a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select("view_id", "purchase_id", "user_id")
    return _run_to_table(spark, j, "stream_outer_join_watermark", "append")


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT event_id FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (Spark 3.5+): dedups keys whose
    event times fall within the watermark delay of each other and —
    unlike plain dropDuplicates, whose per-key state lives forever —
    GUARANTEES state eviction once the watermark passes a key's
    last-seen event time. The production-safe dedup for unbounded
    streams: infinite-retention dedup state is the classic streaming
    OOM at 100 TB/day; this bounds state to (delay window x key
    arrival rate). Replaying the finite fixture in one pass, every
    duplicate lands inside the delay, so append-mode output is
    exactly DISTINCT event_id — same oracle as the legacy dedup row,
    different state-lifecycle contract."""
    s = _events_stream(spark, sf_dir)
    deduped = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return _run_to_table(spark, deduped, "stream_dedup_within_wm", "append")


@register(
    "stream_upsert_sink",
    oracle="""
    SELECT user_id, last_ts_us, last_value_r, n_changes
    FROM (
        SELECT user_id,
               CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
               round(value, 6) AS last_value_r,
               count(*) OVER (PARTITION BY user_id) AS n_changes,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT (merge) sink via foreachBatch — the
    streaming-CDC apply pattern: the event stream drains in four
    throttled micro-batches (maxFilesPerTrigger=1), and each batch
    MERGEs into a keyed versioned table: previous state ∪ batch →
    keep the latest record per user by (ts, event_id) → write
    version v+1 (immutable versions, so a failed batch can retry
    idempotently — poor man's Delta MERGE with time travel). The
    final state must equal the batch argmax per key regardless of
    how the stream was batched, because keep-latest is associative —
    that independence IS the correctness contract of streaming
    upsert. State writes stay fully distributed (no driver
    collect); per-batch cost is |state| + |batch|, which at 100 TB
    is why real systems keep state in an indexed table format and
    merge-on-read instead of rewriting (same join shape either
    way)."""
    state_root = fresh_scratch("upsert_state")
    e = load(spark, sf_dir, "events")
    s = _staged_stream(spark, "upsert", [e.repartition(4)])
    versions = []

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        incoming = batch_df.select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("value").alias("last_value"),
            F.col("event_id").alias("last_event_id"),
            F.lit(1).cast("long").alias("n_changes"),
        )
        if versions:
            prev = sess.read.parquet(
                os.path.join(state_root, f"v{versions[-1]}")
            )
            merged = prev.unionByName(incoming)
        else:
            merged = incoming
        w = Window.partitionBy("user_id").orderBy(
            F.col("last_ts_us").desc(), F.col("last_event_id").desc()
        )
        nxt = (
            merged.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "total_changes",
                F.sum("n_changes").over(Window.partitionBy("user_id")),
            )
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                "last_ts_us",
                "last_value",
                "last_event_id",
                F.col("total_changes").alias("n_changes"),
            )
        )
        v = len(versions) + 1
        nxt.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{v}")
        )
        versions.append(v)

    _drain(
        s.writeStream.foreachBatch(merge_batch),
        fresh_scratch("cp_stream_upsert_sink"),
    )
    final = spark.read.parquet(os.path.join(state_root, f"v{versions[-1]}"))
    return final.select(
        "user_id",
        "last_ts_us",
        F.round("last_value", 6).alias("last_value_r"),
        "n_changes",
    )


@register(
    "stream_lambda_backfill_union",
    oracle="""
    WITH cut AS (
        SELECT min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) + 20 AS c
        FROM events
    )
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
           CASE WHEN CAST(floor(epoch(ts) / 86400) AS BIGINT) < cut.c
                THEN 'batch' ELSE 'stream' END AS path,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value_r
    FROM events, cut
    GROUP BY 1, 2
    """,
)
def stream_lambda_backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture reconciliation — batch backfill + live
    streaming tail serving ONE logical table: history (days before
    the cutoff) aggregates through the batch path, the tail (days
    >= cutoff) replays through Structured Streaming into the same
    daily schema, and the union must tile the timeline exactly — no
    gap, no overlap, per-day results identical to a pure batch run
    over everything (the oracle). This seam is where real lambda
    deployments silently double-count or drop the cutover day; the
    path tag keeps the audit explicit. The streaming side filters
    BEFORE aggregating, so its state covers only tail days."""
    e = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    cut_row = e.agg((F.min(day) + 20).alias("c"))
    cut = cut_row  # 1-row broadcast for the batch side
    batch = (
        e.withColumn("day_idx", day)
        .crossJoin(F.broadcast(cut))
        .filter(F.col("day_idx") < F.col("c"))
        .groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value_r"),
        )
        .select(
            "day_idx",
            F.lit("batch").alias("path"),
            "n_events",
            "total_value_r",
        )
    )
    # Streaming tail: the cutoff is a literal in the stream's plan
    # (computed once from the batch footer read above).
    cut_val = None
    for r in cut_row.limit(1).toLocalIterator():
        cut_val = r["c"]
    s = _events_stream(spark, sf_dir)
    sday = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    tail = (
        s.withColumn("day_idx", sday)
        .filter(F.col("day_idx") >= F.lit(cut_val))
        .groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value_r"),
        )
    )
    tail_out = _run_to_table(
        spark, tail, "stream_lambda_tail", "complete"
    ).select(
        "day_idx",
        F.lit("stream").alias("path"),
        F.col("n_events").cast("long").alias("n_events"),
        "total_value_r",
    )
    return batch.unionByName(tail_out)


@register(
    "stream_observe_progress",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)      AS n_events,
           round(sum(value), 2)          AS total_value_r,
           CAST(min(user_id) AS BIGINT)  AS min_user,
           CAST(max(user_id) AS BIGINT)  AS max_user
    FROM events
    """,
)
def stream_observe_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observed metrics (`df.observe` on a streaming frame +
    StreamingQueryProgress.observedMetrics): the per-micro-batch
    health counters every production stream exports to its metrics
    system, here collected from the query's progress events after an
    AvailableNow replay and MERGED across batches with each metric's
    own combiner (counts/sums add, min/max take extrema) — the merge
    discipline that makes the numbers correct regardless of how the
    source chops files into batches.  The final row is hash-checked
    against the batch SQL definition of the same metrics, so a
    counter that drifts from its declarative meaning fails.

    Scale shape: observe compiles to accumulators inside the
    micro-batch plan — no extra pass, no extra state; metrics ride
    the existing progress-event stream."""
    sdf = _events_stream(spark, sf_dir).observe(
        "health",
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )
    name = "observe_progress_sink"
    q = _drain(
        sdf.writeStream.format("memory").queryName(name).outputMode("append"),
        fresh_scratch(f"cp_{name}"),
    )
    spark.catalog.dropTempView(name)
    n_events, total, mn, mx = 0, 0.0, None, None
    for p in q.recentProgress:
        m = p["observedMetrics"].get("health") if p["observedMetrics"] else None
        if m is None or m["n_events"] == 0:
            continue
        n_events += m["n_events"]
        total += m["total_value"]
        mn = m["min_user"] if mn is None else min(mn, m["min_user"])
        mx = m["max_user"] if mx is None else max(mx, m["max_user"])
    return spark.createDataFrame(
        [(int(n_events), round(float(total), 2), int(mn), int(mx))],
        "n_events long, total_value_r double, min_user long, max_user long",
    )


@register(
    "stream_windowed_percentiles",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           TRUE                     AS p50_ok,
           TRUE                     AS p95_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_windowed_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latency-percentile dashboard: percentile_approx is a
    partial-aggregable sketch, so it runs INSIDE a streaming
    aggregation (complete mode) — the p50/p95-per-key panel every
    observability stack keeps over its event stream, with the sketch
    merged across micro-batches by the state store rather than
    recomputed.

    The sketch value is engine-specific, so (like the batch sibling
    `agg_approx_quantiles`) the edge emits deterministic sandwich
    bounds: the streaming approx p50/p95 must land inside the exact
    batch [p40,p60]/[p90,p99] windows.

    Scale shape: state is one quantile sketch per key (bounded by the
    accuracy parameter), not per-value — the whole point of sketch
    aggregates under unbounded streams."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile_approx("value", 0.5, 10000).alias("a50"),
        F.percentile_approx("value", 0.95, 10000).alias("a95"),
    )
    got = _run_to_table(
        spark, agg, "stream_windowed_percentiles", "complete"
    )

    exact = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.4)).alias("e40"),
            F.percentile("value", F.lit(0.6)).alias("e60"),
            F.percentile("value", F.lit(0.90)).alias("e90"),
            F.percentile("value", F.lit(0.99)).alias("e99"),
        )
    )
    return (
        got.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n",
            F.col("a50").between(F.col("e40"), F.col("e60")).alias("p50_ok"),
            F.col("a95").between(F.col("e90"), F.col("e99")).alias("p95_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_session_window_dynamic_gap",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, event_id, value,
               epoch_us(ts) AS us,
               epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                   THEN 1800000000
                                   ELSE 600000000 END AS end_us
        FROM events
    ),
    y AS (
        SELECT *,
               max(end_us) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_end
        FROM x
    ),
    z AS (
        SELECT *,
               sum(CASE WHEN prev_max_end IS NULL OR us >= prev_max_end
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM y
    )
    SELECT CAST(user_id AS BIGINT)          AS user_id,
           CAST(min(us) AS BIGINT)          AS session_start_us,
           CAST(max(end_us) AS BIGINT)      AS session_end_us,
           CAST(count(*) AS BIGINT)         AS n_events,
           round(sum(value), 2)             AS total_value_r
    FROM z
    GROUP BY user_id, sid
    """,
)
def stream_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC per-event gap (Spark 3.2+:
    `session_window(ts, gap_expression)`) — purchases keep the
    session alive 30 minutes, everything else 10: the
    engagement-weighted sessionization a fixed gap can't express.
    Sessions merge while the next event starts strictly before the
    running max of previous [ts, ts+gap) interval ends — the oracle
    pins exactly those semantics with a running-max gaps-and-islands
    formulation (verified event-for-event against the built-in at
    build time: 9795/9795 sessions identical).

    Scale shape: state is one merging session per (user, open
    window) in the state store — the dynamic gap changes per-event
    arithmetic, not the state size; the batch twin's running max is
    one user-partitioned window."""
    s = _events_stream(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.make_interval(mins=F.lit(30))
    ).otherwise(F.make_interval(mins=F.lit(10)))
    agg = s.groupBy(
        "user_id", F.session_window("ts", gap).alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value_r"),
    )
    out = agg.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        F.unix_micros(F.col("w.end")).alias("session_end_us"),
        "n_events",
        "total_value_r",
    )
    return _run_to_table(
        spark, out, "stream_session_window_dynamic_gap", "complete"
    )


@register(
    "stream_update_mode_progression",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value_r,
           CAST(4 AS BIGINT)         AS n_updates
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_update_mode_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode over a four-micro-batch replay: unlike
    complete (re-emit everything) or append (emit once, final), the
    update sink receives one row per key PER BATCH THAT CHANGED IT —
    the memory sink therefore accumulates the aggregate's history,
    and the edge reconstructs (a) the final value per key (the
    running max of the monotone count progression) and (b) how many
    times each key was updated. Every event type appears in each of
    the four round-robin files, so n_updates is exactly 4 — the
    update-cadence invariant this op pins; the final values must
    equal the one-shot batch aggregate.

    Scale shape: update mode is THE production output mode for keyed
    dashboards (append can't emit running aggregates, complete
    re-ships the world every batch); sink volume is changed-keys per
    batch, not all keys."""
    e = load(spark, sf_dir, "events")
    s = _staged_stream(spark, "multibatch_upd", [e.repartition(4)])
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value_r"),
    )
    hist = _run_to_table(
        spark, agg, "stream_update_mode_progression", "update"
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("n_events"))).alias(
                "n_events"
            ),
            F.max(
                F.when(F.col("rn") == 1, F.col("total_value_r"))
            ).alias("total_value_r"),
            F.count(F.lit(1)).cast("long").alias("n_updates"),
        )
        .orderBy("event_type")
    )


class _TickStreamSource(DataSource):
    """Custom STREAMING source via the Spark 4 Python DataSource API —
    the bespoke-feed stand-in for a Kafka topic this sandbox lacks.
    Emits the deterministic tick table (i, i*i mod 97) for i in
    [0, rows): offsets are plain dicts, each micro-batch's range is
    split into `numPartitions` independent InputPartitions, so the
    read parallelizes exactly like a real partitioned log."""

    @classmethod
    def name(cls):
        return "tickstream"

    def schema(self):
        return "i BIGINT, v BIGINT"

    def streamReader(self, schema):
        return _TickStreamReader(self.options)


class _TickStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.total = int(options.get("rows", 1000))
        self.n_parts = int(options.get("numPartitions", 4))

    def initialOffset(self):
        return {"i": 0}

    def latestOffset(self):
        # the full backlog; under Trigger.AvailableNow the wrapper
        # snapshots this once and drains up to it
        return {"i": self.total}

    def partitions(self, start, end):
        lo, hi = start["i"], end["i"]
        if lo >= hi:
            # a no-progress micro-batch (possible under triggers other
            # than AvailableNow) must still plan >=1 partition: an
            # empty list can fail batch planning
            return [InputPartition((lo, lo))]
        step = max(1, (hi - lo + self.n_parts - 1) // self.n_parts)
        return [
            InputPartition((b, min(b + step, hi)))
            for b in range(lo, hi, step)
        ]

    def read(self, partition):
        lo, hi = partition.value
        for i in range(lo, hi):
            yield (i, (i * i) % 97)

    def commit(self, end):
        pass


@register(
    "stream_python_datasource",
    oracle="""
    SELECT CAST(i % 8 AS BIGINT)        AS bucket,
           CAST(count(*) AS BIGINT)     AS n,
           CAST(sum((i * i) % 97) AS BIGINT) AS v_sum,
           CAST(max((i * i) % 97) AS BIGINT) AS v_max
    FROM range(1000) t(i)
    GROUP BY i % 8
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over a custom Python streaming DataSource (Spark 4
    DataSourceStreamReader): offset planning, per-partition reads, and
    commit all exercised through the real streaming engine, then the
    drained result is oracle-checked exactly (the tick content is a
    closed-form function of i, recomputed by DuckDB over range()).
    This is the extension seam for feeds Spark lacks a connector for —
    at scale the same class fronts a partitioned log, latestOffset
    reports the broker high-watermark, and admission control caps
    per-batch rows; the engine-side plan (shuffle-on-bucket partial+
    final aggregate) is identical."""
    spark.dataSource.register(_TickStreamSource)
    raw = (
        spark.readStream.format("tickstream")
        .option("rows", "1000")
        .option("numPartitions", "4")
        .load()
    )
    agg = raw.groupBy((F.col("i") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("v_sum"),
        F.max("v").cast("long").alias("v_max"),
    )
    return _run_to_table(spark, agg, "stream_python_datasource", "complete")


class _JsonLinesStreamSink(DataSource):
    """Custom Python STREAMING sink (Spark 4 DataSourceStreamWriter) —
    the egress half of the tickstream reader above, completing the
    Python DataSource 2x2 (batch/stream x read/write; the batch halves
    live in sources/readers.py). Every micro-batch runs its own
    two-phase commit: tasks stage attempt-unique dot-files (speculative
    or zombie attempts can never interleave bytes into one shard),
    commit(batchId) renames one winner per partition to its final
    part-{batch}-{partition}.json name and appends a line to
    _COMMITLOG, abort(batchId) deletes that batch's staged files —
    an aborted or replayed epoch never publishes partial output, and
    replays are idempotent because the rename target is keyed by
    (batchId, partitionId)."""

    @classmethod
    def name(cls):
        return "pyjsonlstreamsink"

    def streamWriter(self, schema, overwrite):
        return _JsonLinesStreamWriter(self.options, schema)


class _EpochShardMsg(WriterCommitMessage):
    def __init__(self, part_id: int, n_rows: int, staged: str):
        self.part_id = part_id
        self.n_rows = n_rows
        self.staged = staged


class _JsonLinesStreamWriter(DataSourceStreamWriter):
    _STAGED_GLOB = ".part-*.json.staged"

    def __init__(self, options, schema):
        self.path = options["path"]
        self.fields = schema.fieldNames()
        # last batch id THIS writer appended to _COMMITLOG — makes the
        # steady-state idempotency check zero-IO; the log tail is only
        # read on the first commit after a (re)start, when the cache is
        # cold and a crash-replay is actually possible.
        self._last_batch = None

    def write(self, iterator):
        import json as _json

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # taskAttemptId is unique across the app, so staged names never
        # collide across attempts OR across micro-batches
        staged = os.path.join(
            self.path, f".part-{pid:05d}-{ctx.taskAttemptId()}.json.staged"
        )
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(dict(zip(self.fields, row))) + "\n")
                n += 1
        return _EpochShardMsg(pid, n, staged)

    def commit(self, messages, batchId):
        import glob as _glob
        import json as _json

        parts, total = [], 0
        for m in messages:
            if m is None:
                continue
            os.replace(
                m.staged,
                os.path.join(
                    self.path, f"part-{batchId:05d}-{m.part_id:05d}.json"
                ),
            )
            parts.append(m.part_id)
            total += m.n_rows
        # micro-batches are serial: any staged file left now is a
        # losing/zombie attempt of THIS epoch — sweep it (this runs
        # BEFORE the idempotent early-return below, so a replayed
        # epoch's re-staged shards never linger as .staged litter)
        for leftover in _glob.glob(os.path.join(self.path, self._STAGED_GLOB)):
            os.remove(leftover)
        # an epoch replayed after a crash between sink-commit and
        # checkpoint advance re-enters commit(); the renames above are
        # idempotent (targets keyed by batchId/partitionId), so the log
        # must be too — skip the append if this batchId is already
        # logged, keeping the log one-line-per-epoch like the shards.
        # Micro-batch epochs are serial and checkpointed epochs never
        # re-enter, so only the LATEST logged batch can replay. Steady
        # state is zero-IO (the in-memory _last_batch cache); the log
        # tail is read ONCE, on the first commit after a (re)start,
        # and that same read also reports whether a crash mid-append
        # left a torn, newline-less tail fragment to terminate.
        log = os.path.join(self.path, "_COMMITLOG")
        last = self._last_batch
        if last is None:
            last, torn = self._log_tail_state(log)
            if torn:
                # terminate the torn fragment NOW (not lazily at the
                # next append — an idempotent early-return below would
                # otherwise discard the torn flag and a later append
                # would merge into the fragment) so every subsequent
                # record starts on a line boundary and stays parsable
                with open(log, "a") as fh:
                    fh.write("\n")
        if last is not None and last >= batchId:
            self._last_batch = last
            return
        with open(log, "a") as fh:
            fh.write(
                _json.dumps(
                    {"batch": batchId, "parts": sorted(parts), "rows": total}
                )
                + "\n"
            )
        self._last_batch = batchId

    @staticmethod
    def _log_tail_state(log):
        """(last parsable _COMMITLOG batch id or None, tail-is-torn).

        The very crash window the idempotency check targets (between
        sink-commit and checkpoint advance) can also truncate the log's
        final line mid-append, and a commit record (parts list of a few
        hundred ids) can exceed one tail-read chunk — so the tail read
        grows backwards to a newline boundary and unparsable lines are
        skipped toward older ones. An unreadable tail therefore means
        "not logged" (worst case: one duplicate log line on replay,
        the pre-check behavior) — never a permanently wedged stream.
        The torn flag (file nonempty and not newline-terminated) comes
        from the same read, so one commit costs at most one tail scan.
        """
        import json as _json

        try:
            size = os.path.getsize(log)
        except OSError:
            return None, False
        if size == 0:
            return None, False
        chunk, torn = 4096, False
        with open(log, "rb") as fh:
            while True:
                start = max(0, size - chunk)
                fh.seek(start)
                data = fh.read()
                if start + len(data) >= size:
                    torn = not data.endswith(b"\n")
                if start > 0:
                    # mid-file read: the first line is (possibly) a
                    # fragment of an older record — drop it; if the
                    # chunk holds no newline at all it is one partial
                    # record, so grow until it does or we hit offset 0
                    head, sep, rest = data.partition(b"\n")
                    data = rest if sep else b""
                for line in reversed(
                    data.decode("utf-8", "replace").strip().splitlines()
                ):
                    try:
                        return _json.loads(line)["batch"], torn
                    except (ValueError, KeyError, TypeError):
                        continue
                if start == 0:
                    return None, torn
                chunk *= 2

    def abort(self, messages, batchId):
        import glob as _glob

        # the failed epoch published nothing (publication IS the
        # commit-time rename); remove every staged attempt file so a
        # restart reprocesses the epoch from a clean directory
        for leftover in _glob.glob(os.path.join(self.path, self._STAGED_GLOB)):
            try:
                os.remove(leftover)
            except OSError:
                pass


@register(
    "stream_python_datasource_sink",
    oracle="""
    SELECT CAST(i % 8 AS BIGINT)              AS bucket,
           CAST(count(*) AS BIGINT)           AS n,
           CAST(sum((i * i) % 97) AS BIGINT)  AS v_sum
    FROM range(1000) t(i)
    GROUP BY i % 8
    """,
)
def stream_python_datasource_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """writeStream through a custom Python STREAMING sink (Spark 4
    DataSourceStreamWriter): the tickstream source drains under
    Trigger.AvailableNow into per-epoch two-phase-committed JSON
    shards, the _COMMITLOG is asserted to account for every row, and
    the published shards are read back and aggregated — the oracle
    recomputes the closed form over range(). Staged dot-files are
    invisible to the read-back glob, so only committed epochs count.

    100 TB posture: this is how Python-only streaming egress (vector
    DBs, feature stores, bespoke services) joins the engine with
    exactly-once file semantics — per-task staging, per-epoch atomic
    publish — instead of a foreachBatch collect funnel."""
    import json as _json

    spark.dataSource.register(_TickStreamSource)
    spark.dataSource.register(_JsonLinesStreamSink)
    out = fresh_scratch("pystreamsink_out")
    raw = (
        spark.readStream.format("tickstream")
        .option("rows", "1000")
        .option("numPartitions", "4")
        .load()
    )
    _drain(
        raw.writeStream.format("pyjsonlstreamsink").option("path", out),
        fresh_scratch("cp_stream_python_datasource_sink"),
    )
    with open(os.path.join(out, "_COMMITLOG")) as fh:
        logged = sum(_json.loads(line)["rows"] for line in fh)
    if logged != 1000:
        raise AssertionError(f"commit log accounts for {logged} rows")
    back = (
        spark.read.schema("i BIGINT, v BIGINT")
        .option("pathGlobFilter", "part-*.json")
        .json(out)
    )
    return back.groupBy((F.col("i") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("v_sum"),
    )


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@register(
    "stream_rocksdb_statestore",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value_r
    FROM events
    GROUP BY event_type
    """,
)
def stream_rocksdb_statestore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation on the RocksDB state-store provider — the
    scale-grade state backend. The default HDFSBackedStateStoreProvider
    keeps every key's state ON-HEAP per executor (state size is bounded
    by executor memory: a 100 TB stream with billions of live keys
    OOMs); RocksDB keeps state on local disk with a block-cache and
    ships changelogs to the checkpoint, so state scales with disk, not
    heap. Values are backend-independent — the oracle is the plain
    batch aggregate — and the provider conf is scoped to this run
    (queries must leave a vanilla session untouched).
    tests/test_properties.py asserts the checkpoint actually contains
    RocksDB artifacts (zip snapshots, no HDFS .delta files)."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value_r"),
    )
    with scoped_conf(spark, {_PROVIDER_KEY: _ROCKSDB_PROVIDER}):
        return _run_to_table(spark, agg, "stream_rocksdb_statestore", "complete")


@register(
    "stream_state_metadata_reader",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), 'stateStoreSave', 'default',
         CAST(8 AS INTEGER), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(1 AS BIGINT), 'dedupe', 'default',
         CAST(8 AS INTEGER), CAST(0 AS BIGINT), CAST(0 AS BIGINT))
    ) t(operator_id, operator_name, state_store_name,
        n_partitions, min_batch_id, max_batch_id)
    """,
)
def stream_state_metadata_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-METADATA reader (Spark 4 `spark.read.format("state-metadata")`):
    batch-reads a streaming checkpoint's operator catalog — which
    stateful operators exist (by id/name), their state store names,
    partition counts, and the batch range whose state survives. The
    ops surface for 100 TB streaming estates: before rescaling or
    migrating a pipeline you enumerate its state operators FROM THE
    CHECKPOINT, no job code needed (pairs with
    `stream_statestore_inspect`, which reads the state rows
    themselves). The query replays a 2-operator stream (dropDuplicates
    -> windowless grouped agg => `dedupe` + `stateStoreSave`) under a
    pinned 8-partition shuffle, so every metadata cell is
    deterministic and the oracle is the expected catalog as a
    constant table. `operatorProperties` (free-form JSON) is dropped
    from the edge."""
    s = _events_stream(spark, sf_dir)
    agg = (
        s.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    _run_to_table(spark, agg, "stream_state_metadata_src", "complete")
    md = spark.read.format("state-metadata").load(
        scratch_path("cp_stream_state_metadata_src")
    )
    return md.select(
        F.col("operatorId").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("numPartitions").alias("n_partitions"),
        F.col("minBatchId").alias("min_batch_id"),
        F.col("maxBatchId").alias("max_batch_id"),
    )


_TTL_GAP_MS = 86_400_000  # 24 h inactivity TTL per user key
_TTL_STATE_SCHEMA = "n long, last_ns long, last_seen string"
_TTL_OUT_SCHEMA = "user_id long, n_events long, last_seen string"


def _ttl_evict_per_user(key, pdf_iter, state):
    """Stateful kernel with event-time TTL: accumulate per-user
    (count, last-activity) and arm an event-time timeout at
    last-activity + GAP; a group whose timeout fires (no data arrived
    before the watermark passed it) emits ONE eviction record and
    removes its state. Data-bearing calls emit nothing — the output
    stream IS the eviction log. The running max is tracked at
    NANOSECOND grain (a group straddling an Arrow chunk boundary can
    present two maxima in the SAME millisecond — an ms-grain compare
    would keep the stale sub-ms last_seen) and floors to ms only when
    arming the timeout, mirroring the engine's watermark arithmetic
    (event-time stats µs/1000; both floor on positive epochs)."""
    if key[0] == -1:
        # the sentinel key carries no analytics state: don't create
        # (and thus never leak) a state row for it
        return
    if state.hasTimedOut:
        n, last_ns, last_seen = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_seen": [last_seen],
            }
        )
        return
    n, last_ns, last_seen = state.get if state.exists else (0, -1, "")
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        n += len(pdf)
        m = pdf["ts"].max()
        if m.value > last_ns:
            last_ns = m.value
            last_seen = m.strftime("%Y-%m-%d %H:%M:%S.%f")
    state.update((n, last_ns, last_seen))
    state.setTimeoutTimestamp(last_ns // 10**6 + _TTL_GAP_MS)


@register(
    "stream_state_ttl_eviction",
    oracle="""
    WITH g AS (SELECT max(epoch_ms(ts)) AS gmax FROM events),
    u AS (SELECT user_id,
                 CAST(count(*) AS BIGINT)  AS n_events,
                 max(ts)                   AS last_ts,
                 max(epoch_ms(ts))         AS last_ms
          FROM events GROUP BY user_id)
    SELECT u.user_id,
           u.n_events,
           strftime(u.last_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_seen
    FROM u, g
    WHERE u.last_ms + 82800000 < g.gmax
    """,
)
def stream_state_ttl_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time state TTL (`GroupStateTimeout.EventTimeTimeout`):
    per-user session state is EVICTED — and its summary emitted — once
    the watermark passes last-activity + 24 h, the mechanism that
    keeps arbitrary-stateful state BOUNDED on an unbounded stream
    (without a TTL, per-key state on a 100 TB/day stream grows until
    the state store dies; with it, state size tracks the ACTIVE key
    set). stream_stateful_running shows the accumulate side; this op
    shows the reclaim side.

    Deterministic two-batch replay: batch 1 (older mtime file) is the
    full events table — every user's state arms a timeout at
    last_ms + 24 h; batch 2 is a single derived sentinel row (user -1,
    ts = global max + 2 h) that advances the watermark past older
    timeouts. The engine's cumulative eviction horizon is the FINAL
    watermark (measured: AvailableNow keeps running batches while the
    watermark still moves, so every timeout below sentinel − 1 h
    fires before shutdown — whether in the sentinel batch or the
    finalizing one). Net predicate: a user is evicted iff
    last_ms + 24 h < (gmax + 2 h) − 1 h, i.e. inactive for ≥ 23 h at
    stream end; later-active users — and the sentinel — never emit.
    The oracle states exactly that in millisecond space (DuckDB
    epoch_ms == the engine's µs/1000 floor; the +2 h/−1 h offsets are
    whole ms so the floors commute); the strict-vs-inclusive boundary
    cannot bite because equality would need two independent
    µs-precision maxima to coincide at ms grain.

    100 TB posture: identical runtime shape to any
    applyInPandasWithState op (one keyed shuffle into the state
    store); the TTL adds no pass — timeout bookkeeping rides the
    per-batch state-store commit, and eviction output is
    |expired keys|, not |events|."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    e = load(spark, sf_dir, "events").select("user_id", "ts")
    # ONE aggregation pass feeds both the replay sentinel (max ts) and
    # the magic-value collision guard: -1 is the harness's sentinel
    # key, and a fixture regeneration that ever produced a real user -1
    # would silently desync kernel (never armed) vs oracle (included).
    # Folding count_if(user_id = -1) into the sentinel agg instead of
    # running a dedicated filter/limit/count job halves the extra
    # full scans over events per invocation (ADVICE r13).
    # max(ts) travels driver-side as INTEGER epoch-micros, never as a
    # Python datetime: PySpark's TimestampType datetime conversion goes
    # through the PYTHON process's OS timezone (fromtimestamp/mktime),
    # which the UTC session pin does not control — a DST fall-back fold
    # hour on the host would shift a datetime round-trip by an hour.
    # unix_micros/timestamp_micros are epoch-based (no local
    # interpretation); the NTZ events branch casts through the session
    # tz, which `load` pinned to UTC above (fixed offset, no fold), so
    # both encodings round-trip bit-exactly.
    stats = e.agg(
        F.unix_micros(F.max("ts").cast("timestamp")).alias("mx_us"),
        F.sum((F.col("user_id") == -1).cast("int")).alias("n_collide"),
    ).collect()[0]
    if stats["n_collide"]:
        raise ValueError(
            "events fixture contains user_id = -1 — collides with the "
            "TTL replay sentinel key; pick a different sentinel"
        )
    # build the one-row sentinel from the collected max — no second
    # scan; dtypes mirror e's so the stream dir keeps a single parquet
    # schema. Staged after the events file, it is batch 2.
    dt = dict(e.dtypes)
    sentinel = spark.range(1).select(
        F.lit(-1).cast(dt["user_id"]).alias("user_id"),
        F.timestamp_micros(
            F.lit(stats["mx_us"] + 2 * 3600 * 1_000_000)
        ).cast(dt["ts"]).alias("ts"),
    )
    s = _staged_stream(
        spark, "ttl_twobatch", [e.coalesce(1), sentinel.coalesce(1)]
    ).withWatermark("ts", "1 hour")
    out = s.groupBy("user_id").applyInPandasWithState(
        _ttl_evict_per_user,
        _TTL_OUT_SCHEMA,
        _TTL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )
    return _run_to_table(spark, out, "stream_state_ttl_eviction", "update")


def eo_state_table_name() -> str:
    """PID-keyed catalog name for stream_foreachbatch_exactly_once
    (see the catalog-namespace rationale inside the op)."""
    return f"htspark_eo_state_{os.getpid()}"


@register(
    "stream_foreachbatch_exactly_once",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_foreachbatch_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """foreachBatch EXACTLY-ONCE upsert into a catalog table — the
    canonical Structured Streaming sink pattern for targets without
    transactional streaming writes: foreachBatch gives at-least-once
    delivery (a batch is re-delivered after a mid-commit crash), so
    the sink must make the (batchId, merge) application IDEMPOTENT.
    Here: a batch-id transaction log (one marker per committed batch,
    written AFTER the state version it commits, carrying THE VERSION
    it committed) turns re-delivery into a no-op, and each merge
    derives its base version from the COMMITTED MARKERS ON DISK —
    never from process memory — then writes the immutable next
    version v = max(committed)+1 = groupBy-sum(v-1 ∪ batch). Both
    crash windows are therefore safe: a retry that died between state
    write and marker recomputes the same base and overwrites the
    orphaned v with identical bytes (the merge is deterministic in
    (base state, batch)), and a full process restart rebuilds the
    base from the markers, so an uncommitted batch can neither
    double-count into state it already touched nor clobber committed
    history. Additive counters (count, integer cents) are exactly the
    metrics double-delivery corrupts — the demo proves both drills:

    - duplicate delivery: after the stream drains, the last batch is
      re-delivered to the merge function with its original batchId —
      the txn log must skip it (no new state version);
    - restart: a second AvailableNow run on the SAME checkpoint must
      process zero batches (Spark's offset log + our txn log agree).

    The final state lands as a catalog table (saveAsTable, explicit
    scratch path) and the query returns spark.table() over it.

    Integer-cents edge (floor(value*100+0.5), identical IEEE
    computation in both engines): integer sums are associative, so
    the result is bit-equal no matter how the stream was batched —
    float sums would hash-differently across batch groupings.

    100 TB posture: per-batch cost is |state| + |batch| with ONE
    keyed shuffle (the groupBy-sum after the union); the marker write
    is O(1) driver-side. Real deployments swap the versioned-parquet
    state for a MERGE INTO an indexed table format (Delta/Iceberg)
    with the batchId recorded in the target's txn metadata — same
    idempotency contract, merge-on-read instead of rewrite; the
    version rewrite here is the harness-sized stand-in. The replay
    orchestration (3 throttled micro-batches + a restart probe) is
    test harness, not production shape."""
    state_root = fresh_scratch("eo_state")
    commit_dir = os.path.join(state_root, "committed")
    os.makedirs(commit_dir)

    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    s = _staged_stream(spark, "eo", [e.repartition(3)])

    def _marker(batch_id: int) -> str:
        return os.path.join(commit_dir, f"batch_{batch_id}.done")

    def _read_marker(path: str) -> int | None:
        """The ONE definition of 'committed marker': a .done file whose
        content parses as a version number. Pairs with the atomic
        tmp+rename write below; a marker that somehow landed empty or
        garbled (pre-atomic history, a non-POSIX copy of the log) is
        treated as ABSENT by every reader — recovery and re-delivery
        both — so the batch re-delivers and rewrites it rather than
        wedging. Both call sites share this predicate so the recovery
        base and the re-delivery skip can never drift apart."""
        if not (path.endswith(".done") and os.path.exists(path)):
            return None
        with open(path) as fh:
            txt = fh.read().strip()
        return int(txt) if txt.isdigit() else None

    def _latest_committed() -> int:
        """Highest state version with a commit marker — THE source of
        truth for the merge base. Derived from disk, never memory: an
        orphaned v{n+1} whose marker never landed is invisible here,
        so a crashed-then-retried batch recomputes the same base and
        overwrites the orphan, and a full process restart (which loses
        any in-memory bookkeeping) resumes from committed history."""
        vs = [0]
        for f in os.listdir(commit_dir):
            v = _read_marker(os.path.join(commit_dir, f))
            if v is not None:
                vs.append(v)
        return max(vs)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _read_marker(_marker(batch_id)) is not None:
            return  # already committed: re-delivery is a no-op
        sess = batch_df.sparkSession
        inc = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        base = _latest_committed()
        if base:
            prev = sess.read.parquet(os.path.join(state_root, f"v{base}"))
            merged = (
                prev.unionByName(inc)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_cents").alias("sum_cents"),
                )
            )
        else:
            merged = inc
        v = base + 1
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{v}")
        )
        # commit point LAST, recording the version this batch owns: a
        # crash before this line re-delivers the batch, base is
        # re-derived from markers (unchanged), and the deterministic
        # merge rewrites v{base+1} with identical content. The marker
        # itself is made atomic by tmp-write + os.rename (same dir =>
        # same filesystem): a crash mid-write leaves only a .tmp file,
        # which no reader treats as a commit.
        tmp = _marker(batch_id) + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.rename(tmp, _marker(batch_id))

    # the per-batch merge is a small keyed aggregate (|users| rows), so
    # _drain's 8-partition pin suits it too
    cp = fresh_scratch("cp_stream_foreachbatch_exactly_once")
    _drain(s.writeStream.foreachBatch(merge_batch), cp)
    n_committed = _latest_committed()
    n_markers = len(
        [f for f in os.listdir(commit_dir) if f.endswith(".done")]
    )
    if n_committed != 3 or n_markers != 3:
        raise ValueError(
            f"exactly-once harness expected 3 committed batches, got "
            f"v{n_committed} / {n_markers} markers"
        )
    # drill 1 — duplicate delivery: re-run the LAST batch id with a
    # superset payload; the txn log alone must make it a no-op
    merge_batch(e, n_committed - 1)
    # drill 2 — restart: same checkpoint, zero new batches to process
    _drain(s.writeStream.foreachBatch(merge_batch), cp)
    if _latest_committed() != n_committed:
        raise ValueError(
            "exactly-once violated: duplicate/restarted batch created "
            f"state version v{_latest_committed()}"
        )
    final_path = os.path.join(state_root, f"v{n_committed}")
    # catalog registration is METADATA-ONLY: an external table over the
    # final committed version (no rewrite of the state bytes). The name
    # is PID-keyed like every file path here: catalogs are per-session
    # in-memory, but a shared metastore between a sweep and pytest must
    # not let one process's DROP/createTable race the other's (r6
    # scratch-race rationale applied to the catalog namespace).
    eo_tbl = eo_state_table_name()
    spark.sql(f"DROP TABLE IF EXISTS {eo_tbl}")
    spark.catalog.createTable(
        eo_tbl, path=final_path, source="parquet"
    )
    return spark.table(eo_tbl).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


def _run_cohort_batches(spark: SparkSession, sf_dir: str, name: str) -> str:
    """3-batch stateful run over the events table staged as three
    key-disjoint cohort files (user_id % 3 == k, in k order): per-user
    count/sum into a memory sink (update mode). Key-disjoint cohorts
    mean batch b's state delta is exactly cohort b — what makes
    per-batch state time-travel oracle-expressible. Returns the run's
    checkpoint dir."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    # The cohorts must PARTITION the table, or the oracles (which
    # aggregate the full events table) silently diverge: a NULL
    # user_id matches no `% 3 == k` filter, and a negative id's Spark
    # remainder (-2 % 3 == -2) matches no cohort while the oracle's
    # `user_id % 3 <= b` still counts it. The testdata has neither
    # today — but its shape has changed between rounds before (the ts
    # encoding), so guard loudly instead of assuming.
    n_events, n_staged = ev.agg(
        F.count(F.lit(1)), F.count_if(F.col("user_id") % 3 >= 0)
    ).first()
    if n_staged != n_events:
        raise ValueError(
            f"cohort split is not a partition of events ({n_staged} "
            f"staged vs {n_events} rows — NULL or negative user_ids?)"
        )
    sdf = _staged_stream(
        spark, name, [ev.filter(F.col("user_id") % 3 == k).coalesce(1) for k in range(3)]
    )
    agg = sdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(exact.cents(F.col("value"))).cast("double") / 100).alias("total_value"),
    )
    _run_to_table(spark, agg, name, "update")
    return scratch_path(f"cp_{name}")


@register(
    "stream_rocksdb_changelog_checkpoint",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value_r
    FROM events
    GROUP BY user_id
    """,
)
def stream_rocksdb_changelog_checkpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RocksDB CHANGELOG checkpointing — the incremental-checkpoint
    half of the 100 TB state story `stream_rocksdb_statestore`
    started. Without it, every micro-batch uploads a full RocksDB
    snapshot (.zip) per state partition: checkpoint I/O scales with
    TOTAL state size each batch, which at billions of live keys
    dominates the trigger interval. With
    `...rocksdb.changelogCheckpointing.enabled`, each batch ships only
    that batch's key changes (a .changelog file; snapshots are
    uploaded asynchronously every minDeltasForSnapshot batches), so
    per-batch checkpoint cost scales with the CHANGE rate, not the
    state size — the difference between a stream that keeps up and
    one that falls behind as state grows.

    In-query drills: (a) the checkpoint must actually contain
    .changelog files — one per (batch, state partition) — and ZERO
    per-batch full snapshots (with 3 batches, below the async
    snapshot threshold, any .zip means changelog mode didn't engage);
    (b) the value edge is the state-store READER over the finished
    checkpoint, so the per-user state the changelog replay
    reconstructs must equal the batch aggregate EXACTLY (checkpoint
    round-trip fidelity under the incremental format, not just
    stream completion). Conf is scoped and restored; the reader needs
    no provider conf (it resolves the format from checkpoint
    metadata — verified: reads green on a vanilla session)."""
    ckey = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    with scoped_conf(spark, {_PROVIDER_KEY: _ROCKSDB_PROVIDER, ckey: "true"}):
        cp = _run_cohort_batches(
            spark, sf_dir, "stream_rocksdb_changelog_checkpoint_run"
        )
    exts: dict[str, int] = {}
    for _root, _dirs, fs in os.walk(os.path.join(cp, "state", "0")):
        for f in fs:
            ext = f.rsplit(".", 1)[-1]
            exts[ext] = exts.get(ext, 0) + 1
    if not exts.get("changelog"):
        raise ValueError(f"no .changelog artifacts written: {exts}")
    if exts.get("zip"):
        raise ValueError(
            f"per-batch full snapshots present ({exts.get('zip')} .zip) "
            "— changelog checkpointing did not engage"
        )
    state = spark.read.format("statestore").load(cp)
    kf = state.schema["key"].dataType.names[0]
    vf = state.schema["value"].dataType.names
    # sum buffer = exact BIGINT cents since r18; decode at the edge.
    return state.select(
        F.col(f"key.{kf}").alias("user_id"),
        F.col(f"value.{vf[0]}").cast("long").alias("n_events"),
        F.round(F.col(f"value.{vf[1]}").cast("double") / 100, 2).alias(
            "total_value_r"
        ),
    )


@register(
    "stream_statestore_time_travel",
    oracle="""
    SELECT CAST(b AS BIGINT) AS batch_id,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(count(*) AS BIGINT)                AS n_events
    FROM events, (VALUES (0), (1), (2)) AS g(b)
    WHERE user_id % 3 <= b
    GROUP BY b
    """,
)
def stream_statestore_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """State-store reader POINT-IN-TIME options (`batchId` — state as
    of any committed micro-batch) plus the state CHANGE FEED
    (`readChangeFeed`/`changeStartBatchId`) as an in-query drill:
    state debugging as a batch table across TIME, not just the latest
    snapshot that `stream_statestore_inspect` reads. This is how a
    100 TB pipeline answers 'when did this key's state go wrong'
    offline — bisect over batchId with plain DataFrame queries
    against the same checkpoint the production stream still owns,
    zero interference.

    The 3 micro-batches are key-disjoint user cohorts published in a
    deterministic order (mtime-staggered files), so state AS OF batch
    b is exactly the aggregate over cohorts 0..b — the oracle states
    each batch's expected key count and event count from the events
    table directly. The change-feed drill cross-checks the two
    surfaces against each other: the number of keys UPDATED in batch
    b (change feed) must equal the as-of key-count delta (time
    travel), and every change row below the latest batch must be
    change_type='update' (cohorts never delete)."""
    cp = _run_cohort_batches(spark, sf_dir, "stream_statestore_time_travel_run")
    per_batch = []
    for b in range(3):
        st = (
            spark.read.format("statestore")
            .option("batchId", b)
            .load(cp)
        )
        vf = st.schema["value"].dataType.names
        row = st.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col(f"value.{vf[0]}")).alias("n_events"),
        ).collect()[0]
        per_batch.append((b, int(row.n_keys), int(row.n_events)))
    # drill: change feed vs time travel must agree batch-by-batch
    cf = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(cp)
    )
    cf_counts = {
        int(r.batch_id): int(r.n)
        for r in cf.filter(F.col("change_type") == "update")
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_changes = cf.count()
    if n_changes != sum(cf_counts.values()):
        raise ValueError(
            f"non-update change rows in an append-only cohort stream: "
            f"{n_changes} total vs {sum(cf_counts.values())} updates"
        )
    prev_keys = 0
    for b, n_keys, _n_ev in per_batch:
        delta = n_keys - prev_keys
        if cf_counts.get(b, 0) != delta:
            raise ValueError(
                f"change feed disagrees with as-of read at batch {b}: "
                f"{cf_counts.get(b, 0)} updated keys vs delta {delta}"
            )
        prev_keys = n_keys
    return spark.createDataFrame(
        per_batch, "batch_id long, n_keys long, n_events long"
    )


@register(
    "stream_statestore_join_state_reader",
    oracle="""
    SELECT side,
           CAST(n_state_rows AS BIGINT) AS n_state_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(sum_event_id AS BIGINT) AS sum_event_id
    FROM (
        SELECT 'left' AS side, count(*) AS n_state_rows,
               count(DISTINCT user_id) AS n_keys,
               sum(event_id) AS sum_event_id
        FROM events WHERE event_type = 'view' AND event_id % 10 = 0
        UNION ALL
        SELECT 'right', count(*), count(DISTINCT user_id), sum(event_id)
        FROM events WHERE event_type = 'purchase'
    ) t
    """,
)
def stream_statestore_join_state_reader(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """State-store reader over STREAM-STREAM JOIN state (`joinSide`
    option) — the join operator keeps four internal stores per side
    (keyToNumValues / keyWithIndexToValue × left/right) and the reader
    merges each side into one buffered-rows table, completing the
    state-debugging surface the aggregate/dedup readers
    (`stream_statestore_inspect`, `stream_statestore_time_travel`)
    already cover. This is how a 100 TB pipeline answers 'what is the
    join HOLDING right now' — e.g. which unmatched views are pinning
    state — offline, with plain DataFrame queries against the
    production checkpoint.

    The join is a pure equi-join (user_id) with a far watermark, so
    NOTHING is evicted and each side's state is exactly its input:
    left = every 10th view event, right = all purchases — both
    directly oracle-expressible. The value edge is per-side state
    cardinality, key count, and an exact content checksum
    (sum of buffered event_ids — proving the reader returns the rows
    themselves, not just counts). Two in-query drills cross-check the
    three surfaces against each other: (a) the join OUTPUT's row count
    must equal the sum over common keys of left×right state-row
    products, and (b) its distinct-user count must equal the state key
    intersection — state tables, sink contents, and the join operator
    must tell one consistent story."""
    name = "stream_join_state_reader_run"
    left = (
        _events_stream(spark, sf_dir)
        .filter(
            (F.col("event_type") == "view") & (F.col("event_id") % 10 == 0)
        )
        .select("user_id", "event_id", F.col("ts").alias("ts_l"))
        .withWatermark("ts_l", "3650 days")
    )
    right = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_r"),
            F.col("event_id").alias("event_r"),
            F.col("ts").alias("ts_r"),
        )
        .withWatermark("ts_r", "3650 days")
    )
    j = left.join(right, F.col("user_id") == F.col("user_r")).select(
        "user_id", "event_id", "event_r"
    )
    out = _run_to_table(spark, j, name, "append")
    cp = scratch_path(f"cp_{name}")

    def _state(side: str) -> DataFrame:
        st = (
            spark.read.format("statestore")
            .option("joinSide", side)
            .load(cp)
        )
        kf = st.schema["key"].dataType.names[0]
        eid = (
            "event_id"
            if "event_id" in st.schema["value"].dataType.names
            else "event_r"
        )
        return st.select(
            F.col(f"key.{kf}").alias("u"),
            F.col(f"value.{eid}").alias("eid"),
        )
    lstate, rstate = _state("left"), _state("right")
    # drill: output rows == sum over common keys of left*right buffered
    # products; output users == state key intersection
    per_key = (
        lstate.groupBy("u")
        .agg(F.count(F.lit(1)).alias("nl"))
        .join(
            rstate.groupBy("u").agg(F.count(F.lit(1)).alias("nr")), "u"
        )
    )
    agg = per_key.agg(
        F.sum(F.col("nl") * F.col("nr")).alias("n_pairs"),
        F.count(F.lit(1)).alias("n_common"),
    ).collect()[0]
    n_out = out.count()
    n_out_users = out.select("user_id").distinct().count()
    if n_out != int(agg.n_pairs or 0) or n_out_users != int(agg.n_common):
        raise ValueError(
            f"join state disagrees with join output: {n_out} output rows "
            f"vs {agg.n_pairs} state pair-products, {n_out_users} output "
            f"users vs {agg.n_common} common state keys"
        )

    def _edge(side: str, st: DataFrame) -> DataFrame:
        return st.agg(
            F.count(F.lit(1)).cast("long").alias("n_state_rows"),
            F.countDistinct("u").cast("long").alias("n_keys"),
            F.sum("eid").cast("long").alias("sum_event_id"),
        ).select(
            F.lit(side).alias("side"),
            "n_state_rows",
            "n_keys",
            "sum_event_id",
        )
    return _edge("left", lstate).unionByName(_edge("right", rstate))
