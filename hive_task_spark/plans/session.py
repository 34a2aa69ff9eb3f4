"""Session factory — the engine's "physical design" lives in conf.

The reference's entire bring-up path (make-scheduler → start-scheduler →
start-workers, /root/reference/src/scheduler.lisp:52-140) maps to this
one factory: Spark's driver + cluster manager ARE the scheduler, pool,
transport and supervision (SURVEY.md §3.1). Our job is only to pick the
right configuration posture.

100 TB posture notes (local[N] here, but every knob scales):
  * AQE on — runtime partition coalescing, skew-join splitting, and
    join-strategy switching replace any hand-scheduling.
  * Arrow on — every Python-side kernel (pandas UDFs) moves columnar
    batches, never rows.
  * UTC session timezone — deterministic timestamp semantics (and
    agreement with the DuckDB oracle, which is UTC-naive).
  * shuffle.partitions defaults to cores locally; on a real cluster the
    AQE coalescer makes the static number mostly irrelevant — set the
    initial number high (e.g. 2000+) and let AQE shrink it.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# The directory that holds the hive_task_spark package. Module-level
# Python kernels (mapInArrow / applyInPandas functions) are pickled by
# reference, so every Python worker must be able to import the package
# whatever the driver's working directory is.
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def default_parallelism() -> int:
    """Worker sizing — the analog of the reference's CPU-count probe
    (/root/reference/src/scheduler.lisp:16-22), delegated to the OS."""
    # $SPARK_GRAFT_CPUS, else the CPUs this process may run on (not the
    # host's count, which a container's CPU set can be far below).
    n = len(os.sched_getaffinity(0))
    try:
        return max(2, int(os.environ.get("SPARK_GRAFT_CPUS", "") or n))
    except ValueError:
        return n


def get_session(
    app_name: str = "hive_task_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Equivalent of the reference's ``make-scheduler`` + ``start-scheduler``
    (/root/reference/src/scheduler.lisp:52-103): idempotent bring-up of
    the execution substrate, sized to the machine.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # FAIR mode so the scheduler shim's pool tag (scheduler.put_work
        # sets spark.scheduler.pool) actually shares the cluster across
        # concurrent submissions; under default FIFO the tag is inert.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-mutable conf on a session we did not create.

    The driver hands our queries an externally-built session; correctness
    must not depend on how it was constructed. Only runtime-settable keys
    belong here (timezone, Arrow, AQE).
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # Legacy support: if events.parquet ever ships TIMESTAMP(NANOS)
        # again (it did in rounds 1-2), read it as a BIGINT of nanos and
        # let tables.normalize_events_ts convert. Harmless for the
        # current TIMESTAMP_MICROS encoding (conf only affects NANOS).
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # Python DataSource filter pushdown (Spark 4.1): a reader that
        # overrides pushFilters RAISES when this is off (the engine
        # refuses to silently ignore it), so it must be pinned on any
        # externally-built session before source_python_datasource_
        # pushdown plans. Only affects Python data sources.
        ("spark.sql.python.filterPushdown.enabled", "true"),
        # TIME data type (Spark 4.1): literals parse without it, but
        # make_time / EXTRACT / casts raise UNSUPPORTED_TIME_TYPE until
        # enabled. Runtime-settable; only affects queries that mention
        # TIME (date_time_type_suite).
        ("spark.sql.timeType.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds — keep going
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the ``with`` block only.

    On exit, even when the block raises, each key goes back to its value
    in ``spark.conf.getAll``, or is unset if it had none. Restoring what
    ``spark.conf.get`` returned would not do: for an unset key that is
    the default, and setting it leaves the session conf changed.
    """
    before = spark.conf.getAll
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k in conf:
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)
