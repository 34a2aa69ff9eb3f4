"""Real Hive-metastore sessions (derby-backed HiveExternalCatalog).

The north-star approach is "Spark SQL + Hive metastore"
(BASELINE.json). The registered catalog queries (`source_catalog_table`,
`sql_ctas_insert`, ...) run against the driver's vanilla session, whose
catalog implementation is fixed at first-session creation — so they use
the in-memory catalog and SCALE.md documents the hive swap. This module
makes that swap DEMONSTRATED rather than documented: it builds a
session whose `spark.sql.catalogImplementation=hive`, backed by an
embedded Derby metastore under a caller-chosen directory, and
`tests/test_hive_metastore.py` proves cross-process persistence (two
sequential interpreter processes share one metastore: the second sees
and reads tables the first created — the property the in-memory catalog
cannot have).

Constraints this design respects:
  * catalogImplementation cannot be changed on a live session, and one
    JVM hosts one SparkContext — so hive sessions are built in a FRESH
    process (tests use subprocesses; production just sets the conf at
    launch). This is why no `@register` query can exercise it on the
    driver's vanilla session.
  * Embedded Derby allows a single live connection; concurrent
    sessions need a networked metastore (thrift) — the one-line swap
    is `hive.metastore.uris`, no query changes.

Probed 2026-08-15 (round 7): pyspark 4.1.2's bundled hive jars +
embedded Derby work in this sandbox (CREATE TABLE / INSERT / read-back
green); earlier rounds only asserted the in-memory path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hive_task_spark.tables import load


def hive_session(base_dir: str, app_name: str = "hive_task_spark_hive") -> SparkSession:
    """A SparkSession with a REAL HiveExternalCatalog persisted under
    ``base_dir`` (warehouse + embedded Derby metastore).

    Must be the process's FIRST session — catalogImplementation is
    frozen at SparkContext creation. Reusing the same ``base_dir``
    across processes reuses the same metastore: that persistence is
    the contract the test asserts.
    """
    os.makedirs(base_dir, exist_ok=True)
    return (
        SparkSession.builder.master("local[4]")
        .appName(app_name)
        .config("spark.sql.catalogImplementation", "hive")
        .config("spark.sql.warehouse.dir", os.path.join(base_dir, "warehouse"))
        .config(
            "javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={os.path.join(base_dir, 'metastore_db')};create=true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def create_tables(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Phase 1 of the persistence demo: CTAS a plain table and a
    PARTITIONED table into the Hive metastore from the test parquet.
    Returns row counts for the writer-side assertion."""
    spark.sql("DROP TABLE IF EXISTS hive_nation")
    spark.sql(
        "CREATE TABLE hive_nation USING PARQUET AS "
        "SELECT n_nationkey, n_name, n_regionkey FROM {nation}",
        nation=load(spark, sf_dir, "nation"),
    )
    spark.sql("DROP TABLE IF EXISTS hive_orders_by_year")
    spark.sql(
        "CREATE TABLE hive_orders_by_year USING PARQUET "
        "PARTITIONED BY (o_year) AS SELECT * FROM {orders}",
        orders=load(spark, sf_dir, "orders").selectExpr(
            "o_orderkey", "o_totalprice", "CAST(year(o_orderdate) AS INT) AS o_year"
        ),
    )
    return {
        "nation": spark.table("hive_nation").count(),
        "orders": spark.table("hive_orders_by_year").count(),
    }


def external_table_msck(spark: SparkSession, sf_dir: str, data_dir: str) -> dict[str, int]:
    """The 100 TB ingestion pattern: an EXTERNAL partitioned table over
    a directory other jobs append to. Backfill writers drop files into
    new ``o_year=YYYY/`` directories without touching the metastore;
    ``MSCK REPAIR TABLE`` (partition discovery) registers them. The
    returned counts prove the catalog saw nothing before the repair
    and everything after — the metadata-only operation that makes
    petabyte backfills atomic-ish (files land, then one DDL publishes
    them)."""
    orders = load(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_totalprice", "CAST(year(o_orderdate) AS INT) AS o_year"
    )
    spark.sql("DROP TABLE IF EXISTS hive_orders_ext")
    spark.sql(
        "CREATE EXTERNAL TABLE hive_orders_ext "
        "(o_orderkey BIGINT, o_totalprice DOUBLE) "
        "PARTITIONED BY (o_year INT) STORED AS PARQUET "
        f"LOCATION '{data_dir}'"
    )
    # the backfill writer lands o_year=YYYY/ dirs directly under the
    # table location via the PATH API, bypassing the catalog — one
    # partitionBy pass (single orders scan), not a per-partition
    # rescan loop
    orders.write.partitionBy("o_year").mode("append").parquet(data_dir)
    before = spark.sql("SHOW PARTITIONS hive_orders_ext").count()
    spark.sql("MSCK REPAIR TABLE hive_orders_ext")
    after = spark.sql("SHOW PARTITIONS hive_orders_ext").count()
    n_rows = spark.table("hive_orders_ext").count()
    return {"before": before, "after": after, "rows": n_rows,
            "src_rows": orders.count()}


def hiveql_transform(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """HiveQL script transform — ``SELECT TRANSFORM(...) USING 'cmd'``
    streams rows through an external process (the original Hive UDF
    escape hatch; reference point for HiveQL parity). Uses ``/bin/cat``
    as the identity script with the default tab-delimited serde, so the
    round-trip must preserve values exactly. At scale this is the
    legacy path — Arrow-batched ``mapInPandas`` (functions/udfs.py)
    does the same job 10-100x faster — but the surface must exist for
    HiveQL workloads to port."""
    out = spark.sql(
        "SELECT TRANSFORM(n_nationkey, n_name) "
        "USING '/bin/cat' AS (k STRING, name STRING) "
        "FROM {nation}",
        nation=load(spark, sf_dir, "nation"),
    )
    return sorted((int(r.k), r.name) for r in out.collect())


def read_tables(spark: SparkSession) -> dict[str, object]:
    """Phase 2 (fresh process, same metastore): the tables must exist
    in the catalog and answer queries — including partition listing
    and a partition-pruned aggregate — without any re-registration."""
    tables = {t.name for t in spark.catalog.listTables()}
    n_parts = spark.sql("SHOW PARTITIONS hive_orders_by_year").count()
    pruned = spark.sql(
        "SELECT CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS tp "
        "FROM hive_orders_by_year WHERE o_year = 1995"
    ).collect()[0]
    return {
        "tables": tables,
        "nation_rows": spark.table("hive_nation").count(),
        "orders_rows": spark.table("hive_orders_by_year").count(),
        "n_partitions": n_parts,
        "pruned_n": pruned["n"],
        "pruned_tp": pruned["tp"],
    }
