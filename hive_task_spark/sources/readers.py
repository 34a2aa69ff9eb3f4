"""Sources & sinks — SURVEY.md §2B: CSV/JSON scan with explicit
schemas, partitioned parquet write + partition-pruned read-back, and
catalog tables (saveAsTable / spark.table).

Each query is a write→read round-trip whose final result is oracle-
checked against the ORIGINAL table — proving the format round-trips
losslessly, not just that the write succeeded.

100 TB posture: always pass an explicit schema to text formats
(schema inference is a full extra scan); always partitionBy a
low-cardinality column users filter on, so partition pruning turns
full scans into directory listings (`PartitionFilters` in .explain);
CSV/JSON are exchange formats only — parquet is the storage format.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_task_spark.registry import register
from hive_task_spark.functions.exact import cents as _cents
from hive_task_spark.tables import load

from hive_task_spark.scratch import fresh_scratch, scratch_path


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

_CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


@register(
    "source_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → CSV (header) → CSV scan with explicit schema.

    The read-back result must equal the source table exactly — the
    oracle never sees the CSV, so any quoting/typing loss fails the
    value-hash."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = scratch_path("nation_csv")
    n.write.mode("overwrite").option("header", "true").csv(path)
    return spark.read.schema(_NATION_SCHEMA).option("header", "true").csv(path)


@register(
    "source_json_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → JSON-lines → JSON scan with explicit schema (doubles
    round-trip via shortest-repr literals)."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    path = scratch_path("customer_json")
    c.write.mode("overwrite").json(path)
    return spark.read.schema(_CUSTOMER_SCHEMA).json(path)


@register(
    "source_parquet_partitioned",
    oracle="""
    SELECT
        CAST(year(o_orderdate) AS INT)  AS o_year,
        CAST(count(*) AS BIGINT)        AS n_orders,
        sum(o_totalprice)               AS total_price
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1996 AND 1997
    GROUP BY 1
    """,
)
def source_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write + pruned read-back.

    Writes orders partitioned by year, reads back with a year filter —
    the filter is satisfied by directory pruning (PartitionFilters in
    the scan node), the 100 TB pattern for time-partitioned facts."""
    o = load(spark, sf_dir, "orders")
    path = scratch_path("orders_by_year")
    (
        o.withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_year").between(1996, 1997))
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "source_catalog_table",
    oracle="""
    SELECT
        r.r_name                 AS region_name,
        CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def source_catalog_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """saveAsTable → spark.table round-trip (catalog-backed external
    table with an explicit path, so it works with both the in-memory
    catalog and a Hive metastore; `enableHiveSupport()` swaps the
    catalog implementation, not this code)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    (
        n.write.mode("overwrite")
        .option("path", scratch_path("nation_tbl"))
        .saveAsTable("htspark_nation")
    )
    (
        r.write.mode("overwrite")
        .option("path", scratch_path("region_tbl"))
        .saveAsTable("htspark_region")
    )
    nt = spark.table("htspark_nation")
    rt = spark.table("htspark_region")
    return (
        nt.join(F.broadcast(rt), nt["n_regionkey"] == rt["r_regionkey"])
        .groupBy(rt["r_name"].alias("region_name"))
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           sum(c_acctbal)           AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → ORC → ORC scan → aggregate (SURVEY §2B "Parquet/ORC
    write"). ORC is the other columnar format a Hive-metastore shop
    runs on; Spark's native vectorized ORC reader gives the same
    pushdown/pruning behavior as parquet. The oracle aggregates the
    original parquet — value-identical iff the round-trip is
    lossless (longs, doubles, strings all are)."""
    c = load(spark, sf_dir, "customer")
    path = scratch_path("customer_orc")
    c.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("c_acctbal").alias("total_bal"),
    )


@register(
    "source_json_permissive_corrupt",
    oracle="""
    SELECT
        CAST(sum(CASE WHEN n_nationkey % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_good,
        CAST(sum(CASE WHEN n_nationkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_corrupt,
        CAST(sum(CASE WHEN n_nationkey % 7 <> 0 THEN n_regionkey END) AS BIGINT)
            AS sum_region_good
    FROM nation
    """,
)
def source_json_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance: a JSON-lines file where every 7th
    nation row is deliberately truncated mid-object is read back in
    PERMISSIVE mode with a `_corrupt` capture column — bad records
    become rows, not job failures (at 100 TB one bad record must
    never kill the job; FAILFAST is opt-in). The oracle derives the
    same good/corrupt split from the corruption rule itself, proving
    the reader classified every line correctly."""
    n = load(spark, sf_dir, "nation")
    lines = n.select(
        F.when(
            F.col("n_nationkey") % 7 == 0,
            F.concat(F.lit('{"n_nationkey": '), F.col("n_nationkey").cast("string")),
        )
        .otherwise(F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey")))
        .alias("value")
    )
    path = scratch_path("nation_corrupt_json")
    lines.write.mode("overwrite").text(path)
    # a new StructType, not _NATION_SCHEMA.add(...): add() mutates the
    # shared constant in place
    schema = T.StructType(
        _NATION_SCHEMA.fields + [T.StructField("_corrupt", T.StringType())]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return back.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("n_regionkey")))
        .cast("long")
        .alias("sum_region_good"),
    )


@register(
    "source_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT)     AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_spend
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both tables written bucketBy(8)
    + sortBy on the join key, so the SortMergeJoin reads bucket files
    pre-partitioned AND pre-sorted — no Exchange and no Sort under
    the join (plan-asserted in tests/test_plans.py). This is THE
    scale pattern for a fact-fact join both of whose sides are too big
    to broadcast: at 100 TB, bucketing both tables once at write time
    removes the shuffle from every subsequent join on that key. The
    merge hint forces the comparison against the broadcast-free plan;
    the result is oracle-checked against the unbucketed originals."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    for tbl in ("ht_orders_b", "ht_customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        o.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", scratch_path("orders_bucketed"))
        .saveAsTable("ht_orders_b")
    )
    (
        c.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", scratch_path("customer_bucketed"))
        .saveAsTable("ht_customer_b")
    )
    ob = spark.table("ht_orders_b")
    cb = spark.table("ht_customer_b")
    return (
        ob.hint("merge")
        .join(cb, ob["o_custkey"] == cb["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )


@register(
    "source_join_dpp_prune",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(count(*) AS BIGINT)          AS n_orders,
           round(sum(o_totalprice), 2)       AS total_r
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY year(o_orderdate)
    """,
)
def source_join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is stored partitioned
    by year; the year predicate arrives through a JOIN with a filtered
    dimension, not as a literal on the fact — at planning time Spark
    injects the dim's key set as a runtime partition filter
    (dynamicpruning subquery in the scan), so only the two matching
    year directories are read. THE 100 TB star-join pattern: date-dim
    filters prune the fact scan without the query author repeating
    the predicate. Plan-asserted in tests/test_plans.py; the oracle
    states the post-pruning semantics as a plain filter."""
    o = load(spark, sf_dir, "orders")
    path = scratch_path("orders_dpp_by_year")
    (
        o.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    years = (
        fact.select(F.col("o_year").alias("y"))
        .distinct()
        .filter(F.col("y").isin(1996, 1997))
    )
    return (
        fact.join(years, fact["o_year"] == years["y"])
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_r"),
        )
        .select(F.col("o_year").cast("long").alias("o_year"), "n_orders", "total_r")
    )


class _FibSource(DataSource):
    """Custom batch source via the Spark 4 Python DataSource API: a
    deterministic number-theory table (n, fib(n) mod 2^31, n mod k) in
    `numPartitions` independent splits. Demonstrates the full V2
    surface — schema(), partitions(), per-partition read() — i.e. how
    a bespoke feed (internal service, proprietary format) plugs into
    the engine as a first-class scan with REAL parallelism (each
    partition computes independently on its executor)."""

    @classmethod
    def name(cls):
        return "fibsource"

    def schema(self):
        return "n BIGINT, fib_mod BIGINT, bucket BIGINT"

    def reader(self, schema):
        return _FibReader(self.options)


class _FibReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("rows", 256))
        self.n_parts = int(options.get("numPartitions", 8))

    def partitions(self):
        step = (self.n_rows + self.n_parts - 1) // self.n_parts
        return [
            InputPartition((i * step, min((i + 1) * step, self.n_rows)))
            for i in range(self.n_parts)
        ]

    def read(self, partition):
        lo, hi = partition.value
        # closed-form-free iterative fib from the partition start:
        # recompute the two seeds for `lo` locally (O(lo) once per
        # partition, fine for a demo source; a real source would seek)
        M = 2147483647
        a, b = 0, 1
        for _ in range(lo):
            a, b = b, (a + b) % M
        for n in range(lo, hi):
            yield (n, a, n % 8)
            a, b = b, (a + b) % M


@register(
    "source_python_datasource",
    oracle="""
    WITH RECURSIVE fib(n, a, b) AS (
        SELECT 0, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        UNION ALL
        SELECT n + 1, b, (a + b) % 2147483647 FROM fib WHERE n < 255
    )
    SELECT CAST(n % 8 AS BIGINT)   AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(a) AS BIGINT)   AS fib_mod_sum,
           CAST(max(a) AS BIGINT)   AS fib_mod_max
    FROM fib
    GROUP BY n % 8
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register + scan a custom Python DataSource (Spark 4 V2 API) and
    aggregate it — proving third-party feeds enter the engine as
    partitioned scans (8 input splits here, each read independently)
    rather than driver-side collects. The oracle recomputes the same
    deterministic sequence with a recursive CTE."""
    spark.dataSource.register(_FibSource)
    df = spark.read.format("fibsource").option("rows", "256").option(
        "numPartitions", "8"
    ).load()
    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("fib_mod").cast("long").alias("fib_mod_sum"),
            F.max("fib_mod").cast("long").alias("fib_mod_max"),
        )
    )


class _PushdownRangeSource(DataSource):
    """Python DataSource batch reader WITH filter pushdown (Spark 4.1
    `DataSourceReader.pushFilters`): the reader
    accepts `part >=` / `<=` / `=` predicates, narrows its planned
    partition range accordingly, and returns every other filter for
    Spark to evaluate post-scan. This is the pruning-at-source seam a
    Python connector to a partitioned store (database shards, a REST
    API with range parameters, an object-store prefix layout) needs at
    100 TB — without it Spark fetches every shard and filters after
    the transfer."""

    @classmethod
    def name(cls):
        return "pyrangepushdown"

    def schema(self):
        return "part INT, i INT, v INT, parts_planned INT"

    def reader(self, schema):
        return _PushdownRangeReader(self.options)


class _PushdownRangeReader(DataSourceReader):
    NUM_PARTS = 16
    ROWS_PER_PART = 64

    def __init__(self, options):
        self.min_part = 0
        self.max_part = self.NUM_PARTS - 1

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThanOrEqual,
            LessThanOrEqual,
        )

        rest = []
        for f in filters:
            if getattr(f, "attribute", None) == ("part",) and isinstance(
                f, (EqualTo, GreaterThanOrEqual, LessThanOrEqual)
            ):
                if isinstance(f, (EqualTo, GreaterThanOrEqual)):
                    self.min_part = max(self.min_part, int(f.value))
                if isinstance(f, (EqualTo, LessThanOrEqual)):
                    self.max_part = min(self.max_part, int(f.value))
            else:
                # unsupported filters (IsNotNull, expressions on other
                # columns) go back to Spark for post-scan evaluation —
                # each returned object is one of the inputs by reference
                rest.append(f)
        return rest

    def partitions(self):
        # plan ONLY the part range that survived pushdown — with no
        # pushed filters this is all 16 splits; the emitted
        # parts_planned column makes the pruning observable in the
        # DATA, so the cross-engine oracle check fails if pushdown
        # ever silently stops pruning
        return [
            InputPartition(p)
            for p in range(self.min_part, self.max_part + 1)
        ]

    def read(self, partition):
        p = partition.value
        planned = self.max_part - self.min_part + 1
        for j in range(self.ROWS_PER_PART):
            i = p * self.ROWS_PER_PART + j
            yield (p, i, (i * i) % 97, planned)


@register(
    "source_python_datasource_pushdown",
    oracle="""
    SELECT CAST(i // 64 AS BIGINT)      AS part,
           CAST(i AS BIGINT)            AS i,
           CAST((i * i) % 97 AS BIGINT) AS v,
           CAST(5 AS BIGINT)            AS parts_planned
    FROM range(1024) t(i)
    WHERE i // 64 BETWEEN 10 AND 14 AND ((i * i) % 97) % 2 = 0
    """,
)
def source_python_datasource_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter pushdown INTO a Python DataSource (Spark 4.1): the scan
    below carries `part BETWEEN 10 AND 14`, which the reader absorbs
    via pushFilters and plans 5 of 16 partitions; the non-pushable
    `v % 2 = 0` comes back to Spark. The reader emits how many
    partitions it planned as a column, so the oracle (which hardcodes
    the expected 5) breaks loudly if pruning regresses to 16 — the
    pushdown is value-checked, not just plan-inspected.
    apply_runtime_conf pins spark.sql.python.filterPushdown.enabled:
    overriding pushFilters with the conf off is an engine error."""
    from hive_task_spark.plans.session import apply_runtime_conf

    apply_runtime_conf(spark)
    spark.dataSource.register(_PushdownRangeSource)
    df = spark.read.format("pyrangepushdown").load()
    return df.filter(
        (F.col("part") >= 10) & (F.col("part") <= 14) & (F.col("v") % 2 == 0)
    ).select(
        F.col("part").cast("long").alias("part"),
        F.col("i").cast("long").alias("i"),
        F.col("v").cast("long").alias("v"),
        F.col("parts_planned").cast("long").alias("parts_planned"),
    )


@register(
    "source_ignore_corrupt_files",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def source_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-shard resilience: a directory holding one good parquet
    file and one garbage file reads back clean under
    ``ignoreCorruptFiles`` — at 100 TB across millions of objects,
    occasional truncated/corrupt shards are a fact of life and a full
    job abort on one bad file is not acceptable for bulk analytics.
    (The flip side — integrity-critical loads want the default
    fail-fast — is exactly why it's a per-read option.) The oracle is
    the intact table: the read must surface every good row and
    nothing else."""
    n = load(spark, sf_dir, "nation")
    path = fresh_scratch("nation_with_corrupt")
    n.coalesce(1).write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not really a parquet file \x00\x01\x02")
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "source_xml_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (Spark 4 from_xml): each nation row is
    serialized to an XML fragment and parsed back through an explicit
    schema; the extracted struct must reproduce the table exactly.
    Field extraction happens JVM-side in one projection (no Python);
    at scale this is the pattern for XML feeds landed as text —
    schema-on-read without a preprocessing hop. Oracle sees only the
    round-trip result."""
    n = load(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit("<nation><k>"),
        F.col("n_nationkey").cast("string"),
        F.lit("</k><name>"),
        F.col("n_name"),
        F.lit("</name><rk>"),
        F.col("n_regionkey").cast("string"),
        F.lit("</rk></nation>"),
    )
    parsed = n.select(
        F.from_xml(xml, "k INT, name STRING, rk INT").alias("x")
    )
    return parsed.select(
        F.col("x.k").alias("n_nationkey"),
        F.col("x.name").alias("n_name"),
        F.col("x.rk").alias("n_regionkey"),
    )


@register(
    "source_parquet_zstd",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS total_r
    FROM lineitem
    """
    + "GROUP BY l_returnflag",
)
def source_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec control: lineitem rewritten as zstd parquet (the modern
    default for cold analytic storage — tighter than snappy at
    comparable scan cost) and aggregated from the re-read. At 100 TB
    codec choice is a first-order cost knob (storage AND shuffle);
    the engine must prove values survive the round-trip bit-exactly,
    which the intact-table oracle checks."""
    li = load(spark, sf_dir, "lineitem")
    path = scratch_path("lineitem_zstd")
    li.write.mode("overwrite").option("compression", "zstd").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_r"),
        )
    )


@register(
    "source_compact_small_files",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total_r
    FROM orders GROUP BY o_orderstatus
    """,
)
def source_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: orders shattered into 64 shards (the
    streaming-ingest pathology — at 100 TB, millions of KB-sized files
    turn listing and task scheduling into the bottleneck), then
    compacted to 4 right-sized files with a single repartition write.
    The aggregate reads the COMPACTED copy and must match the intact
    table — compaction is only correct if it's a pure re-layout.
    tests/test_plans.py asserts the file counts; on a cluster the same
    two statements are the nightly compaction job (or the table
    format's OPTIMIZE)."""
    o = load(spark, sf_dir, "orders")
    frag = scratch_path("orders_fragmented")
    compact = scratch_path("orders_compacted")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    return (
        spark.read.parquet(compact)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_r"),
        )
    )


@register(
    "source_binary_files",
    oracle="""
    SELECT concat('doc_', CAST(doc_id AS VARCHAR), '.txt') AS fname,
           CAST(octet_length(encode(text)) AS BIGINT)      AS n_bytes,
           sha256(text)                                    AS content_sha256
    FROM documents
    WHERE doc_id <= 20
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — the blob-ingestion path every multimodal
    pipeline starts from (image/audio shards on a filesystem → opaque
    `content: binary` rows with path/length metadata). Fixture: the
    first 20 documents written as UTF-8 .txt blobs; the scan then
    proves content fidelity end-to-end by re-deriving byte length and
    sha256 from the BINARY column and matching the oracle's
    computation over the source strings. At scale the reader
    parallelizes over files and `pathGlobFilter`/`recursiveFileLookup`
    prune directories server-side; pair with
    `spark.sql.files.maxPartitionBytes` so many small blobs coalesce
    into few tasks (see multimodal.py for the downstream decode
    kernels)."""
    d = fresh_scratch("bin_docs")

    def _write_blobs(rows) -> None:
        # Executor-side blob writer (local[_] shares the scratch FS;
        # on a cluster this is a shared/object store path) — the
        # driver never materializes the corpus.
        for r in rows:
            with open(os.path.join(d, f"doc_{r['doc_id']}.txt"), "wb") as f:
                f.write(r["text"].encode("utf-8"))

    (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 20)
        .select("doc_id", "text")
        .foreachPartition(_write_blobs)
    )
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(d)
    )
    return scan.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").cast("long").alias("n_bytes"),
        F.sha2("content", 256).alias("content_sha256"),
    )


@register(
    "source_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total_r
    FROM orders
    WHERE o_orderstatus <> 'F' OR year(o_orderdate) >= 1997
    GROUP BY o_orderstatus
    """,
)
def source_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (`partitionOverwriteMode=dynamic`):
    an INSERT OVERWRITE that replaces ONLY the partitions present in
    the incoming data, leaving sibling partitions byte-identical —
    the idempotent daily-reload primitive (static mode would wipe the
    whole table). Fixture: orders written partitioned by status, then
    the 'F' partition alone overwritten with its post-1997 subset;
    the re-read proves 'O'/'P' survived untouched and 'F' was
    replaced, value-exactly. The mode is the one write's option, so the
    session conf is never touched (queries must not depend on session
    conf — CLAUDE.md)."""
    path = fresh_scratch("orders_dpo")
    o = load(spark, sf_dir, "orders")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)

    (
        o.filter(
            (F.col("o_orderstatus") == "F")
            & (F.year("o_orderdate") >= 1997)
        )
        .write.partitionBy("o_orderstatus")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )

    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_r"),
        )
    )


@register(
    "source_parquet_schema_merge",
    oracle="""
    WITH v1 AS (
        SELECT c_custkey, c_acctbal, NULL AS c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
    ),
    v2 AS (
        SELECT c_custkey, NULL AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 1
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT
        CAST(count(*) AS BIGINT)               AS n_rows,
        CAST(count(c_acctbal) AS BIGINT)       AS n_with_bal,
        CAST(count(c_mktsegment) AS BIGINT)    AS n_with_seg,
        round(sum(c_acctbal), 2)               AS total_bal_r
    FROM u
    """,
)
def source_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet drops with DIFFERENT
    column sets (v1: key+balance, v2: key+segment — the classic
    "producer added a column mid-stream" shape) land in one dataset
    directory; `mergeSchema=true` unions the footers into a superset
    schema with NULLs where a file lacks the column. The audit
    aggregate proves both halves surfaced with their own columns
    populated. At 100 TB, schema merge is a FOOTER-only operation
    (no data rewrite) — that's why evolving wide event tables in
    place is cheap; pin mergeSchema off for stable-schema scans to
    skip the footer sweep."""
    c = load(spark, sf_dir, "customer")
    base = fresh_scratch("schema_merge_ds")
    c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_acctbal").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "drop=v1"))
    c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_mktsegment"
    ).write.mode("overwrite").parquet(os.path.join(base, "drop=v2"))
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(base)
    return merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("c_acctbal").cast("long").alias("n_with_bal"),
        F.count("c_mktsegment").cast("long").alias("n_with_seg"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal_r"),
    )


@register(
    "source_write_modes",
    oracle="""
    SELECT n_nationkey,
           CAST(2 AS BIGINT) AS n_copies
    FROM nation
    """,
)
def source_write_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameWriter save-mode semantics: `overwrite` resets the
    dataset, a second write with `append` adds files alongside (no
    rewrite of existing data — the cheap incremental-load path), and
    the read-back sees exactly two copies of every key. Overwrite vs
    append is THE idempotency decision in nightly loads; the
    dynamic-partition variant is `source_dynamic_partition_overwrite`."""
    n = load(spark, sf_dir, "nation").select("n_nationkey")
    path = scratch_path("write_modes_nation")
    n.write.mode("overwrite").parquet(path)
    n.write.mode("append").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )


def _stage(base: str, files: dict[str, DataFrame]) -> None:
    """Write each frame as one immutable single-file data dir under
    `base`, named by its key: staged, not yet live until a commit adds
    it."""
    for name, df in files.items():
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, name))


def _read_snapshot(
    spark: SparkSession, base: str, as_of: int | None = None
) -> DataFrame:
    """Read the table AS OF version `as_of` (latest when None): resolve
    the live files from the log, then one multi-path parquet scan of
    just those files — snapshot resolution costs O(log), not O(data)."""
    return spark.read.parquet(
        *[os.path.join(base, f) for f in _occ_live_files(base, as_of)]
    )


def _write_commit_log(spark: SparkSession, sf_dir: str) -> str:
    """Build a 3-version Delta-style table: v1 adds files A+B, v2 adds
    C, v3 removes B. Readers reconstruct any version's live file set
    from the log alone — data files are immutable."""
    base = fresh_scratch("commit_log_ds")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    _stage(
        base,
        {
            "file_A": n.filter(F.col("n_nationkey") < 10),
            "file_B": n.filter(
                (F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)
            ),
            "file_C": n.filter(F.col("n_nationkey") >= 20),
        },
    )
    occ_commit(
        base,
        0,
        [{"action": "add", "file": "file_A"}, {"action": "add", "file": "file_B"}],
    )
    occ_commit(base, 1, [{"action": "add", "file": "file_C"}])
    occ_commit(base, 2, [{"action": "remove", "file": "file_B"}])
    return base


@register(
    "source_commit_log_snapshot",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(n_nationkey) AS BIGINT) AS min_key,
           CAST(max(n_nationkey) AS BIGINT) AS max_key
    FROM nation WHERE n_nationkey < 10 OR n_nationkey >= 20
    """,
)
def source_commit_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse transaction-log replay, latest snapshot: immutable
    parquet files + one JSON commit file of add/remove actions per
    version — the Delta/Iceberg mechanic reduced to its essence.
    Version 3 removed file B, so the live set is A+C and the scan never
    opens B (file skipping by metadata, not data reads). The oracle states the
    surviving key ranges directly."""
    base = _write_commit_log(spark, sf_dir)
    snap = _read_snapshot(spark, base)
    return snap.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("n_nationkey").cast("long").alias("min_key"),
        F.max("n_nationkey").cast("long").alias("max_key"),
    )


@register(
    "source_commit_log_time_travel",
    oracle="""
    SELECT CAST(v AS BIGINT) AS version, CAST(n AS BIGINT) AS n_rows
    FROM (VALUES (1, (SELECT count(*) FROM nation WHERE n_nationkey < 20)),
                 (2, (SELECT count(*) FROM nation)),
                 (3, (SELECT count(*) FROM nation
                      WHERE n_nationkey < 10 OR n_nationkey >= 20)))
         AS t(v, n)
    """,
)
def source_commit_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the commit log: the same dataset read AS OF
    versions 1, 2 and 3 returns three different row sets from the
    same immutable files — history costs storage for removed files
    only, never a copy of the table. Each AS-OF read resolves its
    file list from the log and scans just those files."""
    base = _write_commit_log(spark, sf_dir)
    out = None
    for v in (1, 2, 3):
        row = _read_snapshot(spark, base, as_of=v).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows")
        ).select(F.lit(v).cast("long").alias("version"), "n_rows")
        out = row if out is None else out.unionByName(row)
    return out


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency commit rejected: a concurrent winner's
    committed actions logically conflict with this transaction's
    (here: both removed the same file — ConcurrentDeleteDelete in
    Delta's taxonomy). The loser must abort WITHOUT touching the log;
    its staged data files become unreferenced orphans (vacuum fodder),
    never live."""


def _occ_commit_path(base: str, version: int) -> str:
    return os.path.join(base, f"_commit_{version}.json")


def _occ_versions(base: str) -> list[int]:
    """Committed versions, from the log directory listing alone."""
    out = []
    for f in os.listdir(base):
        if f.startswith("_commit_") and f.endswith(".json"):
            out.append(int(f[len("_commit_"):-len(".json")]))
    return sorted(out)


def _occ_actions(base: str, version: int) -> list[dict]:
    import json

    with open(_occ_commit_path(base, version)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _occ_replay(base: str):
    """The one replay of the log: yield (version, live file set) after
    each committed version, oldest first. Each version is its own
    atomically-published file (the Delta `_delta_log/0000N.json`
    mechanic), so the replay is O(log) driver-side metadata, never a
    data read."""
    live: set[str] = set()
    for v in _occ_versions(base):
        for a in _occ_actions(base, v):
            if a["action"] == "add":
                live.add(a["file"])
            else:
                live.discard(a["file"])
        yield v, frozenset(live)


def _occ_live_files(base: str, as_of: int | None = None) -> list[str]:
    """The live file set AS OF version `as_of` (latest when None)."""
    files: frozenset[str] = frozenset()
    for v, live in _occ_replay(base):
        if as_of is not None and v > as_of:
            break
        files = live
    return sorted(files)


def _occ_reachable(base: str, retain_from: int) -> set[str]:
    """Files some snapshot at version >= retain_from still references:
    the union of the retained versions' live sets, in one replay."""
    reachable: set[str] = set()
    for v, live in _occ_replay(base):
        if v >= retain_from:
            reachable |= live
    return reachable


def occ_commit(base: str, read_version: int, actions: list[dict]) -> tuple[int, int]:
    """Optimistic-concurrency commit: attempt version read_version+1,
    rebasing over concurrent winners when the action sets are
    logically compatible; raise CommitConflictError when not.

    The atomic primitive is put-if-absent on the commit file,
    implemented as write-complete-to-tmp + os.link(tmp, final): link
    fails with FileExistsError iff the version is already claimed, and
    the published file ALWAYS carries its full content (a crash before
    the link leaves only a .tmp the reader never looks at — the same
    no-partial-commit discipline as the exactly-once sink's markers).
    On real object stores this maps to the conditional-put every
    lakehouse commit service is built on.

    Conflict matrix (the write-level subset of Delta's
    WriteSerializable rules — no predicate/read-set tracking here,
    stated honestly): concurrent APPENDs never conflict; a file this
    txn removes that a winner ALSO removed is ConcurrentDeleteDelete
    (abort); a winner's add can never collide with ours (writers stage
    under unique names). Returns (committed_version, n_rebases)."""
    import json

    my_removes = {a["file"] for a in actions if a["action"] == "remove"}
    attempt = read_version + 1
    n_rebases = 0
    tmp = os.path.join(
        base, f"_commit_attempt.{os.getpid()}.{id(actions)}.tmp"
    )
    try:
        # write inside the try so a mid-write failure (e.g. a
        # non-JSON-serializable action) still unlinks the .tmp —
        # the no-leaked-tmp invariant the model-based drill asserts
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        while True:
            final = _occ_commit_path(base, attempt)
            try:
                os.link(tmp, final)  # atomic put-if-absent
                return attempt, n_rebases
            except FileExistsError:
                their = _occ_actions(base, attempt)
                their_removes = {
                    a["file"] for a in their if a["action"] == "remove"
                }
                clash = my_removes & their_removes
                if clash:
                    raise CommitConflictError(
                        f"version {attempt} already removed "
                        f"{sorted(clash)} (ConcurrentDeleteDelete)"
                    ) from None
                attempt += 1  # compatible winner: rebase and retry
                n_rebases += 1
    finally:
        if os.path.exists(tmp):  # open() itself may have failed
            os.unlink(tmp)


@register(
    "source_commit_log_optimistic_concurrency",
    oracle="""
    SELECT CAST(v AS BIGINT) AS version,
           CAST(f AS BIGINT) AS n_files,
           CAST(n AS BIGINT) AS n_rows
    FROM (VALUES
        (1, 1, (SELECT count(*) FROM nation WHERE n_nationkey < 10)),
        (2, 2, (SELECT count(*) FROM nation WHERE n_nationkey < 20)),
        (3, 3, (SELECT count(*) FROM nation)),
        (4, 3, (SELECT count(*) FROM nation)))
        AS t(v, f, n)
    """,
)
def source_commit_log_optimistic_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Concurrent-writer conflict detection over the commit-log
    lakehouse emulation — the optimistic-concurrency contract Delta/
    Iceberg add on top of immutable files + a version log, which the
    single-writer `source_commit_log_snapshot` family deliberately
    lacked (VERDICT r14 item 3).

    Two races run in-query against the same table:

    1. APPEND vs APPEND: writers X and Y both read v1 and both target
       v2. X publishes v2; Y's put-if-absent on v2 fails, the rebase
       check finds X's commit append-only and disjoint, and Y retries
       at v3 — one loser, zero lost writes, exactly one rebase
       (asserted).
    2. COMPACT vs COMPACT: W1 and W2 both read v3 and both stage a
       rewrite of file_A (remove A + add their own compacted copy).
       W1 publishes v4; W2's rebase check sees its own remove of
       file_A already removed by v4 — ConcurrentDeleteDelete — and
       ABORTS (asserted), leaving the log at exactly 4 versions and
       W2's staged file orphaned, never live.

    The value edge is the per-version snapshot history (n_files +
    n_rows for v1..v4) — v3 exists only because Y rebased, and v4's
    unchanged row count proves the winning compaction rewrote, not
    dropped, data. The oracle states each version's expected state
    from the nation table directly.

    100 TB posture: commit cost is O(actions) driver-side metadata +
    one conditional-put, independent of table size; the conflict check
    reads only the winner's commit file(s), never data. That is the
    property that lets hundreds of concurrent ETL writers share one
    petabyte table — data-file I/O stays embarrassingly parallel and
    only the tiny version-claim serializes."""
    base = fresh_scratch("commit_log_occ")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    _stage(
        base,
        {
            "file_A": n.filter(F.col("n_nationkey") < 10),
            "file_D": n.filter(
                (F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)
            ),
            "file_E": n.filter(F.col("n_nationkey") >= 20),
            # both compactions rewrite file_A's rows under their own name
            "file_A_c1": n.filter(F.col("n_nationkey") < 10),
            "file_A_c2": n.filter(F.col("n_nationkey") < 10),
        },
    )
    v, r = occ_commit(base, 0, [{"action": "add", "file": "file_A"}])
    if (v, r) != (1, 0):
        raise ValueError(f"base commit landed at v{v} with {r} rebases")
    # race 1 — append vs append from the same read version
    vx, rx = occ_commit(base, 1, [{"action": "add", "file": "file_D"}])
    vy, ry = occ_commit(base, 1, [{"action": "add", "file": "file_E"}])
    if (vx, rx) != (2, 0) or (vy, ry) != (3, 1):
        raise ValueError(
            f"append race broke OCC: X=(v{vx},{rx}) Y=(v{vy},{ry}) — "
            "Y must lose v2 and rebase exactly once to v3"
        )
    # race 2 — conflicting compactions from the same read version
    w1 = [
        {"action": "remove", "file": "file_A"},
        {"action": "add", "file": "file_A_c1"},
    ]
    w2 = [
        {"action": "remove", "file": "file_A"},
        {"action": "add", "file": "file_A_c2"},
    ]
    v1_, r1_ = occ_commit(base, 3, w1)
    if (v1_, r1_) != (4, 0):
        raise ValueError(f"compaction W1 landed at v{v1_} ({r1_} rebases)")
    try:
        occ_commit(base, 3, w2)
    except CommitConflictError:
        pass  # the required outcome: W2 detects and aborts
    else:
        raise ValueError(
            "conflicting compaction W2 committed — "
            "ConcurrentDeleteDelete undetected"
        )
    if _occ_versions(base) != [1, 2, 3, 4]:
        raise ValueError(
            f"log corrupted by aborted writer: {_occ_versions(base)}"
        )
    if "file_A_c2" in _occ_live_files(base):
        raise ValueError("loser's staged file became live")
    out = None
    for ver in (1, 2, 3, 4):
        n_files = len(_occ_live_files(base, as_of=ver))
        row = (
            _read_snapshot(spark, base, as_of=ver)
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .select(
                F.lit(ver).cast("long").alias("version"),
                F.lit(n_files).cast("long").alias("n_files"),
                "n_rows",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "source_csv_dropmalformed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_valid,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
)
def source_csv_dropmalformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV DROPMALFORMED mode: a shard of hand-corrupted lines (wrong
    arity, non-numeric key) lands beside the valid rows and must be silently discarded by the parser — the
    lossy-but-keep-going counterpart of PERMISSIVE's corrupt-record
    column (`source_json_permissive_corrupt`). The audit aggregate
    proves exactly the valid rows survived. At scale DROPMALFORMED
    is how you ingest dirty third-party feeds without a quarantine
    pass; pair with a PERMISSIVE side-channel when you need the
    rejects."""
    base = fresh_scratch("nation_malformed_csv")
    load(spark, sf_dir, "nation").select("n_nationkey", "n_name").coalesce(
        1
    ).write.mode("overwrite").csv(base)
    # A second shard of hand-corrupted lines lands beside the valid one
    # (wrong arity, non-numeric key) — no driver-side collect of data.
    with open(os.path.join(base, "part-malformed.csv"), "w") as fh:
        fh.write("this,row,has,too,many,columns\n")
        fh.write("not_a_number,BADKEY\n")
    schema = "n_nationkey BIGINT, n_name STRING"
    back = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .csv(base)
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_valid"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
    )


@register(
    "source_zone_map_pruning",
    oracle="""
    WITH nat AS (
        SELECT l_shipdate,
               (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1)
                   // 4096 AS bucket
        FROM lineitem
    ),
    srt AS (
        SELECT l_shipdate,
               (row_number() OVER (ORDER BY l_shipdate, l_orderkey,
                                   l_linenumber) - 1) // 4096 AS bucket
        FROM lineitem
    ),
    zones AS (
        SELECT 'natural' AS layout, bucket,
               min(l_shipdate) AS lo, max(l_shipdate) AS hi
        FROM nat GROUP BY bucket
        UNION ALL
        SELECT 'sorted' AS layout, bucket,
               min(l_shipdate) AS lo, max(l_shipdate) AS hi
        FROM srt GROUP BY bucket
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN hi < TIMESTAMP '1995-03-01'
                           OR lo >= TIMESTAMP '1995-04-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           round(sum(CASE WHEN hi < TIMESTAMP '1995-03-01'
                            OR lo >= TIMESTAMP '1995-04-01'
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS prune_frac_r
    FROM zones GROUP BY layout
    """,
)
def source_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) skipping report — WHY you sort
    or z-order 100 TB tables: rows are chunked into 4096-row
    "files" under two layouts (natural l_orderkey arrival order vs
    re-sorted by l_shipdate), each chunk keeps the min/max zone map
    of the filter column, and a one-month ship-date predicate prunes
    a chunk iff its [min,max] misses the range entirely. The report
    (buckets, pruned, fraction) quantifies the layout effect: the
    natural layout's zones all straddle the whole date domain
    (prune ~0), the sorted layout prunes all but the chunks
    overlapping the month (~ |month|/|domain|). This is exactly the
    parquet row-group/Delta file-skipping computation a lakehouse
    runs from footer stats at planning time; partition/sort design
    IS this fraction at scale."""
    li = load(spark, sf_dir, "lineitem")
    lo, hi = "1995-03-01", "1995-04-01"

    def zones(df: DataFrame, order_cols, layout: str) -> DataFrame:
        w = Window.orderBy(*order_cols)
        return (
            df.select(
                "l_shipdate",
                ((F.row_number().over(w) - 1) / F.lit(4096))
                .cast("long")
                .alias("bucket"),
            )
            .groupBy("bucket")
            .agg(
                F.min("l_shipdate").alias("zlo"), F.max("l_shipdate").alias("zhi")
            )
            .select(F.lit(layout).alias("layout"), "bucket", "zlo", "zhi")
        )

    z = zones(li, ["l_orderkey", "l_linenumber"], "natural").unionByName(
        zones(li, ["l_shipdate", "l_orderkey", "l_linenumber"], "sorted")
    )
    pruned = F.when(
        (F.col("zhi") < F.lit(lo).cast("timestamp"))
        | (F.col("zlo") >= F.lit(hi).cast("timestamp")),
        1,
    ).otherwise(0)
    return z.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(pruned).cast("long").alias("n_pruned"),
        F.round(F.sum(pruned) / F.count(F.lit(1)), 6).alias("prune_frac_r"),
    )


@register(
    "source_csv_quoted_roundtrip",
    oracle="""
    SELECT r_regionkey,
           concat('a,"b', chr(10), 'c\\', r_name, ',end') AS tricky,
           r_name
    FROM region
    """,
)
def source_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV fidelity: a column containing the delimiter, a
    double quote, an embedded NEWLINE, and a backslash survives a
    CSV write + multiLine read byte-for-byte. Written and read with
    escape='"' (RFC doubling) — the dialect every warehouse exporter
    speaks; the default backslash escape would also round-trip in
    Spark but not interoperate. The oracle reconstructs the expected
    strings from the source table — it never sees the CSV, so any
    quoting loss (the classic silently-split-row bug) fails the
    value-hash, not just a row count."""
    r = load(spark, sf_dir, "region").select(
        "r_regionkey",
        F.concat(
            F.lit('a,"b'), F.lit("\n"), F.lit("c\\"), F.col("r_name"), F.lit(",end")
        ).alias("tricky"),
        "r_name",
    )
    path = scratch_path("region_csv_quoted")
    (
        r.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("tricky", T.StringType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(path)
    )


@register(
    "source_parquet_bloom_filter",
    oracle="""
    SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
           CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(l_extendedprice), 2) AS revenue_r
    FROM lineitem
    WHERE l_suppkey IN (7, 42, 99)
    GROUP BY l_suppkey
    """,
)
def source_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter write + point-lookup read-back: lineitem
    rewritten with a split-block bloom filter on l_suppkey
    (`parquet.bloom.filter.enabled#col`, expected NDV sized to the
    supplier count), then probed with a 3-key IN filter.

    At 100 TB this is the needle-in-haystack pattern: min/max row-
    group stats are useless for a high-cardinality key scattered
    uniformly through every row group, but the bloom filter lets the
    reader skip row groups with NO candidate rows at ~1% false-
    positive cost — the difference between scanning 100 TB and
    scanning the handful of row groups that matter. The write sorts
    by the filtered key so row groups are also min/max-prunable
    (bloom + sort compose). Values must survive the round trip
    bit-exactly — the intact-table oracle checks that, and
    tests/test_plans.py asserts the bloom actually landed on disk
    (the bloom-enabled file must be bigger than an identical
    no-bloom write — an option typo would silently write none;
    neither pyarrow 16 nor DuckDB 1.0 expose the footer's
    bloom_filter_offset, so the size delta is the observable)."""
    li = load(spark, sf_dir, "lineitem")
    path = scratch_path("lineitem_bloom")
    # NOTE: the per-column `parquet.bloom.filter.enabled#col` writer
    # option is silently ignored by this Spark/parquet-mr 1.16 write
    # path (probed: file size identical to a no-bloom write); the
    # GLOBAL enable does take effect, so this uses global-on with a
    # per-column NDV hint — on a real lakehouse you'd scope the write
    # to the probe columns (as done here: key + measure only).
    (
        li.select("l_suppkey", "l_extendedprice")
        .sort("l_suppkey")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled", "true")
        .option("parquet.bloom.filter.expected.ndv#l_suppkey", "4096")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("l_suppkey").isin(7, 42, 99))
        .groupBy(F.col("l_suppkey").cast("long").alias("l_suppkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue_r"),
        )
    )


_RG_ROWS = 100  # explicit pyarrow row_group_size — the determinism knob


def _rowgroup_stats_batches(it):
    """mapInPandas kernel: write the incoming (sorted) batch stream as
    ONE parquet file with explicit row_group_size, then read the
    footer back and emit per-row-group column-chunk statistics — a
    real footer round-trip (pyarrow metadata API), not a simulation.
    Runs as a single task here (one shard); the production shape is
    one such task per shard, embarrassingly parallel."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.concat(list(it), ignore_index=True)
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    path = scratch_path("rowgroup_stats_demo.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        path,
        row_group_size=_RG_ROWS,
    )
    md = pq.ParquetFile(path).metadata
    cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
    rows: dict[str, list] = {
        "rg_idx": [], "column": [], "n_values": [], "min_v": [], "max_v": []
    }
    for rg in range(md.num_row_groups):
        for name in ("doc_id", "n_chars"):
            cc = md.row_group(rg).column(cols[name])
            st = cc.statistics
            rows["rg_idx"].append(rg)
            rows["column"].append(name)
            rows["n_values"].append(cc.num_values)
            rows["min_v"].append(int(st.min))
            rows["max_v"].append(int(st.max))
    yield pd.DataFrame(rows).astype(
        {"rg_idx": "int64", "n_values": "int64", "min_v": "int64", "max_v": "int64"}
    )


@register(
    "source_parquet_rowgroup_stats",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, n_chars,
               (row_number() OVER (ORDER BY doc_id) - 1) // {_RG_ROWS} AS rg_idx
        FROM documents
    ),
    stats AS (
        SELECT rg_idx, 'doc_id' AS "column",
               count(*) AS n_values, min(doc_id) AS min_v, max(doc_id) AS max_v
        FROM g GROUP BY rg_idx
        UNION ALL
        SELECT rg_idx, 'n_chars' AS "column",
               count(*) AS n_values, min(n_chars) AS min_v, max(n_chars) AS max_v
        FROM g GROUP BY rg_idx
    )
    SELECT CAST(rg_idx AS BIGINT)   AS rg_idx,
           "column",
           CAST(n_values AS BIGINT) AS n_values,
           CAST(min_v AS BIGINT)    AS min_v,
           CAST(max_v AS BIGINT)    AS max_v
    FROM stats
    """,
)
def source_parquet_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group statistics manifest: write a doc_id-sorted shard with
    an EXPLICIT row_group_size ({rg} rows), read the parquet footer
    back with the metadata API, and emit per-row-group column-chunk
    stats (num_values, min, max) for the integer columns — the
    physical zone map that predicate pushdown actually consults, as a
    queryable DataFrame.  The DuckDB twin reconstructs the same
    zones logically (sequential {rg}-row chunks of the sorted order —
    exactly how the writer splits row groups), so footer content is
    value-checked end-to-end: a writer that mis-chunked, dropped
    stats, or wrote wrong min/max fails the hash.

    Complements source_zone_map_pruning (logical what-if layout
    comparison) with the REAL footer path, and source_parquet_bloom_
    filter (the other physical index). Scale shape: one kernel task
    per shard, no shuffle; the manifest (shards x row-groups x
    columns) is the small table layout optimizers join against.""".format(
        rg=_RG_ROWS
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.repartition(1).mapInPandas(
        _rowgroup_stats_batches,
        "rg_idx long, column string, n_values long, min_v long, max_v long",
    )


@register(
    "source_csv_multichar_delimiter",
    oracle="""
    SELECT n_nationkey,
           n_name,
           n_regionkey,
           concat(n_name, ' | region ', CAST(n_regionkey AS VARCHAR)) AS label
    FROM nation
    """,
)
def source_csv_multichar_delimiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character CSV delimiter roundtrip (Spark 3.x+ `sep` may be
    any string, here '||' — the de-facto format of mainframe/export
    feeds whose fields legally contain commas): write nation with the
    two-char separator, read it back with an explicit schema and the
    same separator, and rebuild a computed label so the value path —
    not just the row count — is hash-checked against the original
    table.  A reader that split on single '|' would shear every row;
    PERMISSIVE would silently null the tail columns — both fail the
    oracle hash.

    Scale shape: same as every CSV scan — splittable per-file, schema
    explicit (no inference pass), one map projection."""
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = scratch_path("nation_csv_multichar")
    n.write.mode("overwrite").option("sep", "||").option("header", "true").csv(path)
    back = (
        spark.read.schema(_NATION_SCHEMA)
        .option("sep", "||")
        .option("header", "true")
        .csv(path)
    )
    return back.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.concat(
            F.col("n_name"), F.lit(" | region "), F.col("n_regionkey").cast("string")
        ).alias("label"),
    )


@register(
    "source_json_multiline",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def source_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line JSON reader (`multiLine=true`): one pretty-printed
    JSON ARRAY file — the shape config payloads, API dumps, and
    exported fixtures arrive in, which the default JSONL reader
    rejects as corrupt.  The file is produced engine-side
    (to_json over a collect_list struct — a 1-row aggregate, no
    driver loop) and read back with an explicit schema.

    Scale shape: a multiLine JSON file is NOT splittable (one record
    spans lines, so one task reads the whole file) — this reader is
    the dim/config path by design; the splittable corpus path is
    JSONL (`source_json_roundtrip`). The write is a 1-row reduce of a
    25-row dim."""
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    payload = n.orderBy("n_nationkey").agg(
        F.to_json(
            F.collect_list(
                F.struct("n_nationkey", "n_name", "n_regionkey")
            )
        ).alias("value")
    )
    path = scratch_path("nation_json_multiline")
    payload.coalesce(1).write.mode("overwrite").text(path)
    return (
        spark.read.schema(_NATION_SCHEMA)
        .option("multiLine", "true")
        .json(path)
        .orderBy("n_nationkey")
    )


@register(
    "source_csv_comment_dialect",
    oracle="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_regionkey = 0 THEN NULL ELSE n_regionkey END
               AS region_or_null,
           n_regionkey = 0 AS was_na
    FROM nation
    ORDER BY n_nationkey
    """,
)
def source_csv_comment_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect gauntlet: a file with interleaved '#' comment lines
    and a custom NA sentinel ('NA' -> NULL via the nullValue option) —
    the shape hand-maintained reference files and R/scientific
    exports actually arrive in. The file is assembled engine-side
    (data rows + comment rows unioned, sorted so comments interleave
    deterministically, one partition) and read back with
    comment='#' + nullValue='NA' + explicit schema; region 0 is
    written as NA, so both the comment SKIPPING and the sentinel
    DECODING are value-checked (a reader that ingests comment rows or
    keeps 'NA' as a string fails the hash, not just a count).

    Scale shape: dim/config-file path by design (single partition for
    deterministic line order); the splittable bulk path is the plain
    CSV scan."""
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    data_lines = n.select(
        F.col("n_nationkey").alias("ord"),
        F.lit(1).alias("sub"),
        F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.when(F.col("n_regionkey") == 0, "NA").otherwise(
                F.col("n_regionkey").cast("string")
            ),
        ).alias("value"),
    )
    comment_lines = n.filter(F.col("n_nationkey") % 5 == 0).select(
        F.col("n_nationkey").alias("ord"),
        F.lit(0).alias("sub"),
        F.concat(F.lit("# block starting at nation "), F.col("n_nationkey"))
        .alias("value"),
    )
    path = scratch_path("nation_csv_comment")
    (
        data_lines.unionByName(comment_lines)
        .coalesce(1)
        .sortWithinPartitions("ord", "sub")
        .select("value")
        .write.mode("overwrite")
        .text(path)
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("region_or_null", T.IntegerType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("comment", "#")
        .option("nullValue", "NA")
        .csv(path)
    )
    return back.select(
        "n_nationkey",
        "n_name",
        "region_or_null",
        F.col("region_or_null").isNull().alias("was_na"),
    ).orderBy("n_nationkey")


class _JsonLinesSink(DataSource):
    """Custom Python DataSource batch WRITER (Spark 4 V2 API) — the
    sink half of the surface source_python_datasource demonstrates for
    reads. Each executor partition streams its rows through a Python
    worker into an ATTEMPT-UNIQUE staged shard (dot-prefixed, never
    matched by readers); per-partition WriterCommitMessage row counts +
    staged paths flow back to the driver, and commit() renames exactly
    one winning attempt per partition to its final ``part-*.json`` name,
    sweeps losing/zombie attempts' staged files, then writes the
    manifest — the all-or-nothing two-phase contract a real sink needs.
    Speculative or zombie task attempts therefore can never interleave
    bytes into one shard (each attempt owns its own staged file) and
    never publish (only commit() renames). abort() deletes everything
    the job staged or published, so readers see no partial write even
    if they glob shards without checking the manifest. The sink owns
    its target directory per job (the caller hands it an empty dir)."""

    @classmethod
    def name(cls):
        return "pyjsonlsink"

    def writer(self, schema, overwrite):
        return _JsonLinesWriter(self.options, schema)


class _JsonRowCount(WriterCommitMessage):
    def __init__(self, part_id: int, n_rows: int, staged: str):
        self.part_id = part_id
        self.n_rows = n_rows
        self.staged = staged


class _JsonLinesWriter(DataSourceWriter):
    # shard extension — the Arrow subclass below reuses the whole
    # staged-rename two-phase commit with parquet shards
    _EXT = "json"

    def __init__(self, options, schema):
        self.path = options["path"]
        self.fields = schema.fieldNames()

    def _staged_name(self, ctx) -> str:
        # Attempt-unique staged name: two attempts of the same
        # partition (speculation, zombie retry) write disjoint files,
        # and the dot prefix keeps every reader glob away until
        # commit() publishes the winner by rename.
        return os.path.join(
            self.path,
            f".part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
            f".{self._EXT}.staged",
        )

    def _assert_owns_dir(self):
        # Enforce the documented owns-the-dir-per-job contract instead
        # of trusting callers: abort()/the commit sweep delete EVERY
        # part-* final / .staged file in the directory, which would
        # destroy a prior job's committed shards if the dir were
        # reused (e.g. mode("append")). This job publishes finals only
        # inside commit(), after every write() finished — so any
        # part-* final or _MANIFEST visible before then is foreign,
        # and we fail fast before staging or sweeping anything.
        #
        # Scope: this is a check-then-act guard against SEQUENTIAL
        # directory reuse only. Two jobs racing into the same fresh
        # directory both pass (neither has published finals yet) and
        # their commits clobber each other — concurrent writers remain
        # trust-based. That is acceptable for the engine's scratch
        # usage (scratch.py keys paths by PID, so concurrent harnesses
        # can't share a sink dir); an O_EXCL lock file created at
        # first write would close the concurrent case if ever needed.
        import glob as _glob

        foreign = _glob.glob(
            os.path.join(self.path, f"part-*.{self._EXT}")
        )
        if os.path.exists(os.path.join(self.path, "_MANIFEST")):
            foreign.append(os.path.join(self.path, "_MANIFEST"))
        if foreign:
            raise RuntimeError(
                f"{type(self).__name__}: target dir {self.path!r} already "
                f"contains committed output ({sorted(foreign)[:3]}...); "
                "this sink owns its directory per job — write to a fresh "
                "directory"
            )

    def write(self, iterator):
        import json as _json

        from pyspark import TaskContext

        ctx = TaskContext.get()
        self._assert_owns_dir()
        staged = self._staged_name(ctx)
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(dict(zip(self.fields, row))) + "\n")
                n += 1
        return _JsonRowCount(ctx.partitionId(), n, staged)

    def commit(self, messages):
        import glob as _glob
        import json as _json

        # Second ownership guard (driver-side): no final from THIS job
        # exists until the renames below, so any part-*/_MANIFEST here
        # is foreign — fail before the sweep can touch it.
        self._assert_owns_dir()
        # Publish exactly one winner per partition: the attempt whose
        # commit message Spark delivered. os.replace is atomic on a
        # POSIX filesystem, so a concurrent manifest-gated reader sees
        # either no shard or a complete one.
        for m in messages:
            os.replace(
                m.staged,
                os.path.join(self.path, f"part-{m.part_id:05d}.{self._EXT}"),
            )
        # Sweep staged files from losing/zombie attempts.
        for leftover in _glob.glob(
            os.path.join(self.path, f".part-*.{self._EXT}.staged")
        ):
            os.remove(leftover)
        manifest = {
            "parts": sorted(m.part_id for m in messages),
            "rows": sum(m.n_rows for m in messages),
        }
        with open(os.path.join(self.path, "_MANIFEST"), "w") as fh:
            fh.write(_json.dumps(manifest))

    def abort(self, messages):
        import glob as _glob

        # All-or-nothing: remove the manifest, every staged attempt
        # file, and any finals a partially-run commit() already
        # renamed — a reader that globs part-* shards without checking
        # the manifest still never sees output from an aborted job.
        for pattern in (
            f".part-*.{self._EXT}.staged",
            f"part-*.{self._EXT}",
        ):
            for f in _glob.glob(os.path.join(self.path, pattern)):
                try:
                    os.remove(f)
                except OSError:
                    pass
        try:
            os.remove(os.path.join(self.path, "_MANIFEST"))
        except OSError:
            pass


@register(
    "source_python_datasource_writer",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through a custom Python DataSource WRITER (Spark 4
    V2 API): nation writes via df.write.format(...) into
    the Python sink above — rows stream through executor-side Python
    workers, never the driver — then reads back with an explicit
    schema and must equal the source table exactly (the oracle reads
    the ORIGINAL parquet). The commit manifest is asserted before the
    read-back: a sink whose two-phase commit never ran is a failed
    write even if shards exist.

    100 TB posture: this is how third-party Python-only egress
    (feature stores, vector DBs, bespoke services) joins the engine as
    a real distributed sink — per-partition writes + commit messages —
    instead of a toPandas()/collect() funnel through the driver."""
    import json as _json

    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    spark.dataSource.register(_JsonLinesSink)
    path = fresh_scratch("nation_pysink")
    n.repartition(4).write.format("pyjsonlsink").option("path", path).mode(
        "append"
    ).save()
    with open(os.path.join(path, "_MANIFEST")) as fh:
        manifest = _json.load(fh)
    if manifest["rows"] != 25:
        raise AssertionError(f"two-phase commit saw {manifest['rows']} rows")
    return (
        spark.read.schema(_NATION_SCHEMA)
        .option("pathGlobFilter", "part-*.json")
        .json(path)
    )


class _ArrowParquetSink(DataSource):
    """Arrow-NATIVE Python DataSource batch writer (Spark 4
    DataSourceArrowWriter): executor partitions hand the sink pyarrow
    RecordBatches — columnar, no Row materialization — which it spools
    straight into parquet shards through the same attempt-staged,
    rename-to-publish two-phase commit as the JSON sink (the commit/
    abort machinery is inherited unchanged; only the write path and
    the shard extension differ)."""

    @classmethod
    def name(cls):
        return "pyarrowparquetsink"

    def writer(self, schema, overwrite):
        return _ArrowParquetWriter(self.options, schema)


class _ArrowParquetWriter(DataSourceArrowWriter, _JsonLinesWriter):
    _EXT = "parquet"

    def __init__(self, options, schema):
        _JsonLinesWriter.__init__(self, options, schema)
        self._spark_schema = schema

    def write(self, iterator):
        import pyarrow.parquet as pq

        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        ctx = TaskContext.get()
        # Same executor-side owns-the-dir fail-fast as the JSON
        # writer's write(): without it the Arrow sink would only be
        # guarded at driver commit() time, after abort() could already
        # sweep a foreign directory's part-*.parquet finals.
        self._assert_owns_dir()
        staged = self._staged_name(ctx)
        n = 0
        writer = pq.ParquetWriter(staged, to_arrow_schema(self._spark_schema))
        try:
            for batch in iterator:
                writer.write_batch(batch)
                n += batch.num_rows
        finally:
            writer.close()
        return _JsonRowCount(ctx.partitionId(), n, staged)


@register(
    "source_python_datasource_arrow_writer",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_python_datasource_arrow_writer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trip through the Arrow-native Python DataSource WRITER
    (Spark 4 DataSourceArrowWriter): nation streams to the sink as
    pyarrow RecordBatches and lands as two-phase-committed parquet
    shards; the read-back must equal the original table (the oracle
    reads the ORIGINAL parquet). The manifest is asserted before the
    read-back, same contract as the row-based JSON sink.

    100 TB posture: the Arrow write path is the fast lane for Python
    egress — batches cross the JVM/Python boundary columnar (one Arrow
    buffer per ~10k rows instead of one pickled Row each), which is
    the same 10-100x serialization win pandas_udf has over row UDFs,
    applied to sinks."""
    import json as _json

    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    spark.dataSource.register(_ArrowParquetSink)
    path = fresh_scratch("nation_pyarrowsink")
    n.repartition(4).write.format("pyarrowparquetsink").option(
        "path", path
    ).mode("append").save()
    with open(os.path.join(path, "_MANIFEST")) as fh:
        manifest = _json.load(fh)
    if manifest["rows"] != 25:
        raise AssertionError(f"two-phase commit saw {manifest['rows']} rows")
    return (
        spark.read.schema(_NATION_SCHEMA)
        .option("pathGlobFilter", "part-*.parquet")
        .parquet(path)
    )


@register(
    "source_file_metadata_columns",
    oracle="""
    SELECT o_orderpriority,
           CAST(1 AS BIGINT)            AS n_files,
           CAST(count(*) AS BIGINT)     AS n_rows,
           CAST(0 AS BIGINT)            AS min_row_index,
           CAST(count(*) - 1 AS BIGINT) AS max_row_index
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def source_file_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-source `_metadata` columns (Spark 3.4+/4:
    `_metadata.file_path`, `file_name`, `file_size`,
    `file_modification_time`, `row_index`) — per-row physical lineage
    read straight out of the scan operator, no UDF and no extra pass.

    The round-trip pins the file↔content mapping so every metadata
    column is oracle-checkable: orders written
    `repartition(o_orderpriority).write.partitionBy(o_orderpriority)`
    puts each priority in exactly ONE task → ONE file per partition
    directory; then per priority the file count must be 1 and
    `row_index` (the row's 0-based physical position within its file)
    must span exactly [0, n_rows-1]. File identity is
    `_metadata.file_path` (file_name is only the basename, which a
    single task REUSES across the partition dirs it writes — measured
    here: 5 dirs, 1 distinct basename); the engine-generated columns
    (file_name, file_size, file_modification_time) stay off the value
    edge and are sanity-asserted in tests.

    100 TB posture: metadata columns are evaluated from reader state at
    scan time — zero additional IO and no shuffle beyond the final
    aggregate; this is the built-in mechanism for shard manifests,
    per-file audit counts, and incremental-load bookkeeping that would
    otherwise need a custom DataSource or an input_file_name() UDF
    pass (input_file_name is the legacy, non-pruning variant). The
    plan is one pruned scan + one keyed exchange."""
    o = load(spark, sf_dir, "orders")
    path = scratch_path("orders_meta_parts")
    (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
        # file_path, not file_name: one task writing several partition
        # dirs reuses the same basename, so only the full path is a
        # file identity (measured: 5 dirs, 1 distinct basename)
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("file_path").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("min_row_index"),
            F.max("row_index").alias("max_row_index"),
        )
        .select(
            "o_orderpriority",
            F.col("n_files").cast("long").alias("n_files"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("min_row_index").cast("long").alias("min_row_index"),
            F.col("max_row_index").cast("long").alias("max_row_index"),
        )
    )


def _write_commit_log_with_stats(spark: SparkSession, sf_dir: str) -> str:
    """Stage the orders table as five price-band files and publish a
    commit whose add-actions carry per-file column stats (actual
    min/max of o_totalprice) — the Delta `stats` / Iceberg
    manifest-entry mechanic: statistics are captured ONCE at write
    time, stored in the log, and every future reader prunes files
    from metadata alone. Bands are fixed price ranges so the file
    layout correlates with the predicate column (skipping is a
    LAYOUT property — stats on a randomly-scattered column prune
    nothing, which is why real tables Z-ORDER/sort before relying on
    it)."""
    base = fresh_scratch("commit_log_skip")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    banded = o.withColumn(
        "band",
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(4)).cast(
            "int"
        ),
    )
    # ONE pass stages all bands (repartition by band → one file per
    # band dir), ONE grouped agg collects the write-time stats — in a
    # real writer the committer gets these free from the row-group
    # footers it just wrote. 5 scans + 5 per-band aggs would be the
    # anti-pattern at 100 TB.
    banded.repartition("band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(os.path.join(base, "staged"))
    stats = (
        banded.groupBy("band")
        .agg(
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
        .collect()
    )
    actions = [
        {
            "action": "add",
            "file": f"staged/band={r.band}",
            "stats": {
                "col": "o_totalprice",
                "min": float(r.mn),
                "max": float(r.mx),
            },
        }
        for r in sorted(stats, key=lambda r: r.band)
    ]
    occ_commit(base, 0, actions)
    return base


def stats_prune(
    actions: list[dict], lo: float | None = None, hi: float | None = None
) -> list[str]:
    """File-skipping decision for a range predicate lo <= col <= hi
    (either bound may be open): keep an add-action's file iff its
    stored [min, max] INTERSECTS the predicate interval. An action
    with no stats is always kept — missing metadata must degrade to
    scanning, never to silently dropping data (the same conservative
    default as Delta's stats-less files). Pure metadata: O(actions),
    no I/O; the caller still applies the residual predicate to the
    scanned rows, because intersection admits a superset."""
    keep = []
    for a in actions:
        st = a.get("stats") or {}
        # .get, not [..]: PARTIAL stats (only one bound recorded) must
        # also degrade to scanning on the missing side, per the
        # contract above — a KeyError here would fail the read instead
        if lo is not None and st.get("max") is not None and st["max"] < lo:
            continue
        if hi is not None and st.get("min") is not None and st["min"] > hi:
            continue
        keep.append(a["file"])
    return keep


@register(
    "source_commit_log_data_skipping",
    oracle="""
    WITH per_file AS (
        SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 4) AS band,
               max(o_totalprice) AS mx
        FROM orders GROUP BY band
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_file) AS files_total,
           (SELECT CAST(count(*) AS BIGINT) FROM per_file
             WHERE mx >= 160000) AS files_scanned,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100.0 AS sum_price_r
    FROM orders WHERE o_totalprice >= 160000
    """,
)
def source_commit_log_data_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-file min/max DATA SKIPPING from commit-log metadata — the
    file-level half of the pruning story whose in-file analog is
    `source_zone_map_pruning` (row-group zone maps), and the feature
    that makes a 100 TB commit-log table READABLE: the planner
    intersects the predicate with each add-action's stored [min,max]
    and hands Spark only the files that can contain matches, so scan
    I/O scales with the MATCHING data, not the table.

    The predicate `o_totalprice >= 160000` deliberately cuts INSIDE
    band 3's [150k, 200k) range: pruning keeps any file whose actual
    max reaches the bound (files_scanned = 2 of 5 here), and the
    residual predicate is still applied to the scanned rows — stats
    admit a superset, they never substitute for the filter. The value
    edge carries files_total/files_scanned (proving the metadata
    decision) AND the row count + money sum of the surviving rows
    (proving no matching row lived in a pruned file — a wrong prune
    breaks the oracle, not just a counter). In-query drill: pruning
    must strictly reduce the file list.

    100 TB posture: the skip decision is O(files) driver-side
    metadata — at 1M files that is one in-memory pass over the
    manifest, zero data I/O; the scan then opens only surviving
    files (multi-path parquet scan, fully parallel). Reference
    parity: this is the read-path complement of the OCC writer
    (`source_commit_log_optimistic_concurrency`)."""
    base = _write_commit_log_with_stats(spark, sf_dir)
    lo_bound = 160000.0
    adds = _occ_actions(base, 1)
    scanned = stats_prune(adds, lo=lo_bound)
    if not scanned or len(scanned) >= len(adds):
        raise ValueError(
            f"data skipping degenerate: {len(scanned)}/{len(adds)} "
            "files survive pruning"
        )
    snap = spark.read.parquet(
        *[os.path.join(base, f) for f in sorted(scanned)]
    )
    return (
        snap.filter(F.col("o_totalprice") >= lo_bound)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            # exact BIGINT cents sum (r16 grid rule): a double money
            # sum at this magnitude carries summation-order noise
            # bigger than the 2dp grain
            (
                F.sum(
                    _cents(F.col("o_totalprice"))
                ).cast("double")
                / F.lit(100.0)
            ).alias("sum_price_r"),
        )
        .select(
            F.lit(len(adds)).cast("long").alias("files_total"),
            F.lit(len(scanned)).cast("long").alias("files_scanned"),
            "n_rows",
            "sum_price_r",
        )
    )


def occ_vacuum(base: str, retain_from: int) -> list[str]:
    """VACUUM the commit-log table: delete every staged data file that
    no snapshot at version >= retain_from references. Reachability is
    the union of the live sets of all retained versions — a file
    removed before the horizon AND an aborted writer's never-committed
    orphan both become garbage; a file any retained time-travel read
    could still open is untouchable. Returns the deleted names.

    Two safety clamps, both load-bearing: a horizon beyond the latest
    version is clamped to it (the CURRENT snapshot is always retained
    — a fat-fingered retention setting must never delete the live
    table, same as Delta always protecting the current version), and
    an empty log vacuums NOTHING (no committed version means every
    staged file might belong to the table's first in-flight writer).

    Real Delta/Iceberg express the horizon as a retention DURATION
    (deletedFileRetentionDuration / expire_snapshots older_than) and
    additionally refuse to collect files younger than the window so
    in-flight writers' staged files survive; the version horizon here
    is the same contract with the clock abstracted away (the OCC
    drill's staged-but-uncommitted file stands in for the in-flight
    case). Cost at 100 TB: O(log × files-per-commit) driver-side
    metadata to compute reachability + one delete per garbage file —
    never a data read."""
    versions = _occ_versions(base)
    if not versions:
        return []
    reachable = _occ_reachable(base, min(retain_from, versions[-1]))
    deleted = []
    for entry in sorted(os.listdir(base)):
        p = os.path.join(base, entry)
        if entry.startswith("_") or not os.path.isdir(p):
            continue  # commit files / tmp markers are not data
        if entry not in reachable:
            shutil.rmtree(p)
            deleted.append(entry)
    return deleted


@register(
    "source_commit_log_vacuum",
    oracle="""
    SELECT CAST(p AS BIGINT) AS phase,
           CAST(d AS BIGINT) AS n_on_disk,
           CAST(r AS BIGINT) AS n_reachable,
           CAST(n AS BIGINT) AS latest_n_rows
    FROM (VALUES
        (0, 4, 3, (SELECT count(*) FROM nation)),
        (1, 3, 3, (SELECT count(*) FROM nation)),
        (2, 2, 2, (SELECT count(*) FROM nation)))
        AS t(p, d, r, n)
    """,
)
def source_commit_log_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention VACUUM / orphan GC over the commit-log table — the
    cleanup half of the OCC story: optimistic concurrency (r15)
    guarantees a losing writer aborts WITHOUT corrupting the log, but
    its staged files stay on disk as unreferenced orphans, and every
    compaction's removed file lingers for time travel. Without GC a
    100 TB table's storage grows without bound; with it, storage is
    live data + retained history, by construction.

    Scenario: v1 adds A+B; v2 compacts B away (remove B, add B_c); an
    aborted writer leaves orphan O staged but never committed. Three
    audited phases: (0) before vacuum — 4 data files on disk, 3
    reachable from the full history; (1) vacuum retaining v1+ —
    deletes exactly the orphan (B is still reachable by AS-OF-v1
    reads, so it SURVIVES); (2) vacuum retaining v2+ — now B goes.
    In-query drills: each phase's deleted set is asserted exactly;
    the latest snapshot's row count is re-read after every vacuum
    (GC must never touch live data); after phase 2 the AS-OF-v1 read
    must FAIL (its file is genuinely gone — the documented price of
    shortening retention, same as Delta's
    versionAsOf-beyond-retention error).

    The value edge is the per-phase audit (files on disk, reachable
    files, live row count); the oracle states all three phases from
    the nation table directly."""
    base = fresh_scratch("commit_log_vacuum")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    _stage(
        base,
        {
            "file_A": n.filter(F.col("n_nationkey") < 10),
            "file_B": n.filter(F.col("n_nationkey") >= 10),
            "file_B_c": n.filter(F.col("n_nationkey") >= 10),
            "file_orphan": n.filter(F.col("n_nationkey") >= 10),
        },
    )
    occ_commit(
        base,
        0,
        [
            {"action": "add", "file": "file_A"},
            {"action": "add", "file": "file_B"},
        ],
    )
    occ_commit(
        base,
        1,
        [
            {"action": "remove", "file": "file_B"},
            {"action": "add", "file": "file_B_c"},
        ],
    )
    # file_orphan: staged by a writer that lost its race and aborted —
    # on disk, referenced by no commit

    def _on_disk() -> int:
        return sum(
            1
            for e in os.listdir(base)
            if not e.startswith("_") and os.path.isdir(os.path.join(base, e))
        )

    def _audit(phase: int, retain_from: int) -> tuple[int, int, int, int]:
        return (
            phase,
            _on_disk(),
            len(_occ_reachable(base, retain_from)),
            _read_snapshot(spark, base).count(),
        )

    audit = [_audit(0, 1)]
    gone = occ_vacuum(base, retain_from=1)
    if gone != ["file_orphan"]:
        raise ValueError(f"retain-v1 vacuum deleted {gone}, not the orphan")
    audit.append(_audit(1, 1))
    gone = occ_vacuum(base, retain_from=2)
    if gone != ["file_B"]:
        raise ValueError(f"retain-v2 vacuum deleted {gone}, not file_B")
    audit.append(_audit(2, 2))
    try:
        stale = _read_snapshot(spark, base, as_of=1)
        # Force ANALYSIS first so the missing-path error surfaces
        # before any job is scheduled; count() only runs if analysis
        # unexpectedly succeeds, feeding the else branch below.
        #
        # Known benign noise (VERDICT r16 cosmetic #2, pinned by
        # tests/test_plans.py::test_observation_listener_survives_
        # intended_failure_drills): once ANY query has used the
        # Observation API in the session, Spark 4.1's session-global
        # ObservationManager$Listener receives every subsequent failed
        # analysis and logs one ERROR stack (its tryComplete touches
        # qe.observedMetrics, which rethrows). It cannot be
        # unregistered — doing so permanently breaks later
        # observations (Observation.get hangs; measured r17) — and the
        # listener stays functional, so the stack is log spray, not a
        # failure.
        stale.schema
        stale.count()
    except Exception as exc:
        # ADVICE r16: only a missing-path analysis error proves the
        # vacuumed file is gone — an unrelated failure (session error,
        # permissions) must not satisfy the drill.
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if "PATH_NOT_FOUND" not in cond and "PATH_NOT_FOUND" not in str(exc):
            raise
    else:
        raise ValueError(
            "AS-OF-v1 read succeeded after its file was vacuumed"
        )
    return spark.createDataFrame(
        audit, "phase long, n_on_disk long, n_reachable long, latest_n_rows long"
    )
