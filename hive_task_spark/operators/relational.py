"""Core relational spine: scan → project → filter → aggregate → sort.

SURVEY.md §2B "Projection / filter / predicates" + the flagship pricing
summary (§7 Step 1). Declarative DataFrame plans throughout — Catalyst
pushes the filters and the column pruning into the parquet scan, and the
aggregate runs partial (map-side) + final automatically, which is the
scale posture: at 100 TB the scan reads only the referenced columns and
row-groups, and the shuffle carries only grouped partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.functions import exact
from hive_task_spark.registry import register
from hive_task_spark.tables import load


_Q1_EP_C = exact.cents_sql("l_extendedprice")
_Q1_DISC_P = exact.units_sql("l_discount", 100)
_Q1_TAX_P = exact.units_sql("l_tax", 100)

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
        l_returnflag,
        l_linestatus,
        sum(l_quantity)                                          AS sum_qty,
        CAST(sum({_Q1_EP_C}) AS DOUBLE) / 100                    AS sum_base_price,
        CAST(sum({_Q1_EP_C} * (100 - {_Q1_DISC_P})) AS DOUBLE)
            / 10000                                              AS sum_disc_price,
        CAST(sum({_Q1_EP_C} * (100 - {_Q1_DISC_P})
                           * (100 + {_Q1_TAX_P})) AS DOUBLE)
            / 1000000                                            AS sum_charge,
        avg(l_quantity)                                          AS avg_qty,
        CAST(sum({_Q1_EP_C}) AS DOUBLE) / (count(*) * 100)       AS avg_price,
        CAST(sum({_Q1_DISC_P}) AS DOUBLE) / (count(*) * 100)     AS avg_disc,
        count(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary over lineitem.

    Exercises the whole batch spine. The filter and the 3-column read
    schema reach the parquet scan (verify: PushedFilters/ReadSchema in
    .explain); aggregation is hash-based with map-side combine.

    Money edges move through exact BIGINT units (cents / 1e-4 / 1e-6 —
    2dp price × 2dp discount × 2dp tax grains) with ONE final division
    per edge, identical in both engines (exact.py idiom): the sums are
    summation-order-independent, so the hash no longer depends on
    single-split scan order — scan parallelism, repartitioning and
    partial-agg boundaries are free (VERDICT r17 item 3; the quantity
    edges were always exact: integer-valued doubles below 2^53).
    """
    li = load(spark, sf_dir, "lineitem")
    ep_c = exact.cents(F.col("l_extendedprice"))
    disc_p = exact.units(F.col("l_discount"), 100)
    tax_p = exact.units(F.col("l_tax"), 100)
    u4 = ep_c * (F.lit(100) - disc_p)
    u6 = u4 * (F.lit(100) + tax_p)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(ep_c).cast("double") / 100).alias("sum_base_price"),
            (F.sum(u4).cast("double") / 10000).alias("sum_disc_price"),
            (F.sum(u6).cast("double") / 1000000).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            (F.sum(ep_c).cast("double") / (n * 100)).alias("avg_price"),
            (F.sum(disc_p).cast("double") / (n * 100)).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "projection_computed_columns",
    oracle="""
    SELECT
        o_orderkey,
        o_totalprice,
        o_totalprice * 1.1                          AS price_with_fee,
        upper(o_orderstatus)                        AS status_uc,
        CAST(year(o_orderdate) AS BIGINT)           AS order_year
    FROM orders
    """,
)
def projection_computed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection, aliasing, computed columns (select/withColumn)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") * 1.1).alias("price_with_fee"),
        F.upper("o_orderstatus").alias("status_uc"),
        F.year("o_orderdate").cast("long").alias("order_year"),
    )


@register(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND NOT (l_discount < 0.02 OR l_tax > 0.07)
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT, BETWEEN, IN — all pushed to the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & ~((F.col("l_discount") < 0.02) | (F.col("l_tax") > 0.07))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")


@register(
    "filter_like_regex",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%gold%'
       OR regexp_matches(p_type, '^(STANDARD|SMALL).*BRASS$')
    """,
)
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE and regex predicates."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%gold%")
        | F.col("p_type").rlike("^(STANDARD|SMALL).*BRASS$")
    ).select("p_partkey", "p_name", "p_type")


@register(
    "null_semantics",
    oracle="""
    SELECT
        e.event_id,
        e.value,
        CAST(json_extract_string(e.props, '$.k') AS BIGINT)      AS k,
        (e.value IS NULL)                                        AS value_is_null,
        coalesce(e.value, -1.0)                                  AS value_or_default
    FROM events e
    WHERE CAST(json_extract_string(e.props, '$.k') AS BIGINT) IS NOT NULL
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] NULL, coalesce; null-safe comparison exercised in joins."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select(
            "event_id",
            "value",
            k.alias("k"),
            F.col("value").isNull().alias("value_is_null"),
            F.coalesce(F.col("value"), F.lit(-1.0)).alias("value_or_default"),
        )
        .filter(F.col("k").isNotNull())
    )


@register(
    "case_when_bucketing",
    oracle=f"""
    SELECT
        CASE
            WHEN o_totalprice < 50000  THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large'
        END                                     AS price_band,
        o_orderpriority,
        count(*)                                AS n_orders,
        CAST(sum({exact.cents_sql("o_totalprice")}) AS DOUBLE) / 100
                                                AS total_value
    FROM orders
    GROUP BY 1, 2
    """,
)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN → F.when chains feeding a grouped aggregate.

    total_value moves through exact BIGINT cents + one division
    (order-independent sum; r18 float-edge unlock)."""
    o = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(band.alias("price_band"), F.col("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(exact.cents(F.col("o_totalprice"))).cast("double") / 100).alias(
                "total_value"
            ),
        )
    )


@register(
    "distinct_dropduplicates",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    """,
)
def distinct_dropduplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a projection (hash aggregate without agg exprs)."""
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "global_sort_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def global_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy + limit planned as TakeOrderedAndProject —
    no full sort materializes at any scale; each partition keeps k."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@register(
    "sort_nulls_ordering",
    oracle="""
    SELECT
        o_orderkey,
        nullif(o_orderstatus, 'O') AS status_or_null,
        o_totalprice
    FROM orders
    ORDER BY status_or_null ASC NULLS FIRST, o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort with explicit null placement + limit.
    NULLS FIRST means null-status rows fill the limited prefix — the
    survivor set (what the hash checks) depends on the null rule.
    Global top-k compiles to TakeOrderedAndProject: per-partition
    heaps, driver merges k rows — no global sort at any scale."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_or_null").asc_nulls_first(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey"),
        )
        .limit(50)
    )


@register(
    "merge_upsert_apply",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey, round(o_totalprice * 1.1, 3) AS new_price
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    del AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 1
    ),
    ins AS (
        SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
               round(o_totalprice, 3) AS price_r, 'inserted' AS change_op
        FROM orders WHERE o_orderkey % 10 = 2
    ),
    kept AS (
        SELECT o.o_orderkey, o.o_custkey,
               round(coalesce(u.new_price, o.o_totalprice), 3) AS price_r,
               CASE WHEN u.o_orderkey IS NOT NULL THEN 'updated'
                    ELSE 'unchanged' END AS change_op
        FROM orders o
        LEFT JOIN upd u ON o.o_orderkey = u.o_orderkey
        WHERE NOT EXISTS (SELECT 1 FROM del d
                          WHERE d.o_orderkey = o.o_orderkey)
    )
    SELECT * FROM kept
    UNION ALL
    SELECT * FROM ins
    """,
)
def merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation on plain parquet: apply a CDC changeset
    (updates, deletes, inserts — derived deterministically from the
    snapshot by key class) in ONE pass: anti-join the deletes, left-
    join the updates with coalesce, union the inserts. This is
    exactly the join plan a Delta/Iceberg MERGE compiles to; on a
    cluster the same statement targets the table format's
    transaction log while the join shape stays identical. All three
    change joins key on o_orderkey, so AQE coalesces them into the
    snapshot's single exchange; change tables broadcast when small.
    Prices round at 3dp — the exact grain of 2dp-price x 1.1 (a 2dp
    round of a true 3dp value sits ON the half boundary, where
    engines legitimately disagree)."""
    o = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    upd = o.filter(key % 10 == 0).select(
        key.alias("u_key"), F.round(F.col("o_totalprice") * 1.1, 3).alias("new_price")
    )
    dele = o.filter(key % 10 == 1).select(key.alias("d_key"))
    ins = o.filter(key % 10 == 2).select(
        (key + 10000000).alias("o_orderkey"),
        "o_custkey",
        F.round("o_totalprice", 3).alias("price_r"),
        F.lit("inserted").alias("change_op"),
    )
    kept = (
        o.join(dele, o["o_orderkey"] == dele["d_key"], "left_anti")
        .join(upd, o["o_orderkey"] == upd["u_key"], "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(
                F.coalesce(F.col("new_price"), F.col("o_totalprice")), 3
            ).alias("price_r"),
            F.when(F.col("u_key").isNotNull(), "updated")
            .otherwise("unchanged")
            .alias("change_op"),
        )
    )
    return kept.unionByName(ins)


@register(
    "merge_mirror_sync_apply",
    oracle="""
    WITH src AS (
        SELECT c_custkey, c_nationkey,
               round(CASE WHEN c_custkey % 5 = 0
                          THEN c_acctbal + 100 ELSE c_acctbal END, 2)
                   AS acctbal
        FROM customer WHERE c_custkey % 7 <> 0
        UNION ALL
        SELECT c_custkey + 5000000, c_nationkey, round(c_acctbal, 2)
        FROM customer WHERE c_custkey % 11 = 0
    ),
    tgt AS (
        SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
        FROM customer
    ),
    classified AS (
        SELECT COALESCE(s.c_custkey, t.c_custkey)   AS c_custkey,
               COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
               s.acctbal                            AS s_bal,
               t.acctbal                            AS t_bal,
               CASE WHEN t.c_custkey IS NULL THEN 'inserted'
                    WHEN s.c_custkey IS NULL THEN 'deleted'
                    WHEN s.acctbal <> t.acctbal THEN 'updated'
                    ELSE 'unchanged' END AS change_op
        FROM src s FULL OUTER JOIN tgt t ON s.c_custkey = t.c_custkey
    )
    SELECT change_op,
           CAST(count(*) AS BIGINT)            AS n_rows,
           round(sum(COALESCE(s_bal, 0)), 2)   AS mirrored_bal,
           CAST(min(c_custkey) AS BIGINT)      AS min_key,
           CAST(max(c_custkey) AS BIGINT)      AS max_key
    FROM classified
    GROUP BY change_op
    ORDER BY change_op
    """,
)
def merge_mirror_sync_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full mirror synchronization — MERGE with the WHEN NOT MATCHED BY
    SOURCE THEN DELETE clause (the Delta/Iceberg 'make target exactly
    equal source' statement, distinct from `merge_upsert_apply`'s
    CDC changeset which never deletes unmentioned rows): one FULL
    OUTER join classifies every key as inserted / updated / deleted /
    unchanged, and the audit rolls up row counts + mirrored balance
    per action — the reconciliation line a mirror job logs each run.
    The source derives deterministically from the snapshot (keys %7
    dropped, %5 re-priced, %11 cloned as new).

    Scale shape: one co-keyed FULL OUTER join (both sides shuffle on
    the key — bucketable, no broadcast hint on data-sized sides) and
    an action-grain rollup; this is exactly the join a table-format
    MERGE with not-matched-by-source compiles to."""
    c = load(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    src = (
        base.filter(F.col("c_custkey") % 7 != 0)
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(
                F.when(
                    F.col("c_custkey") % 5 == 0, F.col("acctbal") + 100
                ).otherwise(F.col("acctbal")),
                2,
            ).alias("acctbal"),
        )
        .unionByName(
            base.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 5000000).alias("c_custkey"),
                "c_nationkey",
                "acctbal",
            )
        )
    )
    s = src.select(
        F.col("c_custkey").alias("s_key"),
        F.col("c_nationkey").alias("s_nat"),
        F.col("acctbal").alias("s_bal"),
    )
    t = base.select(
        F.col("c_custkey").alias("t_key"),
        F.col("c_nationkey").alias("t_nat"),
        F.col("acctbal").alias("t_bal"),
    )
    classified = s.join(t, s["s_key"] == t["t_key"], "full_outer").select(
        F.coalesce(F.col("s_key"), F.col("t_key")).alias("c_custkey"),
        F.col("s_bal"),
        F.when(F.col("t_key").isNull(), "inserted")
        .when(F.col("s_key").isNull(), "deleted")
        .when(F.col("s_bal") != F.col("t_bal"), "updated")
        .otherwise("unchanged")
        .alias("change_op"),
    )
    return (
        classified.groupBy("change_op")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum(F.coalesce(F.col("s_bal"), F.lit(0))), 2).alias(
                "mirrored_bal"
            ),
            F.min("c_custkey").cast("long").alias("min_key"),
            F.max("c_custkey").cast("long").alias("max_key"),
        )
        .orderBy("change_op")
    )


@register(
    "relational_transpose",
    oracle="""
    WITH per AS (
        SELECT r_name,
               CAST(count(DISTINCT n.n_nationkey) AS BIGINT) AS n_nations,
               CAST(count(c.c_custkey) AS BIGINT)            AS n_customers
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY r_name
    )
    SELECT 'n_nations' AS key,
           max(CASE WHEN r_name = 'AFRICA'      THEN n_nations END) AS "AFRICA",
           max(CASE WHEN r_name = 'AMERICA'     THEN n_nations END) AS "AMERICA",
           max(CASE WHEN r_name = 'ASIA'        THEN n_nations END) AS "ASIA",
           max(CASE WHEN r_name = 'EUROPE'      THEN n_nations END) AS "EUROPE",
           max(CASE WHEN r_name = 'MIDDLE EAST' THEN n_nations END) AS "MIDDLE EAST"
    FROM per
    UNION ALL
    SELECT 'n_customers',
           max(CASE WHEN r_name = 'AFRICA'      THEN n_customers END),
           max(CASE WHEN r_name = 'AMERICA'     THEN n_customers END),
           max(CASE WHEN r_name = 'ASIA'        THEN n_customers END),
           max(CASE WHEN r_name = 'EUROPE'      THEN n_customers END),
           max(CASE WHEN r_name = 'MIDDLE EAST' THEN n_customers END)
    FROM per
    """,
)
def relational_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row/column transposition via the Spark 4 ``DataFrame.transpose``
    API: a per-region metrics table (nations, customers)
    flips so regions become COLUMNS and each metric becomes a row —
    the report-matrix shape pivot produces for values but transpose
    produces for whole rows, with column names taken from the index
    column's data. The oracle states the same matrix as conditional
    aggregation with hardcoded region columns.

    Scale posture: transpose COLLECTS the distinct index values to the
    driver to mint column names (an eager job), so it is strictly a
    dimension-scale reporting op — regions (5), never facts; the
    upstream per-region aggregate is the distributed part. All metric
    columns must share a least-common type (BIGINT here), a transpose
    precondition."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    per = (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count_distinct("n_nationkey").cast("long").alias("n_nations"),
            F.count("c_custkey").cast("long").alias("n_customers"),
        )
    )
    return per.transpose(indexColumn="r_name")


@register(
    "relational_pandas_api_pipeline",
    oracle="""
    SELECT n.n_name                              AS nation,
           CAST(count(*) AS BIGINT)              AS customers,
           CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100.0                AS total_acctbal,
           floor(CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) * 1e4 / count(*) + 0.5) / 1e6
                                                  AS avg_acctbal_r
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > 0
    GROUP BY n.n_name
    """,
)
def relational_pandas_api_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through its third authoring surface: pandas API
    on Spark (`pyspark.pandas`) — `merge` → boolean-mask filter →
    named-aggregation `groupby.agg`, written as pandas idioms but
    compiled to the identical Catalyst plan (broadcast hash join +
    partial/final hash aggregate; nothing ever materializes on the
    driver). `pandas_api(index_col=...)` pins a REAL column as the
    index, sidestepping the default distributed-sequence index, which
    would otherwise prepend a zipWithIndex-style pass over the whole
    table — the one silent perf trap of this API at 100 TB. Second
    documented trap: the boolean mask's pandas-NA semantics compile
    to a CASE-wrapped predicate that stays a codegen'd Filter instead
    of reaching PushedFilters — column pruning and IsNotNull still
    push, but a pipeline that needs row-group skipping on the value
    predicate should filter in the DataFrame API before entering
    pandas_api. Money moves as exact BIGINT cents (np.floor on the
    pandas-on-Spark series compiles to F.floor, no UDF), so the sum
    edge is exact and the mean edge is one identical FP division of
    identical integers — the r16 grid-avg rule (a double mean of 2dp
    money is boundary-prone at any fixed rounding grain)."""
    import pyspark.pandas as ps  # noqa: F401  (registers the API)

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    pc = c.select("c_custkey", "c_nationkey", "c_acctbal").pandas_api(
        index_col="c_custkey"
    )
    pn = n.select("n_nationkey", "n_name").pandas_api(index_col="n_nationkey")
    m = pc.merge(
        pn.reset_index(), left_on="c_nationkey", right_on="n_nationkey"
    )
    m = m[m.c_acctbal > 0]
    # money → exact BIGINT cents while STILL in the pandas API (numpy
    # ufuncs like np.floor compile to F.floor on pandas-on-Spark
    # series — no UDF): grid-avg rule, r16
    import numpy as np

    m["acct_cents"] = np.floor(m.c_acctbal * 100 + 0.5).astype("int64")
    g = m.groupby("n_name").agg(
        customers=("c_nationkey", "count"),
        cents=("acct_cents", "sum"),
    )
    out = g.to_spark(index_col="n_name")
    return out.select(
        F.col("n_name").alias("nation"),
        F.col("customers").cast("long").alias("customers"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias(
            "total_acctbal"
        ),
        (
            F.floor(
                F.col("cents").cast("double")
                * F.lit(1e4)
                / F.col("customers")
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("avg_acctbal_r"),
    )
