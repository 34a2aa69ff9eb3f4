"""Set operations: union (all/distinct), intersect, except, *_all.
SURVEY.md §2B "Sort / limit / set ops".

Distinct set ops shuffle on the full row hash; at scale prefer the
_all variants or pre-aggregated inputs when semantics allow (noted per
query). unionByName is the safe union — positional union silently
miswires columns on schema drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.registry import register
from hive_task_spark.tables import load


def _cust_nations(spark, sf_dir):
    return load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )


def _supp_nations(spark, sf_dir):
    return load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )


@register(
    "setop_union_distinct",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    UNION
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) via unionByName + distinct."""
    return _cust_nations(spark, sf_dir).unionByName(
        _supp_nations(spark, sf_dir)
    ).distinct()


@register(
    "setop_union_all",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    UNION ALL
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — no shuffle at all, pure concatenation of partitions."""
    return _cust_nations(spark, sf_dir).unionByName(_supp_nations(spark, sf_dir))


@register(
    "setop_intersect",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    INTERSECT
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — nations with both customers and suppliers."""
    return _cust_nations(spark, sf_dir).intersect(_supp_nations(spark, sf_dir))


@register(
    "setop_except",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    EXCEPT
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customer nations with no supplier."""
    return _cust_nations(spark, sf_dir).subtract(_supp_nations(spark, sf_dir))


@register(
    "setop_intersect_all",
    oracle="""
    SELECT o_orderstatus FROM orders WHERE o_totalprice > 50000
    INTERSECT ALL
    SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics, keeps multiplicities)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 50000).select("o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderstatus")
    return a.intersectAll(b)


@register(
    "setop_except_all",
    oracle="""
    SELECT o_orderstatus FROM orders WHERE o_totalprice > 50000
    EXCEPT ALL
    SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 50000).select("o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderstatus")
    return a.exceptAll(b)


@register(
    "setop_union_schema_evolution",
    oracle="""
    SELECT n_nationkey AS entity_key, n_name AS entity_name,
           CAST(n_regionkey AS BIGINT) AS region_key,
           CAST(NULL AS DOUBLE) AS acctbal
    FROM nation
    UNION ALL
    SELECT s_suppkey, s_name, CAST(NULL AS BIGINT), s_acctbal
    FROM supplier
    """,
)
def setop_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: unionByName(allowMissingColumns=True)
    aligns two differently-shaped relations BY NAME, null-padding
    each side's missing columns — how heterogeneous snapshots (an old
    table version + a new one with added fields) concatenate without
    positional-union silent corruption (plain UNION by position would
    happily zip unrelated columns). The oracle writes the null
    padding out explicitly."""
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("entity_key"),
        F.col("n_name").alias("entity_name"),
        F.col("n_regionkey").cast("long").alias("region_key"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return n.unionByName(s, allowMissingColumns=True)
