"""As-of joins — SURVEY.md §2B joins (the ⚠ row: no native Spark
primitive; DuckDB has ASOF JOIN).

Two Spark-first implementations of identical semantics:

* **union + window** (`asof_join_orders`, `asof_join_events_orders`):
  tag probe/build rows, union, one window over (key, time, side) with
  ``last(build_struct, ignorenulls)``. ONE shuffle on the key — at
  100 TB this is strictly better than any pairwise join formulation
  because the shuffle carries each row once and the window is a single
  sort per partition. Tie/direction rules are encoded in the
  secondary sort key (build-before-probe = inclusive; probe-before-
  build = strict).
* **applyInPandas + pandas.merge_asof** (`asof_join_merge_asof`):
  the grouped-map UDF surface — Arrow-batched per-key pandas kernels.
  Same oracle as the union-window variant, proving the two agree.

Determinism: among build rows tied on time, the max build key wins
(backward) — pinned on both engines via explicit sort keys.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_task_spark.registry import register
from hive_task_spark.tables import load

_ASOF_PREV_ORACLE = """
    SELECT o_orderkey, o_custkey, prev_orderkey, prev_totalprice, days_since_prev
    FROM (
        SELECT
            p.o_orderkey,
            p.o_custkey,
            b.o_orderkey                                              AS prev_orderkey,
            b.o_totalprice                                            AS prev_totalprice,
            CAST(date_diff('day', b.o_orderdate, p.o_orderdate) AS BIGINT)
                                                                      AS days_since_prev,
            row_number() OVER (
                PARTITION BY p.o_orderkey
                ORDER BY b.o_orderdate DESC, b.o_orderkey DESC)       AS rn
        FROM orders p
        LEFT JOIN orders b
          ON b.o_custkey = p.o_custkey AND b.o_orderdate < p.o_orderdate
    )
    WHERE rn = 1
"""


@register("asof_join_orders", oracle=_ASOF_PREV_ORACLE)
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-strict as-of self join: each order matched to the same
    customer's most recent strictly-earlier order.

    Union-window rewrite: probe rows sort before build rows at equal
    time (strict <); ``last(ignorenulls)`` over the preceding frame
    picks the as-of match. Build columns travel in one struct so all
    matched attributes come from the same build row.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    probe = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),  # probe first at equal t => strict
        F.col("o_orderkey").alias("probe_key"),
        F.lit(None)
        .cast("struct<t:timestamp,okey:bigint,price:double>")
        .alias("b"),
    )
    build = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("probe_key"),
        F.struct(
            F.col("o_orderdate").alias("t"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").alias("price"),
        ).alias("b"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("side"), F.col("b.okey").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    u = probe.unionByName(build)
    picked = F.last("b", ignorenulls=True).over(w)
    return (
        u.withColumn("m", picked)
        .filter(F.col("side") == 0)
        .select(
            F.col("probe_key").alias("o_orderkey"),
            F.col("k").alias("o_custkey"),
            F.col("m.okey").alias("prev_orderkey"),
            F.col("m.price").alias("prev_totalprice"),
            F.datediff(F.col("t"), F.col("m.t")).cast("long").alias("days_since_prev"),
        )
    )


@register(
    "asof_join_events_orders",
    oracle="""
    SELECT event_id, user_id, last_orderkey, last_totalprice
    FROM (
        SELECT
            e.event_id,
            e.user_id,
            o.o_orderkey   AS last_orderkey,
            o.o_totalprice AS last_totalprice,
            row_number() OVER (
                PARTITION BY e.event_id
                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    WHERE rn = 1
    """,
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of: each event matched to the user's most
    recent order at-or-before the event time (build rows sort before
    probe rows at equal time => inclusive). Users with no orders keep
    a null match — the LEFT semantics of as-of."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    probe = e.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),  # build first at equal t => inclusive
        F.col("event_id").alias("probe_key"),
        F.lit(None).cast("struct<okey:bigint,price:double>").alias("b"),
    )
    build = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("probe_key"),
        F.struct(
            F.col("o_orderkey").alias("okey"), F.col("o_totalprice").alias("price")
        ).alias("b"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("side"), F.col("b.okey").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = probe.unionByName(build)
    picked = F.last("b", ignorenulls=True).over(w)
    return (
        u.withColumn("m", picked)
        .filter(F.col("side") == 1)
        .select(
            F.col("probe_key").alias("event_id"),
            F.col("k").alias("user_id"),
            F.col("m.okey").alias("last_orderkey"),
            F.col("m.price").alias("last_totalprice"),
        )
    )


_MERGE_ASOF_SCHEMA = (
    "o_orderkey long, o_custkey long, prev_orderkey long, "
    "prev_totalprice double, days_since_prev long"
)


def _merge_asof_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-BUCKET backward-strict merge_asof (runs on executors,
    Arrow-batched): one ``pandas.merge_asof(by="o_custkey")`` call
    handles every customer in the bucket. The global (date, orderkey)
    sort makes equal-date rows within each customer ascend by
    orderkey, so merge_asof's last-wins tie rule == the oracle's
    max-orderkey rule — exactly the per-customer semantics of the
    pre-r17 one-group-per-customer form, verified identical."""
    left = pdf.sort_values(["o_orderdate", "o_orderkey"]).reset_index(drop=True)
    right = left.rename(
        columns={"o_orderkey": "prev_orderkey", "o_totalprice": "prev_totalprice"}
    )[["o_custkey", "o_orderdate", "prev_orderkey", "prev_totalprice"]]
    right["prev_date"] = right["o_orderdate"]  # matched date as payload
    m = pd.merge_asof(
        left,
        right,
        on="o_orderdate",
        by="o_custkey",
        direction="backward",
        allow_exact_matches=False,
    )
    m["days_since_prev"] = (m["o_orderdate"] - m["prev_date"]).dt.days
    out = m[
        ["o_orderkey", "o_custkey", "prev_orderkey", "prev_totalprice", "days_since_prev"]
    ].copy()
    out["prev_orderkey"] = out["prev_orderkey"].astype("Int64")
    out["days_since_prev"] = out["days_since_prev"].astype("Int64")
    return out


@register("asof_join_merge_asof", oracle=_ASOF_PREV_ORACLE)
def asof_join_merge_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of semantics as ``asof_join_orders``, implemented on the
    grouped-map UDF surface: ``applyInPandas`` running
    ``pandas.merge_asof`` with per-customer ``by=`` grouping.
    Differentially tested against the same DuckDB oracle — the two
    implementations must agree.

    r17 (guide §4.5 — amortize per-call machinery): the grouped-map
    key is a 64-way customer BUCKET, not the raw customer. One group
    per customer meant ~10k pandas frames per run (a few ms of
    per-group Arrow/pandas machinery each — 39.9 s at sf0.1, the
    slowest query in the whole registry); merge_asof's ``by=`` does
    the per-customer as-of INSIDE each bucket, so the semantics are
    unchanged while the Python boundary crosses 64 times instead of
    10k (39.9 s -> ~1 s). This is also the honest 100 TB shape: group
    count tracks the parallelism target, not the key cardinality."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return o.groupBy(F.pmod(F.col("o_custkey"), F.lit(64))).applyInPandas(
        _merge_asof_group, _MERGE_ASOF_SCHEMA
    )


@register(
    "asof_join_forward_tolerance",
    oracle="""
    SELECT event_id, user_id, next_purchase_id, secs_to_purchase
    FROM (
        SELECT
            v.event_id,
            v.user_id,
            b.event_id                                        AS next_purchase_id,
            CAST(date_diff('second', v.ts, b.ts) AS BIGINT)   AS secs_to_purchase,
            row_number() OVER (
                PARTITION BY v.event_id
                ORDER BY b.ts ASC, b.event_id ASC)            AS rn
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
          ON b.user_id = v.user_id
         AND b.ts > v.ts
         AND b.ts <= v.ts + INTERVAL 7 DAY
    )
    WHERE rn = 1
    """,
)
def asof_join_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: each view event matched to
    the same user's NEXT purchase within 7 days (pandas merge_asof
    direction='forward', tolerance=7d semantics).

    Union-window rewrite mirrors the backward variant: build rows sort
    BEFORE probe rows at equal time (strict >), ``first(build_struct,
    ignorenulls)`` over [current, unbounded following] picks the
    earliest later build (event_id tiebreak), and the tolerance is a
    post-filter on the matched timestamp. ONE shuffle on user_id —
    same 100 TB posture as the backward form."""
    e = load(spark, sf_dir, "events")
    probe = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.lit(1).alias("side"),
        F.lit(None).cast("struct<bid:bigint,bts:timestamp>").alias("b"),
    )
    build = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("side"),
        F.struct(
            F.col("event_id").alias("bid"), F.col("ts").alias("bts")
        ).alias("b"),
    )
    u = probe.unionByName(build)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.col("b.bid").asc_nulls_last())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    matched = (
        u.withColumn("nxt", F.first("b", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.when(
                F.col("nxt.bts") <= F.col("ts") + F.expr("INTERVAL 7 DAYS"),
                F.col("nxt"),
            ).alias("m"),
            "ts",
        )
    )
    return matched.select(
        "event_id",
        "user_id",
        F.col("m.bid").alias("next_purchase_id"),
        (F.unix_timestamp("m.bts") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("secs_to_purchase"),
    )


@register(
    "asof_join_nearest",
    oracle="""
    WITH pairs AS (
        SELECT p.o_orderkey, p.o_custkey,
               b.o_orderkey   AS near_orderkey,
               b.o_totalprice AS near_totalprice,
               abs(datediff('day', b.o_orderdate, p.o_orderdate)) AS dist_days,
               CASE WHEN b.o_orderdate < p.o_orderdate THEN 0 ELSE 1 END AS fwd
        FROM orders p
        JOIN orders b ON p.o_custkey = b.o_custkey
                     AND p.o_orderdate <> b.o_orderdate
    )
    SELECT o_orderkey, o_custkey, near_orderkey, near_totalprice,
           CAST(dist_days AS BIGINT) AS dist_days
    FROM (SELECT *, row_number() OVER (
              PARTITION BY o_orderkey
              ORDER BY dist_days, fwd, near_orderkey) AS rn
          FROM pairs)
    WHERE rn = 1
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each order matched to the same
    customer's closest order on a strictly different day, in either
    time direction (ties: backward wins, then smallest orderkey) —
    the "nearest" mode of pandas merge_asof, done at scale.

    Union-window rewrite like `asof_join_orders`, run in both
    directions over ONE user-keyed exchange: the backward candidate is
    last(build) over the preceding frame (okey DESC within a date so
    `last` lands on the smallest key), the forward candidate is
    first(build) over the following frame; a final projection picks
    the closer side. The oracle states the same semantics as an
    all-pairs self-join + rank — correct but quadratic per customer,
    exactly what this plan avoids (each row carries two O(1) window
    structs, never a candidate set)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    probe = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.col("o_orderkey").alias("probe_key"),
        F.lit(None)
        .cast("struct<t:timestamp,okey:bigint,price:double>")
        .alias("b"),
    )
    build = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("probe_key"),
        F.struct(
            F.col("o_orderdate").alias("t"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").alias("price"),
        ).alias("b"),
    )
    wb = (
        Window.partitionBy("k")
        .orderBy("t", "side", F.col("b.okey").desc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Forward window sorts builds BEFORE probes at equal t (side desc),
    # so the strictly-following frame skips same-day builds (incl. the
    # probe's own build row — no self-match).
    wf = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("side").desc(), F.col("b.okey").asc_nulls_last())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    u = probe.unionByName(build)
    picked = (
        u.withColumn("pb", F.last("b", ignorenulls=True).over(wb))
        .withColumn("pf", F.first("b", ignorenulls=True).over(wf))
        .filter(F.col("side") == 0)
    )
    dist_b = F.datediff(F.col("t"), F.col("pb.t"))
    dist_f = F.datediff(F.col("pf.t"), F.col("t"))
    use_b = F.col("pb").isNotNull() & (
        F.col("pf").isNull() | (dist_b <= dist_f)
    )
    m = F.when(use_b, F.col("pb")).otherwise(F.col("pf"))
    dist = F.when(use_b, dist_b).otherwise(dist_f)
    return picked.filter(m.isNotNull()).select(
        F.col("probe_key").alias("o_orderkey"),
        F.col("k").alias("o_custkey"),
        m["okey"].alias("near_orderkey"),
        m["price"].alias("near_totalprice"),
        dist.cast("long").alias("dist_days"),
    )
