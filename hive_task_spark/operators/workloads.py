"""Composite analytical workloads — TPC-H-shaped queries over the full
star schema (the fixture tables carry a TPC-H-ish subset of columns;
FIXTURES.md). These are the "everything at once" proofs: multi-way
joins + selective filters + aggregation + top-k in one plan, the query
shapes a user of a batch OLAP engine actually runs.

Plan posture (verified via .explain, see SCALE.md): every dimension
side broadcasts, filters push into the parquet scans of both fact and
dimensions, aggregates are partial+final, top-k compiles to
TakeOrderedAndProject. The fact table is scanned once per query and
never shuffled for a dimension join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.functions import exact
from hive_task_spark.plans.session import scoped_conf
from hive_task_spark.registry import register
from hive_task_spark.scratch import fresh_scratch, scratch_path
from hive_task_spark.tables import load


def _revenue_u4():
    """Revenue in exact BIGINT 1e-4 units (2dp price × 2dp discount —
    the value's true grain): summation-order-independent, so revenue
    edges no longer pin single-split scan order (r18 float-edge
    unlock). The edge is CAST(sum AS DOUBLE)/10000, identical in the
    DuckDB twin _REV_U4_SQL."""
    return exact.disc_price_u4(F.col("l_extendedprice"), F.col("l_discount"))


_REV_U4_SQL = exact.disc_price_u4_sql("l.l_extendedprice", "l.l_discount")


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT
        l.l_orderkey,
        CAST(sum({_REV_U4_SQL}) AS DOUBLE) / 10000   AS revenue,
        CAST(epoch(o.o_orderdate) AS BIGINT)         AS orderdate_s,
        o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate_s, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped high-value orders in one segment.
    Segment filter reaches the customer scan, both date filters reach
    their scans; top-10 is TakeOrderedAndProject."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_revenue_u4()).cast("double") / 10000).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").cast("long").alias("orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("orderdate_s"), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT
        n.n_name                                    AS nation,
        CAST(sum({_REV_U4_SQL}) AS DOUBLE) / 10000  AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue through local suppliers per nation of
    one region — a 6-way join whose five dimension sides all broadcast;
    the only shuffle is the final small groupBy."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(_revenue_u4()).cast("double") / 10000).alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT
        c.c_custkey,
        c.c_name,
        CAST(sum({_REV_U4_SQL}) AS DOUBLE) / 10000  AS revenue,
        c.c_acctbal,
        n.n_name                                    AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue in a
    quarter-ish window. returnflag filter pushes into the fact scan."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg((F.sum(_revenue_u4()).cast("double") / 10000).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "sql_hiveql_interface",
    oracle="""
    WITH ev AS (
        SELECT e.event_type,
               unnest(string_split(e.props, ',')) AS kv
        FROM events e
        WHERE e.event_id < 500
    )
    SELECT
        event_type,
        trim(string_split(kv, ':')[1]) AS prop_key,
        CAST(count(*) AS BIGINT)       AS n
    FROM ev
    GROUP BY 1, 2
    """,
)
def sql_hiveql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL-dialect SQL surface (the north star names HiveQL
    compatibility explicitly): LATERAL VIEW explode + DISTRIBUTE BY /
    SORT BY run unmodified on Spark SQL. Splits raw JSON prop text
    into key tokens per event type — the query text is the operator
    here; DISTRIBUTE/SORT BY shape partitioning without changing
    results (the value-hash is order-insensitive)."""
    return spark.sql(
        """
        SELECT event_type, prop_key, count(*) AS n
        FROM (
            SELECT e.event_type, trim(split(kv, ':')[0]) AS prop_key
            FROM {events} e
            LATERAL VIEW explode(split(e.props, ',')) t AS kv
            WHERE e.event_id < 500
            DISTRIBUTE BY event_type SORT BY event_type
        )
        GROUP BY event_type, prop_key
        """,
        events=load(spark, sf_dir, "events"),
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END)
             / sum(volume), 9) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'EUROPE'
          AND p.p_type = 'STANDARD'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for one
    part type, by order year. Seven broadcast dimension joins around a
    single pruned fact scan (p_type prunes via the part build side,
    the two-year window pushes through the orders join); the share is
    a conditional-sum / sum ratio in one partial+final aggregate."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    share = F.round(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
        )
        / F.sum("volume"),
        9,
    )
    return joined.groupBy("o_year").agg(share.alias("mkt_share"))


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year,
           CAST(sum(amount_u4) AS DOUBLE) / 10000 AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               {_REV_U4_SQL}
                 - {exact.cents_sql("p.p_retailprice")} * 60
                   * {exact.units_sql("l.l_quantity", 1)} AS amount_u4
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation and
    year (adapted: the fixture has no partsupp, so supply cost is
    proxied as 0.6 * p_retailprice per unit). The p_name LIKE filter
    prunes the broadcast part side before the fact join; profit is
    computed per line then partial-aggregated map-side.

    amount is a TRUE 4dp value (4dp revenue − 2dp·0.6·integer qty, a
    3dp×int value): it moves as exact BIGINT 1e-4 units — revenue_u4 −
    cents(retail)·60·qty — so the profit sum is order-independent and
    the edge is ONE division (r18 float-edge unlock)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    amount_u4 = _revenue_u4() - (
        exact.cents(F.col("p_retailprice"))
        * F.lit(60)
        * exact.units(F.col("l_quantity"), 1)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount_u4.alias("amount_u4"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("amount_u4").cast("double") / 10000).alias("sum_profit"))
    )


@register(
    "q12_late_shipments",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix of slow shipments (adapted: the
    fixture has no shipmode/commit/receipt dates — "slow" is shipped
    30-90 days after ordering, classed by return flag). The year
    filter pushes into the fact scan; the cross-table lateness window
    rides the join condition; counts are conditional sums."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li["l_orderkey"] == o["o_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS"))
            & (li["l_shipdate"] < o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q13_order_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    including zero-order customers (the classic outer-join-then-
    histogram). Spark-first rewrite: instead of outer-joining the raw
    orders table then double-aggregating, pre-aggregate orders to one
    row per customer and left-join that — the big side shuffles once
    at customer-key grain and the outer join preserves empty
    customers via coalesce(cnt, 0). Identical semantics to the
    correlated form since count(o_orderkey) counts only matches."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
    )


_SQL_LATERAL_TOPK = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM {customer} c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 2) t
"""


@register(
    "sql_lateral_topk",
    oracle=_SQL_LATERAL_TOPK.format(customer="customer", orders="orders"),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT —
    top-2 orders per customer written the declarative way. Catalyst
    decorrelates the lateral into a ranked window join (the same plan
    the hand-written window_topk_per_group builds); the IDENTICAL SQL
    text runs on DuckDB as the oracle. Proves the SQL surface accepts
    lateral correlation, not just the DataFrame rewrites."""
    return spark.sql(
        _SQL_LATERAL_TOPK,
        customer=load(spark, sf_dir, "customer"),
        orders=load(spark, sf_dir, "orders"),
    )


_SQL_CORRELATED_EXISTS = """
    SELECT c.c_custkey, c.c_mktsegment
    FROM {customer} c
    WHERE EXISTS (
        SELECT 1 FROM {orders} o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > (SELECT avg(o_totalprice) FROM {orders})
    )
"""


@register(
    "sql_correlated_exists",
    oracle=_SQL_CORRELATED_EXISTS.format(customer="customer", orders="orders"),
)
def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a nested uncorrelated scalar subquery,
    executed as RAW SQL — Catalyst decorrelates to a semi-join against
    the scalar-filtered orders (one fact scan, broadcast scalar),
    which is exactly the manual rewrite in q22/q4. Identical text is
    the DuckDB oracle. The declarative path and the DataFrame rewrite
    path are both first-class."""
    return spark.sql(
        _SQL_CORRELATED_EXISTS,
        customer=load(spark, sf_dir, "customer"),
        orders=load(spark, sf_dir, "orders"),
    )


_SQL_RECURSIVE_CHAIN = """
    WITH RECURSIVE edges AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               lead(o_orderkey)   OVER w AS next_key,
               lead(o_totalprice) OVER w AS next_price,
               row_number()       OVER w AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    chain AS (
        SELECT o_custkey AS ck, o_orderkey AS ok, CAST(1 AS BIGINT) AS depth,
               round(o_totalprice, 2) AS cum
        FROM edges WHERE rn = 1
        UNION ALL
        SELECT c.ck, e.next_key, c.depth + 1, round(c.cum + e.next_price, 2)
        FROM chain c JOIN edges e ON e.o_orderkey = c.ok
        WHERE e.next_key IS NOT NULL
    )
    SELECT ck AS c_custkey,
           CAST(max(depth) AS BIGINT) AS n_orders,
           round(max(cum), 2)         AS total_spend
    FROM chain
    GROUP BY ck
"""


@register("sql_recursive_cte", oracle=_SQL_RECURSIVE_CHAIN)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk each customer's
    order chain from the first order, accumulating depth and running
    spend — the linked-list traversal shape (org charts, BOM
    explosions) that plain joins can't express. Each recursion step is
    a keyed equi-join, so the iteration count is the longest chain,
    not the row count. The DuckDB oracle keeps the original
    single-statement form; per-step round keeps the running sum
    exact-decimal on both engines.

    r17 (guide §5 "localCheckpoint to cut lineage" + §2.4): the chain
    `edges` CTE (a window over orders) MATERIALIZES once before the
    recursion — Spark's UnionLoop re-evaluated the whole window CTE on
    every recursion step (9.5 s at sf0.1 -> ~1.5 s). Conservative
    checkpoint: edges scales with orders, so the per-step join must
    never be invited to broadcast it. The edge content is a
    deterministic window (full (date, orderkey) tie-break), so the
    materialized view is row-identical to the oracle's inline CTE.

    r18 (VERDICT r17 item 7): the residue was STEP-COUNT-bound — each
    UnionLoop iteration costs a fixed plan+job setup regardless of row
    volume, and probed alternatives (pre-partitioned plain checkpoint,
    SHUFFLE_HASH/MERGE hints) moved nothing because the per-step join
    is tiny. The recursion now walks K=8 links per step (the classic
    recursive-SQL path-unrolling): the window emits lead(k) pairs for
    k=1..8 and the recursive member consumes min(8, remaining) hops,
    applying the SAME nested per-hop round(cum + p, 2) sequence, so
    every emitted cum is a value the one-hop recursion also produced.
    The final aggregate is max(depth)/max(cum) per customer; prefix
    cums are strictly increasing (o_totalprice > 0), so max over the
    k-hop subset == max over all prefixes == the chain end — verified
    value-identical to the one-hop form on all 14999 rows at sf0.1,
    and the one-hop DuckDB oracle is unchanged. Measured 3.91 -> 1.53 s
    (steps ~/8; plan capture in plans/r18/ at commit b6b689b)."""
    from hive_task_spark.plans.checkpoints import checkpoint_conservative

    k_hops = 8
    leads = ",\n               ".join(
        f"lead(o_orderkey, {i})   OVER w AS nk{i}, "
        f"lead(o_totalprice, {i}) OVER w AS np{i}"
        for i in range(1, k_hops + 1)
    )
    edges = spark.sql(
        f"""
        SELECT o_custkey, o_orderkey, o_totalprice,
               {leads},
               row_number()       OVER w AS rn
        FROM {{orders}}
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        orders=load(spark, sf_dir, "orders"),
    )
    # nested per-hop rounds, hop-by-hop in chain order (bit-identical
    # to the one-hop recursion's cum sequence)
    cum = "c.cum"
    cums = []
    for j in range(1, k_hops + 1):
        cum = f"round({cum} + e.np{j}, 2)"
        cums.append(cum)
    longest = " ".join(
        f"WHEN e.nk{j} IS NOT NULL THEN e.nk{j}" for j in range(k_hops, 0, -1)
    )
    hops = " ".join(
        f"WHEN e.nk{j} IS NOT NULL THEN {j}" for j in range(k_hops, 0, -1)
    )
    cum_case = " ".join(
        f"WHEN e.nk{j} IS NOT NULL THEN {cums[j - 1]}"
        for j in range(k_hops, 0, -1)
    )
    return spark.sql(
        f"""
        WITH RECURSIVE chain AS (
            SELECT o_custkey AS ck, o_orderkey AS ok, CAST(1 AS BIGINT) AS depth,
                   round(o_totalprice, 2) AS cum
            FROM {{edges}} WHERE rn = 1
            UNION ALL
            SELECT c.ck,
                   CASE {longest} END,
                   c.depth + CASE {hops} END,
                   CASE {cum_case} END
            FROM chain c JOIN {{edges}} e ON e.o_orderkey = c.ok
            WHERE e.nk1 IS NOT NULL
        )
        SELECT ck AS c_custkey,
               CAST(max(depth) AS BIGINT) AS n_orders,
               round(max(cum), 2)         AS total_spend
        FROM chain
        GROUP BY ck
        """,
        edges=checkpoint_conservative(edges),
    )


@register(
    "sql_lateral_column_alias",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, round(o_totalprice * 0.9, 3) AS discounted
        FROM orders WHERE o_totalprice > 100000
    ),
    u AS (
        SELECT o_orderkey, discounted,
               round(discounted * 0.07, 5) AS tax_due
        FROM t
    )
    SELECT o_orderkey, discounted, tax_due,
           round(discounted + tax_due, 5) AS final_price
    FROM u
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+ SQL): later SELECT items
    reference earlier aliases in the same list (discounted → tax_due →
    final_price) instead of repeating the expression or nesting a
    subquery — purely a resolution feature, so the optimized plan is
    identical to the expanded form (one project over the scan, full
    pushdown preserved). The DuckDB oracle expands through CTEs; all
    rounds sit at each value's exact decimal grain (2dp price -> 3dp
    discounted -> 5dp tax) per the half-boundary rule."""
    return spark.sql(
        """
        SELECT o_orderkey,
               round(o_totalprice * 0.9, 3)   AS discounted,
               round(discounted * 0.07, 5)    AS tax_due,
               round(discounted + tax_due, 5) AS final_price
        FROM {orders}
        WHERE o_totalprice > 100000
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_parameterized",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal_r
    FROM customer
    WHERE c_acctbal >= 1000.0 AND c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY c_mktsegment
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args=...)): the binding API
    that kills string-interpolated predicates — parameters arrive as
    typed literals in the plan (constant-folded, pushed down like any
    literal), never concatenated text, which is both the injection-
    safe and the plan-cache-friendly form."""
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_custs,
               round(sum(c_acctbal), 2) AS total_bal_r
        FROM {customer}
        WHERE c_acctbal >= :min_bal AND c_mktsegment IN (:seg1, :seg2)
        GROUP BY c_mktsegment
        """,
        args={"min_bal": 1000.0, "seg1": "BUILDING", "seg2": "MACHINERY"},
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "sql_native_unpivot",
    oracle="""
    UNPIVOT (SELECT c_mktsegment,
                    floor(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) * 1e4 / count(*) + 0.5) / 1e6 AS avg_bal,
                    round(min(c_acctbal), 2) AS min_bal,
                    round(max(c_acctbal), 2) AS max_bal
             FROM customer GROUP BY c_mktsegment)
    ON avg_bal, min_bal, max_bal
    INTO NAME metric VALUE val
    """,
)
def sql_native_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SQL UNPIVOT clause (Spark 3.4+): wide per-segment stats
    rotate into (segment, metric, value) rows without the stack()
    workaround `agg_unpivot_stack` demonstrates — same Expand
    physical node, but schema-checked syntax where column typos are
    analysis errors instead of silent string literals. DuckDB's
    UNPIVOT spelling differs (ON/INTO NAME/VALUE) — the semantic is
    identical."""
    return spark.sql(
        """
        SELECT c_mktsegment, metric, val
        FROM (SELECT c_mktsegment,
                     floor(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) * 1e4 / count(*) + 0.5) / 1e6 AS avg_bal,
                     round(min(c_acctbal), 2) AS min_bal,
                     round(max(c_acctbal), 2) AS max_bal
              FROM {customer} GROUP BY c_mktsegment)
        UNPIVOT (val FOR metric IN (avg_bal, min_bal, max_bal))
        """,
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "sql_ctas_insert",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total_r
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sql_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL/DML catalog surface: CREATE TABLE AS SELECT materializes
    the pre-1997 per-status partials into a catalog table (explicit
    external path, works on both the in-memory catalog and a Hive
    metastore), INSERT INTO appends the 1997+ partials, and the final
    read re-merges — proving the write path (CTAS file layout, append
    semantics, catalog resolution) preserves values end-to-end. The
    same two statements against a metastore are the nightly summary-
    table refresh."""
    orders = load(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS htspark_ctas_summary")
    path = fresh_scratch("ctas_summary_tbl")
    spark.sql(
        f"""
        CREATE TABLE htspark_ctas_summary
        USING parquet LOCATION '{path}'
        AS SELECT o_orderstatus, count(*) AS pn, sum(o_totalprice) AS ptotal
           FROM {{orders}} WHERE year(o_orderdate) < 1997
           GROUP BY o_orderstatus
        """,
        orders=orders,
    )
    spark.sql(
        """
        INSERT INTO htspark_ctas_summary
        SELECT o_orderstatus, count(*) AS pn, sum(o_totalprice) AS ptotal
        FROM {orders} WHERE year(o_orderdate) >= 1997
        GROUP BY o_orderstatus
        """,
        orders=orders,
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(sum(pn) AS BIGINT)  AS n_orders,
               round(sum(ptotal), 2)    AS total_r
        FROM htspark_ctas_summary
        GROUP BY o_orderstatus
        """
    )


@register(
    "sql_udf_library",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END                             AS size_bucket,
           concat(CAST(year(o_orderdate) AS VARCHAR), '-Q',
                  CAST(quarter(o_orderdate) AS VARCHAR))     AS yq,
           CAST(count(*) AS BIGINT)                          AS n_orders,
           round(sum(o_totalprice), 2)                       AS total_r
    FROM orders
    GROUP BY 1, 2
    """,
)
def sql_udf_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (Spark 4.0 `CREATE FUNCTION ... RETURN
    <expr>`): a reusable scalar-function library defined in pure SQL —
    no Python hop at all. Catalyst INLINES the function body into the
    calling plan (the optimized plan shows plain CASE/concat
    expressions inside WholeStageCodegen, not a UDF call), so at
    100 TB these run at scan speed, unlike any Python UDF. The oracle
    is the hand-inlined equivalent — identical semantics by
    construction."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ht_size_bucket(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 50000 THEN 'small'
                    WHEN p < 150000 THEN 'medium'
                    ELSE 'large' END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ht_year_quarter(d TIMESTAMP)
        RETURNS STRING
        RETURN concat(CAST(year(d) AS STRING), '-Q', CAST(quarter(d) AS STRING))
        """
    )
    return spark.sql(
        """
        SELECT ht_size_bucket(o_totalprice)  AS size_bucket,
               ht_year_quarter(o_orderdate)  AS yq,
               CAST(count(*) AS BIGINT)      AS n_orders,
               round(sum(o_totalprice), 2)   AS total_r
        FROM {orders}
        GROUP BY 1, 2
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_table_function",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_totalprice,
               CAST(1 + o_orderkey % 3 AS INT) AS n
        FROM orders WHERE o_orderkey <= 500
    )
    SELECT o_orderkey,
           CAST(unnest(range(1, n + 1)) AS INT) AS k,
           round(o_totalprice / n, 4)           AS amount
    FROM src
    """,
)
def sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table function (Spark 4.0 `CREATE FUNCTION ... RETURNS
    TABLE`) applied per-row via correlated LATERAL: each order explodes
    into its installment schedule (1-3 rows keyed by orderkey). Like
    scalar SQL UDFs the body inlines into the plan — the LATERAL
    becomes a generate/explode, not a per-row subquery. Amounts round
    at 4dp (2dp price / n<=3 — at or above the value's exact decimal
    grain for n in {1,2}, and a non-terminating decimal for n=3, so
    4dp sits on no half boundary)."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ht_installments(total DOUBLE, n INT)
        RETURNS TABLE(k INT, amount DOUBLE)
        RETURN SELECT explode(sequence(1, n)) AS k, round(total / n, 4) AS amount
        """
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, t.k, t.amount
        FROM {orders} o,
             LATERAL ht_installments(o.o_totalprice,
                                     CAST(1 + o.o_orderkey % 3 AS INT)) t
        WHERE o.o_orderkey <= 500
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_native_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (l_linestatus = 'O') AS BIGINT) AS st_o,
           CAST(count(*) FILTER (l_linestatus = 'F') AS BIGINT) AS st_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_native_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SQL PIVOT clause (vs the DataFrame `.pivot()` in
    `agg_pivot`): line counts rotate status values into columns.
    With the IN-list enumerated (no value-discovery scan), the plan is
    a single partial+final hash aggregate over filtered counts —
    exactly the filtered-agg formulation the oracle spells out, so the
    rotation is free at any scale."""
    return spark.sql(
        """
        SELECT * FROM (SELECT l_returnflag, l_linestatus FROM {lineitem})
        PIVOT (CAST(count(*) AS BIGINT)
               FOR l_linestatus IN ('O' AS st_o, 'F' AS st_f))
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total_r
    FROM orders
    GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+ / DuckDB-pioneered sugar): every non-
    aggregate select item becomes a grouping key — the exact same SQL
    text runs on BOTH engines here, so the oracle is literal. Resolves
    at analysis time to an ordinary partial+final hash aggregate."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT)    AS n_orders,
               round(sum(o_totalprice), 2) AS total_r
        FROM {orders}
        GROUP BY ALL
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_identifier_template",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sql_identifier_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 3.4+): table/column names arrive as
    PARAMETERS instead of string-concatenated SQL — the
    injection-safe way to template multi-tenant queries over
    per-tenant table names. The identifier binds at analysis time, so
    the optimized plan is indistinguishable from the literal query
    (broadcast dim join here)."""
    # IDENTIFIER() names catalog objects, so this query keeps its views.
    load(spark, sf_dir, "customer").createOrReplaceTempView("ht_cust_idf")
    load(spark, sf_dir, "nation").createOrReplaceTempView("ht_nat_idf")
    try:
        return spark.sql(
            """
            SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
            FROM IDENTIFIER(:cust_tbl) JOIN IDENTIFIER(:nat_tbl)
                 ON c_nationkey = n_nationkey
            GROUP BY n_name
            """,
            args={"cust_tbl": "ht_cust_idf", "nat_tbl": "ht_nat_idf"},
        )
    finally:
        spark.catalog.dropTempView("ht_cust_idf")
        spark.catalog.dropTempView("ht_nat_idf")


@register(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_open
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4.0): dynamic SQL with ?-positional
    binds — the stored-procedure-style escape hatch for query text
    assembled at runtime, with values passed as real parameters (no
    string splicing). Plans identically to the static statement."""
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_open
           FROM {orders} WHERE o_orderstatus = ? GROUP BY o_orderpriority'
          USING 'O'
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_session_variables",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rich
    FROM customer
    WHERE c_acctbal >= 5000.0
    GROUP BY c_mktsegment
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4.0 DECLARE/SET VARIABLE): a typed,
    session-scoped scalar referenced by name inside later queries —
    the SQL-native way to thread thresholds through a multi-statement
    workflow (vs string formatting). The variable folds to a literal
    at analysis, so predicate pushdown still sees a constant."""
    spark.sql("DECLARE OR REPLACE VARIABLE ht_bal_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE ht_bal_floor = 5000.0")
    return spark.sql(
        """
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rich
        FROM {customer}
        WHERE c_acctbal >= ht_bal_floor
        GROUP BY c_mktsegment
        """,
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "sql_masked_view",
    oracle="""
    SELECT substr(c_name, 1, 4) || '***'        AS masked_name,
           md5(CAST(c_custkey AS VARCHAR))      AS stable_key,
           c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """,
)
def sql_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance view: column masking (name truncated, key replaced
    by a stable md5 pseudonym, balance coarsened to a band) plus a
    row-level filter, packaged as a VIEW — the pattern that lets
    analysts query PII-bearing tables without seeing PII, while the
    pseudonym still joins across views. Views are analysis-time
    macros: the optimized plan is identical to inlining the
    expressions, so masking costs nothing at any scale and predicate
    pushdown still reaches the scan through the view."""
    # A SQL view re-resolves its body by name on read: it needs a named source.
    load(spark, sf_dir, "customer").createOrReplaceTempView("ht_cust_mask_src")
    try:
        spark.sql(
            """
            CREATE OR REPLACE TEMPORARY VIEW ht_customer_masked AS
            SELECT concat(substr(c_name, 1, 4), '***')       AS masked_name,
                   md5(CAST(c_custkey AS STRING))            AS stable_key,
                   c_mktsegment,
                   CAST(floor(c_acctbal / 1000) AS BIGINT)   AS bal_band
            FROM ht_cust_mask_src
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            """
        )
        return spark.sql("SELECT * FROM ht_customer_masked")
    finally:
        spark.catalog.dropTempView("ht_customer_masked")
        spark.catalog.dropTempView("ht_cust_mask_src")


@register(
    "sql_distribute_cluster_by",
    oracle="""
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT)       AS n_items,
           round(sum(l_extendedprice), 2) AS total_r
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_suppkey
    """,
)
def sql_distribute_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL physical-layout surface: DISTRIBUTE BY (hash-partition on
    a key without a global sort) + SORT BY (per-partition order) —
    i.e. CLUSTER BY — feeding an aggregate on the same key. The inner
    clause inserts exactly one hash exchange; the aggregate on top
    reuses that partitioning, so the shuffle count equals a plain
    groupBy's. Result content is layout-independent (the point of the
    oracle): the dialect controls WHERE rows live, never WHAT they
    are. This is the idiom Hive shops use to pre-cluster writes for
    bucketed downstream joins."""
    return spark.sql(
        """
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT)       AS n_items,
               round(sum(l_extendedprice), 2) AS total_r
        FROM (
            SELECT l_suppkey, l_extendedprice
            FROM {lineitem}
            WHERE l_quantity >= 30
            CLUSTER BY l_suppkey
        )
        GROUP BY l_suppkey
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total_r
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY n_orders DESC, o_orderpriority
    LIMIT 3
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0's `|>` operator chaining, the
    GoogleSQL-pipes surface): FROM |> WHERE |> AGGREGATE ... GROUP BY
    |> ORDER BY |> LIMIT reads as a linear dataflow and compiles to
    exactly the plan of the nested-SELECT equivalent (the oracle is
    that equivalent in classic ANSI form). Dialect sugar only — same
    pushdown, same partial+final aggregate, same
    TakeOrderedAndProject."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     round(sum(o_totalprice), 2) AS total_r
           GROUP BY o_orderpriority
        |> ORDER BY n_orders DESC, o_orderpriority
        |> LIMIT 3
        |> SELECT o_orderpriority, n_orders, total_r
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_keyset_pagination",
    oracle="""
    WITH keyed AS (
        SELECT CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                    + day(o_orderdate) AS BIGINT) AS day_key,
               o_orderkey,
               round(o_totalprice, 2) AS total_r
        FROM orders
    ),
    cursor AS (
        SELECT day_key AS cd, o_orderkey AS ck
        FROM keyed ORDER BY day_key, o_orderkey LIMIT 60
    ),
    cur AS (
        SELECT cd, ck FROM cursor ORDER BY cd DESC, ck DESC LIMIT 1
    )
    SELECT k.day_key, k.o_orderkey, k.total_r
    FROM keyed k, cur
    WHERE k.day_key > cur.cd
       OR (k.day_key = cur.cd AND k.o_orderkey > cur.ck)
    ORDER BY k.day_key, k.o_orderkey
    LIMIT 20
    """,
)
def sql_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: page 4 of a (day, orderkey)
    ordering fetched via the composite-tuple predicate
    `(day, key) > (cursor_day, cursor_key)` + LIMIT — the
    scale-correct alternative to OFFSET 60, which must sort-and-skip
    every preceding row on every page (O(pages * n) total work; at
    100 TB deep OFFSET pages are a full-shuffle re-sort each time,
    while the keyset predicate prunes at the scan and each page is
    O(page)). The cursor (last row of page 3) is itself computed as
    max-of-struct over the first 60 rows — lexicographic struct max,
    no OFFSET anywhere. Tuple comparison is spelled as the
    disjunctive normal form Spark and DuckDB both push down."""
    keyed = load(spark, sf_dir, "orders").select(
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        )
        .cast("long")
        .alias("day_key"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_r"),
    )
    cursor = (
        keyed.orderBy("day_key", "o_orderkey")
        .limit(60)
        .agg(F.max(F.struct("day_key", "o_orderkey")).alias("c"))
        .select(F.col("c.day_key").alias("cd"), F.col("c.o_orderkey").alias("ck"))
    )
    return (
        keyed.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("day_key") > F.col("cd"))
            | ((F.col("day_key") == F.col("cd")) & (F.col("o_orderkey") > F.col("ck")))
        )
        .select("day_key", "o_orderkey", "total_r")
        .orderBy("day_key", "o_orderkey")
        .limit(20)
    )


@register(
    "sql_join_hints_shuffle_hash",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_r
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def sql_join_hints_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint surface: /*+ SHUFFLE_HASH(c) */ forces a
    ShuffledHashJoin where the planner would otherwise broadcast (or
    sort-merge) — the knob you reach for at 100 TB when BOTH sides
    are too big to broadcast but one side's per-partition hash table
    fits in executor memory, saving the two sorts a SortMergeJoin
    would pay. Results are strategy-invariant (the oracle is plain
    ANSI SQL); tests/test_plans.py asserts each hint (BROADCAST /
    MERGE / SHUFFLE_HASH) actually lands its physical operator, so
    the surface is proven, not assumed."""
    return spark.sql(
        """
        SELECT /*+ SHUFFLE_HASH(c) */
               c.c_mktsegment AS mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 2) AS total_r
        FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "sql_values_inline_dimension",
    oracle="""
    SELECT t.tier,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_r
    FROM orders o
    JOIN (VALUES ('1-URGENT', 'P0'), ('2-HIGH', 'P1'),
                 ('3-MEDIUM', 'P2'), ('4-NOT SPECIFIED', 'P3'),
                 ('5-LOW', 'P3')) AS t(prio, tier)
      ON o.o_orderpriority = t.prio
    GROUP BY t.tier
    """,
)
def sql_values_inline_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline table as a seeded dimension — the enum-mapping
    pattern: a priority → tier rollup lives directly in the query
    text (no parquet, no temp view maintenance) and joins the fact
    table like any dimension; Catalyst constant-folds it into a
    LocalRelation and broadcasts it for free. The idiom for small
    business mappings that belong in code review, not in a table
    nobody versions. Identical SQL text runs on both engines."""
    return spark.sql(
        """
        SELECT t.tier,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 2) AS total_r
        FROM {orders} o
        JOIN (VALUES ('1-URGENT', 'P0'), ('2-HIGH', 'P1'),
                     ('3-MEDIUM', 'P2'), ('4-NOT SPECIFIED', 'P3'),
                     ('5-LOW', 'P3')) AS t(prio, tier)
          ON o.o_orderpriority = t.prio
        GROUP BY t.tier
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_order_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) * 100 / count(*) + 0.5) / 1e4 AS avg_price_r
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ALL — the SQL-dialect convenience (sort by every
    select-list column left to right, Spark 4 and DuckDB agree on the
    semantics) paired with GROUP BY ALL for the fully-inferred
    exploratory rollup. The sort runs over the aggregate's tiny
    output (|status|×|priority| rows), so the global order is free;
    the point is surface parity for the dialect feature."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) * 100 / count(*) + 0.5) / 1e4 AS avg_price_r
        FROM {orders}
        GROUP BY ALL
        ORDER BY ALL
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_scripting_block",
    oracle="""
    WITH cut AS (
        SELECT quantile_cont(o_totalprice, 0.9) AS cutoff FROM orders
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_top_orders,
           round(sum(o.o_totalprice), 2) AS top_revenue_r,
           round(max(cut.cutoff), 2) AS cutoff_r
    FROM orders o CROSS JOIN cut
    WHERE o.o_totalprice > cut.cutoff
    GROUP BY o.o_orderpriority
    """,
)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END): DECLARE a session variable,
    SET it from a scalar subquery (the P90 price), and use it as a
    parameter in the final statement — the stored-procedure-style
    control surface migrations from HiveQL/T-SQL expect. The script's
    last SELECT is the block's result set. Semantically identical to
    the CTE form (the oracle); the feature under test is the
    scripting surface itself, and percentile interpolation matches
    cross-engine."""
    return spark.sql(
        """
        BEGIN
          DECLARE cutoff DOUBLE DEFAULT 0.0;
          SET cutoff = (SELECT percentile(o_totalprice, 0.9)
                        FROM {orders});
          SELECT o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_top_orders,
                 round(sum(o_totalprice), 2) AS top_revenue_r,
                 round(max(cutoff), 2) AS cutoff_r
          FROM {orders}
          WHERE o_totalprice > cutoff
          GROUP BY o_orderpriority;
        END
        """,
        orders=load(spark, sf_dir, "orders"),
    )


def cbo_stats_table_name() -> str:
    """PID-keyed catalog name for sql_analyze_cbo_stats (see the
    scratch-race rationale inside the op)."""
    import os as _os

    return f"htspark_cbo_stats_{_os.getpid()}"


@register(
    "sql_analyze_cbo_stats",
    oracle="""
    WITH t AS (
        SELECT nullif(o_custkey % 97, 0) AS bucket97,
               o_orderpriority, o_orderstatus
        FROM orders
    )
    SELECT 'bucket97' AS col_name,
           CAST(count(DISTINCT bucket97) AS BIGINT) AS ndv,
           CAST(sum(CASE WHEN bucket97 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           CAST(min(bucket97) AS VARCHAR) AS min_val,
           CAST(max(bucket97) AS VARCHAR) AS max_val
    FROM t
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM t
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM t
    """,
)
def sql_analyze_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics for cost-based optimization (`ANALYZE TABLE
    ... COMPUTE STATISTICS FOR COLUMNS` + `DESCRIBE EXTENDED tbl col`
    readback): the surface that feeds Spark's CBO — stats-driven
    broadcast decisions, join reordering, and exact rowCount
    propagation into logical-plan costing (pinned by
    tests/test_plans.py::test_analyzed_catalog_stats_drive_planning).

    The value edge is the per-column statistics themselves against
    exact DuckDB recomputation: distinct_count, num_nulls, and min/max
    (numeric column only — Spark stores no min/max for strings, and
    the oracle mirrors the NULL). EXACTNESS REGIME (the r11 sketch
    lesson, stated explicitly): ANALYZE's distinct_count is
    HyperLogLog++ under `spark.sql.statistics.ndv.maxError`, and the
    DEFAULT 0.05 is ALREADY approximate at this op's NDV=96 column
    (measured: 99) — the knob is therefore set EXPLICITLY to 0.01
    for the ANALYZE (restored after), whose sparse-exact regime
    (thousands of distincts) covers the 3 / 5 / 96 domain with wide
    margin at every scale factor (NDV here is SF-invariant; verified
    exact at sf0.1). A column with unbounded NDV would need an
    approx-tolerant check instead, not this op's edge.

    Driver-side work is bounded catalog metadata (three ~10-row
    DESCRIBE frames), same class as the Hive-catalog ops.

    100 TB posture: ANALYZE is ONE distributed pass per table (all
    column sketches partial-aggregated together, mergeable HLL++
    state), amortized across every subsequent plan; catalog stats are
    what let a 1000-executor optimizer pick broadcast sides and join
    orders without scanning, and stale stats — not missing operators —
    are the canonical cause of petabyte-scale plan regressions. The
    stats readback itself is metadata-only."""
    # PID-keyed table name, mirroring scratch_path: catalogs here are
    # per-session in-memory, but if a sweep and pytest ever share a
    # metastore, a fixed name would let one process ANALYZE/DESCRIBE
    # the other's data (r6 scratch-race rationale, applied to the
    # catalog namespace). Plan-audit tests resolve the name via
    # cbo_stats_table_name below.
    tbl = cbo_stats_table_name()
    o = load(spark, sf_dir, "orders").select(
        F.expr("nullif(o_custkey % 97, 0)").alias("bucket97"),
        "o_orderpriority",
        "o_orderstatus",
    )
    # r18 (VERDICT r17 item 6) — examined, kept: the column set was
    # ALREADY minimal (every analyzed column is asserted by the
    # readback), and parallelizing the ANALYZE scan by writing the
    # staged table multi-file measured SLOWER same-box (2.89 s single
    # file -> 4.67 s at 32 files, 3.16 s at 4): with the explicit
    # 0.01-rsd knob each partial carries large HLL++ buffers per
    # column, so per-file open + sketch-merge overhead exceeds the
    # single-task scan it replaces at this row count. The remaining
    # cost IS the ANALYZE catalog machinery under test.
    (
        o.write.mode("overwrite")
        .option("path", scratch_path("cbo_stats_tbl"))
        .saveAsTable(tbl)
    )
    # explicit NDV accuracy knob (the r11 policy): default 0.05 reads
    # 99 for the 96-distinct column; 0.01 is sparse-exact here
    with scoped_conf(spark, {"spark.sql.statistics.ndv.maxError": "0.01"}):
        spark.sql(
            f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
            "FOR COLUMNS bucket97, o_orderpriority, o_orderstatus"
        )
    rows = []
    for col in ["bucket97", "o_orderpriority", "o_orderstatus"]:
        info = {
            r[0]: r[1]
            for r in spark.sql(
                f"DESCRIBE EXTENDED {tbl} {col}"
            ).collect()
        }
        rows.append(
            (
                col,
                int(info["distinct_count"]),
                int(info["num_nulls"]),
                None if info["min"] in (None, "NULL") else info["min"],
                None if info["max"] in (None, "NULL") else info["max"],
            )
        )
    return spark.createDataFrame(
        rows, "col_name string, ndv long, n_nulls long, "
              "min_val string, max_val string"
    )
