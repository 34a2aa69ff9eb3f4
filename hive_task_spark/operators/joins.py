"""Join inventory: equi (all outer kinds), semi/anti, cross, theta/range,
interval overlap. SURVEY.md §2B "Joins".

Scale posture: dimension tables (region/nation/customer/supplier/part)
go through ``F.broadcast`` — at 100 TB the fact-side never shuffles for
these joins. Fact-fact joins (lineitem⋈orders) are left to AQE: sort-
merge with skew-split, or shuffled-hash when one side is small enough
at runtime. Non-equi joins are broadcast-nested-loop by construction —
they only appear here with a broadcast-sized side or a bucketed rewrite
(see range_join_bucketed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.functions import exact
from hive_task_spark.plans.session import scoped_conf
from hive_task_spark.registry import register
from hive_task_spark.tables import load


@register(
    "join_inner_star",
    oracle=f"""
    SELECT
        n.n_name                                     AS nation,
        CAST(year(o.o_orderdate) AS BIGINT)          AS order_year,
        CAST(sum({exact.disc_price_u4_sql("l.l_extendedprice", "l.l_discount")})
             AS DOUBLE) / 10000                      AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def join_inner_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop star join: fact ⋈ orders ⋈ customer ⋈ nation.

    customer/nation are broadcast (no shuffle of the fact side for
    them); lineitem⋈orders shuffles on the orderkey — the only
    unavoidable shuffle, AQE-managed.

    revenue moves as exact BIGINT 1e-4 units with ONE final division
    (both engines): order-independent, so the edge no longer pins
    single-split scan order or the join's row order (r18 unlock).
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev_u4 = exact.disc_price_u4(F.col("l_extendedprice"), F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            n.n_name.alias("nation"),
            F.year(o.o_orderdate).cast("long").alias("order_year"),
        )
        .agg((F.sum(rev_u4).cast("double") / 10000).alias("revenue"))
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT
        c.c_custkey,
        c.c_name,
        o.o_orderkey,
        o.o_totalprice
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 100000
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a pushed non-key condition in the ON clause
    (semantics differ from a post-join filter — kept rows get nulls)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 100000), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "join_full_outer",
    oracle="""
    WITH cust_nations AS (
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
    ),
    supp_nations AS (
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    )
    SELECT
        c.nationkey  AS cust_nationkey,
        s.nationkey  AS supp_nationkey
    FROM cust_nations c
    FULL OUTER JOIN supp_nations s ON c.nationkey = s.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (nations having customers vs having suppliers)."""
    c = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    s = (
        load(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return c.join(s, c["nationkey"] == s["nationkey"], "full").select(
        c["nationkey"].alias("cust_nationkey"),
        s["nationkey"].alias("supp_nationkey"),
    )


@register(
    "join_semi_exists",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (no row duplication, right side pruned)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti_not_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    """,
)
def join_anti_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (customers with no orders)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross_small",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r
    CROSS JOIN nation n
    """,
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (small×small only — the brute-force
    similarity baseline uses the same physical op, see similarity.py)."""
    r = load(spark, sf_dir, "region").select(F.col("r_name").alias("region_name"))
    n = load(spark, sf_dir, "nation").select(F.col("n_name").alias("nation_name"))
    return r.crossJoin(n)


@register(
    "join_theta_range",
    oracle="""
    SELECT
        s.s_suppkey,
        s.s_name,
        c.c_custkey
    FROM supplier s
    JOIN customer c
      ON c.c_acctbal > s.s_acctbal * 2 AND s.s_nationkey = c.c_nationkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi part on nationkey + non-equi balance predicate.
    The equi conjunct keeps this a hash join (not nested-loop) — Spark
    plans the inequality as a post-join filter on the hash match."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    return s.join(
        F.broadcast(c),
        (c.c_acctbal > s.s_acctbal * 2) & (s.s_nationkey == c.c_nationkey),
    ).select("s_suppkey", "s_name", "c_custkey")


@register(
    "join_interval_overlap",
    oracle="""
    SELECT
        a.o_orderkey   AS order_a,
        b.o_orderkey   AS order_b
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.o_orderdate <= b.o_orderdate + INTERVAL 30 DAY
     AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: per-customer orders whose ±30-day
    windows overlap. Equi conjunct (custkey) keeps it hash-based."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.o_orderdate") <= F.col("b.o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            & (F.col("b.o_orderdate") <= F.col("a.o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
        )
    )


@register(
    "join_null_safe_eq",
    oracle="""
    WITH lhs AS (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et
        FROM events
    ),
    rhs AS (
        SELECT DISTINCT
               CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et
        FROM events
    )
    SELECT l.event_id, r.et AS matched_type
    FROM lhs l
    JOIN rhs r ON l.et IS NOT DISTINCT FROM r.et
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=>): NULL keys match each other."""
    e = load(spark, sf_dir, "events")
    et = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("event_type")
    )
    lhs = e.select("event_id", et.alias("et"))
    rhs = e.select(et.alias("et")).distinct()
    return lhs.join(F.broadcast(rhs), lhs["et"].eqNullSafe(rhs["et"])).select(
        lhs["event_id"], rhs["et"].alias("matched_type")
    )


@register(
    "join_range_bucketed",
    oracle="""
    SELECT
        o.o_orderkey,
        CAST(count(*) AS BIGINT) AS n_near_shipments
    FROM orders o
    JOIN lineitem l
      ON abs(date_diff('day', o.o_orderdate, l.l_shipdate)) <= 7
    WHERE o.o_orderkey <= 100
    GROUP BY o.o_orderkey
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi conjunct) via the bucketing rewrite —
    SURVEY.md §4.2: bucket both sides on floor(epoch_week), explode the
    probe side to adjacent buckets, equi-join on bucket, then apply the
    exact range predicate. Semantically identical to the nested-loop
    formulation (the oracle runs that one); physically a hash join.

    |t1-t2| <= W with bucket width W means bucket ids differ by at most
    1, so probes explode to exactly 3 buckets — candidate volume is
    O(rows * density), not O(n^2). At 100 TB this is the difference
    between a broadcast-nested-loop that never finishes and a shuffle
    join on a well-distributed integer key.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    li = load(spark, sf_dir, "lineitem")
    week = lambda c: F.floor(F.unix_timestamp(c) / (7 * 86400))  # noqa: E731
    build = li.select(
        F.col("l_shipdate").alias("t_l"), week(F.col("l_shipdate")).alias("bucket")
    )
    probe = o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("t_o"),
        F.explode(
            F.array(
                week(F.col("o_orderdate")) - 1,
                week(F.col("o_orderdate")),
                week(F.col("o_orderdate")) + 1,
            )
        ).alias("bucket"),
    )
    return (
        F.broadcast(probe)
        .join(build, "bucket")
        .filter(F.abs(F.datediff(F.col("t_o"), F.col("t_l"))) <= 7)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_near_shipments"))
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT
        o.o_orderkey,
        c.c_custkey,
        c.c_name
    FROM orders o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: customers kept even with no orders (null order
    side). Planner-wise a mirrored left-outer; the broadcast hint goes
    on the preserved (right) side only if it is the small one."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return o.join(c, o["o_custkey"] == c["c_custkey"], "right").select(
        "o_orderkey", "c_custkey", "c_name"
    )


@register(
    "join_skew_salted",
    oracle="""
    WITH dim AS (
        SELECT l_returnflag AS flag, avg(l_extendedprice) AS avg_price
        FROM lineitem GROUP BY 1
    )
    SELECT
        l.l_returnflag,
        CAST(count(*) AS BIGINT)                  AS n_items,
        sum(abs(l.l_extendedprice - d.avg_price)) AS total_abs_dev
    FROM lineitem l JOIN dim d ON l.l_returnflag = d.flag
    GROUP BY l.l_returnflag
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting rewrite for skewed shuffle joins — SURVEY.md §4.2 /
    SCALE.md. l_returnflag has 3 values, the worst-case skew key: a
    plain shuffle join lands ~1/3 of the fact in each of 3 tasks.
    Rewrite: fact side gets salt = pmod(hash(rowid), N); the small side
    explodes to all N salts; equi-join on (key, salt) spreads every hot
    key over N tasks. Results identical to the unsalted join (the
    oracle runs that form). In production prefer AQE skew splitting
    when it fires; salting is the deterministic fallback."""
    n_salts = 8
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salts)).alias(
            "salt"
        ),
    )
    dim = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.avg("l_extendedprice").alias("avg_price"))
        .select(
            "flag",
            "avg_price",
            F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
        )
    )
    return (
        li.join(dim, (li["l_returnflag"] == dim["flag"]) & (li["salt"] == dim["salt"]))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.abs(F.col("l_extendedprice") - F.col("avg_price"))).alias(
                "total_abs_dev"
            ),
        )
    )


@register(
    "join_temporal_pointintime",
    oracle="""
    WITH src AS (
        SELECT o_custkey, o_orderpriority,
               CAST(o_orderdate AS DATE) AS odate, o_orderkey,
               lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey)
                   AS prev_p
        FROM orders
    ),
    dim AS (
        SELECT o_custkey AS d_custkey, o_orderpriority AS priority,
               odate AS valid_from,
               coalesce(lead(odate) OVER (PARTITION BY o_custkey
                                          ORDER BY odate, o_orderkey),
                        DATE '2199-12-31') AS valid_to
        FROM src WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    ),
    fact AS (
        SELECT o.o_custkey, CAST(l.l_shipdate AS DATE) AS sdate,
               l.l_extendedprice
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT d.priority,
           CAST(count(*) AS BIGINT)        AS n_lines,
           round(sum(f.l_extendedprice), 2) AS revenue_r
    FROM fact f JOIN dim d
      ON f.o_custkey = d.d_custkey
     AND f.sdate >= d.valid_from AND f.sdate < d.valid_to
    GROUP BY d.priority
    """,
)
def join_temporal_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each shipment joins the SCD2
    dimension VERSION that was valid on its ship date — the
    as-of-correct dimension lookup that prevents training-data
    leakage from future attribute values (the ML feature-store
    'time-travel join'). Equi-key on custkey carries the join; the
    validity-range predicate filters WITHIN each key's few versions,
    so this plans as a plain hash/SMJ join plus a cheap residual —
    never a range explosion. The SCD2 dimension is built inline with
    the same change-detection algebra as `pipeline_scd2_dimension`."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    # r17 (guide §2.4/§7.2): odate materializes BEFORE the windows and
    # both windows order by that one attribute, so they share one Sort
    # as well as one Exchange (the before-plan carried a second full
    # Sort only because the lag ordered by the raw timestamp and the
    # lead by its date cast — identical total order on this date-grain
    # column + orderkey tie-break, so the lag values are unchanged).
    base = orders.select(
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("odate"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    src = base.withColumn("prev_p", F.lag("o_orderpriority").over(w))
    w2 = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    dim = (
        src.filter(
            F.col("prev_p").isNull()
            | (F.col("prev_p") != F.col("o_orderpriority"))
        )
        .select(
            F.col("o_custkey").alias("d_custkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("odate").alias("valid_from"),
            F.coalesce(
                F.lead("odate").over(w2), F.lit("2199-12-31").cast("date")
            ).alias("valid_to"),
        )
    )
    fact = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", F.to_date("l_shipdate").alias("sdate"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    joined = fact.join(
        dim,
        (F.col("o_custkey") == F.col("d_custkey"))
        & (F.col("sdate") >= F.col("valid_from"))
        & (F.col("sdate") < F.col("valid_to")),
    )
    return joined.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue_r"),
    )


@register(
    "join_broadcast_nested_loop",
    oracle="""
    SELECT t.bracket,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total_r
    FROM orders JOIN (VALUES ('low',  0.0,      50000.0),
                             ('mid',  50000.0,  150000.0),
                             ('high', 150000.0, 1e12)) t(bracket, lo, hi)
      ON o_totalprice >= t.lo AND o_totalprice < t.hi
    GROUP BY t.bracket
    """,
)
def join_broadcast_nested_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-inequality join (NO equi key): each order finds its price
    bracket by range containment against a tiny in-memory bracket
    table. Catalyst has no hash key to use, so it plans
    BroadcastNestedLoopJoin — the correct physical strategy exactly
    when one side is constant-size: cost is |fact| × |brackets| row
    compares with zero shuffle of the fact. This is the 'band lookup'
    pattern (tax brackets, SLA tiers, score bands); contrast
    `join_theta_range`, where an equi component carries the join and
    the inequality is a residual."""
    brackets = spark.createDataFrame(
        [("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0), ("high", 150000.0, 1e12)],
        "bracket string, lo double, hi double",
    )
    o = load(spark, sf_dir, "orders").select("o_totalprice")
    return (
        o.join(
            F.broadcast(brackets),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("bracket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_r"),
        )
    )


@register(
    "join_runtime_bloom_filter",
    oracle="""
    WITH order_rev AS (
        SELECT l_orderkey, sum(l_extendedprice) AS order_rev
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(r.order_rev), 2)  AS rev_r
    FROM order_rev r
    JOIN orders o ON r.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o.o_totalprice > 250000
    GROUP BY o.o_orderpriority
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (Catalyst InjectRuntimeFilter):
    the selectively-filtered orders side builds a Bloom filter over its
    join keys at runtime, and Catalyst injects
    ``might_contain(bloom, xxhash64(l_orderkey))`` into the lineitem
    side BELOW its per-order aggregate — so the ~1-in-20 selectivity
    of the orders predicate prunes the fact rows BEFORE the aggregate
    shuffle, not after the join. At 100 TB this is the difference
    between shuffling the whole fact table's aggregate and shuffling
    ~5% of it, applied automatically by the optimizer (semi-join
    reduction without a semi-join pass).

    Conf scoping: the feature is on by default but gated on a 10 GiB
    application-side scan (``...bloomFilter.applicationSideScanSizeThreshold``)
    — sized for real clusters, never reached at test SFs. The builder
    lowers the two thresholds ONLY while forcing this query's
    optimization (QueryExecution caches the optimized plan, so the
    locked-in plan is exactly the one a 100 TB scan gets by default),
    then restores them in ``finally`` — no session-conf leakage into
    other queries. Results are plan-invariant: the Bloom test is a
    conservative superset filter, the equi-join stays exact, so the
    oracle needs no knowledge of the rewrite.
    test_plans.py asserts ``might_contain`` is present."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_totalprice") > 250000)
    )
    li = load(spark, sf_dir, "lineitem")
    order_rev = li.groupBy("l_orderkey").agg(
        F.sum("l_extendedprice").alias("order_rev")
    )
    out = (
        order_rev.join(o, order_rev.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("order_rev"), 2).alias("rev_r"),
        )
    )
    # Three 100 TB-realism knobs, scoped to THIS query's optimization:
    # at test SFs the application scan is under the 10 GiB gate and
    # the filtered orders side is broadcast-sized (InjectRuntimeFilter
    # skips probable-broadcast joins — a BHJ build side is its own
    # runtime filter). At 100 TB all three gates pass by default.
    with scoped_conf(spark, {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }):
        out._jdf.queryExecution().optimizedPlan()  # lock in the 100 TB plan
    return out


@register(
    "join_lateral_dataframe",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) t
    """,
)
def join_lateral_dataframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated lateral join via the Spark 4 DataFrame API
    (``DataFrame.lateralJoin`` + ``col(...).outer()``):
    top-2 customers by account balance per nation, written exactly as
    the SQL ``, LATERAL (...)`` the oracle uses — no window-function
    reformulation on our side.

    Scale shape: Catalyst DECORRELATES the per-row subquery — the
    physical plan is WindowGroupLimit (partial, before the shuffle!)
    + one hash-partitioned equi-join, NOT a nested loop per nation
    row: the same plan the hand-written window top-k compiles to, so
    lateral correlation costs nothing at 100 TB. Deterministic
    tie-break on c_custkey inside the LIMIT ordering."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    return n.lateralJoin(
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(2)
    ).select(
        "n_name",
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        "c_acctbal",
    )
