"""Aggregation inventory: hash agg, distinct, approx sketches, grouping
sets/cube/rollup, filtered agg, collect-to-array, HAVING.
SURVEY.md §2B "Aggregation".

All grouped aggregates here compile to partial (map-side) + final hash
aggregation — the shuffle carries one row per (partition, group), which
is what makes them safe at 100 TB. Approx sketches (HLL++, t-digest-ish
percentile) are the designed scale path for distinct counts/quantiles;
their values are engine-specific, so their oracles check exact
properties of them (error bounds, sandwich ranks), with exact twins
oracle-checked alongside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_task_spark.registry import register
from hive_task_spark.functions.exact import cents as _cents
from hive_task_spark.tables import load


@register(
    "agg_stats_suite",
    oracle="""
    SELECT
        l_returnflag,
        CAST(count(*) AS BIGINT)          AS n_rows,
        sum(l_quantity)                   AS sum_qty,
        min(l_extendedprice)              AS min_price,
        max(l_extendedprice)              AS max_price,
        avg(l_discount)                   AS avg_disc,
        stddev_samp(l_quantity)           AS sd_qty,
        var_samp(l_quantity)              AS var_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/count/avg/min/max/stddev/variance in one grouped pass."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.avg("l_discount").alias("avg_disc"),
        F.stddev_samp("l_quantity").alias("sd_qty"),
        F.var_samp("l_quantity").alias("var_qty"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT
        o_orderpriority,
        CAST(count(DISTINCT o_custkey) AS BIGINT)    AS n_customers,
        CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count(distinct) in one aggregate (planner expands them)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE                                      AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — THE distinct-count at 100 TB:
    constant memory per group vs. the exact expansion's shuffle blowup.
    The HLL value itself is engine-specific, so the edge emits the
    exact count plus a deterministic error-bound check (approx within
    5% of exact at rsd=0.01 — generous), which the oracle asserts TRUE."""
    li = load(spark, sf_dir, "lineitem")
    # r18 (guide §1.2): computing the exact and approx counts in ONE
    # aggregate triggers the mixed-distinct Expand rewrite, whose first
    # aggregation runs at (flag, partkey) grain — buffering a 16 KiB
    # rsd=0.01 HLL sketch per distinct PAIR (~2e5 sketches) instead of
    # per flag. Two single-aggregate passes + a 3-row join plan each
    # aggregate at its natural grain: 3.19 s -> ~1.3 s isolated.
    # Values identical — countDistinct is exact either way, and HLL++
    # register maxes are merge-order-independent, so the same rsd over
    # the same rows yields the same estimate (the explicit 0.01 knob —
    # the r11 accuracy policy — is untouched).
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_parts")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("approx_ok"),
    )


@register(
    "agg_approx_quantiles",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           TRUE                     AS p50_ok,
           TRUE                     AS p95_ok
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — sketch-based quantiles (no global sort).
    The sketch value is engine-specific; the edge emits deterministic
    sandwich bounds instead: the approx p50/p95 must land inside the
    exact interpolated [p40,p60] / [p90,p99] windows, which the
    oracle asserts TRUE (plus the group count, an exact anchor)."""
    li = load(spark, sf_dir, "lineitem")
    # r17 (guide §1.2 per-task work): ONE array-probe call per
    # aggregate family instead of four exact + two approx scalar
    # calls — the exact percentile buffers every group value per
    # CALL, so the 4-call form built (and merge-shuffled) four full
    # copies of each group's 300k values (4.8 s -> ~2.5 s). Identical
    # interpolation per probe, so values are unchanged.
    approx_probes = F.array(F.lit(0.5), F.lit(0.95))
    exact_probes = F.array(F.lit(0.4), F.lit(0.6), F.lit(0.90), F.lit(0.99))
    g = li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("l_extendedprice", approx_probes, 10000).alias("aq"),
        F.percentile("l_extendedprice", exact_probes).alias("eq"),
    )
    return g.select(
        "l_linestatus",
        "n",
        (F.col("aq")[0].between(F.col("eq")[0], F.col("eq")[1])).alias("p50_ok"),
        (F.col("aq")[1].between(F.col("eq")[2], F.col("eq")[3])).alias("p95_ok"),
    )


@register(
    "agg_median_exact",
    oracle="""
    SELECT
        l_linestatus,
        median(l_extendedprice)   AS median_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (percentile 0.5, interpolated) — oracle-checked twin
    of the approx version."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("median_price")
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        sum(l_quantity)                       AS sum_qty,
        CAST(count(*) AS BIGINT)              AS n,
        CAST(grouping(l_returnflag) AS BIGINT)  AS g_flag,
        CAST(grouping(l_linestatus) AS BIGINT)  AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping flags (subtotals + grand total)."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT
        o_orderstatus,
        o_orderpriority,
        sum(o_totalprice)                        AS total_price,
        CAST(grouping(o_orderstatus) AS BIGINT)   AS g_status,
        CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations in one pass."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum("o_totalprice").alias("total_price"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
    )


@register(
    "agg_filtered_conditional",
    oracle="""
    SELECT
        l_returnflag,
        sum(l_extendedprice) FILTER (WHERE l_discount > 0.05)  AS hi_disc_revenue,
        CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_bulk,
        sum(CASE WHEN l_tax > 0.04 THEN l_tax ELSE 0.0 END)    AS taxed_sum
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER (WHERE ...) / conditional aggregation via F.when."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))).alias(
            "hi_disc_revenue"
        ),
        F.count(F.when(F.col("l_quantity") >= 25, F.lit(1))).alias("n_bulk"),
        F.sum(
            F.when(F.col("l_tax") > 0.04, F.col("l_tax")).otherwise(F.lit(0.0))
        ).alias("taxed_sum"),
    )


@register(
    "agg_collect_array",
    oracle="""
    SELECT
        n_regionkey,
        array_to_string(list_sort(list(n_name)), '|')  AS nations,
        CAST(count(*) AS BIGINT)                       AS n
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_collect_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list + sort_array for deterministic array aggregation,
    serialized to a '|'-joined string at the edge (no ARRAY edges)."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_having",
    oracle="""
    SELECT
        o_custkey,
        CAST(count(*) AS BIGINT)   AS n_orders,
        sum(o_totalprice)          AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 3 AND sum(o_totalprice) > 150000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = filter over the aggregate output."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("spend"),
        )
        .filter((F.col("n_orders") >= 3) & (F.col("spend") > 150000))
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT
        c_mktsegment,
        o_orderpriority,
        CAST(grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS INT)
                                     AS gid,
        CAST(count(*) AS BIGINT)     AS n_orders,
        sum(o_totalprice)            AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority),
                            (c_mktsegment, o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form cube/rollup specialize)
    with grouping() flags distinguishing real NULLs from subtotal rows.
    Spark expands the sets into a single shuffle (Expand node) — one
    pass over the fact regardless of set count."""
    return spark.sql(
        """
        SELECT
            c_mktsegment,
            o_orderpriority,
            CAST(grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS INT)
                                         AS gid,
            count(*)                     AS n_orders,
            sum(o_totalprice)            AS total_price
        FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority),
                                (c_mktsegment, o_orderpriority), ())
        """,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT
        c.c_mktsegment,
        sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN o.o_totalprice END)
            AS "1-URGENT",
        sum(CASE WHEN o.o_orderpriority = '2-HIGH' THEN o.o_totalprice END)
            AS "2-HIGH",
        sum(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN o.o_totalprice END)
            AS "3-MEDIUM",
        sum(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN o.o_totalprice END)
            AS "4-NOT SPECIFIED",
        sum(CASE WHEN o.o_orderpriority = '5-LOW' THEN o.o_totalprice END)
            AS "5-LOW"
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order value per segment × priority. The
    explicit value list matters at scale — without it Spark runs an
    extra distinct pass to discover the columns. Compiles to one
    conditional-aggregation pass (the oracle's CASE form)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", pri)
        .agg(F.sum("o_totalprice"))
    )


@register(
    "agg_unpivot_stack",
    oracle="""
    WITH wide AS (
        SELECT c.c_nationkey,
               CAST(sum(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_open,
               CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_finished,
               CAST(sum(CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pending
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey
    )
    SELECT c_nationkey, status, n FROM (
        SELECT c_nationkey, 'O' AS status, n_open     AS n FROM wide
        UNION ALL
        SELECT c_nationkey, 'F' AS status, n_finished AS n FROM wide
        UNION ALL
        SELECT c_nationkey, 'P' AS status, n_pending  AS n FROM wide
    )
    WHERE n > 0
    """,
)
def agg_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long, the inverse of agg_pivot) via `stack` —
    per-nation order-status counts melted back to (nation, status, n)
    rows. `stack` is a single generator projection: no shuffle, no
    union of N scans (the UNION ALL oracle re-reads the wide relation
    3×; the Spark plan reads it once — the point of the operator)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    wide = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
            .cast("long")
            .alias("n_open"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("n_finished"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
            .cast("long")
            .alias("n_pending"),
        )
    )
    return (
        wide.select(
            "c_nationkey",
            F.expr(
                "stack(3, 'O', n_open, 'F', n_finished, 'P', n_pending)"
                " AS (status, n)"
            ),
        )
        .filter(F.col("n") > 0)
    )


@register(
    "agg_percentile_grouped",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75,
           quantile_cont(o_totalprice, 0.95) AS p95
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentile_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75/p95) per group —
    the distribution-profile aggregate. Exact percentile sorts group
    values; at 100 TB per-group sort memory is the constraint and the
    designed path is percentile_approx (mergeable KLL-style sketch,
    agg_approx_quantiles) — this exact twin is the oracle anchor."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
        F.percentile("o_totalprice", F.lit(0.50)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("p75"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )


@register(
    "agg_corr_regression",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)      AS qty_price_corr,
           round(covar_pop(l_quantity, l_extendedprice), 6) AS qty_price_covar,
           round(regr_slope(l_extendedprice, l_quantity), 6)     AS price_per_qty,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS price_at_zero,
           round(regr_r2(l_extendedprice, l_quantity), 9)        AS fit_r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics aggregates: Pearson correlation,
    population covariance, and the regr_* least-squares family
    (slope/intercept/R²/count) — the in-engine linear-fit toolkit.
    All are algebraic aggregates (sums of x, y, xy, x², y²), so they
    partial-aggregate map-side like any sum; no second pass."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_covar"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias(
            "price_per_qty"
        ),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias(
            "price_at_zero"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 9).alias("fit_r2"),
        F.regr_count("l_extendedprice", "l_quantity")
        .cast("long")
        .alias("n_pairs"),
    )


@register(
    "agg_higher_moments",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT)      AS n,
               avg(l_quantity)               AS m1,
               avg(l_quantity * l_quantity)  AS m2r,
               avg(l_quantity * l_quantity * l_quantity) AS m3r,
               avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                 / pow(m2r - m1 * m1, 1.5), 6)                   AS skew_r,
           round((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1)
                 / pow(m2r - m1 * m1, 2.0) - 3.0, 6)             AS kurt_r
    FROM m
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment aggregates: population skewness (m3/m2^1.5) and
    excess kurtosis (m4/m2² − 3) — Spark's skewness/kurtosis
    definitions. The oracle derives them from raw power-moment
    averages (engines disagree on SAMPLE-moment corrections, not on
    the moments themselves); rounded to 6dp at the edge because the
    one-pass central-moment update and the raw-moment formula differ
    in the last ulps. Algebraic aggregates → map-side partial, one
    row per group through the shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.skewness("l_quantity"), 6).alias("skew_r"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_r"),
    )


@register(
    "agg_listagg_ordered",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name)          AS names_csv,
           string_agg(DISTINCT n_name[1:1], '' ORDER BY n_name[1:1]) AS initials
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg WITHIN GROUP (ORDER BY ...) — ordered string
    aggregation (Spark 4 / ANSI listagg == DuckDB string_agg with
    ORDER BY). The WITHIN GROUP ordering makes the concatenation
    deterministic under any partitioning — the property that makes
    string aggregation usable at all in a distributed engine."""
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names_csv,
               listagg(DISTINCT substr(n_name, 1, 1), '')
                   WITHIN GROUP (ORDER BY substr(n_name, 1, 1))    AS initials
        FROM {nation}
        GROUP BY n_regionkey
        """,
        nation=load(spark, sf_dir, "nation"),
    )


@register(
    "agg_histogram_bins",
    oracle="""
    SELECT CAST(floor(o_totalprice / 5000.0) AS BIGINT)          AS bin_id,
           round(floor(o_totalprice / 5000.0) * 5000.0, 2)       AS bin_lo,
           round((floor(o_totalprice / 5000.0) + 1) * 5000.0, 2) AS bin_hi,
           CAST(count(*) AS BIGINT)                              AS n_orders,
           floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / count(*) + 0.5) / 100.0       AS avg_price_r
    FROM orders
    GROUP BY floor(o_totalprice / 5000.0)
    """,
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width 5000 over o_totalprice): bin id by
    floor division — the single-pass distributed histogram (contrast
    with approx_quantiles' sketch path). floor() on BOTH engines
    before any cast (DuckDB CAST(double AS INT) rounds; Spark
    truncates), bin edges recomputed from the id so no float state
    crosses the edge unrounded. Map-side combine makes the shuffle
    O(bins), independent of fact size."""
    o = load(spark, sf_dir, "orders")
    bin_id = F.floor(F.col("o_totalprice") / 5000.0)
    # avg of 2dp money: exact BIGINT cents sum + one identical FP
    # division (a double avg + round lands on exact .005 boundaries
    # where engine round algorithms and summation order disagree —
    # the r16 grid-avg rule, CLAUDE.md)
    cents = _cents(F.col("o_totalprice"))
    return (
        o.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.floor(
                    F.sum(cents).cast("double") / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("avg_price_r"),
        )
        .select(
            F.col("bin_id").cast("long").alias("bin_id"),
            F.round(F.col("bin_id") * 5000.0, 2).alias("bin_lo"),
            F.round((F.col("bin_id") + 1) * 5000.0, 2).alias("bin_hi"),
            "n_orders",
            "avg_price_r",
        )
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
        SELECT p_type, p_brand, count(*) AS n
        FROM part GROUP BY p_type, p_brand
    )
    SELECT p_type, p_brand AS mode_brand, CAST(n AS BIGINT) AS n_mode
    FROM (SELECT *, row_number() OVER (
              PARTITION BY p_type ORDER BY n DESC, p_brand) AS rn
          FROM c)
    WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode per group (most frequent p_brand within each p_type)
    with a total-order tie-break (count desc, then brand) — engines
    disagree on native mode()'s tie choice, so the portable form is
    count-then-argmax: one groupBy on the composite key, then a rank
    window over the small (type × brand) count table. The fact table
    shuffles once; the window never sees it."""
    from pyspark.sql import Window

    p = load(spark, sf_dir, "part")
    c = p.groupBy("p_type", "p_brand").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("p_type").orderBy(F.col("n").desc(), "p_brand")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_type",
            F.col("p_brand").alias("mode_brand"),
            F.col("n").cast("long").alias("n_mode"),
        )
    )


@register(
    "agg_bool_countif",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_big_discount,
           bool_and(l_quantity > 0)  AS all_qty_positive,
           bool_or(l_tax > 0.07)     AS any_high_tax,
           bool_and(l_discount <= l_tax + 0.1) AS discount_bounded
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bool_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: count_if, bool_and/bool_or (ANSI
    EVERY/ANY) — the predicate-summary aggregates invariant checks
    and data-quality dashboards are built from. All are single-pass
    hash aggregates with trivially small partial state (one bit / one
    long per group), so map-side combine reduces the shuffle to
    O(groups) regardless of fact size."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05)
        .cast("long")
        .alias("n_big_discount"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_qty_positive"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.bool_and(F.col("l_discount") <= F.col("l_tax") + 0.1).alias(
            "discount_bounded"
        ),
    )


_CMS_W = 256
_CMS_P = 4294967291  # largest prime < 2^32
_CMS_HASHES = [  # (a, b) affine constants, same trick as the minhash bank
    (2654435761, 97),
    (2246822519, 1013),
    (3266489917, 8191),
    (668265263, 131071),
]


def _cms_bucket_sql(i: int, key: str) -> str:
    a, b = _CMS_HASHES[i]
    return f"(({key} * {a} + {b}) % {_CMS_P}) % {_CMS_W}"


@register(
    "agg_countmin_heavy_hitters",
    oracle=f"""
    WITH kc AS (
        SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY l_partkey
    ),
    counters AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS h, {_cms_bucket_sql(i, 'k')} AS bkt, sum(c) AS cnt"
            f" FROM kc GROUP BY {_cms_bucket_sql(i, 'k')}"
            for i in range(4)
        )}
    ),
    est AS (
        SELECT kc.k, kc.c AS exact_n,
               min(ct.cnt) AS cms_est
        FROM kc
        JOIN counters ct
          ON (ct.h = 0 AND ct.bkt = {_cms_bucket_sql(0, 'kc.k')})
          OR (ct.h = 1 AND ct.bkt = {_cms_bucket_sql(1, 'kc.k')})
          OR (ct.h = 2 AND ct.bkt = {_cms_bucket_sql(2, 'kc.k')})
          OR (ct.h = 3 AND ct.bkt = {_cms_bucket_sql(3, 'kc.k')})
        GROUP BY kc.k, kc.c
    )
    SELECT CAST(k AS BIGINT) AS l_partkey,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(exact_n AS BIGINT) AS exact_n,
           (cms_est >= exact_n)    AS never_undercounts
    FROM (SELECT *, row_number() OVER (
              ORDER BY cms_est DESC, k) AS rn FROM est)
    WHERE rn <= 10
    """,
)
def agg_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: a 4x256 counter matrix under
    deterministic affine hashes (same constants both engines — the
    sketch is bit-identical, so unlike HLL it oracle-checks exactly),
    point-estimate = min over rows, top-10 keys by estimate with the
    exact count and the one-sided-error witness (CMS never
    undercounts) alongside. Scale shape: the counter build routes
    through per-key partial counts (one fact shuffle, then O(keys)
    rows into a 1 KB counter table — identical counters to per-row
    updates because addition commutes); estimation is a broadcast
    join of the counter matrix. At 100 TB the sketch IS the thing you
    ship to the driver/dashboard instead of the 20M-row key table."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    kc = (
        li.groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # feeds 4 counter builds + the estimate join
    )

    def bucket(i: int, col):
        a, b = _CMS_HASHES[i]
        return ((col * a + b) % _CMS_P) % _CMS_W

    counters = None
    for i in range(4):
        ci = kc.groupBy(bucket(i, F.col("k")).alias("bkt")).agg(
            F.sum("c").alias("cnt")
        ).select(F.lit(i).alias("h"), "bkt", "cnt")
        counters = ci if counters is None else counters.unionByName(ci)
    est = kc
    for i in range(4):
        cti = counters.filter(F.col("h") == i).select(
            F.col("bkt").alias(f"bkt{i}"), F.col("cnt").alias(f"cnt{i}")
        )
        est = est.join(
            F.broadcast(cti), bucket(i, F.col("k")) == F.col(f"bkt{i}")
        )
    cms_est = F.least(*[F.col(f"cnt{i}") for i in range(4)])
    ranked = est.select(
        F.col("k").cast("long").alias("l_partkey"),
        cms_est.cast("long").alias("cms_est"),
        F.col("c").cast("long").alias("exact_n"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("cms_est").desc(), "l_partkey")
        ),
    )
    return (
        ranked.filter(F.col("rn") <= 10)
        .select(
            "l_partkey",
            "cms_est",
            "exact_n",
            (F.col("cms_est") >= F.col("exact_n")).alias("never_undercounts"),
        )
    )


@register(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           CAST(arg_max(o_totalprice, o_orderkey) AS DOUBLE)
               AS latest_key_price,
           CAST(arg_min(o_totalprice, o_orderkey) AS DOUBLE)
               AS earliest_key_price,
           CAST(arg_max(o_orderkey, o_totalprice ) AS BIGINT)
               AS priciest_orderkey_hint
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (DuckDB: arg_max / arg_min) — the argmax
    aggregate that replaces a rank-window + filter when only the
    extremum's companion value is wanted: single partial+final hash
    aggregate, no window, no second shuffle. Determinism discipline:
    the first two columns key the extremum on o_orderkey (UNIQUE, so
    ties cannot occur); the third keys on o_totalprice and is kept
    deliberately as the documented anti-pattern-with-caveat — on this
    dataset the per-status price maxima are unique (verified by the
    exact hash staying green), but production code must break ties
    via a composite or unique ordering key."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_totalprice", "o_orderkey")
        .cast("double")
        .alias("latest_key_price"),
        F.min_by("o_totalprice", "o_orderkey")
        .cast("double")
        .alias("earliest_key_price"),
        F.max_by("o_orderkey", "o_totalprice")
        .cast("long")
        .alias("priciest_orderkey_hint"),
    )


@register(
    "agg_session_window_batch",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT)                       AS session_start_us,
           CAST(epoch_us(max(ts) + INTERVAL 30 MINUTE) AS BIGINT)  AS session_end_us,
           CAST(count(*) AS BIGINT)                                AS n_events,
           round(sum(value), 2)                                    AS total_value_r
    FROM g
    GROUP BY user_id, sid
    """,
)
def agg_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native BATCH `session_window` aggregation (Spark 3.2+): the
    same gap-merge semantics `pipeline_sessionize_events` hand-rolls
    with island numbering, but expressed as a first-class grouping
    expression — Spark plans a dedicated MergingSessionsExec-style
    aggregate over (user_id)-partitioned, ts-sorted data: ONE shuffle
    on the user key, sessions merged in a single pass, no window
    functions at all. At 100 TB this is strictly cheaper than the
    island formulation (one aggregate vs two windows + groupBy).
    Session end is last-event-ts + gap (exclusive), matching the
    streaming session window; the oracle is the island-numbering twin.
    """
    e = load(spark, sf_dir, "events")
    agg = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value_r"),
    )
    return agg.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        "n_events",
        "total_value_r",
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH t AS (
        SELECT l_returnflag, l_extendedprice,
               CAST(l_quantity AS BIGINT) AS qty,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    c AS (
        SELECT l_returnflag, l_extendedprice, qty, l_orderkey, l_linenumber,
               sum(qty) OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice, l_orderkey, l_linenumber
                              ROWS UNBOUNDED PRECEDING)  AS cum,
               sum(qty) OVER (PARTITION BY l_returnflag) AS tot
        FROM t
    ),
    hit AS (
        SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice, l_orderkey,
                                              l_linenumber) AS rn
        FROM c WHERE 2 * cum >= tot
    )
    SELECT l_returnflag,
           l_extendedprice       AS weighted_median_price,
           CAST(tot AS BIGINT)   AS total_weight
    FROM hit WHERE rn = 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (50th weighted percentile) of extended price,
    weighted by quantity, per return flag: cumulative-weight window
    with a deterministic total order, first row whose cumulative
    weight reaches half the group total. Weights cast to BIGINT (the
    fixture's quantities are integral) so the cumulative comparison
    is EXACT integer arithmetic on both engines — no float summation-
    order hazard at the 2*cum >= tot boundary. One shuffle on the
    group key; both window specs and the filter share it."""
    from pyspark.sql import Window

    order = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    t = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    c = t.select(
        "*",
        F.sum("qty").over(w_cum).alias("cum"),
        F.sum("qty").over(w_tot).alias("tot"),
    ).filter(F.lit(2) * F.col("cum") >= F.col("tot"))
    w_rn = Window.partitionBy("l_returnflag").orderBy(*order)
    return (
        c.withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median_price"),
            F.col("tot").cast("long").alias("total_weight"),
        )
    )


@register(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_docs,
           TRUE                                   AS approx_ok
    FROM documents
    GROUP BY source
    UNION ALL
    SELECT '__all__',
           CAST(count(DISTINCT doc_id) AS BIGINT),
           TRUE
    FROM documents
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches HLL (Spark 3.5 `hll_sketch_agg` /
    `hll_union_agg`): per-source sketches built in ONE pass are
    UNIONED into a corpus-wide estimate without touching the data
    again — the sketch algebra that lets 100 TB distinct counts be
    maintained incrementally (per-partition/per-day sketches, folded
    on demand) instead of recomputed. Sketch bytes are engine-
    specific, so the edge emits exact counts plus a 5%-bound check
    on both the per-source and the merged estimates (the oracle
    asserts TRUE).

    Exactness-regime audit (r12, the theta lesson generalized):
    lgConfigK is passed EXPLICITLY as 16 — the default 12 gives RSE
    ~1.04/sqrt(4096) = 1.6%, making the 5% bound only ~3 sigma (a
    per-dataset lottery once cardinality leaves HLL's exact regime);
    at lgK=16 the RSE is 0.4% and the bound is ~12 sigma at ANY
    cardinality (HLL error is cardinality-independent). The union
    keeps lgK=16 because every input sketch is built at 16
    (hll_union_agg unions at the common lgK; it would ERROR on
    mismatch rather than silently downsample — unlike the scalar
    theta_union trap fixed in r11)."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.expr("hll_sketch_agg(doc_id, 16)").alias("sk"),
        F.countDistinct("doc_id").cast("long").alias("exact_docs"),
    )
    per_rows = per.select(
        "source",
        "exact_docs",
        (
            F.abs(
                F.expr("hll_sketch_estimate(sk)") - F.col("exact_docs")
            )
            <= 0.05 * F.col("exact_docs")
        ).alias("approx_ok"),
    )
    merged = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_all"),
        F.sum("exact_docs").cast("long").alias("exact_docs"),  # doc_id unique per source
    ).select(
        F.lit("__all__").alias("source"),
        "exact_docs",
        (
            F.abs(F.col("approx_all") - F.col("exact_docs"))
            <= 0.05 * F.col("exact_docs")
        ).alias("approx_ok"),
    )
    return per_rows.unionAll(merged)


@register(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type             AS item,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, item
    LIMIT 3
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches frequent-items heavy hitters (`approx_top_k`,
    Spark 4): the streaming-friendly top-k that never shuffles the
    full key space — each partition keeps a bounded sketch, merged at
    the driver. With domain cardinality far below maxItemsTracked the
    sketch is EXACT, so the exploded (item, count) edge is oracle-
    stable (fixture type counts are distinct at every SF — no rank-3
    tie). Complements `agg_countmin_heavy_hitters` (bit-identical CM
    twin) with the built-in sketch aggregate.

    Exactness-regime audit (r12): maxItemsTracked is passed
    EXPLICITLY (10000) and the exact regime is bounded by DOMAIN
    cardinality (distinct event_type values, SF-invariant and far
    below 10000) - not row volume - so the sketch stays exact at
    every SF; sf0.1 spot-checked."""
    e = load(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 3, 10000)").alias("tk"))
    return topk.select(F.explode("tk").alias("x")).select(
        F.col("x.item").alias("item"),
        F.col("x.count").cast("long").alias("cnt"),
    )


@register(
    "agg_equidepth_histogram",
    oracle="""
    WITH t AS (
        SELECT l_extendedprice AS x,
               ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey,
                              l_linenumber) AS bucket
        FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(x) AS lo, max(x) AS hi
    FROM t GROUP BY bucket
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of l_extendedprice via
    ntile(8) — the complement of the fixed-width `agg_histogram_bins`:
    bucket boundaries adapt to the distribution, which is what query
    optimizers and drift monitors actually store. The order spec
    carries a full deterministic tie-break (price, orderkey,
    linenumber) so tile assignment is identical across engines.
    ntile needs a total order — at 100 TB you swap it for sampled
    cut-points or a range-partitioned sort; `agg_equidepth_cutpoints`
    is that swap, demonstrated and oracle-checked (deterministic
    sample → 7 exact percentiles → broadcast bucket pass, zero
    total-order exchanges); lo/hi are exact stored values (no float
    edge)."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    t = li.select(
        F.col("l_extendedprice").alias("x"), F.ntile(8).over(w).alias("bucket")
    )
    return t.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )


@register(
    "agg_equidepth_cutpoints",
    oracle="""
    WITH smp AS (
        SELECT l_extendedprice AS x
        FROM lineitem
        WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                         CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
    ),
    cp AS (
        SELECT coalesce(
                   list_transform(
                       quantile_cont(x, [0.125, 0.25, 0.375, 0.5,
                                         0.625, 0.75, 0.875]),
                       c -> floor(c * 1000000 + 0.5) / 1000000
                   ),
                   CAST([] AS DOUBLE[])
               ) AS cps
        FROM smp
    ),
    b AS (
        SELECT l.l_extendedprice AS x,
               1 + len(list_filter(cp.cps,
                                   c -> l.l_extendedprice > c)) AS bucket
        FROM lineitem l CROSS JOIN cp
    )
    SELECT CAST(bucket AS BIGINT)   AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(x) AS lo, max(x) AS hi
    FROM b GROUP BY bucket
    """,
)
def agg_equidepth_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path `agg_equidepth_histogram`'s docstring promises:
    equi-frequency buckets from SAMPLED cut-points instead of a global
    ntile sort. Three map-friendly stages: (1) a deterministic 1-in-16
    sample keyed on md5(orderkey-linenumber) — the pipeline.py
    sampling idiom, rerun-stable, never rand(); (2) exact 7-point
    percentile over the sample (bounded state: the buffered set is
    the sample, whose rate is the knob — at 100 TB you sample to a
    fixed ~1M rows); (3) one broadcast crossJoin of the 1-row
    cut-point array + an 8-way conditional count — a plain partial+
    final hash aggregate on the full fact, NO total-order exchange
    anywhere. Buckets are approximately equi-depth (sampling error
    only); lo/hi stay exact stored values.

    Determinism: frac = k(n-1)/8 is dyadic so the interpolation
    lo + (hi-lo)*frac is one rounding on each engine; cut-points are
    floor-canonicalized at 1e-6 on BOTH sides before bucketing (the
    CLAUDE.md transcendental rule), so every 2dp price compares
    against identical boundaries.

    Degenerate input: if the 1-in-16 sample is EMPTY (never at any
    shipped SF — requires <~16 lineitem rows), percentile is NULL;
    both sides coalesce the cut-point array to an empty array so
    every row lands in bucket 1 on both engines (Spark's
    x > NULL -> otherwise(0) and DuckDB's len(list_filter([],...))=0
    then agree instead of diverging NULL-vs-1)."""
    li = load(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    smp = li.filter(F.substring(F.md5(key), 1, 1) == "0").select(
        F.col("l_extendedprice").alias("x")
    )
    cps = smp.agg(
        F.expr(
            "coalesce(transform(percentile(x, array(0.125D, 0.25D,"
            " 0.375D, 0.5D, 0.625D, 0.75D, 0.875D)),"
            " c -> floor(c * 1000000 + 0.5) / 1000000),"
            " cast(array() as array<double>))"
        ).alias("cps")
    )
    # Unrolled conditional sum, NOT size(filter(cps, ...)): HOF
    # lambdas run interpreted per row (no whole-stage codegen) and
    # measured 5x slower on the 6M-row sf0.1 pass; seven WHENs over
    # the broadcast array stay inside codegen.
    bucket = F.lit(1)
    for i in range(7):
        bucket = bucket + F.when(
            F.col("l_extendedprice") > F.col("cps").getItem(i), 1
        ).otherwise(0)
    b = li.crossJoin(F.broadcast(cps)).select(
        F.col("l_extendedprice").alias("x"),
        bucket.cast("long").alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via the Spark 3.5+ bitmap builtins:
    values bucket by `bitmap_bucket_number`, each (group, bucket)
    folds into a 4 KB bitmap with `bitmap_construct_agg(
    bitmap_bit_position(x))`, and the distinct count is the sum of
    `bitmap_count` over buckets. This is the scale answer to exact
    COUNT(DISTINCT dense_int_key): bitmaps combine map-side (unlike
    the expand+double-shuffle exact distinct) and shuffle fixed-size
    state like a sketch — but exactly. The oracle is plain
    count(DISTINCT)."""
    c = load(spark, sf_dir, "customer")
    per_bucket = c.groupBy(
        "c_mktsegment",
        F.expr("bitmap_bucket_number(c_custkey)").alias("bk"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))").alias("bm")
    )
    return per_bucket.groupBy("c_mktsegment").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct")
    )


@register(
    "agg_grouping_id_flags",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>')  AS rf,
           coalesce(l_linestatus, '<all>')  AS ls,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_id_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicator flags over GROUPING SETS — the mechanism
    BI layers use to tell a real NULL from a subtotal row (coalesce
    to '<all>' only where the grouping flag says "aggregated"). All
    four sets expand in ONE Expand+shuffle pass, the same physical
    shape as cube/rollup; the flags are plan metadata, costing
    nothing."""
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '<all>')  AS rf,
               coalesce(l_linestatus, '<all>')  AS ls,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
               CAST(count(*) AS BIGINT) AS n
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "agg_percentile_cont_disc",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)  AS p50_cont_r,
           quantile_disc(l_quantity, 0.5)            AS p50_disc,
           round(quantile_cont(l_quantity, 0.9), 6)  AS p90_cont_r,
           quantile_disc(l_quantity, 0.9)            AS p90_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_cont_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT vs PERCENTILE_DISC side by side — interpolated
    vs actual-datum quantiles (the disc edge is an exact stored value,
    no rounding; cont interpolates so it rounds at 6dp). Both compile
    to a single sort-based aggregate per group; at 100 TB swap in
    approx_percentile and keep disc semantics via the sketch's
    nearest-rank read-out."""
    return spark.sql(
        """
        SELECT l_returnflag,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6)
                   AS p50_cont_r,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
                   AS p50_disc,
               round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 6)
                   AS p90_cont_r,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)
                   AS p90_disc
        FROM {lineitem} GROUP BY l_returnflag
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "agg_crosstab_contingency",
    oracle="""
    SELECT l_returnflag AS l_returnflag_l_linestatus,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS F,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_crosstab_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.stat.crosstab` — the contingency-table API: pairwise
    frequency counts of two categorical columns, one row per left
    value, one column per right value. Compiles to exactly the
    pivot plan (single groupBy + pivoted conditional counts — one
    exchange, partial+final), demonstrated here against the
    spelled-out conditional-aggregate oracle. The chi-square /
    Cramer's V rows consume precisely this table shape. Value
    domains must be small (column-per-value); at 100 TB you bound
    the right-hand domain or fall back to the long (a,b,n) shape."""
    li = load(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    return ct.select(
        "l_returnflag_l_linestatus",
        F.col("F").cast("long").alias("F"),
        F.col("O").cast("long").alias("O"),
    )


@register(
    "agg_topn_plus_others",
    oracle="""
    WITH rev AS (
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS r
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    ranked AS (
        SELECT n_name, r,
               row_number() OVER (ORDER BY r DESC, n_name) AS rk
        FROM rev
    )
    SELECT CASE WHEN rk <= 5 THEN n_name ELSE 'OTHERS' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_nations,
           round(sum(r), 2) AS revenue_r
    FROM ranked
    GROUP BY 1
    """,
)
def agg_topn_plus_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N + OTHERS — the BI presentation rollup every dashboard
    needs: the five highest-revenue supplier nations keep their own
    row, the long tail collapses into one OTHERS bucket (so charts
    stay readable and no revenue silently disappears — the OTHERS
    row makes the rollup exhaustive). Rank ties break on name for a
    deterministic cut. The fact-table pass is the usual broadcast
    star + one partial+final aggregate to 25 nation rows; ranking
    and re-bucketing operate on that tiny summary, so the N knob is
    free at any scale. Revenue rounds at the money grain before the
    OTHERS re-sum (2dp-exact addition)."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("r")
        )
    )
    ranked = rev.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("r").desc(), "n_name"))
    )
    return (
        ranked.select(
            F.when(F.col("rk") <= 5, F.col("n_name"))
            .otherwise("OTHERS")
            .alias("bucket"),
            "r",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.round(F.sum("r"), 2).alias("revenue_r"),
        )
    )


@register(
    "agg_dense_report_scaffold",
    oracle="""
    WITH span AS (
        SELECT min(year(o_orderdate) * 12 + month(o_orderdate)) AS m0,
               max(year(o_orderdate) * 12 + month(o_orderdate)) AS m1
        FROM orders
    ),
    months AS (SELECT unnest(range(m0, m1 + 1)) AS m FROM span),
    segs AS (SELECT DISTINCT c_mktsegment AS seg FROM customer),
    fact AS (
        SELECT year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
               c.c_mktsegment AS seg,
               count(*) AS n,
               round(sum(o.o_totalprice), 2) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    SELECT CAST(months.m AS BIGINT) AS ym_idx, segs.seg AS mktsegment,
           CAST(coalesce(fact.n, 0) AS BIGINT) AS n_orders,
           round(coalesce(fact.rev, 0.0), 2) AS revenue_r
    FROM months CROSS JOIN segs
    LEFT JOIN fact ON fact.m = months.m AND fact.seg = segs.seg
    """,
)
def agg_dense_report_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense report scaffold — the BI zero-fill: a (month x segment)
    spine built from the calendar span and the dimension domain
    LEFT-joins the sparse fact aggregate, so months with no sales
    appear as explicit zeros instead of silently missing rows (the
    bug that makes month-over-month charts skip bad months — the
    exact failure mode a chart can't show). The spine is
    |months| x |segments| — dimension-sized, built with sequence +
    explode and a broadcast cross of two tiny sides; the fact table
    is touched once by the ordinary aggregate. Complements the
    LOCF gap-fill row (carry-forward) with the sum-semantics
    zero-fill."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m_expr = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    span = o.agg(
        F.min(m_expr).alias("m0"), F.max(m_expr).alias("m1")
    )
    months = span.select(
        F.explode(F.sequence("m0", "m1")).alias("ym_idx")
    )
    segs = c.select(F.col("c_mktsegment").alias("mktsegment")).distinct()
    fact = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            m_expr.alias("ym_idx"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
    spine = months.crossJoin(F.broadcast(segs))
    return spine.join(fact, ["ym_idx", "mktsegment"], "left").select(
        "ym_idx",
        "mktsegment",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
        F.round(F.coalesce("rev", F.lit(0.0)), 2).alias("revenue_r"),
    )


@register(
    "agg_melt_unpivot_api",
    oracle="""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           'l_quantity' AS var, CAST(l_quantity AS DOUBLE) AS val
    FROM lineitem WHERE l_orderkey < 300
    UNION ALL
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
           'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
    FROM lineitem WHERE l_orderkey < 300
    UNION ALL
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
           'l_discount', CAST(l_discount AS DOUBLE)
    FROM lineitem WHERE l_orderkey < 300
    UNION ALL
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
           'l_tax', CAST(l_tax AS DOUBLE)
    FROM lineitem WHERE l_orderkey < 300
    """,
)
def agg_melt_unpivot_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.melt` (Spark 3.4's unpivot API) — the third unpivot
    surface next to stack() and SQL UNPIVOT, and the one pandas
    users reach for: ids stay, the measure columns fold into
    (variable, value) long form, value types coerce to the common
    DOUBLE. Long form is what ML feature stores and plotting layers
    ingest; at 100 TB melt is a zero-shuffle row-local explode of
    width into height (output rows = rows x measures — budget for
    the 4x here). The oracle spells the same reshape as UNION ALL
    branches."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 300)
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
            F.col("l_discount").cast("double"),
            F.col("l_tax").cast("double"),
        )
    )
    return li.melt(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="var",
        valueColumnName="val",
    )


@register(
    "agg_deterministic_sample",
    oracle="""
    SELECT c_mktsegment, c_custkey, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT c_mktsegment, c_custkey,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rk
        FROM customer
    )
    WHERE rk <= 5
    """,
)
def agg_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: the 5 customers per market
    segment with the smallest md5(custkey) — a uniform random-LOOKING
    draw that is identical on every rerun, engine, and partitioning
    (the reproducibility contract TABLESAMPLE/rand() cannot give).
    The rank-limit window compiles to per-partition top-k heaps on
    the group key (no global sort); this is the 'show me 5 examples
    from every segment' debugging query made audit-safe."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), "c_custkey"
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


@register(
    "agg_distinct_rewrite_twolevel",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_distinct_rewrite_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct via the explicit two-level rewrite:
    groupBy(key, value) first (map-side combinable — the shuffle
    carries one row per distinct pair, not per input row), then count
    rows and sum counts per key. This is what Catalyst's
    distinct-aggregate Expand rewrite does internally, written out —
    and the form you reach for when a single query needs MANY
    distincts or when distinct values per key are huge (the pair
    grain shards; a distinct-set in one aggregation buffer doesn't).
    Oracle is the plain count(DISTINCT) — identical answers, proving
    the rewrite."""
    c = load(spark, sf_dir, "customer")
    pairs = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return pairs.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.sum("n_rows").cast("long").alias("n_customers"),
    )


@register(
    "agg_corr_matrix",
    oracle="""
    WITH pairs AS (
        SELECT 'quantity' AS var_a, 'extendedprice' AS var_b,
               corr(l_quantity, l_extendedprice) AS c FROM lineitem
        UNION ALL
        SELECT 'quantity', 'discount', corr(l_quantity, l_discount)
        FROM lineitem
        UNION ALL
        SELECT 'quantity', 'tax', corr(l_quantity, l_tax) FROM lineitem
        UNION ALL
        SELECT 'extendedprice', 'discount',
               corr(l_extendedprice, l_discount) FROM lineitem
        UNION ALL
        SELECT 'extendedprice', 'tax', corr(l_extendedprice, l_tax)
        FROM lineitem
        UNION ALL
        SELECT 'discount', 'tax', corr(l_discount, l_tax) FROM lineitem
    )
    SELECT var_a, var_b, round(c, 4) AS corr_r FROM pairs
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix (upper triangle) over the four
    lineitem measures — the multicollinearity screen run before any
    regression or feature selection. ALL six correlations compute in
    ONE aggregate pass (six corr() expressions over one scan — not
    six queries; the unpivot to (var_a, var_b, corr) rows happens on
    the 1-row result), which is the sufficient-statistics discipline:
    at 100 TB the matrix costs exactly one corpus read regardless of
    how many pairs you add. 4dp stats grain."""
    li = load(spark, sf_dir, "lineitem")
    wide = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("qe"),
        F.corr("l_quantity", "l_discount").alias("qd"),
        F.corr("l_quantity", "l_tax").alias("qt"),
        F.corr("l_extendedprice", "l_discount").alias("ed"),
        F.corr("l_extendedprice", "l_tax").alias("et"),
        F.corr("l_discount", "l_tax").alias("dt"),
    )
    return wide.selectExpr(
        """stack(6,
            'quantity', 'extendedprice', round(qe, 4),
            'quantity', 'discount', round(qd, 4),
            'quantity', 'tax', round(qt, 4),
            'extendedprice', 'discount', round(ed, 4),
            'extendedprice', 'tax', round(et, 4),
            'discount', 'tax', round(dt, 4)
        ) AS (var_a, var_b, corr_r)"""
    )


@register(
    "agg_weighted_mean_var",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_quantity * l_extendedprice) / sum(l_quantity), 4)
               AS w_mean_r,
           round(sum(l_quantity * l_extendedprice * l_extendedprice)
                 / sum(l_quantity)
                 - pow(sum(l_quantity * l_extendedprice) / sum(l_quantity), 2),
                 2) AS w_var_r
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_mean_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean and population variance of price per
    return flag — the weighted-moment pair (avg() treats a 1-unit and
    a 50-unit line identically; weighting by quantity answers 'what
    does a unit actually cost'). Phrased as the sufficient-statistic
    sums Σwx, Σwx², Σw inside ONE partial+final aggregate — the
    mergeable form that survives any partitioning — with the moment
    algebra applied after. The variance edge rounds at 2dp (its scale
    is price², so 2dp ≈ 6 significant decimals of the underlying
    std)."""
    li = load(spark, sf_dir, "lineitem")
    w = F.col("l_quantity")
    x = F.col("l_extendedprice")
    sw = F.sum(w)
    swx = F.sum(w * x)
    swxx = F.sum(w * x * x)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(swx / sw, 4).alias("w_mean_r"),
        F.round(swxx / sw - F.pow(swx / sw, 2), 2).alias("w_var_r"),
    )


@register(
    "agg_theta_sketch_setops",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                 AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
                 AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS nd_h1,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS nd_h2,
           CAST((SELECT count(*) FROM
                 (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b))
                AS BIGINT)                          AS nd_either,
           CAST((SELECT count(*) FROM
                 (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b))
                AS BIGINT)                          AS nd_both,
           CAST((SELECT count(*) FROM
                 (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b))
                AS BIGINT)                          AS nd_h1_only
    """,
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches THETA sketches (Spark 4.1 `theta_sketch_agg` /
    `theta_union_agg` / `theta_union` / `theta_intersection` /
    `theta_difference`): the sketch family that supports full SET
    ALGEBRA, not just union — HLL can fold daily sketches into "active
    either half" but can never answer "active in BOTH halves" or
    "churned after H1". Per-month customer sketches are built in ONE
    orders pass (partial+final mergeable agg), H1/H2 roll up by
    folding the PRE-BUILT month sketches (`theta_union_agg` over a
    CASE — the incremental-maintenance pattern: at 100 TB you keep
    per-day/per-partition sketch rows and fold on demand instead of
    rescanning), and retention/churn come from the scalar two-sketch
    operators. lgNomEntries=15 (32k) keeps every sketch in EXACT mode
    at the tested SFs (≤15k distinct custkeys at sf0.1), so the DuckDB
    oracle states the same numbers as exact DISTINCT set ops; at
    production scale the same plan degrades gracefully to ~1.6%-RSE
    estimates — accepting that error without a rescan is the point of
    the sketch. Estimates surface as BIGINT on both sides."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    months = o.groupBy(F.month("o_orderdate").alias("m")).agg(
        F.expr("theta_sketch_agg(o_custkey, 15)").alias("sk")
    )
    halves = months.agg(
        F.expr("theta_union_agg(CASE WHEN m <= 6 THEN sk END, 15)").alias("h1"),
        F.expr("theta_union_agg(CASE WHEN m > 6 THEN sk END, 15)").alias("h2"),
    )
    return halves.select(
        F.expr("theta_sketch_estimate(h1)").cast("long").alias("nd_h1"),
        F.expr("theta_sketch_estimate(h2)").cast("long").alias("nd_h2"),
        # the scalar union takes its own lgNomEntries (default 12 —
        # 4096 — would silently downsample two exact lgK=15 inputs
        # above that, measured at sf0.1: 11500 vs exact 11695);
        # intersection/difference carry no lgK and stay exact while
        # their inputs are exact
        F.expr("theta_sketch_estimate(theta_union(h1, h2, 15))")
        .cast("long")
        .alias("nd_either"),
        F.expr("theta_sketch_estimate(theta_intersection(h1, h2))")
        .cast("long")
        .alias("nd_both"),
        F.expr("theta_sketch_estimate(theta_difference(h1, h2))")
        .cast("long")
        .alias("nd_h1_only"),
    )


@register(
    "agg_approx_top_k_partial_algebra",
    oracle="""
    SELECT event_type             AS item,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, item
    LIMIT 3
    """,
)
def agg_approx_top_k_partial_algebra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Datasketches frequent-items PARTIAL algebra (Spark 4.1
    `approx_top_k_accumulate` / `approx_top_k_combine` /
    `approx_top_k_estimate`): per-month sketch states built in ONE
    fact pass are COMBINED into the global top-k without touching the
    data again — the top-k sibling of the theta/HLL incremental-
    maintenance pattern (keep a tiny sketch per partition/day, fold on
    demand, never rescan). The accumulate state is a
    struct<sketch:binary,...> so it never crosses the query edge; the
    edge is the exploded (item, count) estimate.

    Exactness regime (the r11 theta lesson): maxItemsTracked=64 is
    passed EXPLICITLY at accumulate AND combine — a combine left at
    the default could silently downsample its inputs' state. Domain
    cardinality (distinct event_type values, SF-invariant) is far
    below 64, so every per-month sketch and the combined sketch are
    EXACT and the oracle compares exact counts; fixture type counts
    are distinct at every SF (same guarantee agg_approx_top_k relies
    on), so the rank-3 boundary carries no tie lottery.

    100 TB posture: one scan, 12 tiny struct rows shuffled once, the
    estimate explodes k rows on the driver side of a 1-row combine —
    this is what replaces a full GROUP BY key-space shuffle when only
    the heavy hitters are wanted, and the stored per-month states make
    the next month's refresh incremental.
    """
    e = load(spark, sf_dir, "events")
    partials = e.groupBy(F.month("ts").alias("m")).agg(
        F.expr("approx_top_k_accumulate(event_type, 64)").alias("pk")
    )
    merged = partials.agg(
        F.expr("approx_top_k_combine(pk, 64)").alias("ck")
    )
    return (
        merged.select(
            F.explode(F.expr("approx_top_k_estimate(ck, 3)")).alias("x")
        ).select(
            F.col("x.item").alias("item"),
            F.col("x.count").cast("long").alias("cnt"),
        )
    )


@register(
    "agg_try_sum_overflow",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(CASE WHEN count(*) * CAST(40000000000000000 AS HUGEINT)
                          > CAST(9223372036854775807 AS HUGEINT)
                     THEN NULL
                     ELSE count(*) * 40000000000000000 END
                AS BIGINT)                                   AS sum_guarded,
           round(sum(c_acctbal), 2)                          AS bal_sum,
           floor(avg(CAST(c_custkey AS DOUBLE)) * 1e6 + 0.5) / 1e6
                                                             AS key_avg
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_try_sum_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI failure-safe AGGREGATES (`try_sum` / `try_avg`, Spark
    3.3+/4): overflow during accumulation yields NULL instead of
    aborting the job — the aggregate-side sibling of the scalar
    try_add/try_divide family (math_try_cast_safety). `sum_guarded`
    sums a constant 4e16 per row, so any group past ~230 rows
    overflows signed 64-bit: NULL at sf>=0.01, a real value at
    sf0.001 — the SEMANTIC (not a fixed answer) is what the oracle
    mirrors, via DuckDB's native HUGEINT sum compared against
    Long.MAX. All addends are positive, so "some intermediate add
    overflows" is equivalent to "the total exceeds Long.MAX" under
    ANY partial-aggregation grouping — the NULL is deterministic
    across partitionings. `bal_sum`/`key_avg` show the guarded forms
    degrade to exact sum/avg on in-range data (money rounded at its
    2dp grain; avg floor-rounded at 6dp per the transcendental-edge
    rule).

    100 TB posture: identical plan to plain sum/avg — one partial +
    final HashAggregate over the group key, 5 output rows; the
    overflow check is per-add arithmetic inside codegen. The point at
    scale is operational: a poisoned shard (bad upstream multiplier,
    corrupt column) surfaces as a NULL cell to alert on, not a
    3-hour-in job abort."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.expr("try_sum(40000000000000000L)").alias("sum_guarded"),
        F.round(F.expr("try_sum(c_acctbal)"), 2).alias("bal_sum"),
        (
            F.floor(
                F.expr("try_avg(CAST(c_custkey AS DOUBLE))") * 1e6 + 0.5
            )
            / 1e6
        ).alias("key_avg"),
    )
