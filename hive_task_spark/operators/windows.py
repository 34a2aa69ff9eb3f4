"""Window-function inventory: ranking, analytic (lag/lead/first/last),
frame aggregates (running/sliding), top-k per group.
SURVEY.md §2B "Window functions".

Scale posture: every window partitions by a key (one shuffle, then
per-partition sort) — no global-order windows, which would serialize
onto one task at 100 TB. Top-k-per-group is the window+filter rewrite;
Catalyst 4.x further prunes it with a rank-limit pushdown. Every
orderBy inside a window spec carries a unique tie-breaker column so
results are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_task_spark.registry import register
from hive_task_spark.functions.exact import cents as _cents
from hive_task_spark.tables import load


@register(
    "window_ranking",
    oracle="""
    SELECT
        o_custkey,
        o_orderkey,
        o_totalprice,
        CAST(row_number()   OVER w AS BIGINT) AS rn,
        CAST(rank()         OVER w AS BIGINT) AS rnk,
        CAST(dense_rank()   OVER w AS BIGINT) AS drnk,
        CAST(ntile(4)       OVER w AS BIGINT) AS quartile,
        percent_rank()      OVER w            AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank/ntile/percent_rank over one spec."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT
        o_custkey,
        o_orderkey,
        o_orderdate,
        lag(o_totalprice)  OVER w                          AS prev_price,
        lead(o_totalprice) OVER w                          AS next_price,
        first_value(o_totalprice) OVER w                   AS first_price,
        CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
                                                           AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value + date arithmetic between adjacent rows."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("long")
        .alias("days_since_prev"),
    )


@register(
    "window_running_total",
    oracle="""
    SELECT
        o_custkey,
        o_orderkey,
        CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE) / 100.0 AS running_spend,
        floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
        ) AS DOUBLE) * 100 / count(*) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
        ) + 0.5) / 1e4 AS moving_avg_3
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregates: running total + 3-row moving average. Money
    moves through exact BIGINT cents inside the frames (r16 grid-avg
    rule: a 1- or 2-row frame's average of 2dp money is a terminating
    rational that can sit exactly on the .00005 round boundary)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = _cents(F.col("o_totalprice"))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w3 = w.rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w_run).cast("double") / F.lit(100.0)).alias(
            "running_spend"
        ),
        (
            F.floor(
                F.sum(cents).over(w3).cast("double")
                * F.lit(100)
                / F.count(F.lit(1)).over(w3)
                + F.lit(0.5)
            )
            / F.lit(1e4)
        ).alias("moving_avg_3"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT
        l_suppkey,
        l_orderkey,
        l_linenumber,
        l_quantity,
        sum(l_quantity) OVER (
            PARTITION BY l_suppkey ORDER BY l_quantity
            RANGE BETWEEN 5 PRECEDING AND CURRENT ROW
        ) AS qty_in_band
    FROM lineitem
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based window, ties aggregate together)."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy("l_quantity").rangeBetween(-5, 0)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.sum("l_quantity").over(w).alias("qty_in_band"),
    )


@register(
    "window_topk_per_group",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT
            c_nationkey, c_custkey, c_acctbal,
            row_number() OVER (
                PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
            ) AS rn
        FROM customer
    )
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation — the scale-safe top-k-per-group
    (rank-limit pushdown keeps per-partition heaps, no global sort)."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_cume_dist_share",
    oracle="""
    SELECT
        l_returnflag,
        l_orderkey,
        l_linenumber,
        cume_dist() OVER (
            PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber
        )                                                       AS cd,
        l_extendedprice / sum(l_extendedprice) OVER (PARTITION BY l_returnflag)
                                                                AS price_share
    FROM lineitem
    """,
)
def window_cume_dist_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + share-of-group (unordered full-partition frame)."""
    li = load(spark, sf_dir, "lineitem")
    w_ord = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    w_all = Window.partitionBy("l_returnflag")
    return li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.cume_dist().over(w_ord).alias("cd"),
        (F.col("l_extendedprice") / F.sum("l_extendedprice").over(w_all)).alias(
            "price_share"
        ),
    )


@register(
    "window_nth_first_value",
    oracle="""
    SELECT c_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           last_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_nth_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value / whole-partition last_value — the
    positional window family beyond lag/lead. The deterministic
    (o_orderdate, o_orderkey) ordering makes nth_value stable across
    engines; the last_value frame must be explicitly unbounded-
    following (the default frame would return the current row)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_full = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
            F.last("o_totalprice").over(w_full).alias("last_price"),
        )
    )


@register(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
        SELECT event_id, user_id, ts,
               CASE WHEN row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_so_far
    FROM flagged
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — not natively supported
    by either engine's window frames — via the first-occurrence
    rewrite: flag each (user, event_type)'s first row (rank window on
    the composite key), then a running sum of flags in event order
    gives the distinct-types-seen-so-far counter. Two windows, ONE
    shuffle: both partition by user_id (the second just sub-sorts),
    so the fact table exchanges once. The same rewrite is how
    sessionized "unique items seen" counters run at 100 TB."""
    e = load(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w1) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("first_seen").over(w2).cast("long").alias("n_distinct_so_far"),
    )


@register(
    "window_time_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(count(*) OVER w AS BIGINT)      AS n_7d,
           round(sum(o_totalprice) OVER w, 2)   AS sum_7d_r
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-interval RANGE frame: each order's trailing-7-day activity
    for the same customer (count + spend) — the value-based frame
    over event TIME, not row offsets: gaps shrink the window, bursts
    widen it, and equal-timestamp peers aggregate together on both
    engines by RANGE semantics (which is what makes this hash-stable
    with no tiebreak). Distinct from window_range_frame (numeric
    band) and window_running_total (row frame). One customer-keyed
    exchange; the frame scan is linear per partition."""
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(count(*) OVER w AS BIGINT)    AS n_7d,
               round(sum(o_totalprice) OVER w, 2) AS sum_7d_r
        FROM {orders}
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "window_rolling_features",
    oracle="""
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS BIGINT)             AS event_idx,
           floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) * 1e4
                 / count(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                 + 0.5) / 1e6 AS roll5_avg_r,
           CAST(coalesce(floor(epoch(ts) - epoch(lag(ts) OVER w)), -1)
                AS BIGINT)                                  AS secs_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML feature engineering over event streams: per user at each
    event — sequence index, trailing-5-event mean value, seconds
    since the previous event (-1 for the first; DuckDB's fractional
    epoch floored on both sides) — the feature-store backfill shape.
    All three features share ONE user-keyed exchange (same partition
    key, compatible sort), which is the entire scale story: a
    feature set is cheap iff its windows agree on the key."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w5 = w.rowsBetween(-4, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    secs = F.floor(
        F.unix_micros(F.col("ts")) / 1e6 - F.unix_micros(prev_ts) / 1e6
    )
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("event_idx"),
        # exact cents inside the frame (r16 grid-avg rule): short
        # frames over 2dp values average to terminating rationals
        (
            F.floor(
                F.sum(
                    _cents(F.col("value"))
                )
                .over(w5)
                .cast("double")
                * F.lit(1e4)
                / F.count(F.lit(1)).over(w5)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("roll5_avg_r"),
        F.coalesce(secs, F.lit(-1)).cast("long").alias("secs_since_prev"),
    )


@register(
    "window_rolling_regression",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT)                                  AS x,
               CAST(round(o_totalprice * 100) AS BIGINT)        AS y
        FROM orders
    ),
    s AS (
        SELECT o_custkey, o_orderkey,
               CAST(count(*)   OVER w AS BIGINT) AS n,
               CAST(sum(x)     OVER w AS BIGINT) AS sx,
               CAST(sum(y)     OVER w AS BIGINT) AS sy,
               CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx
        FROM seq
        WINDOW w AS (PARTITION BY o_custkey ORDER BY x
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, n,
           CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
               AS slope_cents,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
              * sx) / n                                         AS intercept_cents
    FROM s
    WHERE n >= 2
    """,
)
def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend (slope + intercept over the trailing 5 orders
    per customer) — the feature-store 'recent spend trend' column,
    computed from EXACT INTEGER sufficient statistics: money becomes
    cents (round-then-cast, the Spark-truncates/DuckDB-rounds trap),
    x is the per-customer order index, and every windowed sum
    (n, Σx, Σy, Σxy, Σx²) is BIGINT arithmetic — so the closed-form
    slope (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) is ONE double division of exact
    integers, bit-identical cross-engine with no float-summation-
    order hazard (a naive double rolling regression would differ in
    the last bit under DuckDB's segment-tree window accumulation).
    All five sums share one (custkey)-partitioned frame: one
    shuffle."""
    seq = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("x")
        .rowsBetween(-4, Window.currentRow)
    )
    s = seq.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
    ).filter(F.col("n") >= 2)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den
    return s.select(
        "o_custkey",
        "o_orderkey",
        "n",
        slope.alias("slope_cents"),
        ((F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept_cents"
        ),
    )


@register(
    "window_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
               avg(value) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, day_idx,
           round(median(v) OVER (PARTITION BY user_id ORDER BY day_idx
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                 6) AS med5_r
    FROM daily
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median (5-observation frame) over each user's
    daily series — the robust-smoothing counterpart of the rolling
    mean: an aggregate function (`percentile`) used AS a window
    function over a bounded rows frame. Interpolation semantics for
    even frames match DuckDB's `median` (midpoint). Per-user
    partitioned frames keep the sort local; the frame is O(1) rows,
    so state never grows with history — at 100 TB this is one
    shuffle + one per-partition sort, same as any keyed window."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id",
        F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("day_idx"),
    ).agg(F.avg("value").alias("v"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_idx")
        .rowsBetween(-4, 0)
    )
    return daily.select(
        "user_id",
        "day_idx",
        F.round(F.expr("percentile(v, 0.5)").over(w), 6).alias("med5_r"),
    )


@register(
    "window_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
               avg(value) FILTER (event_type = 'click') AS cv,
               avg(value) FILTER (event_type = 'view')  AS vv
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1
    )
    SELECT day_idx,
           round(corr(cv, vv) OVER (ORDER BY day_idx
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS corr7_r
    FROM daily
    """,
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between the click and view
    daily value series — bivariate co-movement monitoring, the
    window-function form of `agg_corr_regression`: `corr` as a
    window aggregate over a bounded rows frame, O(1) state per row.
    The daily pivot (conditional avg) happens in the same aggregate
    that builds the series, so the whole operator is one shuffle on
    the day key + one ordered window over ~|days| rows. 4dp stats
    grain."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    daily = e.groupBy(
        F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("day_idx")
    ).agg(
        F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias("cv"),
        F.avg(F.when(F.col("event_type") == "view", F.col("value"))).alias("vv"),
    )
    w = Window.orderBy("day_idx").rowsBetween(-6, 0)
    return daily.select(
        "day_idx",
        F.round(F.corr("cv", "vv").over(w), 4).alias("corr7_r"),
    )


@register(
    "window_running_sum_reset",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (
                               PARTITION BY user_id ORDER BY ts, event_id)
                         > 86400000000 THEN 1 ELSE 0 END AS is_break
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id, value,
               sum(is_break) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM seq
    )
    SELECT CAST(user_id AS BIGINT)    AS user_id,
           CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT)   AS n_events,
           round(max(run_total), 2)   AS session_total_r
    FROM (
        SELECT user_id, session_no,
               sum(value) OVER (
                   PARTITION BY user_id, session_no ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run_total
        FROM sess
    )
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def window_running_sum_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total that RESETS on inactivity gaps (> 1 day): the
    two-level window composition — a lag-gap flag cumulated into a
    session number, then a running sum partitioned by (user, session)
    — that implements 'cumulative X since the streak started', the
    pattern behind spend-within-session, streak scoring, and
    meter-reset billing. The edge aggregates to per-session rows
    (count + final running total) so the hash pins the reset
    semantics, not 10k ordered rows.

    Determinism: gap flags and session numbers are integer-exact
    (microsecond epoch diffs); the within-session running sum's FINAL
    value per session is a fixed small set of money values, rounded
    at the 2dp money grain.

    Scale shape: both windows partition on user_id (one shuffle,
    reused by the second window and the final aggregate — same-key
    cascades collapse to a single exchange)."""
    ev = load(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(us - F.lag(us).over(w_user) > 86400000000, 1)
        .otherwise(0)
        .alias("is_break"),
    )
    sess = seq.withColumn(
        "session_no",
        F.sum("is_break").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_sess = (
        Window.partitionBy("user_id", "session_no")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = sess.withColumn("run_total", F.sum("value").over(w_sess))
    return (
        run.groupBy(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_no").cast("long").alias("session_no"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.max("run_total"), 2).alias("session_total_r"),
        )
        .orderBy("user_id", "session_no")
    )
