"""Date/time function family — SURVEY.md §2B "Scalar functions / Date".

Cross-engine notes (all pinned by the oracle tests):
  * DuckDB year()/month()/day() return BIGINT — Spark side casts.
  * Spark dayofweek is 1=Sunday; DuckDB dayofweek is 0=Sunday (+1).
  * Date outputs are cast to TIMESTAMP on both sides (stable arrow type).
  * Epoch seconds: Spark unix_timestamp → BIGINT; DuckDB epoch() → cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.registry import register
from hive_task_spark.tables import load


@register(
    "date_parts_suite",
    oracle="""
    SELECT
        o_orderkey,
        CAST(year(o_orderdate) AS BIGINT)                      AS y,
        CAST(month(o_orderdate) AS BIGINT)                     AS m,
        CAST(day(o_orderdate) AS BIGINT)                       AS d,
        CAST(quarter(o_orderdate) AS BIGINT)                   AS q,
        CAST(dayofweek(o_orderdate) + 1 AS BIGINT)             AS dow,
        CAST(dayofyear(o_orderdate) AS BIGINT)                 AS doy,
        CAST(week(o_orderdate) AS BIGINT)                      AS woy
    FROM orders
    """,
)
def date_parts_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/quarter/dayofweek/dayofyear/weekofyear."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.weekofyear("o_orderdate").cast("long").alias("woy"),
    )


@register(
    "date_arithmetic_suite",
    oracle="""
    SELECT
        o_orderkey,
        date_trunc('month', o_orderdate)                                 AS month_start,
        CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP)   AS due_date,
        CAST(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS TIMESTAMP)    AS week_before,
        CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)           AS month_end,
        CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                                                                         AS days_since_epoch_start,
        CAST(epoch(o_orderdate) AS BIGINT)                               AS epoch_s
    FROM orders
    """,
)
def date_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc/date_add/date_sub/last_day/datediff/unix_timestamp."""
    o = load(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_add(od, 30).cast("timestamp").alias("due_date"),
        F.date_sub(od, 7).cast("timestamp").alias("week_before"),
        F.last_day(od).cast("timestamp").alias("month_end"),
        F.datediff(od, F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.unix_timestamp("o_orderdate").cast("long").alias("epoch_s"),
    )


@register(
    "date_construction_suite",
    oracle="""
    SELECT
        CAST(make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1)
             AS TIMESTAMP)                                           AS first_of_month,
        CAST(strptime('2024-03-15', '%Y-%m-%d') AS TIMESTAMP)        AS parsed_date,
        strftime(o_orderdate, '%Y-%m')                               AS ym_label,
        CAST(count(*) AS BIGINT)                                     AS n
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def date_construction_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_date / to_date parsing / date_format rendering."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1))
            .cast("timestamp")
            .alias("first_of_month"),
            F.to_date(F.lit("2024-03-15"), "yyyy-MM-dd")
            .cast("timestamp")
            .alias("parsed_date"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "date_calendar_arithmetic",
    oracle="""
    SELECT
        o_orderkey,
        CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP)      AS plus_3m,
        CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
        round(CAST(date_diff('day',
                   TIMESTAMP '1995-01-01', o_orderdate) AS DOUBLE) / 30.4375, 6)
                                                               AS months_since_r,
        CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP)  AS q_start,
        CAST(date_trunc('week', o_orderdate) AS TIMESTAMP)     AS w_start
    FROM orders
    WHERE o_orderkey < 5000
    """,
)
def date_calendar_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic: add_months, last_day, fractional month
    distance, quarter/week truncation. months_between has engine-
    specific day-fraction semantics (Spark uses 31-day months), so the
    cross-engine edge uses day-count / mean-month-length rounded to
    6dp — identical arithmetic on both sides; add_months and last_day
    ARE exact cross-engine (calendar-aware on both)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).cast("timestamp").alias("plus_3m"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.round(
            F.datediff("o_orderdate", F.lit("1995-01-01").cast("date"))
            / F.lit(30.4375),
            6,
        ).alias("months_since_r"),
        F.date_trunc("quarter", "o_orderdate").alias("q_start"),
        F.date_trunc("week", "o_orderdate").alias("w_start"),
    )


@register(
    "date_order_gaps",
    oracle="""
    WITH a AS (
        SELECT DISTINCT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym
        FROM orders
    ),
    d AS (
        SELECT o_custkey, ym,
               ym - lag(ym) OVER (PARTITION BY o_custkey ORDER BY ym) - 1 AS gap
        FROM a
    )
    SELECT o_custkey AS c_custkey,
           CAST(max(ym) - min(ym) + 1 AS BIGINT)            AS n_months,
           CAST(count(*) AS BIGINT)                         AS n_active,
           CAST(max(ym) - min(ym) + 1 - count(*) AS BIGINT) AS n_gap,
           CAST(coalesce(max(gap), 0) AS BIGINT)            AS max_gap
    FROM d
    GROUP BY o_custkey
    """,
)
def date_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-gap profiling per customer: collapse order dates to a
    month index (year*12+month — pure integer arithmetic, no DATE
    values cross the comparison edge), then from the distinct active
    months derive span, activity count, total missing months, and the
    longest consecutive gap (lag-window difference). The dense-spine
    alternative (sequence + explode, see analytics_resample_locf)
    materializes every month; this form ships only observed months
    through the single user-keyed shuffle — the right trade when
    activity is sparse, which is exactly when gap analysis matters."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    a = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("ym")
    d = a.withColumn("gap", F.col("ym") - F.lag("ym").over(w) - 1)
    return d.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        (F.max("ym") - F.min("ym") + 1).cast("long").alias("n_months"),
        F.count(F.lit(1)).cast("long").alias("n_active"),
        (F.max("ym") - F.min("ym") + 1 - F.count(F.lit(1)))
        .cast("long")
        .alias("n_gap"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap"),
    )


@register(
    "date_timezone_suite",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch((ts AT TIME ZONE 'UTC')
                      AT TIME ZONE 'America/New_York')) AS BIGINT)
               AS ny_epoch_s,
           CAST(hour((ts AT TIME ZONE 'UTC')
                     AT TIME ZONE 'Asia/Tokyo') AS BIGINT)
               AS tokyo_hour,
           CAST(minute((ts AT TIME ZONE 'UTC')
                       AT TIME ZONE 'Asia/Kolkata') AS BIGINT)
               AS kolkata_minute,
           (timezone('UTC', timezone('America/New_York',
                (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'))
                AT TIME ZONE 'UTC') = ts
               AS roundtrip_ok
    FROM events
    """,
)
def date_timezone_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion family: from_utc_timestamp into a DST zone
    (America/New_York), an eastern zone (Asia/Tokyo), and a
    half-hour-offset zone (Asia/Kolkata — the +05:30 minute shift is
    the classic tz-bug detector), plus a to_utc round-trip proof.
    Session timezone stays pinned UTC (project rule); every conversion
    is EXPLICIT two-hop (instant -> named zone), so results are
    session-independent on both engines. All JVM-side expressions at
    scan speed — timezone math never needs a shuffle."""
    e = load(spark, sf_dir, "events")
    ny = F.from_utc_timestamp("ts", "America/New_York")
    return e.select(
        "event_id",
        F.unix_timestamp(ny).alias("ny_epoch_s"),
        F.hour(F.from_utc_timestamp("ts", "Asia/Tokyo"))
        .cast("long")
        .alias("tokyo_hour"),
        F.minute(F.from_utc_timestamp("ts", "Asia/Kolkata"))
        .cast("long")
        .alias("kolkata_minute"),
        (F.to_utc_timestamp(ny, "America/New_York") == F.col("ts")).alias(
            "roundtrip_ok"
        ),
    )


@register(
    "date_business_days",
    oracle="""
    WITH d AS (
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-05' AS BIGINT)
                   AS d1,
               CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-05' AS BIGINT)
                   AS d2
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_orderkey <= 2000
    )
    SELECT l_orderkey, l_linenumber,
           d2 - d1 AS calendar_days,
           ((d2 + 1) // 7) * 5 + least((d2 + 1) % 7, 5)
             - (((d1 + 1) // 7) * 5 + least((d1 + 1) % 7, 5))
               AS business_days
    FROM d
    """,
)
def date_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day (Mon-Fri) lead time between order and ship dates —
    the SLA arithmetic every ops dashboard needs and no engine ships
    as a builtin: a closed-form weekday count anchored at a known
    Monday (1970-01-05), g(d) = 5*(d div 7) + least(d mod 7, 5)
    weekdays in [anchor, d), so the span is g(d2+1) - g(d1+1) — pure
    positive-integer div/mod, bit-identical cross-engine, scan-speed
    (no calendar explode, no UDF; a holiday table would join in as a
    broadcast count subtraction)."""
    d = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .join(
            load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-05").cast("date"))
            .cast("long")
            .alias("d1"),
            F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-05").cast("date"))
            .cast("long")
            .alias("d2"),
        )
    )
    def g(col):
        return ((col + 1) / 7).cast("long") * 5 + F.least(
            (col + 1) % 7, F.lit(5)
        )

    return d.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("d2") - F.col("d1")).alias("calendar_days"),
        (g(F.col("d2")) - g(F.col("d1"))).alias("business_days"),
    )


@register(
    "date_multiformat_parse_dispatch",
    oracle="""
    WITH raw AS (
        SELECT o_orderkey AS k,
               CASE
                 WHEN o_orderkey % 97 = 0 THEN 'not-a-date'
                 WHEN o_orderkey % 3 = 0
                   THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                 WHEN o_orderkey % 3 = 1
                   THEN strftime(o_orderdate, '%m/%d/%Y')
                 ELSE CAST(CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT)
                           AS VARCHAR)
               END AS s
        FROM orders
    ),
    parsed AS (
        SELECT k, s,
               try_strptime(s, '%Y-%m-%d %H:%M:%S') AS p_iso,
               CASE WHEN s LIKE '%/%' THEN try_strptime(s, '%m/%d/%Y') END
                   AS p_us,
               CASE WHEN try_cast(s AS BIGINT) IS NOT NULL
                    THEN make_timestamp(try_cast(s AS BIGINT) * 1000000)
               END AS p_epoch
        FROM raw
    )
    SELECT CASE WHEN p_iso IS NOT NULL THEN 'iso'
                WHEN p_us IS NOT NULL THEN 'us'
                WHEN p_epoch IS NOT NULL THEN 'epoch'
                ELSE 'unparsed' END AS fmt,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(epoch_us(coalesce(p_iso, p_us, p_epoch))) AS BIGINT)
               AS min_us,
           CAST(max(epoch_us(coalesce(p_iso, p_us, p_epoch))) AS BIGINT)
               AS max_us
    FROM parsed
    GROUP BY 1
    """,
)
def date_multiformat_parse_dispatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-format timestamp ingestion — the dirty-feed reality:
    one string column carries ISO datetimes, US-style dates, raw
    epoch seconds, and garbage (synthesized deterministically by key
    class), and the parser dispatches through a try_to_timestamp
    chain, keeping the first format that parses and quarantining the
    rest as 'unparsed' instead of failing the job (ANSI mode would
    throw on the first bad row). The census (count + parsed range
    per format) is exactly the ingestion report you publish before
    trusting a third-party feed. All parsing is row-local codegen;
    the try_ chain costs one pass regardless of how many formats are
    registered."""
    o = load(spark, sf_dir, "orders")
    s = (
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("not-a-date"))
        .when(
            F.col("o_orderkey") % 3 == 0,
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.date_format("o_orderdate", "MM/dd/yyyy"),
        )
        .otherwise(
            F.expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000000 AS STRING)")
        )
    )
    raw = o.select(F.col("o_orderkey").alias("k"), s.alias("s"))
    parsed = raw.select(
        "k",
        "s",
        F.expr("try_to_timestamp(s, 'yyyy-MM-dd HH:mm:ss')").alias("p_iso"),
        F.expr(
            "CASE WHEN s LIKE '%/%' THEN try_to_timestamp(s, 'MM/dd/yyyy') END"
        ).alias("p_us"),
        F.expr(
            "CASE WHEN try_cast(s AS BIGINT) IS NOT NULL"
            " THEN timestamp_seconds(try_cast(s AS BIGINT)) END"
        ).alias("p_epoch"),
    )
    fmt = (
        F.when(F.col("p_iso").isNotNull(), "iso")
        .when(F.col("p_us").isNotNull(), "us")
        .when(F.col("p_epoch").isNotNull(), "epoch")
        .otherwise("unparsed")
    )
    best = F.coalesce("p_iso", "p_us", "p_epoch")
    return parsed.groupBy(fmt.alias("fmt")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.unix_micros(F.min(best)).alias("min_us"),
        F.unix_micros(F.max(best)).alias("max_us"),
    )


@register(
    "date_calendar_spine",
    oracle="""
    WITH bounds AS (
        SELECT CAST(floor(min(epoch(ts)) / 86400) AS BIGINT) AS d0,
               CAST(floor(max(epoch(ts)) / 86400) AS BIGINT) AS d1
        FROM events
    )
    SELECT CAST(t.day_idx AS BIGINT) AS day_idx,
           CAST((t.day_idx + 4) % 7 AS BIGINT) AS dow,
           ((t.day_idx + 4) % 7) IN (0, 6) AS is_weekend,
           CAST((t.day_idx - b.d0) // 7 AS BIGINT) AS week_in_span
    FROM bounds b, unnest(range(b.d0, b.d1 + 1)) AS t(day_idx)
    """,
)
def date_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation: a dense day spine spanning the
    observed data (min..max event day) with derived attributes — dow
    via the engine-neutral (epoch_day+4) mod 7, weekend flag, week
    number within the span. The generated dimension every gap-fill,
    seasonality, and business-day query joins against; rows are
    exploded from a sequence AT the executor (the spine is never
    stored or shuffled upstream), and the bounds are one broadcast
    aggregate."""
    e = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    bounds = e.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
    spine = bounds.select(
        "d0", F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day_idx")
    )
    dow = (F.col("day_idx") + 4) % 7
    return spine.select(
        F.col("day_idx").cast("long").alias("day_idx"),
        dow.cast("long").alias("dow"),
        dow.isin(0, 6).alias("is_weekend"),
        F.floor((F.col("day_idx") - F.col("d0")) / 7)
        .cast("long")
        .alias("week_in_span"),
    )


@register(
    "date_fiscal_calendar",
    oracle="""
    WITH f AS (
        SELECT o_totalprice,
               CAST(year(o_orderdate)
                    + CASE WHEN month(o_orderdate) >= 2 THEN 1 ELSE 0 END
                    AS BIGINT)                                   AS fiscal_year,
               CAST(((month(o_orderdate) + 10) % 12) AS BIGINT) // 3 + 1
                                                                 AS fq,
               CAST(((month(o_orderdate) + 10) % 12) + 1 AS BIGINT)
                                                                 AS fiscal_month
        FROM orders
    )
    SELECT fiscal_year,
           CAST(fq AS BIGINT)                    AS fiscal_quarter,
           CAST(min(fiscal_month) AS BIGINT)     AS first_fm,
           CAST(max(fiscal_month) AS BIGINT)     AS last_fm,
           CAST(count(*) AS BIGINT)              AS n_orders,
           round(sum(o_totalprice), 2)           AS revenue_r
    FROM f GROUP BY fiscal_year, fq
    """,
)
def date_fiscal_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiscal-calendar rollup for a February-start fiscal year (the
    4-5-4-retail / government pattern): fiscal month = ((m+10) mod
    12)+1 (Feb=1 ... Jan=12), fiscal year labeled by its ENDING
    year, fiscal quarter = (fm-1) div 3 + 1 — all pure integer month
    arithmetic, deliberately avoiding add_months/interval shifting
    whose end-of-month clamping differs subtly across engines.
    Revenue and order counts per (fiscal year, fiscal quarter), with
    the first/last fiscal month as a self-check that each quarter
    spans exactly its three months.

    Scale shape: one map expression + one map-side-combinable
    aggregate — the fiscal key is an arithmetic function of the date
    column, so partition pruning on a date-partitioned layout still
    applies to fiscal-window queries (a fiscal quarter is a
    contiguous date range)."""
    o = load(spark, sf_dir, "orders")
    m = F.month("o_orderdate")
    fm = (m + 10) % 12 + 1
    fy = F.year("o_orderdate") + F.when(m >= 2, 1).otherwise(0)
    fq = F.floor((fm - 1) / 3) + 1
    return (
        o.select(
            fy.cast("long").alias("fiscal_year"),
            fq.cast("long").alias("fiscal_quarter"),
            fm.cast("long").alias("fiscal_month"),
            "o_totalprice",
        )
        .groupBy("fiscal_year", "fiscal_quarter")
        .agg(
            F.min("fiscal_month").cast("long").alias("first_fm"),
            F.max("fiscal_month").cast("long").alias("last_fm"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue_r"),
        )
    )


@register(
    "date_business_days_between",
    oracle="""
    WITH base AS (
        SELECT CAST(month(o.o_orderdate) AS BIGINT) AS order_month,
               CAST(datediff('day', DATE '1969-12-29',
                             CAST(o.o_orderdate AS DATE)) AS BIGINT) AS mo,
               CAST(datediff('day', DATE '1969-12-29',
                             CAST(l.l_shipdate AS DATE)) AS BIGINT) AS ms
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    bd AS (
        SELECT order_month,
               (5 * (ms // 7) + least(ms % 7 + 1, 5))
               - (5 * (mo // 7) + least(mo % 7 + 1, 5)) AS business_days,
               ms - mo AS calendar_days
        FROM base
    )
    SELECT order_month,
           CAST(count(*) AS BIGINT) AS n_lines,
           floor(avg(business_days) * 1e6 + 0.5) / 1e6 AS avg_business_r,
           floor(avg(calendar_days) * 1e6 + 0.5) / 1e6 AS avg_calendar_r
    FROM bd
    GROUP BY order_month
    ORDER BY order_month
    """,
)
def date_business_days_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day lead time (order date -> line ship date), skipping
    weekends via pure integer calendar algebra: with Monday-anchored
    day numbers m = days since Monday 1969-12-29 (date-native
    datediff on the NTZ timestamps — no epoch/timezone surface at
    all, the r4-ADVICE lead-time discipline), the cumulative-weekday
    function
    W(m) = 5*(m div 7) + min(m mod 7 + 1, 5) turns 'weekdays in
    (a, b]' into W(m_b) - W(m_a) — no calendar table, no iteration,
    no timezone surface (epoch arithmetic only), exact on both
    engines.  Reported next to the calendar-day lead so the
    weekend-inflation is visible per order month.

    Scale shape: a co-keyed fact-fact join (orderkey on both sides,
    bucketable) and one month-grain aggregate; the weekday algebra is
    whole-stage-codegen integer ops."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1969-12-29").cast("date")
        )
        .cast("long")
        .alias("mo"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1969-12-29").cast("date")
        )
        .cast("long")
        .alias("ms"),
    )

    def w(col):
        return 5 * F.expr(f"{col} DIV 7") + F.least(
            F.col(col) % 7 + 1, F.lit(5)
        )

    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "order_month",
        (w("ms") - w("mo")).alias("business_days"),
        (F.col("ms") - F.col("mo")).alias("calendar_days"),
    )
    return (
        j.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            (
                F.floor(F.avg("business_days") * F.lit(1e6) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("avg_business_r"),
            (
                F.floor(F.avg("calendar_days") * F.lit(1e6) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("avg_calendar_r"),
        )
        .orderBy("order_month")
    )


@register(
    "date_iso_week_rollup",
    oracle="""
    SELECT CAST(isoyear(CAST(o_orderdate AS DATE)) AS BIGINT)   AS iso_year,
           CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
           CAST(count(*) AS BIGINT)                              AS n_orders,
           round(sum(o_totalprice), 2)                           AS revenue_r,
           CAST(sum(CASE WHEN isoyear(CAST(o_orderdate AS DATE))
                              <> year(CAST(o_orderdate AS DATE))
                         THEN 1 ELSE 0 END) AS BIGINT)           AS n_boundary,
           CAST(min(isodow(CAST(o_orderdate AS DATE))) AS BIGINT)
                                                                 AS first_dow,
           CAST(max(isodow(CAST(o_orderdate AS DATE))) AS BIGINT)
                                                                 AS last_dow
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def date_iso_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 week rollup with year-boundary accounting: revenue per
    (ISO year, ISO week) plus the count of orders whose ISO year
    differs from their calendar year — the late-December /
    early-January rows that silently land in the 'wrong' year when a
    report groups by year(date) but charts by weekofyear(date), the
    classic week-53/week-1 reporting bug this op exists to surface.
    ISO day-of-week (1 = Monday) min/max per week pin the weekday
    alignment.

    Determinism: pure integer calendar functions — Spark
    extract(YEAROFWEEK) / weekofyear / weekday+1 against DuckDB
    isoyear / weekofyear / isodow, verified aligned on the 2024->2025
    boundary; money at the 2dp grain.

    Scale shape: one map-side-combinable aggregate at (year, week)
    grain — calendar-bounded output."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.select(
            F.expr("extract(YEAROFWEEK FROM CAST(o_orderdate AS DATE))")
            .cast("long")
            .alias("iso_year"),
            F.weekofyear(d).cast("long").alias("iso_week"),
            F.year(d).alias("cal_year"),
            (F.weekday(d) + 1).cast("long").alias("iso_dow"),
            "o_totalprice",
        )
        .groupBy("iso_year", "iso_week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue_r"),
            F.sum(
                F.when(F.col("iso_year") != F.col("cal_year"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_boundary"),
            F.min("iso_dow").cast("long").alias("first_dow"),
            F.max("iso_dow").cast("long").alias("last_dow"),
        )
        .orderBy("iso_year", "iso_week")
    )


@register(
    "date_time_type_suite",
    oracle="""
    WITH t AS (SELECT event_type, CAST(ts AS TIME) AS tod FROM events)
    SELECT event_type,
           CAST(min(tod) AS VARCHAR)  AS first_tod,
           CAST(max(tod) AS VARCHAR)  AS last_tod,
           CAST(count(CASE WHEN tod BETWEEN TIME '06:00:00'
                            AND TIME '11:59:59.999999'
                      THEN 1 END) AS BIGINT) AS morning_events,
           CAST(EXTRACT(HOUR FROM min(tod)) AS BIGINT) AS first_hour,
           CAST(count(*) AS BIGINT)   AS n
    FROM t
    GROUP BY event_type
    """,
)
def date_time_type_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME data type (Spark 4.1, SQL standard TIME(6)): time-of-day
    extraction, TIME literals in a BETWEEN band, min/max over TIME and
    EXTRACT(HOUR FROM time) — the wall-clock-of-day analytics (peak
    traffic windows, SLA bands) that previously forced a lossy
    seconds-of-day BIGINT. The TIME column is built micro-exactly on
    both engines (Spark: string-cast of date_format 'HH:mm:ss.SSSSSS'
    — there is no direct TIMESTAMP→TIME cast in 4.1; DuckDB: native
    CAST(ts AS TIME)); both engines trim trailing fraction zeros the
    same way in the string edge, verified down to single-digit
    fractions. The type is gated by the runtime-settable
    `spark.sql.timeType.enabled`, pinned in apply_runtime_conf so the
    query works on a vanilla externally-built session.

    100 TB posture: a pure map + single partial/final hash aggregate
    per event_type — no extra shuffle vs the BIGINT encoding; TIME(6)
    packs to an 8-byte long in Tungsten rows.
    """
    e = load(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        F.expr("CAST(date_format(ts, 'HH:mm:ss.SSSSSS') AS TIME)").alias(
            "tod"
        ),
    )
    return t.groupBy("event_type").agg(
        F.expr("CAST(min(tod) AS STRING)").alias("first_tod"),
        F.expr("CAST(max(tod) AS STRING)").alias("last_tod"),
        F.expr(
            "CAST(count(CASE WHEN tod BETWEEN TIME '06:00:00' "
            "AND TIME '11:59:59.999999' THEN 1 END) AS BIGINT)"
        ).alias("morning_events"),
        F.expr("CAST(EXTRACT(HOUR FROM min(tod)) AS BIGINT)").alias(
            "first_hour"
        ),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
