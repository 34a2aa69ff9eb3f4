"""Math function family — SURVEY.md §2B "Scalar functions / Math".

round() is the classic cross-engine trap (Spark HALF_UP decimal vs C
round on the scaled binary) — exercised only on well-behaved inputs;
pmod has no DuckDB twin and is emulated as ((a % b) + b) % b.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.registry import register
from hive_task_spark.tables import load


@register(
    "math_suite",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        round(l_extendedprice)                               AS price_rounded,
        floor(l_extendedprice)                               AS price_floor,
        ceil(l_extendedprice)                                AS price_ceil,
        abs(l_discount - 0.05)                               AS disc_dev,
        floor(pow(l_quantity, 2.0) * 1000000 + 0.5) / 1000000        AS qty_sq,
        floor(sqrt(l_extendedprice) * 1000000 + 0.5) / 1000000       AS price_sqrt,
        floor(exp(l_discount) * 1000000 + 0.5) / 1000000             AS disc_exp,
        floor(ln(l_extendedprice + 1.0) * 1000000 + 0.5) / 1000000   AS price_ln,
        floor(log10(l_extendedprice + 1.0) * 1000000 + 0.5) / 1000000 AS price_log10,
        ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7           AS key_pmod7,
        CAST(sign(l_discount - 0.05) AS BIGINT)              AS disc_sign,
        greatest(l_quantity, l_discount * 100)               AS g,
        least(l_quantity, l_discount * 100)                  AS l
    FROM lineitem
    """,
)
def math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/floor/ceil/abs/pow/sqrt/exp/log/pmod/sign/greatest/least.

    Transcendental outputs (pow/sqrt/exp/ln/log10) are canonicalized at
    the edge as ``floor(x*1e6 + 0.5)/1e6`` on BOTH engines: unlike
    ``round(x, d)`` — where Spark rounds the exact decimal expansion
    HALF_UP and DuckDB rounds the scaled double, which genuinely
    disagree near .5 boundaries with probability ~ulp(x*10^d)/4 per
    value (a per-round lottery at 60k+ rows) — the floor form is the
    *identical* IEEE double computation in both engines, so the results
    are bit-equal regardless of data. sign() is cast to BIGINT on both
    sides: DuckDB's sign() returns TINYINT while Spark's signum returns
    DOUBLE, and the driver's value hash distinguishes 1 from 1.0 even
    though value equality holds (red in the r1 and r4 driver windows).
    """
    li = load(spark, sf_dir, "lineitem")
    _m = F.lit(1000000)

    def _canon6(col):
        return (F.floor(col * _m + F.lit(0.5)) / _m.cast("double"))

    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("price_rounded"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        _canon6(F.pow("l_quantity", F.lit(2.0))).alias("qty_sq"),
        _canon6(F.sqrt("l_extendedprice")).alias("price_sqrt"),
        _canon6(F.exp("l_discount")).alias("disc_exp"),
        _canon6(F.log(F.col("l_extendedprice") + 1.0)).alias("price_ln"),
        _canon6(F.log10(F.col("l_extendedprice") + 1.0)).alias("price_log10"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).cast("long").alias("key_pmod7"),
        F.signum(F.col("l_discount") - 0.05).cast("long").alias("disc_sign"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("g"),
        F.least(F.col("l_quantity"), F.col("l_discount") * 100).alias("l"),
    )


@register(
    "math_conditional_null",
    oracle="""
    SELECT
        s_suppkey,
        coalesce(nullif(s_acctbal, 0.0), -999.0)            AS bal_or_flag,
        CASE WHEN s_acctbal < 0 THEN 'debt' ELSE 'credit' END AS bal_class,
        ifnull(nullif(s_name, ''), 'unknown')               AS name_or_unknown
    FROM supplier
    """,
)
def math_conditional_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce/nullif/nvl/when — the conditional-null family."""
    s = load(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.coalesce(F.nullif(F.col("s_acctbal"), F.lit(0.0)), F.lit(-999.0)).alias(
            "bal_or_flag"
        ),
        F.when(F.col("s_acctbal") < 0, "debt").otherwise("credit").alias("bal_class"),
        F.nvl(F.nullif(F.col("s_name"), F.lit("")), F.lit("unknown")).alias(
            "name_or_unknown"
        ),
    )


@register(
    "math_try_cast_safety",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_num,
           TRY_CAST(event_type AS DOUBLE)                         AS bad_num,
           TRY_CAST(substr(event_type, 1, 1) AS BIGINT)           AS bad_int,
           CASE WHEN value = 0.0 THEN NULL ELSE round(1.0 / value, 9) END
                                                                  AS safe_inv_r
    FROM events
    WHERE event_id < 2000
    """,
)
def math_try_cast_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe casting surface: `try_cast` returns NULL instead of
    failing the job on malformed input (the difference between one
    bad record killing a 100 TB job and one NULL in the output), and
    guarded division instead of runtime DivideByZero. Spark under
    ANSI mode and DuckDB agree on TRY_CAST semantics; the non-numeric
    casts exercise the failure path on every row."""
    from hive_task_spark.tables import load as _load

    e = _load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.expr(
            "try_cast(get_json_object(props, '$.k') AS BIGINT)"
        ).alias("k_num"),
        F.expr("try_cast(event_type AS DOUBLE)").alias("bad_num"),
        F.expr("try_cast(substr(event_type, 1, 1) AS BIGINT)").alias("bad_int"),
        F.when(F.col("value") == 0.0, F.lit(None))
        .otherwise(F.round(F.lit(1.0) / F.col("value"), 9))
        .alias("safe_inv_r"),
    )


@register(
    "math_bitwise_suite",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(l_orderkey & 1023) AS BIGINT) AS and_low,
           CAST(bit_or(l_suppkey & 255)    AS BIGINT) AS or_supp,
           CAST(bit_xor(l_partkey)         AS BIGINT) AS xor_part,
           CAST(sum((l_orderkey << 2) >> 3) AS BIGINT) AS shifted_sum
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def math_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar ops (&, |, shifts) and bitwise aggregates
    (bit_and/bit_or/bit_xor) — the bit-packing toolkit used for flag
    columns and bloom-style fingerprints. All JVM-side integer ops,
    partial+final aggregated like any hash agg."""
    from hive_task_spark.tables import load as _load

    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(F.col("l_orderkey").bitwiseAND(1023))
        .cast("long")
        .alias("and_low"),
        F.bit_or(F.col("l_suppkey").bitwiseAND(255)).cast("long").alias("or_supp"),
        F.bit_xor("l_partkey").cast("long").alias("xor_part"),
        F.sum(F.shiftright(F.shiftleft("l_orderkey", 2), 3))
        .cast("long")
        .alias("shifted_sum"),
    )


@register(
    "math_decimal_exact_money",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
                AS VARCHAR) AS gross_exact_s,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
                         AS DECIMAL(18,4))) AS VARCHAR) AS net_exact_s
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def math_decimal_exact_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal money arithmetic: cast to DECIMAL(18,2) BEFORE
    aggregating, so the sum is exact integer arithmetic with no
    float summation-order noise — the fixed-point discipline a
    financial ledger requires (contrast every `round(sum(double),2)`
    edge elsewhere, which is only hash-stable because money sums stay
    within double's exact-integer range). The edge serializes the
    decimal as a string: no float ever crosses the comparison
    boundary. Decimal aggregation is still one partial+final hash
    aggregate (Spark accumulates unscaled longs), same shuffle shape
    as the double path."""
    li = load(spark, sf_dir, "lineitem")
    # Round AT THE VALUE'S EXACT GRAIN before the decimal cast: prices
    # are exact 2dp, so gross rounds at 2; net = 2dp price x 2dp
    # (1-discount) is an exact 4dp decimal, so it must round at 4 —
    # rounding a true 4dp value to 2dp hits REAL half-boundaries
    # (.xx50) where Spark (HALF_UP on the exact decimal expansion of
    # the double) and DuckDB (scaled std::round) legitimately
    # disagree. At the value's own grain no boundary exists.
    gross = F.round(F.col("l_extendedprice"), 2).cast("decimal(18,2)")
    net = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    ).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(gross).cast("string").alias("gross_exact_s"),
            F.sum(net).cast("string").alias("net_exact_s"),
        )
    )


@register(
    "math_try_arithmetic_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
        CASE WHEN l_quantity <> 0
             THEN CAST(l_extendedprice / l_quantity AS DOUBLE) END
            AS try_div,
        CASE WHEN l_linenumber - 1 <> 0
             THEN CAST(CAST(l_partkey AS BIGINT) % (l_linenumber - 1)
                  AS BIGINT) END               AS try_mod,
        CAST(l_partkey AS BIGINT) + CAST(l_suppkey AS BIGINT)
                                                AS try_add_ok,
        CASE WHEN l_quantity BETWEEN 1 AND 49
             THEN CAST(l_partkey * CAST(l_quantity AS BIGINT) AS BIGINT) END
            AS try_mult
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)
def math_try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* ANSI-safe arithmetic family (Spark 3.2+): try_divide /
    try_mod return NULL instead of raising on zero divisors, and
    try_add / try_multiply return NULL on overflow instead of
    wrapping — how pipelines keep ANSI mode's integrity without
    tripping on dirty rows. The oracle spells each guard as an
    explicit CASE (DuckDB has no try_ arithmetic), pinning the
    null-on-error contract value-by-value. Pure row-local codegen."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("try_divide(l_extendedprice, l_quantity)").alias("try_div"),
        F.expr(
            "try_mod(CAST(l_partkey AS BIGINT), CAST(l_linenumber - 1 AS BIGINT))"
        ).alias("try_mod"),
        F.expr(
            "try_add(CAST(l_partkey AS BIGINT), CAST(l_suppkey AS BIGINT))"
        ).alias("try_add_ok"),
        F.expr(
            "CASE WHEN l_quantity BETWEEN 1 AND 49 THEN"
            " try_multiply(l_partkey, CAST(l_quantity AS BIGINT)) END"
        ).alias("try_mult"),
    )


@register(
    "math_hyperbolic_suite",
    oracle="""
    SELECT l_linenumber,
           round((exp(l_discount) - exp(-l_discount)) / 2, 9) AS sinh_r,
           round((exp(l_discount) + exp(-l_discount)) / 2, 9) AS cosh_r,
           round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 9)
               AS tanh_r,
           round(atan2(l_discount, l_tax + 0.01), 9) AS atan2_r,
           round(ln(l_discount + sqrt(l_discount * l_discount + 1)), 9)
               AS asinh_via_ln_r
    FROM lineitem
    WHERE l_orderkey <= 100
    """,
)
def math_hyperbolic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperbolic/inverse-trig scalar coverage: sinh/cosh/tanh +
    atan2, and asinh phrased via its ln identity. DuckDB 1.0 has no
    hyperbolics at all, so the oracle computes them from exp
    identities — agreement at 9dp doubles as a check that Spark's
    native implementations match the defining identities. The
    tanh row is the one activation-function shape a feature pipeline
    actually ships. Transcendental edges → 9dp; pushed-down key
    filter bounds the output."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    d = F.col("l_discount")
    return li.select(
        "l_linenumber",
        F.round(F.sinh(d), 9).alias("sinh_r"),
        F.round(F.cosh(d), 9).alias("cosh_r"),
        F.round(F.tanh(d), 9).alias("tanh_r"),
        F.round(F.atan2(d, F.col("l_tax") + 0.01), 9).alias("atan2_r"),
        F.round(F.log(d + F.sqrt(d * d + 1)), 9).alias("asinh_via_ln_r"),
    )


@register(
    "math_logsumexp_grouped",
    oracle="""
    WITH m AS (
        SELECT event_type, max(value) AS mx, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           any_value(m.n)                               AS n,
           floor(any_value(m.mx) * 1e6 + 0.5) / 1e6     AS max_r,
           floor((any_value(m.mx)
                  + ln(sum(exp(e.value - m.mx)))) * 1e6 + 0.5) / 1e6
                                                        AS lse_r,
           floor((any_value(m.mx) + ln(sum(exp(e.value - m.mx)))
                  - ln(any_value(m.n))) * 1e6 + 0.5) / 1e6
                                                        AS log_mean_exp_r
    FROM events e JOIN m ON m.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def math_logsumexp_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically-stable grouped log-sum-exp via the max-shift
    identity LSE(x) = max + ln(sum exp(x - max)) — the reduction
    behind softmax normalizers, log-likelihood accumulation, and
    log-domain mixture weights, where the naive form overflows the
    moment any x exceeds ~709.  Also emits log-mean-exp (LSE - ln n),
    the log-domain average.

    Determinism: the max is exact; exp terms are engine-identical
    doubles whose SUM carries order noise (~1e-13 rel), absorbed by
    the 1e-6 canon after the final ln.

    Scale shape: two map-side-combinable aggregates over the same
    grouping key (max pass, then shifted-sum pass against the
    broadcast max) — the standard two-pass stable reduction; a
    single-pass streaming LSE (running max with rescale) is the
    applyInPandasWithState variant if ever needed."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    m = ev.groupBy("event_type").agg(
        F.max("value").alias("mx"), F.count(F.lit(1)).cast("long").alias("n")
    )
    c6 = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    lse = F.first("mx") + F.log(F.sum(F.exp(F.col("value") - F.col("mx"))))
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            c6(F.first("mx")).alias("max_r"),
            c6(lse).alias("lse_r"),
            c6(lse - F.log(F.first("n"))).alias("log_mean_exp_r"),
        )
        .orderBy("event_type")
    )
