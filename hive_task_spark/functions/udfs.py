"""UDF / UDAF / UDTF surface — SURVEY.md §2B UDF table.

The reference executes opaque user closures one message at a time
(/root/reference/src/worker-threads.lisp:69-74, `funcall`/`apply`);
this module is its vectorized Spark counterpart: every Python kernel
runs over Arrow columnar batches (pandas_udf / mapInPandas), never
row-at-a-time. Each surface gets one oracle-checked query so the
whole Python⇄JVM data path (types, nulls, batching) is value-checked.

(The grouped-map surface, applyInPandas, is oracle-checked in
operators/asof.py::asof_join_merge_asof; the stateful surface in
streaming/stream_queries.py::stream_stateful_running.)

100 TB posture: these kernels exist for logic the JVM can't express
(model scoring, tokenizers, codecs). Anything expressible with
built-ins stays JVM-side — compare functions/strings.py etc., which
compute similar things with zero Python in the plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hive_task_spark.registry import register
from hive_task_spark.tables import load


def _net_price_udf():
    # pandas_udf resolves types against the active session — build
    # lazily inside the query, not at module import.
    @pandas_udf("double")
    def _net_price(
        extended: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        """Scalar Series→Series kernel (Arrow-batched)."""
        return extended * (1.0 - discount) * (1.0 + tax)

    return _net_price


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT
        l_returnflag,
        sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS net_revenue,
        CAST(count(*) AS BIGINT)                              AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF in an aggregation pipeline: the kernel computes
    per-row net price in Python (Arrow batches), the JVM aggregates."""
    li = load(spark, sf_dir, "lineitem")
    net_price = _net_price_udf()
    return (
        li.withColumn(
            "net", net_price(F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum("net").alias("net_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _weighted_avg_udf():
    @pandas_udf("double")
    def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
        """Grouped-aggregate kernel: whole group's columns in, scalar out."""
        denom = qty.sum()
        return float((price * qty).sum() / denom) if denom else float("nan")

    return _weighted_avg_price


@register(
    "udf_grouped_agg",
    oracle="""
    SELECT
        l_linestatus,
        round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (custom UDAF): quantity-weighted average
    price per line status. Spark feeds each group's columns as whole
    Series — partial aggregation is NOT available for Python UDAFs, so
    at scale prefer the algebraic sum/sum rewrite (the oracle's form);
    this surface is for genuinely non-algebraic aggregates."""
    li = load(spark, sf_dir, "lineitem")
    weighted_avg = _weighted_avg_udf()
    return li.groupBy("l_linestatus").agg(
        F.round(
            weighted_avg(F.col("l_extendedprice"), F.col("l_quantity")), 4
        ).alias("wavg_price")
    )


def _order_margin_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: arbitrary per-batch transform incl. filtering
    (rows out ≠ rows in — the thing a scalar UDF can't do)."""
    for pdf in it:
        out = pdf[pdf["o_totalprice"] > 100_000.0].copy()
        out["price_band"] = (out["o_totalprice"] // 50_000.0) * 50_000.0
        yield out[["o_orderkey", "o_custkey", "price_band"]]


@register(
    "udf_mapinpandas",
    oracle="""
    SELECT
        o_orderkey,
        o_custkey,
        floor(o_totalprice / 50000.0) * 50000.0 AS price_band
    FROM orders
    WHERE o_totalprice > 100000.0
    """,
)
def udf_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: streaming Arrow-batch transform with row filtering
    (pandas `//` is floor-div — matches SQL floor())."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return o.mapInPandas(
        _order_margin_batches, "o_orderkey long, o_custkey long, price_band double"
    )


def _make_expander():
    """Python UDTF (table function): one input row → N output rows."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class _WordExpand:
        def eval(self, name: str):
            for i, w in enumerate(name.split(" ")):
                yield w, i

    return _WordExpand


@register(
    "udf_python_udtf",
    oracle="""
    SELECT
        p_partkey,
        unnest(string_split(p_name, ' '))                              AS word,
        CAST(unnest(range(0, len(string_split(p_name, ' ')))) AS INT)  AS pos
    FROM part
    WHERE p_partkey <= 50
    """,
)
def udf_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: expands each part name into
    (word, position) rows. The oracle is the engine-native equivalent
    (unnest) — also what the scale path should use; the UDTF surface is
    for generators SQL can't express."""
    spark.udtf.register("ht_word_expand", _make_expander())
    return spark.sql(
        """
        SELECT p.p_partkey, t.word, t.pos
        FROM {part} p, LATERAL ht_word_expand(p.p_name) t
        WHERE p.p_partkey <= 50
        """,
        part=load(spark, sf_dir, "part"),
    )


def _acct_band_arrow_batches(it):
    """mapInArrow kernel: pyarrow.RecordBatch in/out — no pandas
    conversion at all, the lowest-overhead Python hop (columnar
    buffers cross zero-copy where dtypes allow)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in it:
        bal = batch.column("c_acctbal")
        band = pc.floor(pc.divide(bal, 1000.0))
        keep = pc.greater_equal(bal, 0.0)
        out = pa.RecordBatch.from_arrays(
            [
                batch.column("c_custkey"),
                pc.cast(band, pa.int64()),
            ],
            names=["c_custkey", "bal_band"],
        )
        yield out.filter(keep)


@register(
    "udf_mapinarrow",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
    FROM customer
    WHERE c_acctbal >= 0.0
    """,
)
def udf_mapinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the raw-Arrow sibling of mapInPandas — kernels see
    pyarrow.RecordBatch directly (no pandas materialization), the
    right surface for codec-style byte work and libraries that speak
    Arrow natively. Same oracle discipline as every Python hop: the
    full type/null/batch path is value-checked."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return c.mapInArrow(
        _acct_band_arrow_batches, "c_custkey long, bal_band long"
    )


def _zscore_iter_udf():
    @pandas_udf("double")
    def _zscore_iter(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        """Iterator-of-Series pandas_udf: one-time per-executor setup
        (the constant here stands in for loading a model/tokenizer)
        amortized across every batch in the partition — THE pattern
        for expensive-init kernels."""
        center, scale = 3000.0, 1500.0  # "model load" happens once
        for bal in it:
            yield (bal - center) / scale

    return _zscore_iter


@register(
    "udf_pandas_iterator",
    oracle="""
    SELECT s_suppkey,
           round((s_acctbal - 3000.0) / 1500.0, 6) AS bal_z
    FROM supplier
    """,
)
def udf_pandas_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas_udf (Iterator[Series] -> Iterator[Series]):
    functionally identical to the scalar form but with a per-partition
    prologue — where model weights load ONCE instead of per batch.
    At 100 TB this is the difference between loading a tokenizer
    300,000 times (once per batch) and once per executor core."""
    s = load(spark, sf_dir, "supplier")
    fn = _zscore_iter_udf()
    return s.select(
        "s_suppkey", F.round(fn("s_acctbal"), 6).alias("bal_z")
    )


def _make_chunker():
    """Polymorphic Python UDTF (Spark 4): no static returnType — the
    OUTPUT SCHEMA is computed at plan time by `analyze()` from the
    literal chunk-count argument (part_1..part_n columns). Built
    lazily like `_make_expander`."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class _ChunkSplit:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"part_{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            ln = len(text)
            bounds = [(i * ln) // n for i in range(n + 1)]
            yield tuple(text[bounds[i] : bounds[i + 1]] for i in range(n))

    return udtf(_ChunkSplit)


@register(
    "udtf_polymorphic",
    oracle="""
    WITH t AS (SELECT doc_id, text, len(text) AS ln FROM documents
               WHERE doc_id <= 50)
    SELECT doc_id,
           substr(text, 1, ln // 3)                            AS part_1,
           substr(text, ln // 3 + 1, (2 * ln) // 3 - ln // 3)  AS part_2,
           substr(text, (2 * ln) // 3 + 1, ln - (2 * ln) // 3) AS part_3
    FROM t
    """,
)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF via LATERAL: splits each document into 3
    near-equal codepoint chunks where the COLUMN LIST (part_1..3) is
    derived by the UDTF's analyze() from the literal argument — the
    generator's shape is a plan-time function of its call site, which
    a static returnType cannot express. The oracle spells out the same
    integer chunk boundaries ((i*len)//n) with substr. Sharding a
    document column for fan-out embedding calls is the pipeline use."""
    spark.udtf.register("ht_chunk_split", _make_chunker())
    return spark.sql(
        """
        SELECT d.doc_id, t.part_1, t.part_2, t.part_3
        FROM {documents} d, LATERAL ht_chunk_split(d.text, 3) t
        WHERE d.doc_id <= 50
        """,
        documents=load(spark, sf_dir, "documents"),
    )


def _cogroup_reconcile(orders_pdf, events_pdf):
    """Cogrouped-map kernel over one key BUCKET (r17): both sides of a
    64-way customer bucket arrive as pandas frames; a vectorized
    per-key groupby emits every key's reconciliation row in one call.
    One cogroup per raw key meant ~10k Python invocations (12.6 s at
    sf0.1); bucketing amortizes the Arrow/pandas machinery (guide
    §4.5) at identical output: counts are exact integers and both
    money sums are 2dp-exact values whose FP noise (~1e-9) sits far
    inside the round(…, 2) grain, so summation-order differences
    between the per-key and grouped paths cannot move the edge."""
    import pandas as pd

    # dropna=False (ADVICE r17 #2): pandas groupby silently DROPS
    # NaN/NULL keys by default — a NULL o_custkey/user_id row would
    # vanish from the edge where the pre-r17 per-key form failed
    # loudly. Keys are non-null in the data today, but the r15 cohort
    # work shows NULL/negative user_ids are a live concern.
    if len(orders_pdf):
        o = orders_pdf.groupby("o_custkey", dropna=False)["o_totalprice"].agg(
            n_orders="count", spend="sum"
        )
    else:
        o = pd.DataFrame(
            {
                "n_orders": pd.Series(dtype="int64"),
                "spend": pd.Series(dtype="float64"),
            },
            index=pd.Index([], dtype="int64"),
        )
    if len(events_pdf):
        e = events_pdf.groupby("user_id", dropna=False)["value"].agg(
            n_events="count", val="sum"
        )
    else:
        e = pd.DataFrame(
            {
                "n_events": pd.Series(dtype="int64"),
                "val": pd.Series(dtype="float64"),
            },
            index=pd.Index([], dtype="int64"),
        )
    m = o.join(e, how="outer")
    return pd.DataFrame(
        {
            "key_id": m.index.astype("int64"),
            "n_orders": m["n_orders"].fillna(0).astype("int64"),
            "n_events": m["n_events"].fillna(0).astype("int64"),
            "total_spend_r": m["spend"].fillna(0.0).round(2),
            "total_value_r": m["val"].fillna(0.0).round(2),
        }
    )


@register(
    "udf_cogrouped_map",
    oracle="""
    WITH o AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders,
                      round(sum(o_totalprice), 2) AS total_spend_r
               FROM orders GROUP BY o_custkey),
         e AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_events,
                      round(sum(value), 2) AS total_value_r
               FROM events GROUP BY user_id)
    SELECT coalesce(o.k, e.k)                 AS key_id,
           coalesce(n_orders, 0)              AS n_orders,
           coalesce(n_events, 0)              AS n_events,
           coalesce(total_spend_r, 0.0)       AS total_spend_r,
           coalesce(total_value_r, 0.0)       AS total_value_r
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped map (`groupby().cogroup().applyInPandas`): orders and
    events co-shuffle on one key (custkey = user_id) and each key's
    TWO pandas frames land in a single Python call — the API for
    custom per-key reconciliation/merge logic that needs both sides
    materialized (merge_asof-style alignment, interleaved replay,
    drift checks). Both sides arrive Arrow-batched; the shuffle is the
    same two-sided hash exchange a full-outer join would pay, so the
    pattern holds at any scale. The oracle is the relational twin:
    per-side aggregates full-outer-joined on the key."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    events = load(spark, sf_dir, "events").select("user_id", "value")
    # r17: cogroup on a 64-way key BUCKET (guide §4.5) — the kernel
    # does the per-key reconciliation vectorized inside each bucket;
    # see _cogroup_reconcile for the exactness argument. Same
    # co-shuffle, 64 Python calls instead of ~10k.
    out = (
        orders.groupby(F.pmod(F.col("o_custkey"), F.lit(64)))
        .cogroup(events.groupby(F.pmod(F.col("user_id"), F.lit(64))))
        .applyInPandas(
            _cogroup_reconcile,
            schema="key_id long, n_orders long, n_events long, "
            "total_spend_r double, total_value_r double",
        )
    )
    return out


def _arrow_flag_stats(key, tbl):
    """applyInArrow grouped-map kernel: one RecordBatch-backed
    pyarrow.Table per group, zero pandas conversion."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pa.table(
        {
            "l_returnflag": [key[0].as_py() if hasattr(key[0], "as_py") else key[0]],
            "n_rows": [tbl.num_rows],
            "sum_qty": [int(pc.sum(pc.cast(tbl.column("l_quantity"), pa.int64())).as_py())],
            "max_price": [float(pc.max(tbl.column("l_extendedprice")).as_py())],
        }
    )


@register(
    "udf_grouped_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)                    AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           max(l_extendedprice)                        AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map `applyInArrow` (Spark 4): the per-group kernel
    receives a raw pyarrow.Table — no pandas materialization at all,
    the cheapest possible Python hop for columnar group logic
    (complements `udf_mapinarrow`, the ungrouped form). Sum/max over
    int-cast quantities keep the edge integer/2dp-exact. In
    production the built-in aggregate wins (the oracle IS that
    relational twin); the registered query proves the API surface."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInArrow(
        _arrow_flag_stats,
        schema="l_returnflag string, n_rows long, sum_qty long, max_price double",
    )


@register(
    "udf_arrow_optimized_python",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_large
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def udf_arrow_optimized_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized row Python UDF (``useArrow=True`` — Spark 3.5+):
    the third point on the Python-execution spectrum next to pickled
    row UDFs (never used in this repo) and pandas_udf. The kernel is
    row-at-a-time Python, but batches cross the JVM boundary as Arrow,
    cutting (de)serialization ~2×; pandas_udf remains the hot-path
    choice (vectorized kernel, udfs.py module docstring) — this query
    exists to prove the surface and its exact semantics. The flag
    threshold runs in Python; counts aggregate JVM-side."""
    from pyspark.sql.functions import udf

    @udf("int", useArrow=True)
    def _is_large(total: float) -> int:
        return 1 if total > 100000 else 0

    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderpriority", _is_large("o_totalprice").alias("lg")
    ).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("lg").cast("long").alias("n_large"),
    )


@register(
    "udtf_table_partition_arg",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN prev_type IS NOT NULL
                         AND event_type <> prev_type
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions
    FROM seq GROUP BY user_id
    """,
)
def udtf_table_partition_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE argument with PARTITION BY /
    ORDER BY (Spark 4): the engine feeds each user's events to one
    UDTF instance in timestamp order; eval() streams rows, terminate()
    emits the per-user summary (event count + type-transition count).
    This is the arbitrary-per-group-sequence-logic escape hatch when
    window functions can't express the state machine — here the logic
    IS window-expressible, which is exactly what makes it
    oracle-checkable. Partition routing and ordering are the engine's
    (shuffle on user_id), Python only ever sees one group at a time."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, n_transitions bigint")
    class _Transitions:
        def __init__(self):
            self.uid = None
            self.n = 0
            self.trans = 0
            self.prev = None

        def eval(self, row):
            self.uid = row["user_id"]
            self.n += 1
            if self.prev is not None and row["event_type"] != self.prev:
                self.trans += 1
            self.prev = row["event_type"]

        def terminate(self):
            if self.uid is not None:
                yield self.uid, self.n, self.trans

    spark.udtf.register("ht_transitions_udtf", _Transitions)
    return spark.sql(
        """
        SELECT * FROM ht_transitions_udtf(
            TABLE(SELECT user_id, event_type, ts, event_id FROM {events})
            PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """,
        events=load(spark, sf_dir, "events"),
    )


@register(
    "udf_grouped_ols_fit",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
               round(sum(value), 6) AS day_val
        FROM events GROUP BY event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(regr_slope(day_val, day_idx), 4) AS slope_r,
           round(regr_intercept(day_val, day_idx), 4) AS intercept_r
    FROM daily GROUP BY event_type
    """,
)
def udf_grouped_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting via applyInPandas — the canonical
    grouped-map pattern (each group's daily series arrives as one
    pandas DataFrame; the kernel fits OLS with numpy normal
    equations and emits one coefficient row). The oracle is the
    regr_slope/regr_intercept SQL twin, which is exactly the point:
    when the model IS expressible as SQL sufficient statistics,
    prefer the aggregate (one pass, no Python); applyInPandas is the
    pattern you graduate to for models that aren't — and this query
    pins that the two agree to 4dp
    (different summation orders diverge at the 1e-6 place on 1e4-scale
    intercepts — round at the magnitude-aware grain). Input is the bounded per-type
    daily aggregate, so each group is small regardless of corpus
    size."""
    import numpy as np

    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("day_idx"),
    ).agg(F.round(F.sum("value"), 6).alias("day_val"))

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["day_idx"].to_numpy(dtype=float)
        y = pdf["day_val"].to_numpy(dtype=float)
        n = len(x)
        # centered normal equations: epoch-day x values are ~2e4, so the
        # raw n*Sxx - Sx**2 form cancels catastrophically; centering
        # matches the engines' stable covariance formulation.
        mx, my = x.mean(), y.mean()
        dx = x - mx
        slope = float((dx * (y - my)).sum() / (dx * dx).sum())
        intercept = float(my - slope * mx)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "slope_r": [round(slope, 4)],
                "intercept_r": [round(intercept, 4)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        _fit,
        schema="event_type string, n_days bigint, slope_r double, intercept_r double",
    )


@register(
    "udf_arrow_python_scalar",
    oracle="""
    SELECT CAST(CAST(substr(c_name, 10) AS BIGINT) % 7 AS BIGINT)
               AS cust_bucket,
           CAST(count(*) AS BIGINT)      AS n_customers,
           round(sum(c_acctbal), 2)      AS balance
    FROM customer
    GROUP BY 1
    ORDER BY 1
    """,
)
def udf_arrow_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`F.udf(..., useArrow=True)`, Spark
    3.5+): the third Python-kernel surface next to row-at-a-time
    F.udf (absent from this repo by design) and pandas_udf — same
    row-wise author experience, but arguments arrive via Arrow
    batches, ~2x the pickled path. The kernel parses the customer id
    ('Customer#000000123' -> 123 % 7), pure integer/string work, so
    the edge is exact.

    100 TB posture: like every Python kernel here, this exists to
    pin the surface — the same parse is one JVM substr/cast (the
    oracle literally is that), and production hot paths should use
    it; the op value-checks the Arrow (de)serialization round trip.
    """
    parse = F.udf(
        lambda name: int(name[9:]) % 7 if name else None,
        "long",
        useArrow=True,
    )
    c = load(spark, sf_dir, "customer")
    return (
        c.withColumn("cust_bucket", parse(F.col("c_name")))
        .groupBy("cust_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("balance"),
        )
        .orderBy("cust_bucket")
    )


@register(
    "udf_arrow_native_scalar",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)                            AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
                         AS DECIMAL(18,4))) AS VARCHAR)        AS net_exact_s
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_arrow_native_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE vectorized scalar UDF (Spark 4 ``@arrow_udf``):
    the kernel receives ``pyarrow.Array`` batches and returns one —
    no pandas conversion at all, one rung faster than ``pandas_udf``
    (which round-trips every batch through pandas Series) and the
    right surface when the kernel is itself Arrow-compute or hands
    buffers to a zero-copy consumer (tokenizers, model runtimes).
    The kernel computes net price with ``pyarrow.compute`` so the
    whole Python stage is vectorized C++; the oracle is the plain SQL
    expression.  Built lazily inside the function (arrow_udf needs an
    active session, the CLAUDE.md pandas_udf rule).

    Edge canon: 2dp price x 2dp factor is an exact 4dp value, so the
    per-ROW product rounds at its true 4dp grain, casts to
    DECIMAL(18,4), and SUMS exactly (the math_decimal_exact_money
    pattern) — a `round(sum(double),4)` edge would be safe at sf0.01
    but its cross-engine summation-order noise grows ~sqrt(n) with SF
    and approaches the 5e-5 half-boundary margin at sf0.1+
    (ADVICE r8)."""
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("double")
    def net_price(price: pa.Array, disc: pa.Array) -> pa.Array:
        return pc.multiply(price, pc.subtract(pa.scalar(1.0), disc))

    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag",
                  net_price("l_extendedprice", "l_discount").alias("np"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.round(F.col("np"), 4).cast("decimal(18,4)"))
            .cast("string").alias("net_exact_s"),
        )
    )
