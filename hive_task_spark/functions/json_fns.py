"""JSON function family over events.props (a JSON string column).
SURVEY.md §2B "Scalar functions / JSON".

get_json_object / from_json / json_tuple / to_json / schema_of_json.
At 100 TB, from_json with an explicit schema beats get_json_object
when extracting several fields (one parse instead of N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_task_spark.registry import register
from hive_task_spark.tables import load

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType(), True)])


@register(
    "json_extract_scalar",
    oracle="""
    SELECT
        event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT)   AS k,
        json_extract_string(props, '$.missing')             AS missing_field
    FROM events
    """,
)
def json_extract_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object: path extraction, absent path → NULL."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
    )


@register(
    "json_from_json_struct",
    oracle="""
    SELECT
        event_id,
        CAST(json_extract(props, '$.k') AS BIGINT)         AS parsed_k,
        (json_extract(props, '$.k') IS NOT NULL)           AS has_k
    FROM events
    """,
)
def json_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with explicit schema → typed struct access (one parse)."""
    e = load(spark, sf_dir, "events")
    parsed = F.from_json("props", PROPS_SCHEMA)
    return e.select(
        "event_id",
        parsed.getField("k").alias("parsed_k"),
        parsed.getField("k").isNotNull().alias("has_k"),
    )


@register(
    "json_tuple_multi",
    oracle="""
    SELECT
        event_id,
        json_extract_string(props, '$.k')   AS k_str
    FROM events
    WHERE event_id < 100
    """,
)
def json_tuple_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_tuple — multi-field extraction in one generator pass."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    return e.select("event_id", F.json_tuple("props", "k").alias("k_str"))


@register(
    "json_to_json_roundtrip",
    oracle="""
    SELECT
        event_id,
        to_json(struct_pack(et := event_type,
                            k := CAST(json_extract_string(props, '$.k') AS BIGINT)))
                                              AS payload
    FROM events
    WHERE event_id < 100
    """,
)
def json_to_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json(struct(...)) — serialize back out (sink-side pattern)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_type").alias("et"),
                F.get_json_object("props", "$.k").cast("long").alias("k"),
            )
        ).alias("payload"),
    )


@register(
    "json_schema_inference",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT)    AS k_parsed,
           json_extract(props, '$.k') IS NOT NULL        AS has_k
    FROM events
    """,
)
def json_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema_of_json — runtime schema discovery for semi-structured
    data. The schema STRING itself is engine-specific, so the check is
    behavioral: parse every row with the schema inferred from one
    sample via from_json and emit the typed field, which must equal
    the oracle's direct json_extract. One driver-side sample row is
    the standard inference pattern (not a data collect)."""
    e = load(spark, sf_dir, "events")
    sample = e.select("props").first()["props"]
    schema_str = (
        spark.range(1)
        .select(F.schema_of_json(F.lit(sample)).alias("s"))
        .first()["s"]
    )
    return e.select(
        "event_id", F.from_json("props", schema_str).alias("j")
    ).select(
        "event_id",
        F.col("j.k").cast("long").alias("k_parsed"),
        F.col("j.k").isNotNull().alias("has_k"),
    )


@register(
    "json_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT)  AS k_big,
           CAST(json_extract(props, '$.k') AS DOUBLE)  AS k_dbl,
           json_extract_string(props, '$.missing') IS NULL AS missing_is_null
    FROM events
    WHERE event_id < 3000
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4): parse_json once into the binary
    VARIANT type, then typed variant_get extractions — the
    semi-structured path that replaces per-access JSON re-parsing
    (parse once, extract many, ~10× cheaper at scale than repeated
    get_json_object). Missing paths return NULL, checked explicitly.
    The VARIANT itself never reaches the edge (engine-specific binary)
    — only typed scalars."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    v = e.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k_big"),
        F.expr("variant_get(v, '$.k', 'double')").alias("k_dbl"),
        F.expr("variant_get(v, '$.missing', 'string')").isNull().alias(
            "missing_is_null"
        ),
    )


@register(
    "json_variant_explode_lateral",
    oracle="""
    WITH src AS (
      SELECT c_custkey,
             json_object('key', c_custkey, 'mkt', c_mktsegment,
                         'nk', c_nationkey) AS j
      FROM customer
    ), kv AS (
      SELECT c_custkey, unnest(json_keys(j)) AS key, j FROM src
    )
    SELECT c_custkey,
           CAST(row_number() OVER (PARTITION BY c_custkey ORDER BY key)
                - 1 AS BIGINT)                          AS pos,
           key,
           CAST(json_extract(j, '$.' || key) AS VARCHAR) AS val_json
    FROM kv
    """,
)
def json_variant_explode_lateral(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VARIANT shredding via the `variant_explode` table function
    (Spark 4, LATERAL generator): each customer row's semi-structured
    VARIANT object explodes into (pos, key, value) rows — the
    schema-on-read fan-out that turns a ragged JSON corpus into a
    relational key/value table without declaring a struct schema up
    front (the LLM-pipeline shape: heterogeneous per-document metadata
    blobs shredded for analysis). The VARIANT `value` leaves the edge
    as canonical JSON text via `to_json` (VariantVal bytes are
    engine-specific); the construction `to_json` passes
    ``ignoreNullFields=false`` so a NULL source column still shreds to
    an explicit JSON null on both sides (Spark's default silently
    drops NULL fields, which would desync row counts with the
    oracle's json_object if the fixture ever grew NULLs).
    `pos` follows VARIANT's sorted-object-key order,
    which the oracle mirrors with row_number over the key — the
    construction keys ('key' < 'mkt' < 'nk') are chosen pre-sorted so
    both orders provably coincide. DuckDB has no json_each table
    function; the twin shreds with unnest(json_keys) + json_extract.

    100 TB posture: variant_explode is a Generate node — pure map-side
    fan-out, zero shuffles, whole-stage-codegen around the parse; the
    output is (rows x fields) narrow rows, the same cost class as
    posexplode over a pre-parsed map, but the parse happens ONCE per
    row into the binary VARIANT encoding (no per-field re-parse like
    chained get_json_object).
    """
    c = load(spark, sf_dir, "customer")
    src = c.select(
        "c_custkey",
        F.parse_json(
            F.to_json(
                F.struct(
                    F.col("c_custkey").alias("key"),
                    F.col("c_mktsegment").alias("mkt"),
                    F.col("c_nationkey").alias("nk"),
                ),
                {"ignoreNullFields": "false"},
            )
        ).alias("v"),
    )
    # DataFrame lateral-join API (no session-global temp view: a shared
    # view name could be swapped between build and collect by a
    # concurrent builder — the plan here is bound at build time).
    return src.lateralJoin(
        spark.tvf.variant_explode(F.col("v").outer())
    ).select(
        "c_custkey",
        F.col("pos").cast("long").alias("pos"),
        "key",
        F.to_json(F.col("value")).alias("val_json"),
    )
