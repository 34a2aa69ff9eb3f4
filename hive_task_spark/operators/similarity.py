"""Similarity search over `embeddings` (array<float>, 64-dim).
SURVEY.md §2B LLM ops: brute-force cosine top-k (baseline, oracle-
checked) + random-hyperplane LSH bucketing (the scale path).

Per-pair dot products are JVM higher-order expressions
(``aggregate(zip_with(...))``). Per-row scoring against a frozen plan
literal (LSH planes, IVF codebook, JL signs, PQ sub-codebooks) and the
within-cell pair matrix run in mapInArrow / applyInPandas NumPy
kernels built on the fold helpers below, bit-identical to the HOF
form. At 100 TB: broadcast the (small) query side, keep the corpus
partitioned; the LSH variant replaces the crossJoin with a bucket
equi-join exactly like MinHash banding replaces the pair join.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.registry import register
from hive_task_spark.tables import load

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors

# Random hyperplanes for sign-LSH (seed fixed; embedded in the plan).
# Multi-table: L independent tables of k planes each. One k-bit table
# has recall p_match^k per neighbor; L tables + Hamming<=1 multi-probe
# push miss probability to (1 - p_probe)^L — the classic E2LSH recipe.
_DIM = 64
_N_TABLES = 8
_N_PLANES = 4  # bits per table
_rng = random.Random(7)
_PLANES = [
    [
        [round(_rng.gauss(0.0, 1.0), 6) for _ in range(_DIM)]
        for _ in range(_N_PLANES)
    ]
    for _ in range(_N_TABLES)
]


def _vec_d(col: str = "embedding"):
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _norm(vcol):
    return F.sqrt(F.aggregate(vcol, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


# NumPy fold helpers shared by the vector kernels. Module-level, so
# workers unpickle them by reference (one import of this module).
#
# Bit-exactness: the HOF fold ``aggregate(zip_with(a, b, *), 0.0, +)``
# and the DuckDB oracle's ``list_sum`` both compute
# ((0.0 + a0*b0) + a1*b1) + ... in ascending dimension order. _fold_dot
# performs that exact IEEE operation sequence for every output element,
# merely vectorised over the leading axes; NumPy fuses no multiply-add,
# so each element's result is unchanged. ``@``, ``einsum`` and
# ``np.sum`` are not used because they reorder the sum (pairwise or
# SIMD-blocked accumulation) and move the last bits.


def _emb_f64(batch):
    """The ``embedding`` column of an Arrow batch as an (n, dim) float64
    matrix: the float32 values widened exactly, as ``CAST(x AS DOUBLE)``
    does in Spark and DuckDB."""
    emb = batch.column(batch.schema.get_field_index("embedding"))
    return (
        np.asarray(emb.flatten(), dtype=np.float32)
        .astype(np.float64)
        .reshape(batch.num_rows, -1)
    )


def _fold_dot(a, b):
    """Dot over the last axis, broadcasting the leading axes, summed in
    ascending order from a 0.0 seed: ``_fold_dot(u[:, None, :],
    cb[None, :, :])`` is the (n, k) centroid-dot matrix and
    ``np.sqrt(_fold_dot(x, x))`` the row norm."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for i in range(a.shape[-1]):
        acc += a[..., i] * b[..., i]
    return acc


def _argmax_first(dots):
    """Row-wise ``(best, cid)`` of an (n, k) dot matrix: ``best`` is the
    row max and ``cid`` the LOWEST index equal to it (the
    ``ORDER BY dot DESC, cid`` tie-break). A row holding a NaN has a NaN
    ``best``; nothing compares equal to it, so ``cid`` is 0."""
    best = dots.max(axis=1)
    return best, np.argmax(dots == best[:, None], axis=1).astype(np.int32)


_ORACLE_TOPK = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    scored AS (
        SELECT
            q.vec_id AS query_id,
            c.vec_id AS neighbor_id,
            list_sum(list_transform(list_zip(q.vec, c.vec), p -> p[1] * p[2]))
                / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(rnk AS BIGINT) AS rnk,
           round(cosine, 6)    AS cosine_r
    FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
    )
    WHERE rnk <= {TOP_K}
"""


@register("similarity_topk_bruteforce", oracle=_ORACLE_TOPK)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × corpus + window.

    The correctness baseline every ANN variant is measured against.
    Cosine is rounded to 6 dp at the edge (summation-order noise);
    ranking uses the raw value with neighbor_id tie-break.
    """
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", _vec_d().alias("vec")
    ).withColumn("nrm", _norm(F.col("vec")))
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(vecs)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine_r"))
    )


_PLANES_SQL = (
    "CAST(["
    + ",".join(
        "["
        + ",".join(
            "[" + ",".join(str(x) for x in plane) + "]" for plane in table
        )
        + "]"
        for table in _PLANES
    )
    + "] AS DOUBLE[][][])"
)

_ORACLE_ANN_LSH = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    b AS (
        SELECT vec_id, vec, nrm,
               list_transform({_PLANES_SQL}, tbl ->
                 list_sum(list_transform(range(1, {_N_PLANES} + 1), i ->
                   CASE WHEN list_sum(list_transform(list_zip(vec, tbl[i]),
                                                     p -> p[1] * p[2])) > 0
                        THEN CAST(pow(2, i - 1) AS INT) ELSE 0 END))) AS buckets
        FROM n
    ),
    corpus AS (
        SELECT vec_id, vec, nrm, t.i AS table_id,
               CAST(buckets[t.i + 1] AS INT) AS bucket
        FROM b, range({_N_TABLES}) t(i)
    ),
    probes AS (
        SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm, t.i AS table_id,
               CAST(unnest(list_distinct(list_prepend(buckets[t.i + 1],
                 list_transform(range(0, {_N_PLANES}), j ->
                   xor(buckets[t.i + 1], (1 << j)))))) AS INT) AS bucket
        FROM b, range({_N_TABLES}) t(i)
        WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(p.qvec, c.vec), z -> z[1] * z[2]))
                   / (p.qnrm * c.nrm) AS cosine
        FROM probes p JOIN corpus c USING (table_id, bucket)
        WHERE p.query_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           round(cosine, 6) AS cosine_r
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= {TOP_K}
"""


def _lsh_bucket_frame(e):
    """(vec_id, vec, nrm, buckets[L]) via ONE mapInArrow NumPy kernel,
    localCheckpoint'ed so the corpus and query branches read it once
    (r18; it replaced 8x4 interpreted zip_with/aggregate folds per row,
    evaluated once per branch). vec is the float->double cast, nrm and
    the 32 plane dots are _fold_dot folds, and bucket t packs plane p's
    sign bit at 1 << p (integer-exact). NaN posture: a NaN dot SETS its
    bit, as ``CASE WHEN dot > 0`` does in Spark and DuckDB, which both
    order NaN above every value (NumPy's ``NaN > 0`` is false). The
    per-candidate cosine stays the JVM HOF over the passed-through vec."""
    pl = np.array(_PLANES, dtype=np.float64)  # L x P x dim
    bit = 1 << np.arange(_N_PLANES)

    def _batches(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            x = _emb_f64(b)
            d = _fold_dot(x[:, None, None, :], pl[None])  # n x L x P
            buckets = (((d > 0) | np.isnan(d)) * bit).sum(axis=2, dtype=np.int32)
            yield pa.record_batch(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    pa.array(x.tolist(), type=pa.list_(pa.float64())),
                    pa.array(np.sqrt(_fold_dot(x, x))),
                    pa.array(buckets.tolist(), type=pa.list_(pa.int32())),
                ],
                names=["vec_id", "vec", "nrm", "buckets"],
            )

    return (
        e.select("vec_id", "embedding")
        .mapInArrow(
            _batches,
            "vec_id long, vec array<double>, nrm double, buckets array<int>",
        )
        .localCheckpoint()
    )


@register("similarity_ann_lsh", oracle=_ORACLE_ANN_LSH)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane sign-LSH: 8 tables × 4-bit
    buckets → candidates share (table, bucket) with a query → exact
    cosine over candidates only → top-k. Queries multi-probe all
    buckets at Hamming<=1 in every table.

    The 100 TB path: the crossJoin becomes an equi-join on a composite
    (table_id, bucket) key — shuffle volume O(corpus × L), candidate
    volume O(corpus × bucket-density), never O(n²). Recall vs exact
    brute force is asserted in tests/test_properties.py; the oracle is
    a full DuckDB twin of the deterministic LSH pipeline (fixed seed-7
    planes embedded in both plans, sequential-sum dot products), so the
    approximate path is hash-checked cross-engine, not just
    recall-bounded.
    """
    e = load(spark, sf_dir, "embeddings")
    with_buckets = _lsh_bucket_frame(e)
    corpus = with_buckets.select(
        "vec_id",
        "vec",
        "nrm",
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    # queries probe their own bucket + all Hamming-1 neighbors, per table
    q = (
        with_buckets.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("nrm").alias("qnrm"),
            F.posexplode("buckets").alias("table_id", "bucket0"),
        )
        .select(
            "query_id",
            "qvec",
            "qnrm",
            "table_id",
            F.explode(
                F.expr(
                    f"""
                    array_union(
                      array(bucket0),
                      transform(sequence(0, {_N_PLANES - 1}),
                                i -> bucket0 ^ shiftleft(1, i)))
                    """
                )
            ).alias("bucket"),
        )
    )
    cand = (
        F.broadcast(q)
        .join(corpus, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "similarity_grouped_stats",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    pairs AS (
        SELECT
            (a.label = b.label)  AS same_label,
            list_sum(list_transform(list_zip(a.vec, b.vec), p -> p[1] * p[2]))
                / (a.nrm * b.nrm) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 100 AND b.vec_id < 100
    )
    SELECT
        same_label,
        CAST(count(*) AS BIGINT)  AS n_pairs,
        round(avg(cosine), 9)     AS avg_cosine,
        round(max(cosine), 9)     AS max_cosine
    FROM pairs
    GROUP BY same_label
    """,
)
def similarity_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label vs cross-label cosine statistics (pairwise agg)."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    vecs = e.select("vec_id", "label", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    a = vecs.alias("a")
    b = vecs.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            (F.col("a.label") == F.col("b.label")).alias("same_label"),
            (
                _dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine"),
        )
        .groupBy("same_label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("cosine"), 9).alias("avg_cosine"),
            F.round(F.max("cosine"), 9).alias("max_cosine"),
        )
    )


@register(
    "similarity_embedding_neardup",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
        WHERE vec_id < 2000
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    )
    SELECT
        a.vec_id                  AS vec_a,
        b.vec_id                  AS vec_b,
        round(list_sum(list_transform(list_zip(a.vec, b.vec), p -> p[1] * p[2]))
              / (a.nrm * b.nrm), 6) AS cosine_r
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.vec, b.vec), p -> p[1] * p[2]))
          / (a.nrm * b.nrm) >= 0.45
    """,
)
def similarity_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45 on this corpus;
    production text-dedup uses ~0.95 — the plan shape is identical).

    Bounded to a 2000-vector slice: the EXACT all-pairs formulation is
    O(n²) by definition and exists as the verification baseline; the
    unbounded scale paths are `similarity_ann_lsh` / `_ivf`.

    The pairwise dot runs over 64 UNPACKED scalar columns, not the
    array: higher-order array lambdas are interpreted per element,
    while a 64-term column expression is whole-stage codegen —
    ~20× faster on the O(n²) pair loop. Summation order matches the
    array fold (ascending dimension), so cosines are bit-identical."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    flat = vecs.select(
        "vec_id", "nrm", *[F.col("vec")[i].alias(f"v{i}") for i in range(_DIM)]
    )
    # r17: the probe side of the O(n²) BroadcastNestedLoopJoin arrives
    # as ONE scan split at bench scale, so the 2M-pair dot loop ran in
    # a single task. Cores-derived round-robin repartition first (the
    # geo_nearest_supplier fix; per-pair scalar edge, so row placement
    # cannot affect any value): 7.4 s -> ~1 s.
    a = flat.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = flat.alias("b")
    dot = None
    for i in range(_DIM):
        term = F.col(f"a.v{i}") * F.col(f"b.v{i}")
        dot = term if dot is None else dot + term
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.45)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "similarity_label_centroids",
    oracle="""
    WITH e AS (
        SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    per_dim AS (
        SELECT label, pos, avg(CAST(x AS DOUBLE)) AS mu
        FROM e GROUP BY label, pos
    )
    SELECT
        label,
        CAST(count(*) AS BIGINT)             AS dim,
        round(sqrt(sum(mu * mu)), 6)         AS centroid_norm_r,
        round(sum(mu) / count(*), 6)         AS centroid_mean_r
    FROM per_dim
    GROUP BY label
    """,
)
def similarity_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (elementwise mean across rows) —
    the distributed vector reduction under k-means/classification.

    posexplode → groupBy (label, dimension) → avg: the shuffle carries
    (label, pos, partial-sum) — map-side combine makes the cost
    O(labels × dim), independent of corpus size. Summarized to norm /
    mean per centroid (rounded at the edge) for a stable oracle."""
    e = load(spark, sf_dir, "embeddings")
    per_dim = (
        e.select("label", F.posexplode(_vec_d()).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("mu"))
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("dim"),
            F.round(F.sqrt(F.sum(F.col("mu") * F.col("mu"))), 6).alias(
                "centroid_norm_r"
            ),
            F.round(F.sum("mu") / F.count(F.lit(1)), 6).alias("centroid_mean_r"),
        )
    )


_IVF_K = 16       # coarse centroids
_IVF_NPROBE = 8   # centroids probed per query (tuned for >=0.7 recall
                  # even on corpora the frozen codebook wasn't trained on)
_IVF_ITERS = 5    # Lloyd iterations


def train_ivf_codebook(
    spark: SparkSession,
    sf_dir: str,
    k: int = _IVF_K,
    iters: int = _IVF_ITERS,
) -> list[list[float]]:
    """k-means-lite coarse-quantizer training — the offline "train"
    half of IVF, kept as a plain helper (exercised in tests, not a
    registered query: iterative Lloyd rounds are genuinely
    non-SQL-expressible, and freezing the result is what production
    ANN systems do anyway — codebooks are trained once on a sample).

    All DataFrame ops: assign = broadcast-join + argmax dot; update =
    posexplode + groupBy(cluster, dim) avg (the same vector reduction
    as `similarity_label_centroids`). Seeded with the k lowest vec_ids;
    returns the codebook rounded to 6 dp, ordered by centroid id —
    exactly the procedure that produced `_IVF_CODEBOOK`.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    unit = vecs.select(
        "vec_id", F.expr("transform(vec, x -> x / nrm)").alias("uvec")
    ).localCheckpoint()
    centroids = (
        unit.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("uvec").alias("cvec"))
        .localCheckpoint()
    )
    for _ in range(iters):
        assigned = (
            unit.crossJoin(F.broadcast(centroids))
            .withColumn("dot", _dot(F.col("uvec"), F.col("cvec")))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(
                        F.col("dot").desc(), F.col("cid")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("vec_id", "uvec", "cid")
        )
        centroids = (
            assigned.select("cid", F.posexplode("uvec").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("mu"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select("cid", F.expr("transform(pm, p -> p.mu)").alias("cvec"))
            .localCheckpoint()
        )
    rows = sorted(centroids.collect(), key=lambda r: r.cid)
    return [[round(float(x), 6) for x in r.cvec] for r in rows]


# Frozen coarse codebook: train_ivf_codebook(spark, sf0.01) output
# (16 x 64 doubles, 6 dp). Freezing makes the query a pure
# deterministic pipeline both engines run bit-identically — and
# mirrors real ANN practice (train once on a sample, broadcast).
_IVF_CODEBOOK = [
    [0.023174, 0.005131, 0.056974, -0.087489, 0.02882, -0.005635, -0.032939, 0.003213, 0.04035, -0.04305, -0.03267, -0.011914, -0.053267, -0.016332, -0.014347, -0.01907, 0.056782, 0.04766, 0.058319, 0.03216, -0.088615, 0.020391, 0.016184, 0.000684, -0.010425, 0.052449, 0.114113, 0.002242, -0.003752, 0.098983, -0.005662, 0.050152, -0.021294, -0.042836, -0.00109, -0.06174, 0.001854, 0.022341, 0.024427, -0.000853, 0.010512, 0.019915, -0.021164, 0.048851, -0.025621, 0.05193, 0.022838, -0.090267, -0.00309, -0.028041, 0.015969, 0.006644, 0.014072, -0.047921, 0.057003, -0.005886, -0.014694, 0.0146, -0.062316, -0.043435, -0.022462, 0.023635, 0.046776, -0.058311],
    [-0.041528, 0.041699, -0.006688, -0.029005, -0.028226, -0.001433, -0.073379, -0.011353, -0.013119, -0.008979, -0.082948, 0.091163, 0.081041, -0.038064, 0.049017, -0.001174, -0.023864, -0.009172, 0.038329, -0.024069, -0.001489, 0.044115, 0.033919, -0.044414, 0.046039, 0.047075, -0.020713, -0.067535, 0.011722, 0.046628, 0.007209, -0.004418, -0.039385, -0.02075, -0.021308, 0.077486, -0.056354, -0.014672, 0.011555, -0.116768, 0.009764, -0.057663, 0.05151, 0.024814, 0.016482, 0.002594, -0.059531, 0.009608, -0.061479, -0.102946, -0.028486, -0.003081, -0.007575, 0.002984, -0.022432, 0.051496, 0.049857, -0.030425, -0.01393, 0.008522, -0.038677, 0.003317, -0.034403, -0.03684],
    [0.011581, -0.008945, -0.005474, 0.051919, 0.021134, -0.02993, 0.028489, -0.058909, -0.013042, -0.102772, 0.013433, 0.024192, -0.04665, 0.063906, 0.012806, 0.051485, -0.012092, 0.06043, -0.056682, -0.041355, 0.020288, 0.03862, 0.065147, -0.014682, -0.001928, -0.069563, -0.009778, -0.043635, 0.062461, 0.011826, -0.012572, -0.054388, -0.005364, 0.004363, -2.4e-05, 0.009377, 0.024097, 0.064116, 0.027384, 0.045599, 0.032035, -0.005691, 0.042004, 0.002298, 0.015617, -0.009899, -0.001048, -0.005439, 0.072135, 0.016084, 0.048953, -0.017597, -0.018664, -0.073286, 0.035625, 0.067524, 0.029606, -0.063843, -0.003391, 0.044479, 0.032552, 0.040339, -0.01213, -0.014352],
    [-0.015682, 0.091829, 0.025137, 0.005886, 0.025793, -0.013291, 0.03926, -0.017671, -0.022523, -0.000981, 0.02672, 0.037233, 0.037629, 0.118604, 0.046692, 0.004519, -0.029023, -0.006312, -0.018551, 0.033738, -0.022488, 0.006982, 0.004456, 0.01724, -0.006358, 0.039866, -0.001839, -0.027784, -0.062293, -0.05135, -0.023861, -0.007244, 0.028121, 0.016962, -0.037669, -0.000519, 0.002349, 0.000488, -0.026754, -0.009932, -0.050051, -0.048042, -0.088789, -0.05168, 0.008281, -0.013075, -0.011129, -0.05048, 0.108374, -0.086538, -0.01095, -0.044444, -0.011885, 0.069455, -0.007865, -0.020365, 0.021822, -0.040953, 0.01428, -0.082536, 0.065996, -0.006857, -0.003874, -0.060735],
    [-0.032884, -0.030794, 0.071039, -0.005276, -0.032123, -0.121882, 0.08898, 0.059861, -0.01898, 0.036304, 0.054987, -0.032895, 0.012539, -0.057916, -0.015303, -0.007867, 0.034751, 0.025679, -0.018458, 0.060359, -0.044267, 0.008483, -0.034864, -0.007784, -0.05332, -0.020116, 0.030536, -0.017254, 0.027829, -0.022704, 0.008587, 0.032695, 0.066721, -0.004765, -0.010881, -0.014831, 0.022306, -0.040493, -0.056215, 0.039884, 0.01816, -0.032916, -0.079858, 0.046665, -0.023421, 0.032506, -0.051636, 0.084178, -0.063851, -0.021525, 0.050943, 0.037425, 0.040667, 0.015277, 0.092077, -0.035306, 0.035786, -0.044856, 0.021626, -0.021761, -0.031119, -0.003374, 0.006073, -0.045943],
    [-0.00469, -0.038555, 0.050184, -0.000109, 0.085212, -0.039253, -0.038485, 0.105952, -0.033768, 0.0514, -0.022146, 0.021589, 0.027447, 0.055296, -0.02612, 0.001791, 0.022221, -0.069101, -0.065962, 0.033802, -0.009139, -0.00992, 0.026354, 0.008432, 0.032003, -0.001635, -0.064255, 0.005859, 0.002367, 0.042615, 0.059371, -0.029499, 0.017775, -0.000605, -0.010821, 0.04004, 0.033104, 0.080247, -0.013435, 0.008113, -0.050935, 0.010508, -0.036848, 0.034174, -0.078278, -0.0634, 0.001037, -0.015808, -0.012592, 0.008619, 0.062438, 0.035204, -0.007785, 0.041044, -0.042373, -0.065553, 0.006673, -0.063846, -0.032882, 0.013329, 0.003824, 0.007281, -0.026475, 0.045775],
    [0.022959, -0.044246, 0.014498, -0.047606, 0.027617, 0.066877, -0.031652, -0.042353, -0.014602, 0.002969, 0.079848, -0.017253, 0.007498, 0.037982, -0.058981, 0.061269, -0.000393, 0.10502, -0.059828, -0.007561, 0.000697, 0.013924, -0.014265, -0.068799, -0.060793, -0.054715, 0.013262, 0.026248, 0.03633, -0.027125, 0.001426, -0.000644, -0.031968, -0.073921, -0.009859, 0.054169, 0.028934, -0.038139, 0.003504, -0.038941, 0.038365, -0.068307, 0.011847, -0.044247, 0.049954, 0.035817, 0.038819, 0.046135, 0.044153, 0.027632, -0.003056, 0.016109, 0.076181, -0.058804, -0.018111, 0.064359, -0.039359, 0.042707, 0.004045, -0.045128, 0.043334, -0.013037, 0.016568, 0.037954],
    [0.117257, 0.009983, -0.017948, 0.053256, -0.039844, 0.018395, 0.003577, 0.095024, -0.032068, 0.014589, 0.041878, 0.044458, -0.02785, -0.06613, -0.018599, -0.002519, -0.019714, 0.005599, -0.00656, 0.024215, -0.028216, 0.012964, -0.003557, 0.010573, -0.00877, -0.036658, -0.054953, 0.074658, -0.011942, 0.03623, 0.080541, 0.038849, -0.039652, 0.003398, -0.004887, 0.036151, -0.067138, -0.045147, 0.040383, -0.025498, -0.011441, -0.040159, 0.003042, -0.029865, -0.020379, 0.038111, -0.007223, 0.103662, -0.04236, 0.007024, 0.043941, -0.006796, -0.008458, 0.010581, -0.013293, 0.011775, -0.001993, 0.000413, -0.105991, -0.010911, 0.014083, -0.007266, -0.008787, -0.115607],
    [-0.061005, -0.072212, -0.040841, 0.044791, 0.024643, 0.06615, -0.008972, 0.035119, 0.012284, 0.061092, -0.077439, 0.084657, -0.039341, 0.014745, 0.025607, 0.07806, 0.037478, -0.031196, 0.041522, 0.009957, 0.046512, -0.039553, -0.010591, -0.040404, -0.059742, 0.05586, 0.002957, 0.027212, 0.006036, -0.104003, -0.038413, -0.032199, 0.002012, -0.005836, 0.053854, 0.003673, -0.004977, 0.012527, 0.04817, -0.002191, -0.016849, -0.032465, -0.047069, 0.012305, -0.023117, -0.033071, 0.008652, -0.031734, -0.038664, -0.01827, 0.021017, -0.00317, -0.063203, 0.041079, 0.024842, -0.022582, -0.014109, 0.061176, 0.069253, -0.046525, -0.037897, 0.01782, -0.029351, -0.033852],
    [0.045046, -0.011736, -0.045402, 0.014248, 0.019435, -0.010644, -0.063438, 0.038802, -0.04001, -0.004804, 0.01896, -0.061796, -0.025113, 0.009489, -0.022325, -0.023865, -0.03994, 0.057973, -0.002292, -0.021001, 0.022246, -0.047775, 0.055879, 0.072492, -0.027472, -0.005432, -0.062974, 0.037317, -0.028011, -0.032868, -0.028342, -0.040099, -0.054074, 0.033368, 0.088481, 0.00331, -0.157906, 0.023633, 0.044805, 0.040211, -0.054137, 0.026528, 0.114549, 0.037956, 0.020281, 0.031817, -0.00793, -0.041092, -0.026606, -0.04497, 0.009941, 0.027691, -0.030461, 0.073451, 0.025505, 0.044424, 0.00889, -0.039491, -0.00189, 0.011108, -0.021506, -0.009358, 0.009172, 0.007569],
    [0.028921, -0.015334, -0.08211, -0.003027, -0.034325, 0.024691, -0.014715, 0.045108, 0.03464, -0.024064, -0.001283, -0.085015, -0.006875, -0.027405, 0.013556, -0.046683, -0.03611, -0.005017, 0.021604, -0.031877, -0.00033, 0.000768, -0.016153, 0.005595, 0.047994, 0.105544, -0.023191, 0.032387, -0.035291, 0.061681, -0.096473, 0.036752, 0.06508, -0.065742, -0.02133, -0.00578, 0.030269, 0.006939, -0.033983, 0.05182, -0.023763, -0.063219, -0.015435, 0.020402, -0.018319, 0.01445, 0.005263, -0.012529, 0.02993, 0.086243, 0.062102, -0.038953, 0.03692, -0.010537, -0.032416, -0.041331, 0.099952, 0.009036, 0.024595, -0.016888, 0.042542, -0.034733, -0.035134, -0.008735],
    [0.009366, -0.006368, -0.053194, 0.008131, 0.041054, 0.030378, -0.056836, -0.063612, 0.018231, -0.008846, 0.02853, 0.002082, 0.004399, 0.068118, 0.000772, -0.02814, 0.048609, 0.02336, 0.001197, -0.011721, -0.066959, -0.071258, 0.020982, -0.044503, 0.040627, -0.032433, 0.032547, 0.079677, -0.034399, -0.023609, 0.019056, 0.005792, 0.050251, -0.066016, -0.009338, -0.016639, -0.009718, -0.018654, -0.04882, -0.002236, 0.035294, 0.081863, 0.037245, -0.007815, 0.005768, -0.037709, -0.009626, 0.003583, 0.029059, 0.003744, -0.064154, -0.037293, 0.060712, 0.045004, 0.046851, -0.011461, -0.031901, 0.076736, 0.012953, 0.001554, 0.013985, 0.05521, 0.084406, 0.096846],
    [0.004826, -0.06173, 0.040759, -0.012453, 0.04653, 0.087666, -0.042209, -0.035777, 0.06698, 0.020009, 0.042824, 0.033142, 0.012002, 0.002955, 0.059293, -0.022392, 0.022996, -0.098692, -0.044427, -0.04568, 0.00926, 0.053812, 0.007725, -0.02982, 0.01356, 0.067403, 0.016845, 0.024827, -0.041414, -0.025856, 0.068346, -0.017408, 0.014733, 0.005564, 0.034097, -0.029019, -0.006846, -0.038852, 0.028351, 0.049882, 0.012333, 0.009296, -0.020296, 0.018794, 0.013727, 0.047971, -0.017153, 0.05516, -0.045861, -0.023008, -0.038924, 0.007661, 0.089707, -0.026164, 0.005598, 0.016531, -0.060457, -0.044957, 0.066067, -0.012528, 0.036356, 0.073963, -0.027185, -0.067942],
    [-0.004685, 0.04584, 0.033338, -0.003309, 0.039847, 0.045133, -0.078302, 0.009677, 0.004115, -0.0711, 0.068981, -0.010771, -0.012154, -0.075188, -0.038748, 0.018679, 0.011786, 0.025683, 0.027435, -0.054427, 0.074337, 0.036419, -0.02859, -0.007752, 0.021313, -0.023087, 0.04831, 0.030886, 0.053006, -0.005767, -0.019618, 0.000513, 0.006732, 0.062621, -0.001482, -0.00355, 0.022004, 0.090432, 0.005014, -0.029613, -0.01646, -0.017211, -0.009104, -0.080262, -0.069151, -0.02167, 0.031721, -0.005399, -0.032579, -0.065012, -0.018603, -0.014062, -0.06411, -0.041181, -0.026983, -0.022993, -0.032793, 0.037015, -0.022752, 0.03703, -0.00735, 0.004576, -0.025786, 0.05624],
    [-0.02573, 0.031056, 0.040051, -0.038968, -0.053356, 0.021724, -0.014021, 0.001851, -0.005634, 0.115428, -0.033227, -0.055964, 0.032771, 0.003304, 0.025917, 0.077611, -0.002486, -0.019741, 0.037706, 0.022407, 0.025092, -0.039963, -0.055065, 0.059211, -0.025772, 0.045, -0.018101, 0.011125, 0.000406, -0.008016, -0.004403, -0.019187, 0.059623, 0.080609, 0.063497, -0.031725, 0.046319, -0.107046, -0.053176, 0.004675, 0.030244, 0.03534, 0.090671, 0.03622, -0.052651, -0.044044, 0.002719, 0.017682, 0.030743, 0.004296, -0.010828, 0.026897, 0.038016, -0.024108, 0.038248, 0.020658, -0.009197, 0.033026, -0.064, 0.02666, -0.066895, -0.071492, 0.02115, 0.005917],
    [-0.053808, 0.013495, -0.033773, -0.021253, -0.029144, -0.051534, 0.026192, -0.079855, -0.035923, -0.07814, -0.029459, -0.032969, -0.062451, -0.025102, -0.030169, -0.057119, -0.03658, 0.009749, 0.042459, 0.041557, -0.006544, -0.00948, 0.030498, -0.022337, 0.020377, 0.016301, -0.038827, -0.054839, -0.009044, -0.008738, 0.075122, -0.090266, 0.016023, -0.016582, -0.010124, -0.073328, -0.026337, -0.044574, -0.025421, -0.009036, 0.026104, 0.037494, 0.030377, -0.073592, 0.031175, 0.035744, 0.038118, 0.010134, -0.013976, 0.073659, -0.008907, -0.02301, -0.019953, -0.086581, -0.058799, -0.086742, 0.040327, -0.007796, 0.026768, 0.017118, -0.04261, 0.0064, 0.031435, -0.017714],
]

_CODEBOOK_SQL = (
    "CAST(["
    + ",".join("[" + ",".join(str(x) for x in c) + "]" for c in _IVF_CODEBOOK)
    + "] AS DOUBLE[][])"
)


def _unit_dots_frame(e):
    """(vec_id, uvec, dots[K]) for the frozen IVF codebook via ONE
    mapInArrow NumPy kernel, localCheckpoint'ed so every consumer
    branch (inverted lists, query probes, ground truth) reads the
    materialized rows instead of re-running the folds (r18). The norm
    and the K centroid dots are _fold_dot folds, and uvec divides
    elementwise like transform(x -> x/nrm), so all three equal the
    interpreted zip_with/aggregate form bit for bit. Argmax/rank logic
    stays Spark (posexplode + window over the K dots of a row)."""
    cb = np.array(_IVF_CODEBOOK, dtype=np.float64)

    def _batches(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            x = _emb_f64(b)
            u = x / np.sqrt(_fold_dot(x, x))[:, None]
            dots = _fold_dot(u[:, None, :], cb[None])
            yield pa.record_batch(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    pa.array(u.tolist(), type=pa.list_(pa.float64())),
                    pa.array(dots.tolist(), type=pa.list_(pa.float64())),
                ],
                names=["vec_id", "uvec", "dots"],
            )

    return (
        e.select("vec_id", "embedding")
        .mapInArrow(
            _batches, "vec_id long, uvec array<double>, dots array<double>"
        )
        .localCheckpoint()
    )


_ORACLE_ANN_IVF = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (
        SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n
    ),
    c AS (
        SELECT generate_subscripts(cb, 1) - 1 AS cid, unnest(cb) AS cvec
        FROM (SELECT {_CODEBOOK_SQL} AS cb)
    ),
    inv AS (
        SELECT vec_id, uvec, cid FROM (
            SELECT u.vec_id, u.uvec, c.cid,
                   row_number() OVER (PARTITION BY u.vec_id ORDER BY
                       list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                               p -> p[1] * p[2])) DESC,
                       c.cid) AS rn
            FROM u CROSS JOIN c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qvec, cid FROM (
            SELECT u.vec_id AS query_id, u.uvec AS qvec, c.cid,
                   row_number() OVER (PARTITION BY u.vec_id ORDER BY
                       list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                               p -> p[1] * p[2])) DESC,
                       c.cid) AS rn
            FROM u CROSS JOIN c
            WHERE u.vec_id < {N_QUERIES}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT p.query_id, i.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(p.qvec, i.uvec),
                                       z -> z[1] * z[2])) AS cosine
        FROM probes p JOIN inv i USING (cid)
        WHERE p.query_id <> i.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           round(cosine, 6) AS cosine_r
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= {TOP_K}
"""


@register("similarity_ann_ivf", oracle=_ORACLE_ANN_IVF)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) coarse quantization with a frozen
    trained codebook — the other standard scale path next to
    `similarity_ann_lsh`.

    The codebook is k-means output (`train_ivf_codebook`: seeded Lloyd,
    trained once on a sample, frozen into the plan as literals). Index:
    every corpus vector joins its argmax-dot centroid list — at 100 TB
    the corpus shuffles ONCE on cluster id while the 16-row codebook
    stays a plan literal. Search: each query probes its `_IVF_NPROBE`
    nearest lists, exact cosine over probed candidates only (~nprobe/K
    of the corpus), window top-k. Deterministic end-to-end, so the
    oracle is a full DuckDB twin (same frozen codebook, same
    sequential-sum dots); recall vs brute force is asserted in
    tests/test_properties.py."""
    from pyspark.sql import Window

    # Assignment dots come from the shared _unit_dots_frame kernel;
    # ranking stays a Spark window over the exploded K dots per row.
    e = load(spark, sf_dir, "embeddings")
    ud = _unit_dots_frame(e)

    def _nearest(df, id_col, keep_n):
        return (
            df.select(
                "*", F.posexplode("dots").alias("cid", "dot")
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy(id_col).orderBy(
                        F.col("dot").desc(), F.col("cid")
                    )
                ),
            )
            .filter(F.col("rn") <= keep_n)
        )

    inv = _nearest(ud, "vec_id", 1).select("vec_id", "uvec", "cid")
    probes = _nearest(
        ud.filter(F.col("vec_id") < N_QUERIES), "vec_id", _IVF_NPROBE
    ).select(
        F.col("vec_id").alias("query_id"), F.col("uvec").alias("qvec"), "cid"
    )
    cand = (
        F.broadcast(probes)
        .join(inv, "cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _dot(F.col("qvec"), F.col("uvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "similarity_quantize_int8",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, vec,
               127.0 / greatest(list_max(list_transform(vec, x -> abs(x))),
                                1e-30) AS scale
        FROM v
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           array_to_string(
               list_transform(vec, x -> CAST(CAST(round(x * scale) AS INT) AS VARCHAR)),
               '|') AS qvec
    FROM s
    """,
)
def similarity_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization (per-vector absmax scale,
    the faiss/GGML SQ8 recipe): 4× memory reduction for the ANN index
    side, computed entirely in JVM higher-order expressions. The
    scale is materialized in its own projection BEFORE the transform
    lambda references it (interpreted HOF lambdas re-evaluate every
    reference — the CollapseProject trap). Cross-engine exactness:
    both engines do the identical double-precision multiply then
    round-half-away-from-zero, so the int codes match bit-for-bit."""
    e = load(spark, sf_dir, "embeddings")
    v = e.select("vec_id", _vec_d().alias("vec"))
    s = v.select(
        "vec_id",
        "vec",
        (
            127.0
            / F.greatest(
                F.array_max(F.transform(F.col("vec"), F.abs)), F.lit(1e-30)
            )
        ).alias("scale"),
    )
    return s.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.expr(
            "array_join(transform(vec, x -> "
            "CAST(CAST(round(x * scale) AS INT) AS STRING)), '|')"
        ).alias("qvec"),
    )


_ORACLE_KMEANS_ASSIGN = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (
        SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n
    ),
    c AS (
        SELECT generate_subscripts(cb, 1) - 1 AS cid, unnest(cb) AS cvec
        FROM (SELECT {{cb}} AS cb)
    ),
    scored AS (
        SELECT u.vec_id, c.cid,
               list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                       p -> p[1] * p[2])) AS dot
        FROM u CROSS JOIN c
    ),
    a AS (
        SELECT vec_id, cid, dot FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    lab AS (
        SELECT a.cid, e.label, count(*) AS nl
        FROM a JOIN embeddings e USING (vec_id)
        GROUP BY a.cid, e.label
    ),
    top AS (
        SELECT cid, CAST(label AS BIGINT) AS top_label,
               CAST(nl AS BIGINT) AS top_label_n
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY cid ORDER BY nl DESC, label) AS rn
              FROM lab)
        WHERE rn = 1
    ),
    stats AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
               round(avg(dot), 6) AS avg_cos_r
        FROM a GROUP BY cid
    )
    SELECT CAST(s.cid AS BIGINT) AS cid, s.n_vecs, s.avg_cos_r,
           t.top_label, t.top_label_n
    FROM stats s JOIN top t USING (cid)
""".format(cb="__CB__").replace("__CB__", _CODEBOOK_SQL)


@register("similarity_kmeans_assign", oracle=_ORACLE_KMEANS_ASSIGN)
def similarity_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster assignment with the frozen trained codebook
    (`_IVF_CODEBOOK`) — the inference half of semantic clustering:
    every unit vector joins its argmax-cosine centroid, then per-
    cluster diagnostics come out of one small aggregate: member
    count, mean cosine-to-centroid (cohesion), and the dominant
    ground-truth label with its support (purity numerator).

    Scale shape: the codebook is a PLAN LITERAL; the corpus is scored
    in a single map stage (a mapInArrow NumPy kernel: 16 dots/row +
    argmax, zero scoring shuffle) and shuffles ONCE on cluster id for
    the stats — the centroid-assign pattern `train_ivf_codebook`
    iterates, run once. The label-majority window runs over
    ≤ K×|labels| rows."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    # Scoring is a pure map stage (NO shuffle, NO window, NO per-row
    # candidate set): one mapInArrow kernel (r17) replaces 16
    # interpreted zip_with/aggregate folds per row; the dots are
    # _fold_dot folds. Tie-break: the lowest cid among equal dots
    # (dot DESC, cid ASC). NaN posture (ADVICE r17 #1): a zero-norm
    # embedding (none in the data) makes every dot NaN, and
    # _argmax_first gives it cid 0, the pre-r17 Spark when-chain's
    # answer (NaN = NaN is true in Spark SQL equality). Two rejected
    # JVM forms for the record: 16 fully-unrolled 64-term codegen
    # chains spent 7 s in analysis/codegen of the ~2k-node tree, and
    # crossJoin+rank ships a 16x-expanded row stream through an
    # exchange. Only the three needed columns cross the Python boundary.
    cb = np.array(_IVF_CODEBOOK, dtype=np.float64)

    def _score_batches(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            x = _emb_f64(b)
            u = x / np.sqrt(_fold_dot(x, x))[:, None]
            best, cid = _argmax_first(_fold_dot(u[:, None, :], cb[None]))
            yield pa.record_batch(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    b.column(b.schema.get_field_index("label")),
                    pa.array(cid, type=pa.int32()),
                    pa.array(best, type=pa.float64()),
                ],
                names=["vec_id", "label", "cid", "dot"],
            )

    scored = e.select("vec_id", "label", "embedding").mapInArrow(
        _score_batches, "vec_id long, label int, cid int, dot double"
    )
    assigned = scored.localCheckpoint()  # feeds stats + majority-label aggs
    stats = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.avg("dot"), 6).alias("avg_cos_r"),
    )
    lab = assigned.groupBy("cid", "label").agg(
        F.count(F.lit(1)).alias("nl")
    )
    top = (
        lab.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(F.col("nl").desc(), "label")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            F.col("label").cast("long").alias("top_label"),
            F.col("nl").cast("long").alias("top_label_n"),
        )
    )
    return stats.join(top, "cid").select(
        F.col("cid").cast("long").alias("cid"),
        "n_vecs",
        "avg_cos_r",
        "top_label",
        "top_label_n",
    )


# Frozen Rademacher (+/-1) projection matrix for Johnson-Lindenstrauss
# dimensionality reduction: k=8 rows over the 64-dim input, seeded
# independently of the LSH planes. Scaling by 1/sqrt(k) makes the
# projection norm an unbiased estimator of the input norm.
_JL_K = 8
_jl_rng = random.Random(11)
_JL_SIGNS = [
    [float(_jl_rng.choice((1, -1))) for _ in range(_DIM)] for _ in range(_JL_K)
]
_JL_SCALE = repr(1.0 / 8.0 ** 0.5)

from hive_task_spark.functions import arrays as _arrays

_JL_SIGNS_SQL = (
    "CAST(["
    + ",".join("[" + ",".join(str(x) for x in r) + "]" for r in _JL_SIGNS)
    + "] AS DOUBLE[][])"
)

_ORACLE_DIM_REDUCTION = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    p AS (
        SELECT vec_id, nrm,
               [{",".join(
                   f"list_sum(list_transform(list_zip(vec, m.sm[{j}]),"
                   f" z -> z[1] * z[2])) * {_JL_SCALE}"
                   for j in range(1, _JL_K + 1)
               )}] AS proj
        FROM n, (SELECT {_JL_SIGNS_SQL} AS sm) m
    )
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(proj, x -> x * x))) / nrm, 6)
               AS norm_ratio_r,
           {{proj_s}} AS proj_s
    FROM p
""".format(proj_s=_arrays._djoin_sql("proj", 4))


@register("similarity_dim_reduction", oracle=_ORACLE_DIM_REDUCTION)
def similarity_dim_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    64-dim embedding onto 8 frozen Rademacher (+/-1) directions scaled
    by 1/sqrt(k), emitting the reduced vector (serialized edge) and
    the norm-preservation ratio ||Pv||/||v|| that JL bounds around 1 —
    the cheap pre-filter representation for coarse candidate
    generation before exact rerank (and the distance-preservation
    check that validates it).

    Scale shape: pure map stage — the 8x64 sign matrix lives in the
    plan as a literal (no join, no shuffle); one mapInArrow NumPy
    kernel computes the input norm and the 8 projection dots per row.
    At 100 TB this runs at scan speed and cuts downstream ANN shuffle
    payload 8x, the same payload discipline as the LSH band keys."""
    from hive_task_spark.functions.arrays import _djoin

    e = load(spark, sf_dir, "embeddings")
    # r18: the norm and the 8 projection dots are _fold_dot folds,
    # scaled by the same 1/sqrt(k) literal; the proj-norm fold, the
    # 6dp round and the serialized array edge stay in Spark.
    sm = np.array(_JL_SIGNS, dtype=np.float64)  # k x dim
    jl_scale = float(_JL_SCALE)

    def _jl_batches(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            x = _emb_f64(b)
            proj = _fold_dot(x[:, None, :], sm[None]) * jl_scale
            yield pa.record_batch(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    pa.array(np.sqrt(_fold_dot(x, x))),
                    pa.array(proj.tolist(), type=pa.list_(pa.float64())),
                ],
                names=["vec_id", "nrm", "proj"],
            )

    p = e.select("vec_id", "embedding").mapInArrow(
        _jl_batches, "vec_id long, nrm double, proj array<double>"
    )
    return p.select(
        "vec_id",
        F.round(
            F.sqrt(
                F.aggregate("proj", F.lit(0.0), lambda a, x: a + x * x)
            )
            / F.col("nrm"),
            6,
        ).alias("norm_ratio_r"),
        _djoin(F.col("proj"), 4).alias("proj_s"),
    )


_ORACLE_SEMANTIC_DEDUP = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (
        SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n
    ),
    c AS (
        SELECT generate_subscripts(cb, 1) - 1 AS cid, unnest(cb) AS cvec
        FROM (SELECT {{cb}} AS cb)
    ),
    scored AS (
        SELECT u.vec_id, u.uvec, c.cid,
               list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                       p -> p[1] * p[2])) AS dot
        FROM u CROSS JOIN c
    ),
    a AS (
        SELECT vec_id, uvec, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT x.cid,
               list_sum(list_transform(list_zip(x.uvec, y.uvec),
                                       z -> z[1] * z[2])) AS cos
        FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
    )
    SELECT CAST(cid AS BIGINT)                                AS cid,
           CAST(count(*) AS BIGINT)                           AS n_pairs,
           CAST(count(*) FILTER (WHERE cos > 0.42) AS BIGINT) AS n_dups,
           round(max(cos), 4)                                 AS max_cos_r
    FROM pairs
    GROUP BY cid
""".format(cb="__CB__").replace("__CB__", _CODEBOOK_SQL)


@register("similarity_semantic_dedup", oracle=_ORACLE_SEMANTIC_DEDUP)
def similarity_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: exact pairwise cosine is
    computed only WITHIN each frozen-codebook cluster, never across —
    the standard way to make embedding dedup subquadratic (pair volume
    drops by ~K when clusters are balanced; recall loss is exactly the
    cross-cluster near-dups, the documented SemDeDup trade). Per
    cluster: candidate pairs examined, pairs over the duplicate
    threshold (0.42 on this synthetic corpus; production text models
    sit near 0.95), and the tightest pair. Assignment and the
    pairwise matrix are BOTH numpy kernels (mapInPandas assign, then
    one cluster-keyed applyInPandas); the
    pair join keys on cluster id, so the corpus shuffles ONCE; the
    within-cluster pairwise matrix is ONE numpy matmul per cluster in
    an Arrow-batched applyInPandas kernel — the sanctioned Python
    drop-down for dense linear algebra (the interpreted zip_with
    formulation evaluated 50M lambda steps and ran 25x slower at
    sf0.01; BLAS does the same flops in milliseconds). max_cos rounds
    at 4dp: matmul sums in SIMD order, not list order, so the edge
    absorbs summation-order noise."""
    e = load(spark, sf_dir, "embeddings")

    def _assign_batches(it):
        import numpy as np
        import pandas as pd

        cb = np.array(_IVF_CODEBOOK)  # 16 x 64, the frozen codebook
        for pdf in it:
            m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            cids = (m @ cb.T).argmax(axis=1)  # ties -> lowest cid
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cids.astype("int64"),
                    "uvec": list(m),
                }
            )

    assigned = e.select("vec_id", "embedding").mapInPandas(
        _assign_batches, "vec_id long, cid long, uvec array<double>"
    )

    def _cluster_pair_stats(key, pdf):
        import numpy as np
        import pandas as pd

        m = np.stack(pdf["uvec"].to_numpy())
        if len(m) < 2:
            return pd.DataFrame(
                {"cid": [], "n_pairs": [], "n_dups": [], "max_cos_r": []}
            )
        g = m @ m.T
        iu = np.triu_indices(len(m), k=1)
        cos = g[iu]
        return pd.DataFrame(
            {
                "cid": [int(key[0])],
                "n_pairs": [len(cos)],
                "n_dups": [int((cos > 0.42).sum())],
                "max_cos_r": [round(float(cos.max()), 4)],
            }
        )

    return assigned.groupBy("cid").applyInPandas(
        _cluster_pair_stats,
        "cid long, n_pairs long, n_dups long, max_cos_r double",
    )


# Product-quantization sub-codebooks: the first 4 frozen IVF centroids
# sliced into 4 x 16-dim subspaces (deterministic plan literals, same
# freezing discipline as `_IVF_CODEBOOK` itself).
_PQ_M, _PQ_K, _PQ_SUBDIM = 4, 4, 16
_PQ_CB = [
    [_IVF_CODEBOOK[c][s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM] for c in range(_PQ_K)]
    for s in range(_PQ_M)
]


def _pq_oracle() -> str:
    dist_cols = []
    for s in range(_PQ_M):
        lo = s * _PQ_SUBDIM + 1
        hi = (s + 1) * _PQ_SUBDIM
        for c in range(_PQ_K):
            lit = "[" + ",".join(str(x) for x in _PQ_CB[s][c]) + "]"
            dist_cols.append(
                f"list_sum(list_transform(list_zip(vec[{lo}:{hi}], {lit}), "
                f"p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d{s}_{c}"
            )
    code_cases = []
    for s in range(_PQ_M):
        d = [f"d{s}_{c}" for c in range(_PQ_K)]
        code_cases.append(
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} AND {d[0]} <= {d[3]} THEN 0 "
            f"WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1 "
            f"WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END"
        )
    errs = " + ".join(
        f"least(d{s}_0, d{s}_1, d{s}_2, d{s}_3)" for s in range(_PQ_M)
    )
    codes = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in code_cases)
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    d AS (SELECT vec_id, {", ".join(dist_cols)} FROM v)
    SELECT vec_id, {codes} AS pq_code, round({errs}, 6) AS err_r
    FROM d
    """


@register("similarity_product_quantization", oracle=_pq_oracle())
def similarity_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ, the faiss IVF-PQ compression stage):
    each 64-dim vector splits into 4 x 16-dim subspaces, each subspace
    snaps to its nearest entry in a FROZEN 4-entry sub-codebook, and
    the vector is stored as 4 small codes (here 8 bits total vs 256
    bytes — a 256x index compression) plus a reconstruction error.
    Like `similarity_kmeans_assign` the codebooks are plan literals
    and scoring is a pure map stage: 16 subspace-distance expressions
    per row, argmin by CASE with the deterministic <=-chain
    tie-break, ZERO shuffle anywhere (the output is per-vector).
    Distances on both engines are the identical ascending-dimension
    fold, so codes match exactly and the summed error is bit-stable
    before its 6dp rounding."""
    e = load(spark, sf_dir, "embeddings")
    # r17: one mapInArrow NumPy kernel replaces the 64 interpreted
    # zip_with/aggregate subspace-distance folds. Each distance is the
    # _fold_dot of the difference with itself, the argmin replays the
    # exact <=-chain tie-break, and the reconstruction error sums the
    # per-subspace minima in ascending-s order from a 0.0 seed. The 6dp
    # rounding and the code-string assembly stay in Spark. NaN posture
    # (ADVICE r17 #1): a NaN component poisons all four distances of
    # its subspace equally, so the <=-chain (all false -> code 3) and
    # np.minimum (NaN err) match the when-chain/F.least form; the
    # partial-NaN case where F.least skips NaN cannot arise (the
    # codebook is a finite literal).
    cb = np.array(_PQ_CB, dtype=np.float64)  # (m, k, subdim)
    m, subdim = _PQ_M, _PQ_SUBDIM

    def _pq_batches(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            x = _emb_f64(b)
            err = np.zeros(b.num_rows)
            code_cols = []
            for s in range(m):
                diff = x[:, None, s * subdim : (s + 1) * subdim] - cb[s][None]
                d = _fold_dot(diff, diff).T  # k x n
                c0 = (d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3])
                c1 = ~c0 & (d[1] <= d[2]) & (d[1] <= d[3])
                c2 = ~c0 & ~c1 & (d[2] <= d[3])
                code = np.where(c0, 0, np.where(c1, 1, np.where(c2, 2, 3)))
                code_cols.append(pa.array(code.astype(np.int32)))
                least = np.minimum(np.minimum(d[0], d[1]), np.minimum(d[2], d[3]))
                err += least  # ascending-s fold from the 0.0 seed
            yield pa.record_batch(
                [b.column(b.schema.get_field_index("vec_id"))]
                + code_cols
                + [pa.array(err, type=pa.float64())],
                names=["vec_id"] + [f"c{s}" for s in range(m)] + ["err"],
            )

    schema = (
        "vec_id long, "
        + ", ".join(f"c{s} int" for s in range(m))
        + ", err double"
    )
    d = e.select("vec_id", "embedding").mapInArrow(_pq_batches, schema)
    pq_code = F.concat_ws(
        "|", *[F.col(f"c{s}").cast("string") for s in range(m)]
    )
    return d.select(
        "vec_id", pq_code.alias("pq_code"), F.round("err", 6).alias("err_r")
    )


_RRF_K = 60
_RRF_TERMS = ["spark", "data", "query"]
_RRF_QVEC_SQL = "[" + ",".join(str(x) for x in _IVF_CODEBOOK[0]) + "]"
_RRF_QVEC_SPARK = "array(" + ",".join(f"{x}D" for x in _IVF_CODEBOOK[0]) + ")"


@register(
    "similarity_hybrid_rrf",
    oracle=f"""
    WITH lex AS (
        SELECT doc_id,
               CAST({" + ".join(
                   f"len(list_filter(string_split(lower(text), ' '), w -> w = '{t}'))"
                   for t in _RRF_TERMS)} AS BIGINT) AS lex_score
        FROM documents
    ),
    lr AS (
        SELECT doc_id, lex_score,
               CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id)
                    AS BIGINT) AS r_lex
        FROM lex
    ),
    sem AS (
        SELECT vec_id AS doc_id,
               list_sum(list_transform(
                   list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                            {_RRF_QVEC_SQL}),
                   p -> p[1] * p[2])) AS dot
        FROM embeddings
    ),
    sr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY dot DESC, doc_id) AS BIGINT)
                   AS r_sem
        FROM sem
    )
    SELECT lr.doc_id, lr.r_lex, sr.r_sem,
           CAST(round(1000000.0 / ({_RRF_K} + lr.r_lex)
                      + 1000000.0 / ({_RRF_K} + sr.r_sem)) AS BIGINT)
               AS rrf_micro
    FROM lr JOIN sr ON lr.doc_id = sr.doc_id
    WHERE lr.r_lex <= 50 OR sr.r_sem <= 50
    """,
)
def similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (k=60): the
    industry-standard way to combine a LEXICAL ranking (term-count
    score over text, the `text_bm25_scoring` family) with a SEMANTIC
    ranking (dot product against a frozen query embedding, the ANN
    family) without score calibration — only RANKS enter the fusion,
    so the fused score 1/(k+r_lex) + 1/(k+r_sem) is a pure function
    of exact integers, emitted as micro-units. Docs and vectors join
    on the shared id. The global rankings here are window row_numbers
    on the scored relation; at 100 TB each ranking comes from its
    engine's top-k (TakeOrdered / ANN index) and only the k-sized
    heads fuse — identical semantics, bounded state."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    lex = d.select(
        "doc_id",
        sum(
            (
                F.expr(
                    f"size(filter(split(lower(text), ' '), w -> w = '{t}'))"
                ).cast("long")
                for t in _RRF_TERMS
            ),
            start=F.lit(0).cast("long"),
        ).alias("lex_score"),
    )
    lr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("lex_score").desc(), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    sem = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        _dot(_vec_d(), F.expr(_RRF_QVEC_SPARK)).alias("dot"),
    )
    sr = sem.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("dot").desc(), "doc_id"))
        .cast("long")
        .alias("r_sem"),
    )
    fused = lr.join(sr, "doc_id").filter(
        (F.col("r_lex") <= 50) | (F.col("r_sem") <= 50)
    )
    return fused.select(
        "doc_id",
        "r_lex",
        "r_sem",
        F.round(
            F.lit(1000000.0) / (_RRF_K + F.col("r_lex"))
            + F.lit(1000000.0) / (_RRF_K + F.col("r_sem")),
            0,
        )
        .cast("long")
        .alias("rrf_micro"),
    )


def _mmr_oracle() -> str:
    """Generate the chained-CTE DuckDB twin of the 5-pick greedy MMR
    loop (one CTE pair per greedy step)."""
    dotsql = (
        "list_sum(list_transform(list_zip(c.vec, s.vec), p -> p[1] * p[2]))"
    )
    parts = [
        """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    q AS (SELECT * FROM n WHERE vec_id = 0),
    cand AS (
        SELECT c.vec_id, c.vec, c.nrm,
               list_sum(list_transform(list_zip(c.vec, q.vec),
                                       p -> p[1] * p[2])) / (c.nrm * q.nrm)
                   AS rel
        FROM n c, q WHERE c.vec_id >= 1
    ),
    c12 AS (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 12),
    p1 AS (
        SELECT vec_id, vec, nrm, rel, 1 AS pick, 0.7 * rel AS score
        FROM c12 ORDER BY rel DESC, vec_id LIMIT 1
    ),
    s1 AS (SELECT vec_id, vec, nrm, rel, pick, score FROM p1)"""
    ]
    for i in range(2, 6):
        p, s = i - 1, i
        parts.append(f"""
    sc{i} AS (
        SELECT c.vec_id, c.vec, c.nrm, c.rel,
               0.7 * c.rel - 0.3 * max({dotsql} / (c.nrm * s.nrm)) AS score
        FROM c12 c CROSS JOIN s{p} s
        WHERE c.vec_id NOT IN (SELECT vec_id FROM s{p})
        GROUP BY c.vec_id, c.vec, c.nrm, c.rel
    ),
    p{i} AS (
        SELECT vec_id, vec, nrm, rel, {i} AS pick, score
        FROM sc{i} ORDER BY score DESC, vec_id LIMIT 1
    ),
    s{i} AS (SELECT * FROM s{p} UNION ALL SELECT * FROM p{i})""")
    body = ",".join(parts)
    return f"""{body}
    SELECT CAST(pick AS BIGINT) AS pick, vec_id,
           round(rel, 6) AS rel_r, round(score, 6) AS score_r
    FROM s5
    """


@register("similarity_mmr_rerank", oracle=_mmr_oracle())
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    from the top-12 cosine candidates for query vec 0, greedily pick
    5 results maximizing 0.7*relevance - 0.3*max-similarity-to-
    already-picked — the diversity-aware final stage of a retrieval
    pipeline. Structure at scale: the expensive stage is the
    candidate fetch (any ANN operator here); the greedy loop runs on
    the TINY candidate set — each of the 4 unrolled steps is an
    anti-join + a broadcast pairwise-similarity max + a 1-row top-1,
    all on <=12 rows, with `localCheckpoint` pinning the selected
    set so the plan stays linear in k. The oracle unrolls the same
    greedy loop as chained CTEs. Scores round at the 6dp cosine
    grain."""
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec").alias("qvec"), F.col("nrm").alias("qnrm")
    )
    cand = (
        vecs.filter(F.col("vec_id") >= 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "vec",
            "nrm",
            (_dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm"))).alias(
                "rel"
            ),
        )
    )
    c12 = (
        cand.orderBy(F.col("rel").desc(), "vec_id").limit(12).localCheckpoint()
    )
    selected = (
        c12.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id", "vec", "nrm", "rel",
            F.lit(1).alias("pick"),
            (F.lit(0.7) * F.col("rel")).alias("score"),
        )
        .localCheckpoint()
    )
    for i in range(2, 6):
        sel_small = selected.select(
            F.col("vec_id").alias("s_id"),
            F.col("vec").alias("svec"),
            F.col("nrm").alias("snrm"),
        )
        rem = c12.join(
            selected.select("vec_id"), "vec_id", "left_anti"
        )
        pairs = rem.crossJoin(F.broadcast(sel_small))
        sim = _dot(F.col("vec"), F.col("svec")) / (F.col("nrm") * F.col("snrm"))
        ms = (
            pairs.withColumn("sim", sim)
            .groupBy("vec_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        pick = (
            rem.join(ms, "vec_id")
            .select(
                "vec_id", "vec", "nrm", "rel",
                F.lit(i).alias("pick"),
                (F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("max_sim")).alias(
                    "score"
                ),
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        F.col("pick").cast("long").alias("pick"),
        "vec_id",
        F.round("rel", 6).alias("rel_r"),
        F.round("score", 6).alias("score_r"),
    )


@register(
    "similarity_knn_classify",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.label,
               list_sum(list_transform(list_zip(q.vec, c.vec),
                                       p -> p[1] * p[2])) / (q.nrm * c.nrm)
                   AS cosine,
               c.vec_id AS neighbor_id
        FROM n q JOIN n c
          ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ),
    top5 AS (
        SELECT query_id, label, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
    ),
    votes AS (
        SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_votes
        FROM top5 WHERE rnk <= 5 GROUP BY query_id, label
    )
    SELECT query_id,
           CAST(label AS BIGINT)  AS predicted_label,
           n_votes
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC, label) AS vr
        FROM votes
    )
    WHERE vr = 1
    """,
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification (k=5, cosine metric, majority
    vote with deterministic smallest-label tie-break): query vectors
    classify against the labeled corpus — the eval-harness operator
    behind every embedding-quality report. Same broadcast-queries x
    partitioned-corpus shape as `similarity_topk_bruteforce` (swap in
    any ANN operator as the candidate stage at 100 TB); voting is a
    per-query aggregate over k rows, then a 1-row argmax window.
    Counts are exact; no float crosses the edge."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    corpus = vecs.filter(F.col("vec_id") >= N_QUERIES)
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "label",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm"))).alias(
            "cosine"
        ),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    votes = (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 5)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), "label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("label").cast("long").alias("predicted_label"),
            "n_votes",
        )
    )


def _recall_oracle() -> str:
    from hive_task_spark.registry import ORACLES

    return f"""
    WITH ann AS ({ORACLES["similarity_ann_lsh"]}),
    bf AS ({ORACLES["similarity_topk_bruteforce"]}),
    hits AS (
        SELECT b.query_id,
               count(a.neighbor_id) AS n_hits
        FROM bf b LEFT JOIN ann a
          ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        GROUP BY b.query_id
    )
    SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
           round(n_hits / 5.0, 1) AS recall_at5_r
    FROM hits
    """


@register("similarity_recall_report", oracle=_recall_oracle())
def similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation AS A QUERY: per-query recall@5 of the
    sign-LSH index against the brute-force ground truth — the eval
    harness every vector-store deployment runs after (re)indexing,
    here expressed as a join of the two existing operators (and the
    oracle literally composes their two DuckDB twins as CTEs, so the
    report is verified end-to-end through both pipelines). Cost =
    the two candidate pipelines + one 50-row join; at 100 TB you
    sample the query set, never the corpus."""
    ann = similarity_ann_lsh(spark, sf_dir).select("query_id", "neighbor_id")
    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = (
        bf.alias("b")
        .join(
            ann.alias("a"),
            (F.col("b.query_id") == F.col("a.query_id"))
            & (F.col("b.neighbor_id") == F.col("a.neighbor_id")),
            "left",
        )
        .groupBy(F.col("b.query_id").alias("query_id"))
        .agg(F.count(F.col("a.neighbor_id")).alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits") / 5.0, 1).alias("recall_at5_r"),
    )


@register(
    "similarity_rec_diversity_eval",
    oracle=f"""
    WITH rec AS ({_ORACLE_TOPK}),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    pairs AS (
        SELECT a.query_id,
               1.0 - list_sum(list_transform(list_zip(x.vec, y.vec),
                                             p -> p[1] * p[2]))
                     / (x.nrm * y.nrm) AS dist
        FROM rec a
        JOIN rec b ON b.query_id = a.query_id
                  AND a.neighbor_id < b.neighbor_id
        JOIN n x ON x.vec_id = a.neighbor_id
        JOIN n y ON y.vec_id = b.neighbor_id
    ),
    cov AS (
        SELECT count(DISTINCT neighbor_id) * 1.0
               / (SELECT count(*) FROM embeddings) AS c
        FROM rec
    )
    SELECT p.query_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(p.dist), 6) AS ild_r,
           round(any_value(cov.c), 6) AS catalog_coverage_r
    FROM pairs p, cov
    GROUP BY p.query_id
    """,
)
def similarity_rec_diversity_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recommender-list quality beyond relevance — the two metrics a
    ranking eval needs next to NDCG: intra-list diversity (mean
    pairwise cosine DISTANCE among each query's top-k — low ILD
    means the list is k near-copies) and catalog coverage (what
    fraction of the corpus any list surfaces — low coverage means
    popularity collapse). Composes the brute-force top-k row as the
    recommender under test; pairwise distances are k(k-1)/2 per
    query over broadcast-joined vectors, so eval cost is
    O(queries * k^2), independent of corpus size. The same
    aggregation evaluates any ANN variant by swapping the rec CTE —
    which is exactly how the MMR rerank row justifies its lambda."""
    rec = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    vecs = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", _vec_d().alias("vec"))
        .withColumn("nrm", _norm(F.col("vec")))
    )
    total = load(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    cov = (
        rec.agg(F.countDistinct("neighbor_id").alias("n_rec"))
        .crossJoin(F.broadcast(total))
        .select((F.col("n_rec") / F.col("n_corpus")).alias("c"))
    )
    a = rec.alias("a")
    b = rec.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") < F.col("b.neighbor_id")),
        )
        .join(
            F.broadcast(
                vecs.select(
                    F.col("vec_id").alias("xid"),
                    F.col("vec").alias("xvec"),
                    F.col("nrm").alias("xnrm"),
                )
            ),
            F.col("a.neighbor_id") == F.col("xid"),
        )
        .join(
            F.broadcast(
                vecs.select(
                    F.col("vec_id").alias("yid"),
                    F.col("vec").alias("yvec"),
                    F.col("nrm").alias("ynrm"),
                )
            ),
            F.col("b.neighbor_id") == F.col("yid"),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            (
                1.0
                - _dot(F.col("xvec"), F.col("yvec"))
                / (F.col("xnrm") * F.col("ynrm"))
            ).alias("dist"),
        )
    )
    return pairs.crossJoin(F.broadcast(cov)).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("dist"), 6).alias("ild_r"),
        F.round(F.first("c"), 6).alias("catalog_coverage_r"),
    )


@register(
    "similarity_filtered_search",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    scored AS (
        SELECT q.vec_id AS query_id,
               c.vec_id AS neighbor_id,
               CAST(c.label AS BIGINT) AS label,
               list_sum(list_transform(list_zip(q.vec, c.vec),
                                       p -> p[1] * p[2]))
                   / (q.nrm * c.nrm) AS cosine
        FROM n q
        JOIN n c ON q.vec_id < {N_QUERIES}
               AND q.vec_id <> c.vec_id
               AND c.label = q.label
    )
    SELECT query_id, neighbor_id, label,
           CAST(rnk AS BIGINT) AS rnk,
           round(cosine, 6) AS cosine_r
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
              AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """,
)
def similarity_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — top-k retrieval restricted by a
    metadata predicate (same-label here): the problem every vector
    store struggles with, because post-filtering an unfiltered ANN
    result can return < k survivors while pre-filtering shrinks the
    candidate set the index was built for. In the DataFrame algebra
    the filter is just another join predicate pushed INTO the
    scoring join, so recall is exact by construction — the honest
    baseline any filtered-ANN strategy (label-partitioned indexes,
    filter-aware probing) must match. At scale, partitioning the
    index by the filter column (the label-centroids row) makes the
    pre-filter a partition prune."""
    vecs = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _vec_d().alias("vec"))
        .withColumn("nrm", _norm(F.col("vec")))
    )
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(q)
        .join(
            vecs,
            (F.col("label") == F.col("qlabel"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").cast("long").alias("label"),
            (
                _dot(F.col("qvec"), F.col("vec"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "label",
            "rnk",
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


@register(
    "similarity_hard_negative_mining",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    scored AS (
        SELECT q.vec_id AS query_id,
               c.vec_id AS negative_id,
               CAST(c.label AS BIGINT) AS neg_label,
               list_sum(list_transform(list_zip(q.vec, c.vec),
                                       p -> p[1] * p[2]))
                   / (q.nrm * c.nrm) AS cosine
        FROM n q
        JOIN n c ON q.vec_id < {N_QUERIES}
               AND c.label <> q.label
    )
    SELECT query_id, negative_id, neg_label,
           CAST(rnk AS BIGINT) AS rnk,
           round(cosine, 6) AS cosine_r
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, negative_id)
              AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """,
)
def similarity_hard_negative_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hard-negative mining — contrastive/metric training's highest-
    value data op: for each anchor, the most-similar vectors of a
    DIFFERENT label (top-k cosine among non-matching labels). Random
    negatives are trivially separable and teach nothing; hard
    negatives near the decision boundary are what make embedding
    models sharp — this query IS the mining pass run between
    training rounds. Structurally the mirror image of the filtered
    search (label != anchor instead of =): the label predicate lives
    inside the scoring join, so at scale a label-partitioned index
    probes all-but-one partition and the per-anchor cost stays
    k-bounded."""
    vecs = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _vec_d().alias("vec"))
        .withColumn("nrm", _norm(F.col("vec")))
    )
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").cast("long").alias("neg_label"),
            (
                _dot(F.col("qvec"), F.col("vec"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "negative_id",
            "neg_label",
            "rnk",
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


@register(
    "similarity_negative_sampling",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, label FROM embeddings
    ),
    anchors AS (
        SELECT vec_id AS query_id, label AS qlabel
        FROM corpus WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT a.query_id, c.vec_id AS neg_id,
               CAST('0x' || substr(md5(CAST(a.query_id AS VARCHAR) || ':'
                                       || CAST(c.vec_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS h
        FROM anchors a
        JOIN corpus c ON c.label <> a.qlabel
    )
    SELECT query_id, neg_id, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY h, neg_id) AS rnk
          FROM cand)
    WHERE rnk <= 8
    """,
)
def similarity_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negative sampling — the other half of
    the contrastive batch: k=8 random-looking negatives per anchor,
    chosen by ranking candidates on a content-addressed hash of the
    (anchor, candidate) pair. rand()-based sampling changes every
    run and every retry (poison for reproducible training and for
    cached shuffles); the hash rank is a uniform draw that is
    IDENTICAL across reruns, engines, and cluster sizes, and
    naturally excludes same-label candidates via the join predicate.
    Pairs with the hard-negative row: real batches mix both (e.g.
    2 hard + 6 uniform). The hash ranking shuffles only (anchor x
    corpus) candidate keys, never vectors."""
    corpus = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    anchors = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    cand = (
        F.broadcast(anchors)
        .join(corpus, F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            F.expr(
                "CAST(conv(substr(md5(concat(CAST(query_id AS STRING), ':',"
                " CAST(vec_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy("h", "neg_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 8)
        .select("query_id", "neg_id", "rnk")
    )



@register(
    "similarity_centroid_drift",
    oracle="""
    WITH e AS (
        SELECT label,
               CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    per_dim AS (
        SELECT label, half, pos, avg(CAST(x AS DOUBLE)) AS mu,
               count(*) AS n
        FROM e GROUP BY label, half, pos
    ),
    paired AS (
        SELECT a.label, a.pos, a.mu AS ma, b.mu AS mb,
               a.n AS na, b.n AS nb
        FROM per_dim a
        JOIN per_dim b ON b.label = a.label AND b.pos = a.pos
                      AND a.half = 'a' AND b.half = 'b'
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(any_value(na) AS BIGINT) AS n_a,
           CAST(any_value(nb) AS BIGINT) AS n_b,
           round(sum(ma * mb)
                 / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 6)
               AS centroid_cos_r
    FROM paired
    GROUP BY label
    """,
)
def similarity_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor — per-label centroid cosine
    between two cohorts (even vs odd vec_id, standing in for
    model-v1 vs model-v2 or week-1 vs week-2 embeddings): when a
    label's cohort centroids decorrelate, every downstream ANN
    index, frozen codebook, and similarity threshold built on the
    old geometry silently degrades — this is the canary run before
    re-embedding a 100 TB corpus or invalidating an index build.
    Per-dimension means come from one posexplode + groupBy (the
    label-centroids kernel, keyed one level finer); the cosine
    reduces 8 paired dims per label. No vector ever crosses an
    edge; the monitor output is |labels| rows."""
    e = load(spark, sf_dir, "embeddings")
    per_dim = (
        e.select(
            "label",
            F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b").alias("half"),
            F.posexplode(_vec_d()).alias("pos", "x"),
        )
        .groupBy("label", "half", "pos")
        .agg(F.avg("x").alias("mu"), F.count(F.lit(1)).alias("n"))
    )
    a = per_dim.filter(F.col("half") == "a").select(
        "label", "pos", F.col("mu").alias("ma"), F.col("n").alias("na")
    )
    b = per_dim.filter(F.col("half") == "b").select(
        "label", "pos", F.col("mu").alias("mb"), F.col("n").alias("nb")
    )
    paired = a.join(b, ["label", "pos"])
    return paired.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.first("na").cast("long").alias("n_a"),
        F.first("nb").cast("long").alias("n_b"),
        F.round(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            6,
        ).alias("centroid_cos_r"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: index-health diagnostics over the frozen IVF
# codebook and the raw embedding space.
# ---------------------------------------------------------------------------


@register(
    "similarity_cell_occupancy",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n),
    c AS (
        SELECT generate_subscripts(cb, 1) - 1 AS cid, unnest(cb) AS cvec
        FROM (SELECT {{cb}} AS cb)
    ),
    asg AS (
        SELECT vec_id, cid FROM (
            SELECT u.vec_id, c.cid,
                   row_number() OVER (PARTITION BY u.vec_id ORDER BY
                       list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                               p -> p[1] * p[2])) DESC,
                       c.cid) AS rn
            FROM u CROSS JOIN c
        ) WHERE rn = 1
    ),
    occ AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors
        FROM asg GROUP BY cid
    ),
    tot AS (
        SELECT sum(n_vectors) AS total, max(n_vectors) AS mx,
               avg(n_vectors) AS av
        FROM occ
    )
    SELECT o.cid, o.n_vectors,
           round(o.n_vectors / (1.0 * t.total), 6) AS occupancy_share_r,
           round(t.mx / t.av, 6) AS balance_factor_r
    FROM occ o CROSS JOIN tot t
    """.replace("{cb}", _CODEBOOK_SQL),
)
def similarity_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report: vectors per coarse cell under the
    frozen codebook, each cell's share, and the balance factor
    max/avg — the number that predicts ANN tail latency (a factor of
    k means the hottest posting list is k× the average, so nprobe
    scans are k× skewed; >2 says retrain or split cells). Assignment
    is the same broadcast-literal argmax as similarity_ann_ivf (one
    corpus pass, zero scoring shuffle); the report is a |cells|-row
    aggregate. Cites similarity.py's frozen-codebook discipline —
    deterministic, so exact-oracle-checkable."""
    from pyspark.sql import Window

    cb_lit = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{x}D" for x in c) + ")" for c in _IVF_CODEBOOK
        )
        + ")"
    )
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    unit = vecs.select("vec_id", F.expr("transform(vec, x -> x / nrm)").alias("uvec"))
    centroids = F.broadcast(
        e.sparkSession.range(1).select(
            F.posexplode(F.expr(cb_lit)).alias("cid", "cvec")
        )
    )
    asg = (
        unit.crossJoin(centroids)
        .withColumn("dot", _dot(F.col("uvec"), F.col("cvec")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    occ = asg.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    tot = occ.agg(
        F.sum("n_vectors").alias("total"),
        F.max("n_vectors").alias("mx"),
        F.avg("n_vectors").alias("av"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vectors",
        F.round(F.col("n_vectors") / (F.lit(1.0) * F.col("total")), 6).alias(
            "occupancy_share_r"
        ),
        F.round(F.col("mx") / F.col("av"), 6).alias("balance_factor_r"),
    )


@register(
    "similarity_norm_profile",
    oracle="""
    WITH n AS (
        SELECT label,
               sqrt(list_sum(list_transform(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   x -> x * x))) AS nrm
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(quantile_cont(nrm, 0.25), 6) AS p25_r,
           round(quantile_cont(nrm, 0.50), 6) AS p50_r,
           round(quantile_cont(nrm, 0.75), 6) AS p75_r,
           round(avg(nrm), 6) AS mean_r
    FROM n GROUP BY label
    """,
)
def similarity_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile (quartiles + mean) of the embedding
    space — the drift/collapse screen run before any cosine index is
    trusted: a label whose norm distribution shifts between snapshots
    signals encoder drift; near-zero norms signal dead vectors that
    poison normalized search. Norms are in-row JVM folds (aggregate
    HOF, no UDF); the profile is one groupBy over |labels| with
    interpolated percentiles (same percentile_cont semantics both
    engines), 6dp edges."""
    e = load(spark, sf_dir, "embeddings")
    n = e.select(
        "label", _norm(_vec_d()).alias("nrm")
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.expr("percentile(nrm, 0.25)"), 6).alias("p25_r"),
        F.round(F.expr("percentile(nrm, 0.50)"), 6).alias("p50_r"),
        F.round(F.expr("percentile(nrm, 0.75)"), 6).alias("p75_r"),
        F.round(F.avg("nrm"), 6).alias("mean_r"),
    )


@register(
    "similarity_distance_histogram",
    oracle="""
    WITH sample AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
        WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
    ),
    n AS (
        SELECT vec_id,
               list_transform(vec, x -> x / sqrt(
                   list_sum(list_transform(vec, y -> y * y)))) AS uvec
        FROM sample
    ),
    pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb,
               list_sum(list_transform(list_zip(a.uvec, b.uvec),
                                       z -> z[1] * z[2])) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT CAST(floor(cosine * 10) AS BIGINT) AS cos_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(cosine), 6) AS mean_cosine_r
    FROM pairs GROUP BY CAST(floor(cosine * 10) AS BIGINT)
    """,
)
def similarity_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine histogram over a deterministic ~3/16 md5 sample
    of the corpus — the similarity-threshold calibration chart: before
    picking a near-dup cutoff or an ANN probe budget you look at WHERE
    the mass of pairwise similarities sits (a mode near 0 = healthy
    spread; mass near 1 = collapsed embeddings). Sample-then-pairwise
    is the 100 TB shape: the all-pairs join runs on the md5-keyed
    sample (rerun-stable, same discipline as pipeline_hash_sample),
    never the corpus; bins are exact integer floors of 6dp-stable
    cosines."""
    e = load(spark, sf_dir, "embeddings")
    sample = e.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).isin(
            "0", "1", "2"
        )
    ).select("vec_id", _vec_d().alias("vec"))
    unit = sample.select(
        "vec_id",
        F.expr(
            "transform(vec, x -> x / sqrt(aggregate(vec, 0.0D, (a, y) -> a + y * y)))"
        ).alias("uvec"),
    )
    a = unit.select(F.col("vec_id").alias("ida"), F.col("uvec").alias("ua"))
    b = unit.select(F.col("vec_id").alias("idb"), F.col("uvec").alias("ub"))
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        _dot(F.col("ua"), F.col("ub")).alias("cosine")
    )
    return pairs.groupBy(
        F.floor(F.col("cosine") * 10).cast("long").alias("cos_bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("cosine"), 6).alias("mean_cosine_r"),
    )


@register(
    "similarity_incremental_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id,
               list_transform(vec, x -> x / sqrt(
                   list_sum(list_transform(vec, y -> y * y)))) AS uvec
        FROM v
    ),
    q AS (SELECT vec_id AS query_id, uvec AS qvec FROM n
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(q.qvec, n.uvec),
                                       z -> z[1] * z[2])) AS cosine
        FROM q JOIN n ON q.query_id <> n.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           round(cosine, 6) AS cosine_r
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """,
)
def similarity_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance — the interactive-session pattern
    (cf. the EDBT'20 incremental top-k similarity framework in
    PAPERS.md): when a new batch of vectors arrives (top 20% of
    vec_ids), each query's stored top-k is merged with scores against
    the NEW batch only, then re-truncated — the old corpus is never
    rescored. The oracle is the FULL brute-force recompute over
    everything, so the driver hash PROVES the incremental merge is
    exactly equivalent (true because cosine top-k admits monotone
    merge: the true top-k is a subset of old-top-k ∪ new-batch
    scores). Per-update cost: |queries|×|batch| dots + a k-row merge,
    independent of corpus size."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    unit = vecs.select(
        "vec_id", F.expr("transform(vec, x -> x / nrm)").alias("uvec")
    )
    cut = unit.agg(F.floor(F.max("vec_id") * 0.8).cast("long").alias("c"))
    unit_c = unit.crossJoin(F.broadcast(cut))
    old = unit_c.filter(F.col("vec_id") <= F.col("c")).select("vec_id", "uvec")
    new = unit_c.filter(F.col("vec_id") > F.col("c")).select("vec_id", "uvec")
    queries = unit.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("uvec").alias("qvec")
    )

    def score(corpus):
        return (
            queries.crossJoin(F.broadcast(corpus.withColumnRenamed("vec_id", "neighbor_id")))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _dot(F.col("qvec"), F.col("uvec")).alias("cosine"),
            )
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    stored_topk = (
        score(old)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .drop("rnk")
    )
    merged = stored_topk.unionAll(score(new))
    return (
        merged.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


@register(
    "similarity_pca_power_iteration",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    nn AS (SELECT count(*) AS n FROM v),
    comp AS (
        SELECT generate_subscripts(e, 1) - 1 AS i, unnest(e) AS x, vec_id
        FROM v
    ),
    mean AS (SELECT i, avg(x) AS m FROM comp GROUP BY i),
    centered AS (
        SELECT c.vec_id, c.i, c.x - m.m AS cx
        FROM comp c JOIN mean m ON c.i = m.i
    ),
    cov AS (
        SELECT a.i AS i, b.i AS j,
               sum(a.cx * b.cx) / max(nn.n) AS cij
        FROM centered a
        JOIN centered b ON a.vec_id = b.vec_id
        CROSS JOIN nn
        GROUP BY a.i, b.i
    ),
    v0 AS (SELECT i, 0.125 AS vi FROM mean),
    w1 AS (SELECT cov.i, sum(cov.cij * v0.vi) AS wi
           FROM cov JOIN v0 ON cov.j = v0.i GROUP BY cov.i),
    n1 AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w1),
    v1 AS (SELECT i, wi / n1.nrm AS vi FROM w1 CROSS JOIN n1),
    w2 AS (SELECT cov.i, sum(cov.cij * v1.vi) AS wi
           FROM cov JOIN v1 ON cov.j = v1.i GROUP BY cov.i),
    n2 AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w2),
    v2 AS (SELECT i, wi / n2.nrm AS vi FROM w2 CROSS JOIN n2),
    w3 AS (SELECT cov.i, sum(cov.cij * v2.vi) AS wi
           FROM cov JOIN v2 ON cov.j = v2.i GROUP BY cov.i),
    n3 AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w3),
    v3 AS (SELECT i, wi / n3.nrm AS vi FROM w3 CROSS JOIN n3),
    sgn AS (
        SELECT CASE WHEN vi < 0 THEN -1.0 ELSE 1.0 END AS s
        FROM v3 ORDER BY abs(vi) DESC, i LIMIT 1
    )
    SELECT CAST(v3.i AS BIGINT) AS dim_idx,
           round(v3.vi * sgn.s, 6) AS loading_r,
           round(n3.nrm, 9) AS eigenvalue_r
    FROM v3 CROSS JOIN sgn CROSS JOIN n3
    WHERE v3.i < 8
    """,
)
def similarity_pca_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed PCA: the covariance matrix's top eigenvector via
    THREE unrolled power iterations, entirely as DataFrame algebra —
    the linear-algebra workload pattern (embedding whitening,
    drift-direction detection, JL-vs-PCA comparisons) without any
    driver-side matrix. Covariance = one (vec, i)-exploded
    centered-component relation self-joined per vector and reduced
    to 64×64 cells; each iteration is a matvec = one equi-join on j
    + one groupBy on i with the 64-row vector broadcast; the
    eigenvalue estimate is the final pre-normalization norm. The
    eigenvector's sign is canonicalized by its largest-|.| component
    so both engines emit the same orientation. At 100 TB the ONLY
    corpus-sized stages are the mean and covariance passes (the
    iterations run on the d² cell table); d² cells at d=4096 is
    16M rows — still a small DataFrame. First 8 loadings emitted,
    6dp; eigenvalue 9dp."""
    e = load(spark, sf_dir, "embeddings")
    # r18 (guide §4.2): the covariance previously materialized a
    # 64x|corpus| centered-component relation and self-joined it on
    # vec_id (8.2M joined rows -> 4096 cells; 0.88 s isolated). One
    # mapInArrow pass now emits per-batch UNCENTERED moment partials —
    # S_ij = Σ x_i·x_j (a NumPy matmul), s_i = Σ x_i, and the row
    # count — which Spark sums and assembles into the centered
    # covariance cij = (S_ij − n·m_i·m_j)/n. Algebraically identical
    # to avg((x_i−m_i)(x_j−m_j)); the reassociation changes doubles by
    # ~1e-15 relative, absorbed by three contractive iterations and
    # the 6dp/9dp edge rounds (the cross-engine margin the edge
    # already needed: the oracle's own summation order never matched
    # the join-agg's). The power iterations stay DataFrame algebra on
    # the d² cell table — the 100 TB shape is unchanged (one corpus
    # pass for moments, iterations on d² cells).
    def _moment_batches(batches):
        import pyarrow as pa

        for b in batches:
            nb = b.num_rows
            if nb == 0:
                continue
            x = _emb_f64(b)
            d = x.shape[1]
            s2 = x.T @ x  # d x d uncentered second-moment partial
            s1 = x.sum(axis=0)
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            # d² rows of S_ij partials (j >= 0), then d rows carrying
            # the component sums + batch row count (marker j == -1)
            yield pa.record_batch(
                [
                    pa.array(ii.ravel().astype(np.int32)),
                    pa.array(jj.ravel().astype(np.int32)),
                    pa.array(s2.ravel()),
                    pa.array(np.zeros(d * d)),
                ],
                names=["i", "j", "s2", "pad"],
            )
            yield pa.record_batch(
                [
                    pa.array(np.arange(d, dtype=np.int32)),
                    pa.array(np.full(d, -1, dtype=np.int32)),
                    pa.array(s1),
                    pa.array(np.full(d, float(nb))),
                ],
                names=["i", "j", "s2", "pad"],
            )

    moments = e.select("embedding").mapInArrow(
        _moment_batches, "i int, j int, s2 double, pad double"
    )
    agg = moments.groupBy("i", "j").agg(
        F.sum("s2").alias("s"), F.sum("pad").alias("pn")
    )
    mean_n = agg.filter(F.col("j") == -1).select(
        F.col("i").alias("mi"),
        F.col("s").alias("s1"),
        F.col("pn").alias("n"),
    )
    m_i = mean_n.select(
        F.col("mi").alias("i"), (F.col("s1") / F.col("n")).alias("m_a")
    )
    m_j = mean_n.select(
        F.col("mi").alias("j"), (F.col("s1") / F.col("n")).alias("m_b")
    )
    nn1 = mean_n.agg(F.max("n").alias("n"))
    cov = (
        agg.filter(F.col("j") >= 0)
        .join(F.broadcast(m_i), "i")
        .join(F.broadcast(m_j), "j")
        .crossJoin(F.broadcast(nn1))
        .select(
            "i",
            "j",
            (
                (F.col("s") - F.col("n") * F.col("m_a") * F.col("m_b"))
                / F.col("n")
            ).alias("cij"),
        )
        .localCheckpoint()
    )
    mean = m_i.select("i", F.col("m_a").alias("m"))
    vec = mean.select("i", F.lit(0.125).alias("vi"))
    nrm_df = None
    for _ in range(3):
        # r18: checkpoint each matvec — w feeds BOTH nrm_df and vec,
        # so the lazy form re-evaluated every deeper level twice per
        # reference (2^3 evaluations of the innermost subtree by
        # iteration 3). The d-row materialization is trivial; values
        # are unchanged (same deterministic computation, just cut
        # lineage — guide §5).
        w = (
            cov.join(
                F.broadcast(vec.select(F.col("i").alias("j"), "vi")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("cij") * F.col("vi")).alias("wi"))
            .localCheckpoint()
        )
        nrm_df = w.agg(F.sqrt(F.sum(F.col("wi") * F.col("wi"))).alias("nrm"))
        vec = w.crossJoin(F.broadcast(nrm_df)).select(
            "i", (F.col("wi") / F.col("nrm")).alias("vi")
        )
    sgn = (
        vec.orderBy(F.abs(F.col("vi")).desc(), "i")
        .limit(1)
        .select(F.when(F.col("vi") < 0, -1.0).otherwise(1.0).alias("s"))
    )
    return (
        vec.filter(F.col("i") < 8)
        .crossJoin(F.broadcast(sgn))
        .crossJoin(F.broadcast(nrm_df))
        .select(
            F.col("i").cast("long").alias("dim_idx"),
            F.round(F.col("vi") * F.col("s"), 6).alias("loading_r"),
            F.round(F.col("nrm"), 9).alias("eigenvalue_r"),
        )
    )


_ORACLE_SILHOUETTE = """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n),
    scored AS (
        SELECT vec_id,
               [list_sum(list_transform(list_zip(uvec, cb[c]), p -> p[1] * p[2]))
                FOR c IN range(1, __K__ + 1)] AS dots
        FROM u CROSS JOIN (SELECT __CB__ AS cb)
    ),
    ranked AS (
        SELECT vec_id, dots, list_sort(dots) AS s FROM scored
    ),
    -- Per-vector sil is floor-canonicalized at the 1e-6 grain BEFORE
    -- aggregating (identical IEEE computation on both engines), so the
    -- group avg sums identically-quantized values — and the avg itself
    -- gets the same floor form, never round() (half-boundary lottery).
    sil AS (
        SELECT vec_id,
               list_position(dots, s[__K__]) - 1 AS cid,
               floor(CASE WHEN greatest(1.0 - s[__K__], 1.0 - s[__K1__]) <= 0
                          THEN 0.0
                          ELSE (s[__K__] - s[__K1__])
                               / greatest(1.0 - s[__K__], 1.0 - s[__K1__])
                     END * 1e6 + 0.5) / 1e6 AS sil
        FROM ranked
    )
    SELECT CAST(cid AS BIGINT)                         AS cid,
           CAST(count(*) AS BIGINT)                    AS n_vecs,
           floor(avg(sil) * 1e6 + 0.5) / 1e6           AS avg_sil_r,
           min(sil)                                    AS min_sil_r,
           CAST(sum(CASE WHEN sil < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS n_ambiguous
    FROM sil GROUP BY cid
""".replace("__CB__", _CODEBOOK_SQL).replace(
    "__K1__", str(len(_IVF_CODEBOOK) - 1)
).replace("__K__", str(len(_IVF_CODEBOOK)))


@register("similarity_silhouette_simplified", oracle=_ORACLE_SILHOUETTE)
def similarity_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette clustering diagnostic against the frozen
    codebook (`_IVF_CODEBOOK`): per vector, a = cosine distance to its
    own (nearest) centroid and b = distance to the second-nearest,
    s = (b - a) / max(a, b) in [0, 1) — the standard O(NK) silhouette
    approximation (Hruschka et al.) that replaces the O(N^2) pairwise
    definition with centroid distances, which is the only form that
    survives 100 TB. Per-cluster report: cohesion (avg s), worst
    member (min s), and the count of ambiguous members (s < 0.1) —
    the table that tells you which clusters to split or merge.

    Scale shape: identical to similarity_kmeans_assign — the codebook
    is a plan literal, scoring is one map stage (16 in-row dot
    columns, staged projections, no scoring shuffle), then ONE
    shuffle on cid for the <= K-row report. The second-best distance
    comes from array_sort over the 16 dot columns in-row — no window,
    no self-join."""
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    unit = vecs.select(
        "vec_id", F.expr("transform(vec, x -> x / nrm)").alias("uvec")
    )
    cent_lits = [
        F.expr("array(" + ",".join(f"{x}D" for x in c) + ")")
        for c in _IVF_CODEBOOK
    ]
    dotted = unit.select(
        "vec_id",
        *[_dot(F.col("uvec"), cl).alias(f"d{i}") for i, cl in enumerate(cent_lits)],
    )
    k = len(cent_lits)
    ranked = dotted.select(
        "vec_id",
        *[F.col(f"d{i}") for i in range(k)],
        F.array_sort(F.array(*[F.col(f"d{i}") for i in range(k)])).alias("s"),
    )
    best = F.element_at(F.col("s"), k)
    second = F.element_at(F.col("s"), k - 1)
    cid = F.lit(None).cast("int")
    for i in range(k - 1, -1, -1):
        cid = F.when(F.col(f"d{i}") == best, i).otherwise(cid)
    a_d = F.lit(1.0) - best
    b_d = F.lit(1.0) - second
    sil_raw = (
        F.when(F.greatest(a_d, b_d) <= 0, F.lit(0.0))
        .otherwise((best - second) / F.greatest(a_d, b_d))
    )
    # floor(x*1e6+0.5)/1e6 BEFORE aggregating: identical IEEE ops on
    # both engines quantize per-vector sil bit-equally, so the group
    # sums operate on the same values; the avg output gets the same
    # floor form (round() sits on the HALF_UP-vs-scaled-round boundary
    # lottery CLAUDE.md documents for transcendental aggregates).
    sil = F.floor(sil_raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    per_vec = ranked.select("vec_id", cid.alias("cid"), sil.alias("sil"))
    return per_vec.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (F.floor(F.avg("sil") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "avg_sil_r"
        ),
        F.min("sil").alias("min_sil_r"),
        F.sum(F.when(F.col("sil") < 0.1, 1).otherwise(0))
        .cast("long")
        .alias("n_ambiguous"),
    ).select(
        F.col("cid").cast("long").alias("cid"),
        "n_vecs",
        "avg_sil_r",
        "min_sil_r",
        "n_ambiguous",
    )


_ORACLE_NPROBE_SWEEP = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n),
    c AS (
        SELECT generate_subscripts(cb, 1) - 1 AS cid, unnest(cb) AS cvec
        FROM (SELECT __CB__ AS cb)
    ),
    inv AS (
        SELECT vec_id, cid FROM (
            SELECT u.vec_id, c.cid,
                   row_number() OVER (PARTITION BY u.vec_id ORDER BY
                       list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                               p -> p[1] * p[2])) DESC,
                       c.cid) AS rn
            FROM u CROSS JOIN c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cid, rn AS probe_rank FROM (
            SELECT u.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY u.vec_id ORDER BY
                       list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                               p -> p[1] * p[2])) DESC,
                       c.cid) AS rn
            FROM u CROSS JOIN c
            WHERE u.vec_id < {N_QUERIES}
        ) WHERE rn <= 8
    ),
    cand AS (
        SELECT p.query_id, i.vec_id AS neighbor_id, min(p.probe_rank) AS mpr
        FROM probes p JOIN inv i USING (cid)
        WHERE p.query_id <> i.vec_id
        GROUP BY p.query_id, i.vec_id
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       list_sum(list_transform(list_zip(q.uvec, i.uvec),
                                               z -> z[1] * z[2])) DESC,
                       i.vec_id) AS rnk
            FROM u q JOIN u i ON q.vec_id < {N_QUERIES} AND q.vec_id <> i.vec_id
        ) WHERE rnk <= {TOP_K}
    ),
    pv AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
    hits AS (
        SELECT pv.nprobe,
               CASE WHEN c.mpr IS NOT NULL AND c.mpr <= pv.nprobe
                    THEN 1.0 ELSE 0.0 END AS hit
        FROM truth t
        CROSS JOIN pv
        LEFT JOIN cand c
          ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
    ),
    sizes AS (SELECT cid, count(*) AS sz FROM inv GROUP BY cid),
    scans AS (
        SELECT pv.nprobe, sum(s.sz) / ({N_QUERIES} * 1.0) AS avg_scanned
        FROM probes p JOIN sizes s USING (cid) CROSS JOIN pv
        WHERE p.probe_rank <= pv.nprobe
        GROUP BY pv.nprobe
    )
    SELECT CAST(h.nprobe AS BIGINT)      AS nprobe,
           CAST(count(*) AS BIGINT)      AS n_truth_pairs,
           floor(CAST(sum(h.hit) AS DOUBLE) * 1e6 / count(*) + 0.5) / 1e6
                                         AS recall_at_5_r,
           floor(any_value(s.avg_scanned) * 1e6 + 0.5) / 1e6 AS avg_scanned_r
    FROM hits h JOIN scans s ON h.nprobe = s.nprobe
    GROUP BY h.nprobe
""".replace("__CB__", _CODEBOOK_SQL)


@register("similarity_ivf_nprobe_sweep", oracle=_ORACLE_NPROBE_SWEEP)
def similarity_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning table: recall@5 vs brute-force ground truth AND the
    average number of candidates scanned per query, for nprobe in
    {1, 2, 4, 8} — the curve an operator reads to pick the accuracy/
    cost point before launching a 100 TB ANN job (the whole reason IVF
    has a knob). One pass computes all four points: every candidate
    pair keeps the MINIMUM probe rank that discovers it, so
    "recall at nprobe=p" is just `min_probe_rank <= p` — no per-p
    re-join, no re-scan.

    Scale shape: the corpus shuffles once on cluster id (inv) and once
    for the candidate dedup; ground truth is the N_QUERIES-row
    broadcast brute-force (small by construction — at 100 TB you'd
    compute truth on a held-out sample exactly like this); the 4-row
    nprobe spine joins broadcast. Deterministic throughout, full
    DuckDB twin."""
    from pyspark.sql import Window

    # r18: dots from the shared _unit_dots_frame Arrow kernel
    # (bit-exact; one materialization feeds inverted lists, probes AND
    # the ground-truth branch, which each re-ran the interpreted folds
    # before).
    e = load(spark, sf_dir, "embeddings")
    ud = _unit_dots_frame(e)

    def _ranked(df, keep_n):
        return (
            df.select("*", F.posexplode("dots").alias("cid", "dot"))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(
                        F.col("dot").desc(), F.col("cid")
                    )
                ),
            )
            .filter(F.col("rn") <= keep_n)
        )

    unit = ud.select("vec_id", "uvec")
    inv = _ranked(ud, 1).select("vec_id", "cid")
    queries = unit.filter(F.col("vec_id") < N_QUERIES)
    probes = _ranked(ud.filter(F.col("vec_id") < N_QUERIES), 8).select(
        F.col("vec_id").alias("query_id"), "cid", F.col("rn").alias("probe_rank")
    )
    cand = (
        probes.join(inv.select(F.col("vec_id").alias("neighbor_id"), "cid"), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("probe_rank").alias("mpr"))
    )
    truth = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("uvec").alias("qvec"))
        .join(unit.select(F.col("vec_id").alias("neighbor_id"), "uvec"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("qvec"), F.col("uvec")))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cosine").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    pv = F.broadcast(
        spark.range(1).select(F.explode(F.array(*[F.lit(p) for p in (1, 2, 4, 8)])).alias("nprobe"))
    )
    hits = (
        truth.crossJoin(pv)
        .join(cand, ["query_id", "neighbor_id"], "left")
        .select(
            "nprobe",
            F.when(
                F.col("mpr").isNotNull() & (F.col("mpr") <= F.col("nprobe")), 1.0
            )
            .otherwise(0.0)
            .alias("hit"),
        )
    )
    sizes = inv.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    scans = (
        probes.join(sizes, "cid")
        .crossJoin(pv)
        .filter(F.col("probe_rank") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg((F.sum("sz") / F.lit(float(N_QUERIES))).alias("avg_scanned"))
    )
    return (
        hits.groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth_pairs"),
            # binary hits: exact integer sum + one identical division
            # (r16 grid-avg rule — avg(0/1) is k/n, boundary-prone)
            (
                F.floor(
                    F.sum("hit").cast("double")
                    * F.lit(1e6)
                    / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("recall_at_5_r"),
        )
        .join(scans, "nprobe")
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_truth_pairs",
            "recall_at_5_r",
            (
                F.floor(F.col("avg_scanned") * F.lit(1e6) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("avg_scanned_r"),
        )
    )


_MRL_DIMS = [8, 16, 32, 64]

_ORACLE_MATRYOSHKA = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    dims AS (SELECT unnest([{", ".join(str(d) for d in _MRL_DIMS)}]) AS pd),
    scored AS (
        SELECT d.pd AS prefix_dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(q.vec[1:d.pd], c.vec[1:d.pd]),
                                       p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(q.vec[1:d.pd], x -> x * x)))
                  * sqrt(list_sum(list_transform(c.vec[1:d.pd], x -> x * x))))
                   AS cosine
        FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
        CROSS JOIN dims d
    ),
    ranked AS (
        SELECT prefix_dim, query_id, neighbor_id,
               row_number() OVER (PARTITION BY prefix_dim, query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rnk <= {TOP_K}),
    truth AS (
        SELECT query_id, neighbor_id FROM topk WHERE prefix_dim = {_MRL_DIMS[-1]}
    )
    SELECT CAST(t.prefix_dim AS BIGINT)  AS prefix_dim,
           CAST(count(tr.neighbor_id) AS BIGINT) AS n_hits,
           floor(count(tr.neighbor_id) / ({N_QUERIES} * {TOP_K} * 1.0)
                 * 1e6 + 0.5) / 1e6      AS recall_at_k_r
    FROM topk t
    LEFT JOIN truth tr
      ON tr.query_id = t.query_id AND tr.neighbor_id = t.neighbor_id
    GROUP BY t.prefix_dim
"""


@register("similarity_matryoshka_eval", oracle=_ORACLE_MATRYOSHKA)
def similarity_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) prefix-dimension retrieval eval: recall@k of
    cosine top-k computed on embedding PREFIXES (8/16/32/64 dims)
    against the full-dimension truth — the table that tells you how
    far you can truncate stored vectors (4-8x index shrink) before
    retrieval quality drops, cf. Kusupati et al., "Matryoshka
    Representation Learning" (NeurIPS'22).

    Scale shape: ONE pass scores every (query, candidate) pair for
    ALL prefix dims — the pair row explodes into |dims| rows via an
    inline dims array (no re-scan per dim), prefix dots/norms are
    slice + aggregate JVM expressions, and the per-(dim, query)
    ranking is one window over the exploded frame. Truth is the
    full-dim slice of the same ranking (no second scoring pass), and
    the hit-join runs against a broadcast-size truth set (N_QUERIES x
    TOP_K rows). Recall edges are exact rational divisions,
    floor-canonicalized at 1e-6."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", _vec_d().alias("vec"))
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(vecs)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "qvec", "vec")
    )
    # r18 (guide §4.2): the exploded form evaluated interpreted
    # slice+dot+norm HOFs per (pair, prefix) — each prefix re-folding
    # from scratch (~120 dims of lambda steps per pair). One mapInArrow
    # kernel accumulates dot/|q|²/|v|² dimension-by-dimension from 0.0
    # seeds and SNAPSHOTS at each prefix length: a prefix fold IS the
    # continuation of the shorter one's identical IEEE sequence, so
    # every cosine is bit-identical to the sliced HOF (and the DuckDB
    # twin). The per-(dim, query) ranking window is unchanged.
    mrl_dims = list(_MRL_DIMS)

    def _prefix_cosines(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            qv = np.asarray(
                b.column(b.schema.get_field_index("qvec")).flatten(),
                dtype=np.float64,
            ).reshape(n, -1)
            vv = np.asarray(
                b.column(b.schema.get_field_index("vec")).flatten(),
                dtype=np.float64,
            ).reshape(n, -1)
            dot = np.zeros(n, dtype=np.float64)
            nq = np.zeros(n, dtype=np.float64)
            nv = np.zeros(n, dtype=np.float64)
            out_cos = {}
            for i in range(qv.shape[1]):  # one sequential fold, snapshot
                dot += qv[:, i] * vv[:, i]
                nq += qv[:, i] * qv[:, i]
                nv += vv[:, i] * vv[:, i]
                if (i + 1) in mrl_dims:
                    out_cos[i + 1] = dot / (np.sqrt(nq) * np.sqrt(nv))
            qid = b.column(b.schema.get_field_index("query_id"))
            nid = b.column(b.schema.get_field_index("neighbor_id"))
            for d in mrl_dims:
                yield pa.record_batch(
                    [
                        pa.array(np.full(n, d, dtype=np.int32)),
                        qid,
                        nid,
                        pa.array(out_cos[d]),
                    ],
                    names=["prefix_dim", "query_id", "neighbor_id", "cosine"],
                )

    scored = pairs.mapInArrow(
        _prefix_cosines,
        "prefix_dim int, query_id long, neighbor_id long, cosine double",
    )
    w = Window.partitionBy("prefix_dim", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("prefix_dim", "query_id", "neighbor_id")
        .localCheckpoint()
    )
    truth = topk.filter(F.col("prefix_dim") == _MRL_DIMS[-1]).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    return (
        topk.join(
            F.broadcast(truth),
            (topk.query_id == truth.query_id)
            & (topk.neighbor_id == truth.true_neighbor),
            "left",
        )
        .groupBy("prefix_dim")
        .agg(
            F.count("true_neighbor").cast("long").alias("n_hits"),
            (
                F.floor(
                    F.count("true_neighbor")
                    / F.lit(float(N_QUERIES * TOP_K))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("recall_at_k_r"),
        )
        .select(
            F.col("prefix_dim").cast("long").alias("prefix_dim"),
            "n_hits",
            "recall_at_k_r",
        )
    )


_ORACLE_HAMMING_TOPK = f"""
    WITH x AS (
        SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, embedding[i] AS v
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    packed AS (
        SELECT vec_id, pos // 32 AS w,
               sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(pos % 32 AS INT))
                        ELSE 0 END) AS bits
        FROM x GROUP BY vec_id, pos // 32
    ),
    ham AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               CAST(sum(bit_count(xor(q.bits, c.bits))) AS BIGINT) AS hamming
        FROM packed q
        JOIN packed c ON q.w = c.w AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY q.vec_id, c.vec_id
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, hamming
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY hamming, cand_id) AS rnk
        FROM ham
    )
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
"""


@register("similarity_binary_hamming_topk", oracle=_ORACLE_HAMMING_TOPK)
def similarity_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding search: sign-binarize each vector (bit i = dim
    i > 0), pack 32 bits per BIGINT word, and rank candidates per
    query by Hamming distance = sum over words of popcount(q XOR c) —
    the 32-64x-compressed first-pass retrieval (Charikar 2002 sign
    hashing / 'binary passage retriever') that modern pipelines run
    before exact rescoring on the shortlist.

    Everything is integer-exact end to end: packing, XOR, popcount,
    ranking — no float edge at all, so the cross-engine hash needs no
    canonicalization.

    Scale shape: packing is one map-side-combinable aggregate at
    (vec_id, word) grain (D/32 longs per vector, 32x smaller than the
    float corpus); the scoring join keys on the word index with the
    tiny query side broadcast, so the corpus streams through one
    stage.  At 100 TB the shortlist feeds the exact-cosine rescorer
    (`similarity_topk_bruteforce` formulation) over candidates only;
    per-query cost is a popcount scan, the memory-bandwidth-bound
    regime binary codes exist for."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    )
    packed = x.groupBy(
        "vec_id", (F.col("pos") / 32).cast("long").alias("w")
    ).agg(
        F.sum(
            F.when(
                F.col("v") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("bits")
    )
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "w",
        F.col("bits").alias("qbits"),
    )
    ham = (
        packed.join(F.broadcast(q), "w")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.sum(F.bit_count(F.expr("bits ^ qbits")))
            .cast("long")
            .alias("hamming")
        )
    )
    win = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    return (
        ham.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "rnk", "cand_id", "hamming")
        .orderBy("query_id", "rnk")
    )


_ORACLE_RNN_PAIRS = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (
        SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n
    ),
    c AS (
        SELECT generate_subscripts(cb, 1) - 1 AS cid, unnest(cb) AS cvec
        FROM (SELECT {_CODEBOOK_SQL} AS cb)
    ),
    inv AS (
        SELECT vec_id, uvec, cid FROM (
            SELECT u.vec_id, u.uvec, c.cid,
                   row_number() OVER (PARTITION BY u.vec_id ORDER BY
                       list_sum(list_transform(list_zip(u.uvec, c.cvec),
                                               p -> p[1] * p[2])) DESC,
                       c.cid) AS rn
            FROM u CROSS JOIN c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT a.cid, a.vec_id AS src, b.vec_id AS dst,
               list_sum(list_transform(list_zip(a.uvec, b.uvec),
                                       p -> p[1] * p[2])) AS cosine
        FROM inv a JOIN inv b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id
    ),
    nn AS (
        SELECT cid, src, dst, cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY src ORDER BY cosine DESC, dst) AS rnk
            FROM scored
        ) WHERE rnk = 1
    )
    SELECT a.src AS vec_a, a.dst AS vec_b,
           CAST(a.cid AS BIGINT) AS cid,
           round(a.cosine, 6) AS cosine_r
    FROM nn a JOIN nn b ON a.dst = b.src AND b.dst = a.src
    WHERE a.src < a.dst
    ORDER BY vec_a
"""


@register("similarity_reciprocal_nn_pairs", oracle=_ORACLE_RNN_PAIRS)
def similarity_reciprocal_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs WITHIN frozen-IVF cells:
    assign every unit vector to its argmax-cosine centroid (the
    `_IVF_CODEBOOK` plan literal), find each vector's top-1 neighbor
    among its cell mates, and keep mutual pairs — the SemDeDup-style
    per-cluster pairing discipline (one-directional NN is noisy;
    mutual NN is the precision filter used in bitext mining and pair
    confirmation).

    Scale shape — and why per-cell is load-bearing: corpus-wide
    all-pairs NN is N^2 interpreted dot products (measured 34.8 s at
    sf0.1 for 25M pairs; quadratic at every SF — rejected). Cell
    blocking makes the pair join sum(cell^2) ~ N^2/K with K the
    codebook size, shrinking further as the codebook scales with the
    corpus; assignment itself is one cross join with a 16-row plan
    literal. The reciprocity check stays a model-sized (one row per
    vector) self-join.

    Determinism: unit-vector dots are in-row sequential sums
    (identical doubles both engines); argmax ties break on centroid /
    neighbor id; only the displayed cosine is rounded."""
    e = load(spark, sf_dir, "embeddings")
    # r18 (measured 2.73 -> see OPTIMIZATION_r18.md): the centroid
    # assignment (16 interpreted HOF dot folds per row) and the
    # within-cell pair scoring (one interpreted 64-step fold per PAIR,
    # ~250k pairs) are NumPy kernels on _fold_dot. Assignment keeps the
    # lowest cid among equal dots; a NaN row gets cid 0, the Spark
    # window's NaN-first order (dot DESC puts NaN first, then cid ASC).
    # The per-src top-1 sorts candidates by dst ascending and takes the
    # FIRST maximum (cosine DESC, dst ASC). The reciprocity self-join
    # and the 6dp edge stay in Spark.
    cb = np.array(_IVF_CODEBOOK, dtype=np.float64)

    def _assign_batches(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            x = _emb_f64(b)
            u = x / np.sqrt(_fold_dot(x, x))[:, None]
            _, cid = _argmax_first(_fold_dot(u[:, None, :], cb[None]))
            yield pa.record_batch(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    pa.array(cid, type=pa.int32()),
                    pa.array(u.tolist(), type=pa.list_(pa.float64())),
                ],
                names=["vec_id", "cid", "uvec"],
            )

    inv = (
        e.select("vec_id", "embedding")
        .mapInArrow(_assign_batches, "vec_id long, cid int, uvec array<double>")
        .localCheckpoint()
    )

    def _cell_top1(key, pdf):
        import pandas as pd

        m = len(pdf)
        if m < 2:  # a singleton cell has no pairs (src != dst)
            return pd.DataFrame(
                {
                    "cid": pd.Series(dtype="int32"),
                    "src": pd.Series(dtype="int64"),
                    "dst": pd.Series(dtype="int64"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        u = np.stack(pdf["uvec"].to_numpy())
        cos = _fold_dot(u[:, None, :], u[None, :, :])  # m x m pair dots
        np.fill_diagonal(cos, -np.inf)  # src != dst
        j = np.argmax(cos, axis=1)  # first max == lowest dst on ties
        return pd.DataFrame(
            {
                "cid": pdf["cid"].to_numpy(),
                "src": ids,
                "dst": ids[j],
                "cosine": cos[np.arange(m), j],
            }
        )

    nn = (
        inv.groupBy("cid")
        .applyInPandas(_cell_top1, "cid int, src long, dst long, cosine double")
        .localCheckpoint()
    )
    rev = nn.select(F.col("src").alias("dst"), F.col("dst").alias("src2"))
    return (
        nn.join(rev, (nn["dst"] == rev["dst"]) & (nn["src"] == rev["src2"]))
        .filter(F.col("src") < nn["dst"])
        .select(
            F.col("src").alias("vec_a"),
            nn["dst"].alias("vec_b"),
            F.col("cid").cast("long").alias("cid"),
            F.round("cosine", 6).alias("cosine_r"),
        )
        .orderBy("vec_a")
    )


_ORACLE_KMEANSPP = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, vec,
               sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
        FROM v
    ),
    u AS (
        SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n
    ),
    c AS (
        SELECT generate_subscripts(cb, 1) - 1 AS cid, unnest(cb) AS cvec
        FROM (SELECT {{cb}} AS cb)
    ),
    dists AS (
        SELECT u.vec_id,
               min(2 - 2 * list_sum(list_transform(
                   list_zip(u.uvec, c.cvec), p -> p[1] * p[2]))) AS min_d2
        FROM u CROSS JOIN c
        GROUP BY u.vec_id
    )
    SELECT CAST(row_number() OVER (
               ORDER BY floor(min_d2 * 1e6 + 0.5) / 1e6 DESC, vec_id)
           AS BIGINT)                          AS rnk,
           vec_id,
           floor(min_d2 * 1e6 + 0.5) / 1e6     AS min_dist2_r
    FROM dists
    ORDER BY rnk
    LIMIT 5
""".replace("{cb}", _CODEBOOK_SQL)


@register("similarity_kmeanspp_next_centroid", oracle=_ORACLE_KMEANSPP)
def similarity_kmeanspp_next_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Furthest-first traversal step (deterministic k-means++ / k-center
    seeding, Gonzalez 1985): given the frozen codebook, rank corpus
    vectors by their squared distance to the NEAREST existing centroid
    (2 - 2cos for unit vectors) — the top candidates are where the
    next centroid goes when growing the codebook, and the top-1
    distance is the current covering radius (the k-center objective).

    Determinism: the 16 in-row dots are sequential sums on identical
    doubles; min/argmin are exact on those; distances canonicalized at
    1e-6 with vec_id tie-break.

    Scale shape: the codebook is a plan literal, scoring is ONE map
    stage (zero shuffles before the global top-5, which compiles to
    per-partition heaps) — the same zero-scoring-shuffle discipline as
    `similarity_kmeans_assign`, run once per growth step."""
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    unit = vecs.select(
        "vec_id",
        F.transform(F.col("vec"), lambda x: x / F.col("nrm")).alias("uvec"),
    )
    cent_lits = [
        "array(" + ",".join(f"{x}D" for x in c) + ")" for c in _IVF_CODEBOOK
    ]
    d2s = [
        (F.lit(2.0) - F.lit(2.0) * _dot(F.col("uvec"), F.expr(cl))).alias(
            f"d{i}"
        )
        for i, cl in enumerate(cent_lits)
    ]
    scored = unit.select("vec_id", *d2s).select(
        "vec_id",
        F.least(*[F.col(f"d{i}") for i in range(len(cent_lits))]).alias(
            "min_d2"
        ),
    )
    md = F.floor(F.col("min_d2") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    from pyspark.sql import Window

    # Global top-5 via orderBy+limit (TakeOrderedAndProject =
    # per-partition heaps); the rank window runs AFTER the limit, over
    # 5 rows — a global row_number over the raw corpus would be a
    # full sort, which the bounded-window plan guard rejects.
    top = (
        scored.select("vec_id", md.alias("min_dist2_r"))
        .orderBy(F.col("min_dist2_r").desc(), "vec_id")
        .limit(5)
    )
    win = Window.orderBy(F.col("min_dist2_r").desc(), "vec_id")
    return top.select(
        F.row_number().over(win).cast("long").alias("rnk"),
        "vec_id",
        "min_dist2_r",
    ).orderBy("rnk")
