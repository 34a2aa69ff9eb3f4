"""Deduplication operators over `documents` — SURVEY.md §2B LLM ops.

Five families: exact (hash groupBy), normalized-exact, MinHash+LSH
(band-bucket join), SimHash (bitwise near-dup), n-gram Jaccard.

Cross-engine determinism trick: every hash in the chain derives from
md5 (identical hex in Spark and DuckDB), mapped to ints via
Spark ``conv(hex,16,10)`` / DuckDB ``CAST('0x'||hex AS BIGINT)``. The
MinHash permutations use fixed seed-42 coefficients embedded in both
the Spark plan and the oracle SQL, so even the sketch is reproducible.

Scale posture: everything is shingle-explode → equi-join — the LSH
band join is the O(n) path that replaces the O(n²) pair join at 100 TB
(band buckets are the join key; skewed buckets split by AQE). No
Python UDFs anywhere in this module.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_task_spark.plans.checkpoints import checkpoint_conservative
from hive_task_spark.registry import register
from hive_task_spark.tables import load

# --- MinHash parameters (public algorithm; seed fixed for determinism) ---
_MERSENNE_P = 2147483647  # Mersenne prime 2^31-1; 28-bit hashes keep a*x+b < 2^59 (no int64 overflow under ANSI)
_N_HASHES = 64
_N_BANDS = 16  # 16 bands x 4 rows: P[candidate | j=0.85] > 1 - 1e-5
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
_rng = random.Random(42)
_A = [_rng.randrange(1, _MERSENNE_P) for _ in range(_N_HASHES)]
_B = [_rng.randrange(0, _MERSENNE_P) for _ in range(_N_HASHES)]

JACCARD_THRESHOLD = 0.85

# Document-frequency cap: shingles appearing in more than DF_CAP docs
# are dropped from the PAIR-GENERATING posting lists (not from the
# Jaccard denominators). A stop-word-like shingle shared by 1M docs
# would otherwise emit 10¹² candidate pairs (Σ df² blowup) — the
# standard dedup-pipeline mitigation. On the fixture max df = 25, so
# the cap is semantics-neutral here while bounding the worst case.
DF_CAP = 1000


_ORACLE_SHINGLES = """
        SELECT doc_id,
               unnest(list_distinct(
                 CASE WHEN len(w) >= 3
                      THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
                      ELSE [array_to_string(w, ' ')]
                 END)) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""

_ORACLE_JACCARD_PAIRS = f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {DF_CAP}),
    shk AS (SELECT sh.* FROM sh JOIN kept USING (shingle)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT
        p.doc_a,
        p.doc_b,
        CAST(p.n_common AS BIGINT)                                AS n_common,
        p.n_common / (sa.n + sb.n - p.n_common)                   AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE p.n_common / (sa.n + sb.n - p.n_common) >= {{thr}}
"""


def _jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Exact shingle-Jaccard pairs via explode + equi-join (no O(n²)),
    with hot shingles (df > DF_CAP) excluded from the posting-list join
    — bounding candidate count at Σ min(df, cap)² instead of Σ df²."""
    d = load(spark, sf_dir, "documents")
    # materialize-once: four consumers (sizes, df-cap, both join sides)
    # would otherwise re-run the shingling window per reference. r18:
    # shk checkpoints too — BOTH self-join sides referenced it, so the
    # df-cap aggregation + semi-join executed twice. Both checkpoints
    # are CONSERVATIVE: the shingle set's build plan advertises
    # ~0.6 B/row (the r7 understated class), and a plain checkpoint
    # would invite AQE to broadcast the corpus-scaled shingle and
    # posting lists into their joins.
    sh = checkpoint_conservative(_shingle_rows(d).distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    kept = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("shingle")
    )
    shk = checkpoint_conservative(sh.join(kept, "shingle", "left_semi"))
    a = shk.alias("a")
    b = shk.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@register(
    "dedup_exact_hash",
    oracle="""
    SELECT
        sha256(text)                       AS content_hash,
        CAST(min(doc_id) AS BIGINT)        AS keeper_doc_id,
        CAST(count(*) AS BIGINT)           AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one keeper per content hash (sha2-256).

    At 100 TB: hash is computed map-side, the shuffle carries
    (64-byte hash, doc_id) pairs only — never the documents.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT
        md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))   AS norm_hash,
        CAST(min(doc_id) AS BIGINT)                              AS keeper_doc_id,
        CAST(count(*) AS BIGINT)                                 AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization (lowercase, trim, collapse ws)."""
    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return (
        d.groupBy(F.md5(norm).alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_ORACLE_JACCARD_PAIRS.format(thr="0.5"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard >= 0.5 (shingle equi-join)."""
    return _jaccard_pairs(spark, sf_dir, 0.5)


def _shingle_rows(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows via posexplode(words) + window lead —
    the whole-stage-codegen formulation of 3-word shingling (an in-row
    higher-order-function lambda is interpreted per element and was
    ~6× slower at sf0.1). One shuffle on doc_id whose partitioning is
    REUSED by every downstream groupBy(doc_id) — net zero extra
    exchanges. Short docs (<3 words) emit the raw text as their single
    shingle (the oracle's ELSE branch)."""
    from pyspark.sql import Window

    words = d.select(
        "doc_id", "text", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    lead1 = F.lead("w", 1).over(win)
    lead2 = F.lead("w", 2).over(win)
    sh = words.select(
        "doc_id",
        F.when(lead2.isNotNull(), F.concat_ws(" ", F.col("w"), lead1, lead2))
        .when((F.col("pos") == 0) & lead2.isNull(), F.col("text"))
        .alias("shingle"),
    )
    return sh.filter(F.col("shingle").isNotNull())


@register(
    "dedup_minhash_lsh",
    oracle=_ORACLE_JACCARD_PAIRS.format(thr=str(JACCARD_THRESHOLD)),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup: the O(n) scale path.

    shingle → 64 minhashes (seed-42 affine permutations over a 32-bit
    md5-derived universe) → 16 bands of 4 → band-bucket equi-join →
    exact-Jaccard verification of candidates at {thr}.

    The oracle is the exact all-pairs Jaccard at the same threshold:
    with these parameters a true pair at j=0.85 is missed with
    p < 1e-5, so LSH output == exact output on this data (verified).
    At 100 TB the band join replaces the infeasible all-pairs join.
    """
    d = load(spark, sf_dir, "documents")
    # Corpus-wide work = ONE scan feeding the signature aggregate.
    # The signature is only a CANDIDATE GENERATOR (verification below
    # is exact), so it may use any deterministic per-shingle hash —
    # here in-row xxhash64 over word triples from the split array,
    # which avoids the posexplode+window shingle formulation entirely
    # (no shuffle before the aggregate; the exact string shingles are
    # only materialized for the tiny candidate set). min() is
    # duplicate-insensitive, so no distinct — the raw hash stream goes
    # straight into map-side partial mins and the shuffle carries 64
    # longs per doc regardless of document size (no collect_set
    # payload proportional to document length). pmod into the 28-bit
    # universe keeps a*h+b below 2^59 (no int64 overflow under ANSI).
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    hashed = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 3 THEN "
                "  transform(sequence(0, size(w) - 3), "
                "            i -> pmod(xxhash64(w[i], w[i+1], w[i+2]), 268435456)) "
                "ELSE array(pmod(xxhash64(array_join(w, ' ')), 268435456)) END"
            )
        ).alias("h"),
    )
    # r17: plain `%` instead of pmod — the operand a*h+b is always
    # positive (a,b > 0, h in the 28-bit universe, product < 2^59), so
    # the results are IDENTICAL (verified cell-for-cell at sf0.1) and
    # the per-shingle cost drops from two long-mods to one across the
    # 64 permutations (guide §1.2 per-task work; mins stage 0.63 s ->
    # 0.56 s at sf0.1).
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_A[i]).cast("long") * F.col("h") + F.lit(_B[i]))
                % F.lit(_MERSENNE_P)
            ).alias(f"m{i}")
            for i in range(_N_HASHES)
        ]
    )  # band self-join: identical exchanges below are reused (ReusedExchange)
    # Band signature = xxhash64 of the band's 4 mins: an 8-byte join
    # key instead of a concat string. A (vanishingly rare) xxhash64
    # band collision only adds a false CANDIDATE, which exact
    # verification below discards — correctness unaffected.
    bands = mins.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"m{b * _ROWS_PER_BAND + r}")
                            for r in range(_ROWS_PER_BAND)
                        ]
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band_id", "band_sig"),
    )
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    candidates = (
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_sig") == F.col("bb.band_sig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint()  # referenced three times below; tiny relation
    )
    # exact-Jaccard verification of candidates only, at (doc_id,
    # shingle) grain (the decontaminate pattern, operators/
    # pipeline.py) — never a set-valued shuffle column. Candidate
    # pairs are a vanishing fraction of the corpus, so the docs they
    # touch are re-shingled AFTER a broadcast semi-join restriction:
    # every verification shuffle runs on the small restricted
    # relation, and the corpus-wide stage stays signature-only.
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d_cand = d.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    shc = _shingle_rows(d_cand).distinct()
    sizes = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = shc.alias("sa")
    sb = shc.alias("sb")
    common = (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
            "left_semi",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    verified = (
        common.join(za, F.col("doc_a") == F.col("za.doc_id"))
        .join(zb, F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.col("n_common")
                / (F.col("za.n") + F.col("zb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_transform(
                 string_split(text, ' '),
                 t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
        FROM documents
    )
    SELECT
        doc_id,
        CAST(list_sum(
          list_transform(range(0, 60), i ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
    FROM tok
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (60-bit, md5-derived token hashes) — per-doc signature.

    Explode tokens, hash each ONCE, then the 60 per-bit vote sums are
    map-side partial aggregates and the signature is a 60-term scalar
    expression — all whole-stage codegen. (The in-row nested-HOF
    formulation re-evaluated the token-hash transform per bit:
    60× the md5 work, interpreted — 10× slower at sf0.1.) The shuffle
    carries 60 longs per doc regardless of document size."""
    d = load(spark, sf_dir, "documents")
    # r18 (the Class-B recipe, guide §2.5): the single-split documents
    # scan put all ~400k token md5s in ONE task — a cores-derived
    # repartition of the 5k DOC rows (cheap) parallelizes the
    # explode+hash+vote pass. Value-neutral: the per-bit votes are
    # order-independent integer sums.
    hashed = (
        d.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .select(
            "doc_id",
            F.expr(
                "CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(60)
        ]
    )
    sig = None
    for i in range(60):
        term = F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


@register(
    "dedup_simhash_near_pairs",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_transform(
                 string_split(text, ' '),
                 t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CAST(list_sum(
                 list_transform(range(0, 60), i ->
                   CASE WHEN list_sum(list_transform(hs, h ->
                          CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                        THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
        FROM tok
    )
    SELECT
        a.doc_id                                   AS doc_a,
        b.doc_id                                   AS doc_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance <= 6.

    Pair join is banded on the top-16 bits of the signature at scale
    (near-identical docs share the prefix whp); here the toy cardinality
    lets the oracle do the full self-join for an exact comparison.
    """
    # r18: BOTH sides of the pair join referenced the lazy signature
    # pipeline — the whole md5+vote pass executed twice; and the
    # non-equi (a < b) join ran its 12.5M pair evaluations in one
    # task. PLAIN checkpoint + cores-derived repartition: the honest
    # |docs|-row estimate keeps the non-equi join a
    # BroadcastNestedLoopJoin (the documented toy-cardinality plan —
    # at scale the join is BANDED on the signature prefix, see
    # docstring); a conservative checkpoint here would degrade it to
    # the CartesianProduct the plan suite forbids. Measured 2.83 ->
    # ~1.9 s full invocation (pair stage 1.31 -> 0.41 isolated).
    # Per-pair scalar edge, placement value-neutral.
    sigs = (
        dedup_simhash(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_ORACLE_JACCARD_PAIRS.format(thr="0.5")}),
    e(a, b) AS (
        SELECT doc_a, doc_b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(s, t) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a
    )
    SELECT s AS doc_id, CAST(min(t) AS BIGINT) AS component
    FROM reach
    GROUP BY s
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the 3-gram
    Jaccard>=0.5 pair graph — component id = min doc_id reachable, the
    canonical "keeper" rule for dedup groups.

    Iterative min-label propagation on DataFrames: each round every
    node takes min(own label, neighbors' labels); converges in
    O(graph diameter) rounds. A checkpoint per round truncates the
    lineage (else plans grow exponentially) — the standard shape for
    iterative algorithms on Spark without GraphX. The edge list and
    each round's labels checkpoint CONSERVATIVELY: both scale with the
    corpus, and a plain checkpoint would carry the round join's
    multiplied estimate (measured up to 4.5e75 B/row). The oracle is a
    recursive-CTE transitive closure. At 100 TB use the large-star/
    small-star variant (fewer rounds on skewed degree distributions);
    the per-round dataflow is identical."""
    pairs = _jaccard_pairs(spark, sf_dir, 0.5).select("doc_a", "doc_b")
    d = load(spark, sf_dir, "documents").select("doc_id")
    edges = checkpoint_conservative(
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
    )
    labels = d.select("doc_id", F.col("doc_id").alias("component")).localCheckpoint()
    for _ in range(20):  # >= graph diameter on any plausible corpus
        neigh = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        new_labels = checkpoint_conservative(
            labels.join(neigh, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neigh_min"), F.col("component")),
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("component").cast("long").alias("component"))


@register(
    "dedup_prefix_hash",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               md5(array_to_string(string_split(text, ' ')[1:20], ' '))
                   AS prefix_hash
        FROM documents
    )
    SELECT prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM p
    GROUP BY prefix_hash
    HAVING count(*) >= 2
    """,
)
def dedup_prefix_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix deduplication: documents sharing their first 20 tokens
    are near-certain template copies (truncation variants, pagination
    duplicates — the RefinedWeb/CCNet-style cheap tier between exact
    hash and MinHash). Hash only the bounded prefix, groupBy the
    8-byte digest, keep the smallest doc_id per collision group.
    Scan-speed map + one O(groups) shuffle with map-side combine; the
    prefix bound means cost is independent of document length, which
    is the point at 100 TB (exact dedup hashes every byte)."""
    d = load(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.md5(F.array_join(F.slice(F.split("text", " "), 1, 20), " ")).alias(
            "prefix_hash"
        ),
    )
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "dedup_asymmetric_containment",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(
                 CASE WHEN len(w) >= 3
                      THEN [array_to_string(w[i:i+2], ' ')
                            FOR i IN range(1, len(w) - 1)]
                      ELSE [array_to_string(w, ' ')]
                 END)) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id < 250)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           round(i.n_common * 1.0 / sa.n_sh, 6) AS containment_r
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    WHERE i.n_common * 10 >= 9 * sa.n_sh
    """,
)
def dedup_asymmetric_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup — |A∩B| / |A| >= 0.9, the measure
    symmetric Jaccard misses: a short document quoted inside a long
    one scores low Jaccard (the union is huge) but high containment,
    and it's exactly the quote-expansion / boilerplate-wrapped /
    prefix-republished duplicates a crawl is full of. Same shingle
    equi-join backbone as the Jaccard row (shuffle keyed on shingle,
    df-cap applies unchanged at scale), but normalized by the
    CONTAINED side's shingle count, so the relation is directional:
    (A contained-in B) without (B contained-in A). The integer
    threshold test 10·common >= 9·|A| keeps the cut float-free."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    sh = _shingle_rows(d).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .filter(F.col("n_common") * 10 >= 9 * F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment_r"),
        )
    )


@register(
    "dedup_health_dashboard",
    oracle="""
    WITH docs AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
    ),
    exact AS (
        SELECT source,
               count(*) AS n_docs,
               count(DISTINCT h) AS n_unique
        FROM docs GROUP BY source
    ),
    prefix AS (
        SELECT source,
               count(DISTINCT md5(array_to_string(
                   string_split(text, ' ')[1:10], ' '))) AS n_prefix
        FROM documents GROUP BY source
    )
    SELECT e.source,
           CAST(e.n_docs AS BIGINT) AS n_docs,
           CAST(e.n_docs - e.n_unique AS BIGINT) AS n_exact_dups,
           round((e.n_docs - e.n_unique) * 1.0 / e.n_docs, 6)
               AS exact_dup_rate_r,
           CAST(e.n_docs - p.n_prefix AS BIGINT) AS n_prefix_dups,
           round((e.n_docs - p.n_prefix) * 1.0 / e.n_docs, 6)
               AS prefix_dup_rate_r
    FROM exact e JOIN prefix p ON p.source = e.source
    """,
)
def dedup_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup health dashboard — the per-source duplication report a
    curation team reviews before mixing: exact-duplicate rate
    (content-hash census) next to the coarser 10-token-prefix
    duplicate rate (the cheap near-dup proxy — prefix collisions
    without full-hash collisions flag templated/boilerplate-heavy
    sources that need the expensive MinHash pass). Both rates come
    from count-distinct aggregates over ONE scan each — this is the
    triage that decides WHERE to spend the LSH budget, so it must
    stay scan-cheap. A source with high prefix-dup but low exact-dup
    rate is the classic syndication signature."""
    d = load(spark, sf_dir, "documents")
    exact = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_unique"),
    )
    prefix = d.groupBy("source").agg(
        F.countDistinct(
            F.md5(
                F.array_join(F.slice(F.split("text", " "), 1, 10), " ").cast(
                    "binary"
                )
            )
        ).alias("n_prefix")
    )
    return exact.join(prefix, "source").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_exact_dups"),
        F.round(
            (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6
        ).alias("exact_dup_rate_r"),
        (F.col("n_docs") - F.col("n_prefix")).cast("long").alias("n_prefix_dups"),
        F.round(
            (F.col("n_docs") - F.col("n_prefix")) / F.col("n_docs"), 6
        ).alias("prefix_dup_rate_r"),
    )


@register(
    "dedup_minhash_portable_eval",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    seeds AS (SELECT unnest(range(0, 16)) AS seed),
    hashed AS (
        SELECT sh.doc_id, seeds.seed,
               min(CAST('0x' || substr(md5(sh.shingle || ':'
                        || CAST(seeds.seed AS VARCHAR)), 1, 15) AS BIGINT))
                   AS mh
        FROM sh CROSS JOIN seeds
        GROUP BY sh.doc_id, seeds.seed
    ),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_sig
        FROM hashed GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    truth AS (
        SELECT doc_a, doc_b FROM ({_ORACLE_JACCARD_PAIRS.format(thr="0.5")})
    ),
    hits AS (
        SELECT c.doc_a FROM cand c
        JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ),
    m AS (
        SELECT
            (SELECT count(*) FROM cand) AS n_cand,
            (SELECT count(*) FROM truth) AS n_truth,
            (SELECT count(*) FROM hits) AS n_hits
    )
    SELECT CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_cand > 0
                THEN round(n_hits / (1.0 * n_cand), 6) END AS precision_r,
           CASE WHEN n_truth > 0
                THEN round(n_hits / (1.0 * n_truth), 6) END AS recall_r
    FROM m
    """,
)
def dedup_minhash_portable_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation of a MinHash-LSH design, oracle-checked
    END-TO-END: a fully portable 16-hash/4-band minhash (hashes are
    md5-derived, so DuckDB reproduces the exact signatures — the
    production row dedup_minhash_lsh uses xxhash64 for speed, whose
    values no oracle can recompute) generates banding candidates,
    which are scored against exact Jaccard≥0.5 ground truth as
    precision/recall. This is the offline eval a dedup owner runs
    before changing band geometry (pipeline_minhash_scurve predicts
    the curve; THIS measures it on real data). Same scale shape as
    the production path: shingle → per-(doc,seed) min → band-key
    equi-join; truth is feasible at test SF precisely because the
    banded index is the product."""
    d = load(spark, sf_dir, "documents")
    # r17: cores-derived repartition before the checkpoint — AQE
    # coalesces the tiny shingle exchange to ~1 partition, which would
    # serialize the 4.2M portable md5 evaluations below (seeds x
    # shingles). Round-robin placement is value-neutral here: min() is
    # order-independent and band signatures sort explicitly. The
    # checkpoint is conservative: the shingle set's build plan
    # advertises ~0.6 B/row (the r7 understated class), and shingles
    # scale with the corpus.
    sh = checkpoint_conservative(
        _shingle_rows(d)
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
    )
    seeds = F.broadcast(
        spark.range(0, 16).select(F.col("id").cast("int").alias("seed"))
    )
    hashed = (
        sh.crossJoin(seeds)
        .select(
            "doc_id",
            "seed",
            F.expr(
                "CAST(conv(substr(md5(concat(shingle, ':', CAST(seed AS STRING))),"
                " 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("mh"))
    )
    bands = (
        hashed.withColumn("band", F.expr("seed div 4"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("seed"), F.col("mh")))
                    ),
                    lambda x: x["mh"].cast("string"),
                ),
                ",",
            ).alias("band_sig")
        )
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "band_sig"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band", "band_sig"
    )
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    truth = _jaccard_pairs(spark, sf_dir, 0.5).select("doc_a", "doc_b")
    hits = cand.join(truth, ["doc_a", "doc_b"])
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_cand.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_hits))
        .select(
            F.col("n_cand").cast("long").alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.when(
                F.col("n_cand") > 0,
                F.round(F.col("n_hits") / (F.lit(1.0) * F.col("n_cand")), 6),
            ).alias("precision_r"),
            F.when(
                F.col("n_truth") > 0,
                F.round(F.col("n_hits") / (F.lit(1.0) * F.col("n_truth")), 6),
            ).alias("recall_r"),
        )
    )


@register(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    cut AS (
        SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS c FROM documents
    ),
    seeds AS (SELECT unnest(range(0, 16)) AS seed),
    hashed AS (
        SELECT sh.doc_id, seeds.seed,
               min(CAST('0x' || substr(md5(sh.shingle || ':'
                        || CAST(seeds.seed AS VARCHAR)), 1, 15) AS BIGINT))
                   AS mh
        FROM sh CROSS JOIN seeds
        GROUP BY sh.doc_id, seeds.seed
    ),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_sig
        FROM hashed GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
        FROM bands n
        JOIN bands o ON n.band = o.band AND n.band_sig = o.band_sig
        CROSS JOIN cut
        WHERE n.doc_id > cut.c AND o.doc_id <= cut.c
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.doc_new, c.doc_old, count(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_new
        JOIN sh b ON b.doc_id = c.doc_old AND b.shingle = a.shingle
        GROUP BY c.doc_new, c.doc_old
    )
    SELECT m.doc_new, m.doc_old,
           round(m.n_common / (1.0 * (sa.n + sb.n - m.n_common)), 6)
               AS jaccard_r
    FROM common m
    JOIN sizes sa ON sa.doc_id = m.doc_new
    JOIN sizes sb ON sb.doc_id = m.doc_old
    WHERE m.n_common / (1.0 * (sa.n + sb.n - m.n_common)) >= 0.5
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup ingest — the production shape: a NEW batch
    (top 20% of doc_ids as the arriving snapshot) is signed and
    joined against the EXISTING band index only (new×old candidates,
    never old×old — the whole point of keeping the index), then
    exact-verified at Jaccard ≥ 0.5. Uses the portable md5 minhash
    (16 hashes / 4 bands, same geometry as the eval row) so the
    entire incremental path — signatures, band join, verify — is one
    DuckDB twin. At 100 TB the old side's signatures are a stored
    table; per-ingest cost is |batch| signatures + one band-key
    equi-join against the index."""
    d = load(spark, sf_dir, "documents")
    # conservative: the shingle set's build plan advertises ~0.6 B/row
    # (the r7 understated class), and shingles scale with the corpus
    sh = checkpoint_conservative(_shingle_rows(d).distinct())
    cut = d.agg(F.floor(F.max("doc_id") * 0.8).cast("long").alias("c"))
    seeds = F.broadcast(
        spark.range(0, 16).select(F.col("id").cast("int").alias("seed"))
    )
    hashed = (
        sh.crossJoin(seeds)
        .select(
            "doc_id",
            "seed",
            F.expr(
                "CAST(conv(substr(md5(concat(shingle, ':', CAST(seed AS STRING))),"
                " 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("mh"))
    )
    bands = (
        hashed.withColumn("band", F.expr("seed div 4"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("seed"), F.col("mh")))
                    ),
                    lambda x: x["mh"].cast("string"),
                ),
                ",",
            ).alias("band_sig")
        )
        .crossJoin(F.broadcast(cut))
    )
    new_side = bands.filter(F.col("doc_id") > F.col("c")).select(
        F.col("doc_id").alias("doc_new"), "band", "band_sig"
    )
    old_side = bands.filter(F.col("doc_id") <= F.col("c")).select(
        F.col("doc_id").alias("doc_old"), "band", "band_sig"
    )
    cand = (
        new_side.join(old_side, ["band", "band_sig"])
        .select("doc_new", "doc_old")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_new"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_old"), "shingle")
    common = (
        cand.join(a, "doc_new")
        .join(b, ["doc_old", "shingle"])
        .groupBy("doc_new", "doc_old")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_new"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_old"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (
        F.lit(1.0) * (F.col("na") + F.col("nb") - F.col("n_common"))
    )
    return (
        common.join(sa, "doc_new")
        .join(sb, "doc_old")
        .filter(jac >= 0.5)
        .select("doc_new", "doc_old", F.round(jac, 6).alias("jaccard_r"))
    )


@register(
    "dedup_winnowing_pairs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    h AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3
                    THEN [CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' '
                                || ws[i+2]), 1, 7) AS BIGINT)
                          FOR i IN range(1, len(ws) - 1)]
                    ELSE [] END AS hs
        FROM t
    ),
    w AS (
        SELECT doc_id, hs,
               CASE WHEN len(hs) >= 4
                    THEN [list_min(hs[j:j+3]) FOR j IN range(1, len(hs) - 2)]
                    ELSE [] END AS wins
        FROM h
    ),
    fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM w),
    df AS (SELECT fp, count(*) AS c FROM fp GROUP BY fp),
    kept AS (
        SELECT f.doc_id, f.fp FROM fp f JOIN df USING (fp) WHERE df.c <= 20
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sets AS (SELECT doc_id, list_distinct(hs) AS ks FROM h),
    ver AS (
        SELECT c.doc_a, c.doc_b, c.shared,
               len(list_intersect(sa.ks, sb.ks)) AS inter,
               len(sa.ks) + len(sb.ks)
                   - len(list_intersect(sa.ks, sb.ks)) AS uni
        FROM cand c
        JOIN sets sa ON sa.doc_id = c.doc_a
        JOIN sets sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(shared AS BIGINT)            AS n_shared_fps,
           round(inter / (1.0 * uni), 6)     AS jaccard_r
    FROM ver
    WHERE inter / (1.0 * uni) >= 0.5
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via winnowing fingerprints — the positional
    complement to dedup_minhash_lsh: candidates are document pairs
    sharing at least one MOSS winnowing fingerprint (k=3-word
    shingles, window w=4 — see text_winnowing_fingerprint), verified
    by exact shingle-hash Jaccard >= 0.5. Winnowing guarantees any
    sufficiently long shared substring produces a shared fingerprint,
    so candidate recall for contiguous plagiarism/boilerplate is
    structural, not probabilistic.

    Scale shape: fingerprinting runs in whole-stage codegen on one
    doc_id exchange (posexplode + lead shingles + sliding-frame
    window min — text._winnow_rows; the in-row HOF formulation
    measured 106 s vs ~2 s here, see its docstring) and the posting
    list carries ~2/(w+1) of the shingle count; stop-shingle
    fingerprints with document frequency > 20 are dropped BEFORE the
    pair join (the standard hot-bucket cap — the equi-join on
    fingerprint is then bounded at O(df_cap * postings) instead of
    quadratic in the hottest bucket); exact verification touches
    candidate pairs only, shipping each doc's distinct-shingle array
    (collect_set) to its (few) pairs. Deterministic end-to-end: the
    oracle is a full DuckDB twin of the same pipeline, not an
    all-pairs approximation argument."""
    from hive_task_spark.operators.text import _winnow_rows

    d = load(spark, sf_dir, "documents")
    # r17: checkpoint the winnowed rows — both the fingerprint posting
    # list and the verification shingle sets read them, and without the
    # checkpoint the posexplode+window fingerprint pass executed twice.
    # The cores-derived repartition keeps the downstream hash/verify
    # work parallel after AQE coalesces the tiny window exchange
    # (value-neutral: every consumer aggregates with order-independent
    # min/collect_set-then-sort or exact set ops).
    # r18 (ADVICE r17 #4): conservative checkpoint — the plain form
    # advertised 0.96 B/row (26939 rows, 25969 B — the r7 understated
    # class, caught by the checkpoint-stats guard).
    # Winnowed rows scale with the corpus, so no-broadcast is the only
    # plan that survives 100 TB.
    rows = checkpoint_conservative(
        _winnow_rows(d).repartition(spark.sparkContext.defaultParallelism)
    )
    fp = (
        rows.filter(F.col("valid"))
        .select("doc_id", F.col("wmin").alias("fp"))
        .dropDuplicates()
    )
    df_cap = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    kept = fp.join(df_cap.filter(F.col("c") <= 20), "fp").select("doc_id", "fp")
    cand = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sets = rows.groupBy("doc_id").agg(F.collect_set("h").alias("ks"))
    ver = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("ks").alias("ka")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("ks").alias("kb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ka", "kb")))
        .withColumn("uni", F.size("ka") + F.size("kb") - F.col("inter"))
    )
    jac = F.col("inter") / (F.lit(1.0) * F.col("uni"))
    return ver.filter(jac >= 0.5).select(
        "doc_a",
        "doc_b",
        F.col("shared").cast("long").alias("n_shared_fps"),
        F.round(jac, 6).alias("jaccard_r"),
    )
