"""Property-based spot checks — SURVEY.md §5.2.4: algebraic identities
that must hold for ANY correct engine, independent of the oracle.

hypothesis drives predicate/parameter choice (few examples — each
example is a Spark job); deterministic identities run plain."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from hive_task_spark import registry
from hive_task_spark.tables import load

registry.load_all()

_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.mark.parametrize("col", ["l_returnflag", "l_linestatus", "l_suppkey"])
def test_group_counts_partition_total(spark, sf_dir, col):
    """sum of per-group counts == table count, for any grouping key."""
    li = load(spark, sf_dir, "lineitem")
    total = li.count()
    by_group = li.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    assert by_group.agg(F.sum("n")).collect()[0][0] == total


def test_union_all_and_distinct(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    assert o.unionByName(o).count() == 2 * o.count()
    assert o.unionByName(o).distinct().count() == o.distinct().count()


def test_except_self_is_empty(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    assert c.exceptAll(c).count() == 0


def test_dedup_idempotent(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    once = d.dropDuplicates(["text"])
    assert once.dropDuplicates(["text"]).count() == once.count()


def test_semi_plus_anti_partition(spark, sf_dir):
    """left-semi ∪ left-anti partitions the left side exactly."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    on = c["c_custkey"] == o["o_custkey"]
    semi = c.join(o, on, "left_semi").count()
    anti = c.join(o, on, "left_anti").count()
    assert semi + anti == c.count()


@_SETTINGS
@given(
    lo=st.floats(min_value=0.0, max_value=0.05),
    hi=st.floats(min_value=0.05, max_value=0.11),
    flag=st.sampled_from(["A", "N", "R"]),
)
def test_filter_conjunction_and_partition(spark, sf_dir, lo, hi, flag):
    """filter(a AND b) == filter(a).filter(b); predicate + negation
    partition the table (discount has no NULLs)."""
    li = load(spark, sf_dir, "lineitem")
    a = F.col("l_discount").between(lo, hi)
    b = F.col("l_returnflag") == flag
    both = li.filter(a & b).count()
    chained = li.filter(a).filter(b).count()
    assert both == chained
    assert li.filter(a).count() + li.filter(~a).count() == li.count()


@_SETTINGS
@given(k=st.integers(min_value=1, max_value=10))
def test_topk_per_group_size_bound(spark, sf_dir, k):
    """top-k per group yields <= k rows per group and is a subset of
    the group's rows."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    topk = o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    worst = (
        topk.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert worst <= k


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """LSH candidate pipeline output == exact all-pairs Jaccard at the
    same threshold on this corpus (banding parameters make a miss at
    j>=0.85 a <1e-5 event)."""
    from hive_task_spark.operators.dedup import JACCARD_THRESHOLD, _jaccard_pairs

    lsh = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_pairs(spark, sf_dir, JACCARD_THRESHOLD).collect()
    }
    assert lsh == exact


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Multi-table sign-LSH ANN must recover >= 80% of the exact top-k
    (measured 100% on this corpus; bound left slack for seed drift)."""
    bf = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["similarity_topk_bruteforce"](spark, sf_dir).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["similarity_ann_lsh"](spark, sf_dir).collect()
    }
    assert len(bf & ann) / len(bf) >= 0.8


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF (frozen sf0.01-trained codebook, nprobe=8/16) must recover
    >= 70% of the exact top-k (measured 0.76 at sf0.001 / 0.94 at
    sf0.01; random embeddings are IVF's worst case, and sf0.001 is
    out-of-training-sample for the codebook — real clustered
    embeddings do far better)."""
    bf = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["similarity_topk_bruteforce"](spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["similarity_ann_ivf"](spark, sf_dir).collect()
    }
    assert len(bf & ivf) / len(bf) >= 0.7


def test_sessionize_partitions_events(spark, sf_dir):
    """Sessions partition each user's events: per-user session event
    counts sum to the user's total event count, and session values sum
    to the user's total value (within float tolerance)."""
    e = load(spark, sf_dir, "events")
    sess = registry.QUERIES["pipeline_sessionize_events"](spark, sf_dir)
    got = {
        r["user_id"]: (r["n"], r["v"])
        for r in sess.groupBy("user_id")
        .agg(F.sum("n_events").alias("n"), F.sum("sess_value").alias("v"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["v"])
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-6


def test_mixture_rebalance_uniform(spark, sf_dir):
    """After rebalancing, every source contributes exactly min-source
    rows — the definition of the uniform mix."""
    d = load(spark, sf_dir, "documents")
    min_n = (
        d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n")).collect()[0][0]
    )
    per_source = (
        registry.QUERIES["pipeline_mixture_rebalance"](spark, sf_dir)
        .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert per_source and all(r["n"] == min_n for r in per_source)


def test_token_budget_is_maximal_prefix(spark, sf_dir):
    """The selection fits the budget and is maximal: max cumulative
    tokens ≤ budget, and no selected doc could be dropped to admit a
    doc with more tokens (prefix property of the running sum)."""
    sel = registry.QUERIES["pipeline_token_budget"](spark, sf_dir)
    rows = sel.orderBy("cum_tokens").collect()
    assert rows, "budget selection must be non-empty"
    assert rows[-1]["cum_tokens"] <= 20000
    # running sum is consistent: cum[i] - cum[i-1] == n_tokens[i]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_tokens"] - prev["cum_tokens"] == cur["n_tokens"]


def test_hash_sample_deterministic_subset(spark, sf_dir):
    """The hash sample is a deterministic subset: two runs agree
    exactly, and every sampled doc exists in the corpus."""
    a = {r["doc_id"] for r in registry.QUERIES["pipeline_hash_sample"](spark, sf_dir).collect()}
    b = {r["doc_id"] for r in registry.QUERIES["pipeline_hash_sample"](spark, sf_dir).collect()}
    assert a == b
    all_ids = {r["doc_id"] for r in load(spark, sf_dir, "documents").select("doc_id").collect()}
    assert a <= all_ids and 0 < len(a) < len(all_ids)


def test_funnel_stages_monotone(spark, sf_dir):
    """Funnel stage counts can only shrink: view ≥ view+click ≥ full."""
    r = registry.QUERIES["analytics_funnel"](spark, sf_dir).collect()[0]
    assert r["n_view"] >= r["n_view_click"] >= r["n_full_funnel"] >= 0


def test_pagerank_mass_bounds(spark, sf_dir):
    """Ranks are positive and total mass ≤ 1 (dangling mass is
    dropped, not redistributed, so the sum stays strictly below 1)."""
    rows = registry.QUERIES["analytics_pagerank_lite"](spark, sf_dir).collect()
    assert rows and all(r["rank_r"] > 0 for r in rows)
    assert sum(r["rank_r"] for r in rows) <= 1.0 + 1e-6


def test_resample_spine_dense(spark, sf_dir):
    """Each user's resampled grid is dense: row count == last day −
    first day + 1, with no missing day_idx."""
    grid = registry.QUERIES["analytics_resample_locf"](spark, sf_dir)
    stats = (
        grid.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("day_idx") - F.min("day_idx") + 1).alias("span"),
            F.countDistinct("day_idx").alias("nd"),
        )
        .collect()
    )
    assert stats and all(r["n"] == r["span"] == r["nd"] for r in stats)


def test_ivf_codebook_training_shape(spark, sf_dir):
    """The offline Lloyd trainer (whose sf0.01 output is frozen into
    `_IVF_CODEBOOK`) runs end-to-end on DataFrame ops and yields a
    well-formed codebook: K centroids x DIM dims, norms in (0, 1]
    (means of unit vectors), every value finite."""
    import math

    from hive_task_spark.operators import similarity as sim

    cb = sim.train_ivf_codebook(spark, sf_dir, k=4, iters=2)
    assert len(cb) == 4 and all(len(c) == sim._DIM for c in cb)
    for c in cb:
        nrm = math.sqrt(sum(x * x for x in c))
        assert 0.0 < nrm <= 1.0 + 1e-9
        assert all(math.isfinite(x) for x in c)


def test_triangle_count_known_graph(spark):
    """Degree-oriented triangle counting on a hand-built graph with a
    known answer: K4 (4 triangles... K4 has C(4,3)=4 triangles) plus a
    pendant edge and an isolated edge — 4 triangles exactly, counted
    once each regardless of orientation choices."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (6, 7)],
        "u long, v long",
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("un"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("vn"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, F.col("u") == F.col("un"))
        .join(dv, F.col("v") == F.col("vn"))
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    o1 = oriented.select(F.col("s").alias("s1"), F.col("t").alias("t1"))
    o2 = oriented.select(F.col("s").alias("s2"), F.col("t").alias("t2"))
    o3 = oriented.select(F.col("s").alias("s3"), F.col("t").alias("t3"))
    n = (
        o1.join(o2, F.col("t1") == F.col("s2"))
        .join(o3, (F.col("s3") == F.col("s1")) & (F.col("t3") == F.col("t2")))
        .count()
    )
    assert n == 4


def test_markov_probabilities_sum_to_one(spark, sf_dir):
    """Each from-state's outgoing transition probabilities must sum to
    ~1 (rounded edge)."""
    from pyspark.sql import functions as F

    from hive_task_spark import registry

    registry.load_all()
    df = registry.QUERIES["analytics_markov_transitions"](spark, sf_dir)
    sums = df.groupBy("from_type").agg(F.sum("p_trans").alias("p"))
    for r in sums.collect():
        assert abs(r.p - 1.0) < 1e-4, r


def test_kmeans_assignment_covers_corpus(spark, sf_dir):
    """Every embedding lands in exactly one cluster: cluster sizes sum
    to the corpus size; dominant-label support never exceeds size."""
    from pyspark.sql import functions as F

    from hive_task_spark import registry
    from hive_task_spark.tables import load

    registry.load_all()
    df = registry.QUERIES["similarity_kmeans_assign"](spark, sf_dir)
    total = load(spark, sf_dir, "embeddings").count()
    rows = df.collect()
    assert sum(r.n_vecs for r in rows) == total
    assert all(r.top_label_n <= r.n_vecs for r in rows)


def test_jl_projection_preserves_norms(spark, sf_dir):
    """JL with k=8 is lossy but unbiased: every ratio is positive and
    the mean ratio-squared sits near 1 (Rademacher projection is an
    unbiased norm estimator)."""
    from hive_task_spark import registry

    registry.load_all()
    rows = registry.QUERIES["similarity_dim_reduction"](spark, sf_dir).collect()
    ratios = [r.norm_ratio_r for r in rows]
    assert all(x > 0 for x in ratios)
    mean_sq = sum(x * x for x in ratios) / len(ratios)
    assert 0.7 < mean_sq < 1.3, mean_sq


def test_audit_window_composition():
    """The first 50 registered queries ARE the current rotation promise
    (registry.AUDIT_WINDOW, schedule in CLAUDE.md): any drift fails
    here, not silently in the driver's audit.  Rotation-invariant on
    purpose — the expected composition is read from AUDIT_WINDOW
    itself, never from hardcoded last-round names (the literal pins
    this test used to carry went stale at every rotation)."""
    from hive_task_spark import registry

    registry.load_all()
    names = list(registry.QUERIES)[:50]
    assert len(registry.AUDIT_WINDOW) == 50
    assert len(set(registry.AUDIT_WINDOW)) == 50  # no duplicate slots
    assert names == list(registry.AUDIT_WINDOW)
    # every window name must be oracle-backed (r18 closed the last
    # rows-only gap: hash_engine_specific now carries a literal-boolean
    # property oracle)
    missing = [n for n in names if n not in registry.ORACLES]
    assert not missing, missing


def test_session_window_conserves_events(spark, sf_dir):
    """Batch session_window must partition the event stream exactly:
    session event-counts sum to the table count, every session has
    start < end, and values are conserved at 2dp."""
    out = registry.QUERIES["agg_session_window_batch"](spark, sf_dir)
    from pyspark.sql import functions as F

    total = out.agg(F.sum("n_events")).collect()[0][0]
    n_raw = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == n_raw
    assert out.filter(F.col("session_end_us") <= F.col("session_start_us")).count() == 0


def test_bloom_prefilter_never_misses(spark, sf_dir):
    """The Bloom contract: zero false negatives, and the pass set is a
    superset of the true-hit set (n_pass >= n_true)."""
    row = registry.QUERIES["pipeline_bloom_prefilter"](spark, sf_dir).collect()[0]
    assert row["n_false_neg"] == 0
    assert row["n_bloom_pass"] >= row["n_true_hits"]
    assert row["n_bloom_pass"] - row["n_true_hits"] == row["n_false_pos"]


def test_winsorize_bounds_and_conservation(spark, sf_dir):
    """Winsorization invariants: lo <= hi per group and the clipped sum
    never exceeds the raw sum's clip envelope (lo*n <= sum <= hi*n)."""
    rows = registry.QUERIES["quality_winsorize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["clip_lo"] <= r["clip_hi"]
        n = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(f"lang = '{r['lang']}'")
            .count()
        )
        assert r["clip_lo"] * n <= r["sum_winsorized"] <= r["clip_hi"] * n


def test_product_quantization_codes_in_range(spark, sf_dir):
    """PQ invariants: every code in [0, 3], error non-negative, one
    row per vector."""
    out = registry.QUERIES["similarity_product_quantization"](spark, sf_dir)
    rows = out.collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    for r in rows[:50]:
        codes = [int(c) for c in r["pq_code"].split("|")]
        assert len(codes) == 4 and all(0 <= c <= 3 for c in codes)
        assert r["err_r"] >= 0.0


def test_zorder_buckets_partition_table(spark, sf_dir):
    """Morton bucketing is a partition of the table: bucket row counts
    sum to the table count and bounding boxes nest in the key domain."""
    from pyspark.sql import functions as F

    out = registry.QUERIES["pipeline_zorder_layout"](spark, sf_dir)
    total = out.agg(F.sum("n_rows")).collect()[0][0]
    n_raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert total == n_raw
    assert out.filter(
        (F.col("min_part") > F.col("max_part"))
        | (F.col("min_supp") > F.col("max_supp"))
    ).count() == 0


def test_rolling_regression_two_point_slope(spark, sf_dir):
    """For n=2 windows the OLS slope must equal the exact two-point
    difference (y2-y1)/(x2-x1) = y2-y1 in cents (consecutive x)."""
    from pyspark.sql import functions as F

    out = registry.QUERIES["window_rolling_regression"](spark, sf_dir)
    two = out.filter(F.col("n") == 2).limit(20).collect()
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    by_cust = {}
    for r in orders:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    for r in two:
        seq = sorted(
            by_cust[r["o_custkey"]], key=lambda o: (o["o_orderdate"], o["o_orderkey"])
        )
        idx = next(i for i, o in enumerate(seq) if o["o_orderkey"] == r["o_orderkey"])
        y2 = round(seq[idx]["o_totalprice"] * 100)
        y1 = round(seq[idx - 1]["o_totalprice"] * 100)
        assert abs(r["slope_cents"] - (y2 - y1)) < 1e-9


def test_attribution_linear_credit_conserved(spark, sf_dir):
    """Linear attribution credit must sum to ~1e6 micro-credits per
    attributed conversion (up to per-conversion rounding of the three
    shares, each within 0.5 micro-credit)."""
    from pyspark.sql import functions as F

    out = registry.QUERIES["analytics_attribution_models"](spark, sf_dir)
    rows = {r["touch_type"]: r for r in out.collect()}
    total_linear = sum(r["linear_micros"] for r in rows.values())
    n_conv = sum(r["last_touch"] for r in rows.values())  # each conv has ONE last touch
    assert abs(total_linear - n_conv * 1_000_000) <= n_conv * 2


def test_bpe_apply_merges_reduce_tokens(spark, sf_dir):
    """BPE invariants: words <= tokens <= chars, and the frozen merges
    actually fire on the fixture (tokens strictly below chars)."""
    from pyspark.sql import functions as F

    out = registry.QUERIES["text_bpe_apply"](spark, sf_dir)
    r = out.agg(
        F.sum("n_bpe_tokens").alias("t"),
        F.sum("n_chars").alias("c"),
        F.sum("n_words").alias("w"),
    ).collect()[0]
    assert r["w"] <= r["t"] < r["c"]


def test_queries_survive_empty_input(spark, tmp_path):
    """Empty-partition robustness: representative operators from each
    family must plan and execute (returning zero rows, not crashing)
    when every table is empty — the all-partitions-pruned / empty-
    micro-batch condition any 100 TB job eventually hits."""
    import os

    empty_dir = str(tmp_path / "sf_empty")
    os.makedirs(empty_dir, exist_ok=True)
    src = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    from hive_task_spark.tables import TABLES

    for t in TABLES:
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{empty_dir}/{t}.parquet")
    names = [
        "q1_pricing_summary",
        "join_inner_star",
        "agg_stats_suite",
        "window_ranking",
        "setop_union_distinct",
        "dedup_exact_hash",
        "similarity_topk_bruteforce",
        "text_quality_scores",
        "pipeline_sessionize_events",
        "analytics_dau_mau",
        "agg_session_window_batch",
        "pipeline_scd2_dimension",
        "join_temporal_pointintime",
        "quality_winsorize",
        "pipeline_zorder_layout",
        "analytics_association_rules",
    ]
    for name in names:
        out = registry.QUERIES[name](spark, empty_dir)
        assert out.count() == 0, f"{name}: expected empty result"


def test_bfs_distances_valid(spark, sf_dir):
    """BFS: source at distance 0, all distances within the superstep
    bound, and exactly one source row."""
    out = registry.QUERIES["analytics_shortest_path_bfs"](spark, sf_dir).collect()
    by_node = {r["node"]: r["dist"] for r in out}
    assert by_node[1] == 0
    assert sum(1 for d in by_node.values() if d == 0) == 1
    assert all(0 <= d <= 6 for d in by_node.values())


def test_rank_tests_statistic_bounds(spark, sf_dir):
    """MWU: U in [0, n1*n2]; KS: D in [0, 1]; chi2 >= 0; F >= 0."""
    mwu = registry.QUERIES["analytics_mann_whitney"](spark, sf_dir).collect()[0]
    assert 0.0 <= mwu["u_stat_r"] <= mwu["n1"] * mwu["n2"]
    ks = registry.QUERIES["analytics_ks_test"](spark, sf_dir).collect()[0]
    assert 0.0 <= ks["d_stat_r"] <= 1.0
    chi = registry.QUERIES["analytics_chi_square"](spark, sf_dir).collect()[0]
    assert chi["chi2_r"] >= 0.0 and 0.0 <= chi["cramers_v_r"] <= 1.0
    an = registry.QUERIES["analytics_anova_f"](spark, sf_dir).collect()[0]
    assert an["f_stat_r"] >= 0.0 and 0.0 <= an["eta_sq_r"] <= 1.0


def test_gini_pareto_partition(spark, sf_dir):
    """ABC classes partition the customer base; shares sum to ~1; the
    Gini coefficient is a proper concentration index."""
    rows = registry.QUERIES["analytics_gini_pareto"](spark, sf_dir).collect()
    n_cust = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert abs(sum(r["revenue_share_r"] for r in rows) - 1.0) < 1e-4
    assert all(0.0 <= r["gini_r"] < 1.0 for r in rows)


def test_ndcg_bounds(spark, sf_dir):
    """NDCG in (0, 1]; ideal DCG dominates the scored DCG."""
    rows = registry.QUERIES["text_ndcg_eval"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["idcg_r"] >= r["dcg_r"] - 1e-9
        assert 0.0 < r["ndcg_r"] <= 1.0 + 1e-9


def test_feature_hashing_conserves_tokens(spark, sf_dir):
    """Hashed features conserve the token count and stay in the fixed
    dimension space; signed counts are bounded by the cell count."""
    out = registry.QUERIES["pipeline_feature_hashing"](spark, sf_dir)
    agg = out.agg(
        F.sum("n_tokens").alias("tok"),
        F.min("dim").alias("dmin"),
        F.max("dim").alias("dmax"),
        F.max(F.abs(F.col("feat")) > F.col("n_tokens")).alias("bad"),
    ).collect()[0]
    docs = load(spark, sf_dir, "documents")
    raw = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "").count()
    assert agg["tok"] == raw
    assert 0 <= agg["dmin"] and agg["dmax"] < 32
    assert not agg["bad"]


def test_referential_integrity_fixtures_clean(spark, sf_dir):
    """The generated star schema has intact FKs — the audit must report
    zero orphans on every edge."""
    rows = registry.QUERIES["quality_referential_integrity"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["ok"] and r["n_orphans"] == 0 for r in rows)


def test_radius_join_equals_bruteforce(spark, sf_dir):
    """The neighbor-cell stencil must find EXACTLY the brute-force pair
    set — a missed cell offset would silently drop distant-cell pairs."""
    out = registry.QUERIES["geo_radius_join"](spark, sf_dir)
    got = {(r["c_custkey"], r["s_suppkey"]) for r in out.collect()}
    cust = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "((c_custkey * 37) % 9000) / 100.0 - 45 AS clat",
        "((c_custkey * 73) % 18000) / 100.0 - 90 AS clon"
    )
    supp = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", "((s_suppkey * 53) % 9000) / 100.0 - 45 AS slat",
        "((s_suppkey * 97) % 18000) / 100.0 - 90 AS slon"
    )
    hav = (
        "2 * 6371.0 * asin(sqrt(pow(sin(radians(slat - clat) / 2), 2)"
        " + cos(radians(clat)) * cos(radians(slat))"
        " * pow(sin(radians(slon - clon) / 2), 2)))"
    )
    brute = (
        cust.crossJoin(supp)
        .withColumn("d", F.expr(hav))
        .filter(F.col("d") < 500)
    )
    want = {(r["c_custkey"], r["s_suppkey"]) for r in brute.collect()}
    assert got == want


def test_snapshot_diff_census_identity(spark, sf_dir):
    """Diff counts must reproduce the deterministic perturbation: one
    md5 nibble each for removed / changed / added."""
    rows = {
        r["change_type"]: r["n_rows"]
        for r in registry.QUERIES["quality_snapshot_diff"](spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders")
    nib = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    n = o.count()
    n0 = o.filter(nib == "0").count()
    n1 = o.filter(nib == "1").count()
    n2 = o.filter(nib == "2").count()
    assert rows.get("removed", 0) == n0
    assert rows.get("changed", 0) == n1
    assert rows.get("added", 0) == n2
    assert rows.get("unchanged", 0) == n - n0 - n1


def test_equidepth_buckets_balanced(spark, sf_dir):
    """Equi-depth buckets differ by at most one row, partition the
    table, and have non-overlapping ordered ranges."""
    rows = sorted(
        registry.QUERIES["agg_equidepth_histogram"](spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    counts = [r["n"] for r in rows]
    assert max(counts) - min(counts) <= 1
    total = load(spark, sf_dir, "lineitem").count()
    assert sum(counts) == total
    for a, b in zip(rows, rows[1:]):
        assert a["lo"] <= a["hi"] <= b["lo"]


def test_survival_km_monotone(spark, sf_dir):
    """KM survival is non-increasing in duration and within [0, 1];
    n_at_risk is non-increasing too."""
    rows = sorted(
        registry.QUERIES["analytics_survival_km"](spark, sf_dir).collect(),
        key=lambda r: r["duration_min"],
    )
    assert rows
    last_s, last_n = 1.0 + 1e-9, None
    for r in rows:
        assert 0.0 <= r["survival_r"] <= last_s + 1e-9
        last_s = r["survival_r"]
        if last_n is not None:
            assert r["n_at_risk"] <= last_n
        last_n = r["n_at_risk"]


def test_weighted_sample_deterministic_and_sized(spark, sf_dir):
    """E-S weighted sample: exactly 50 distinct docs, identical on
    rerun (content-keyed uniforms)."""
    q = registry.QUERIES["pipeline_weighted_sample"]
    a = {r["doc_id"] for r in q(spark, sf_dir).collect()}
    b = {r["doc_id"] for r in q(spark, sf_dir).collect()}
    assert len(a) == 50 and a == b


def test_mmr_first_pick_is_top_relevance(spark, sf_dir):
    """MMR pick 1 must equal the pure-relevance argmax; all 5 picks
    distinct."""
    rows = registry.QUERIES["similarity_mmr_rerank"](spark, sf_dir).collect()
    assert len({r["vec_id"] for r in rows}) == 5
    by_pick = {r["pick"]: r for r in rows}
    assert by_pick[1]["rel_r"] == max(r["rel_r"] for r in rows)


def test_knn_predictions_cover_queries(spark, sf_dir):
    """kNN: one prediction per query vector, votes within [1, 5],
    labels drawn from the corpus label domain."""
    rows = registry.QUERIES["similarity_knn_classify"](spark, sf_dir).collect()
    assert len(rows) == 10
    labels = {
        r["label"]
        for r in load(spark, sf_dir, "embeddings").select("label").distinct().collect()
    }
    for r in rows:
        assert 1 <= r["n_votes"] <= 5
        assert r["predicted_label"] in labels


def test_dp_noise_bounded(spark, sf_dir):
    """Seeded Laplace(1) noise from a 48-bit uniform is bounded by
    ln(2^48) ~ 33.3 in magnitude."""
    rows = registry.QUERIES["pipeline_dp_counts"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r["noisy_n_r"] - r["true_n"]) <= 34.0


def test_path_flows_partition_users(spark, sf_dir):
    """Every user contributes exactly one path."""
    rows = registry.QUERIES["analytics_path_flows"](spark, sf_dir).collect()
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r["n_users"] for r in rows) == n_users


def test_streaks_within_span(spark, sf_dir):
    """Longest streak is >= 1 and <= the user's active-day count."""
    streaks = {
        r["user_id"]: r["longest_streak"]
        for r in registry.QUERIES["analytics_streak_longest"](spark, sf_dir).collect()
    }
    active = {
        r["user_id"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .select("user_id", (F.col("ts").cast("double") / 86400).cast("long").alias("d"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(streaks) == set(active)
    for u, s in streaks.items():
        assert 1 <= s <= active[u]


def test_chained_stream_conserves_counts(spark, sf_dir):
    """Chained daily rollup: emitted day counts equal the batch daily
    counts for every emitted day (no double count through the two
    stateful stages)."""
    got = {
        r["day_start_s"]: (r["n_events"], r["n_active_hours"])
        for r in registry.QUERIES["stream_chained_windows"](spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    batch = {
        r["d"]: (r["n"], r["h"])
        for r in e.groupBy(
            F.unix_timestamp(F.date_trunc("day", "ts")).cast("long").alias("d")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.date_trunc("hour", "ts")).alias("h"),
        )
        .collect()
    }
    assert got  # at least one finalized day
    for d, v in got.items():
        assert batch[d] == v


def test_proration_conserves_rebate(spark, sf_dir):
    """Largest-remainder allocation sums exactly to the order rebate
    (the order_exact flag is 1 on every row), and every allocation is
    within 1 cent of its unrounded proportional share."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_proration_largest_remainder"](spark, sf_dir)
    assert out.filter(F.col("order_exact") != 1).count() == 0


def test_fifo_matching_conserves_quantity(spark, sf_dir):
    """FIFO interval matching conserves flow: every match is strictly
    positive and no inflow lot is over-allocated beyond its quantity."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_fifo_inventory_matching"](spark, sf_dir)
    assert out.filter(F.col("matched_qty") <= 0).count() == 0
    per_lot = out.groupBy("l_partkey", "in_order", "in_line").agg(
        F.sum("matched_qty").alias("m")
    )
    # lot-level cap: matched total never exceeds the lot quantity
    li = (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_partkey") < 150) & (F.col("l_linestatus") == "F"))
        .select(
            "l_partkey",
            F.col("l_orderkey").alias("in_order"),
            F.col("l_linenumber").cast("long").alias("in_line"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    over = per_lot.join(li, ["l_partkey", "in_order", "in_line"]).filter(
        F.col("m") > F.col("qty")
    )
    assert over.count() == 0


def test_keyset_page_equals_offset_page(spark, sf_dir):
    """The keyset page must equal the OFFSET-formulated page (rows
    61-80 of the global ordering) row for row."""
    from hive_task_spark.registry import QUERIES

    keyset = QUERIES["sql_keyset_pagination"](spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders").select(
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
    offset_page = (
        o.orderBy("day_key", "o_orderkey").limit(80).collect()[60:80]
    )
    assert [tuple(r) for r in keyset] == [tuple(r) for r in offset_page]


def test_lift_gains_identities(spark, sf_dir):
    """Gains curve is monotone nondecreasing and ends at 1; decile
    sizes partition the customer table."""
    from hive_task_spark.registry import QUERIES

    rows = sorted(
        QUERIES["analytics_lift_gains_table"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    caps = [r["cum_capture_r"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(caps, caps[1:]))
    assert abs(caps[-1] - 1.0) < 1e-9
    assert sum(r["n"] for r in rows) == load(spark, sf_dir, "customer").count()


def test_pmi_respects_min_count(spark, sf_dir):
    """Every reported collocation meets the min-count threshold."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["text_pmi_collocations"](spark, sf_dir)
    assert out.filter(F.col("n_ab") < 5).count() == 0
    assert out.count() <= 20


def test_peak_concurrency_bounds(spark, sf_dir):
    """1 <= peak <= number of intervals."""
    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_peak_concurrency"](spark, sf_dir).collect()[0]
    assert 1 <= r["peak_concurrency"] <= r["n_intervals"]


def test_cdc_net_effect_classification(spark, sf_dir):
    """Net ops partition the keys; upsert-last keys never classify as
    delete/noop and delete-last keys never carry a value."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["pipeline_cdc_net_effect"](spark, sf_dir)
    assert (
        out.filter(
            (F.col("last_op") == "u")
            & F.col("net_op").isin("delete", "noop")
        ).count()
        == 0
    )
    assert (
        out.filter(
            (F.col("last_op") == "d") & F.col("last_value_r").isNotNull()
        ).count()
        == 0
    )
    e = load(spark, sf_dir, "events").select("user_id").distinct()
    assert out.count() == e.count()


def test_inverted_index_postings_match_df(spark, sf_dir):
    """Non-stop posting lists contain exactly df entries; stop terms
    have no postings."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["text_inverted_index"](spark, sf_dir)
    bad = out.filter(
        (F.col("is_stop") == 0)
        & (F.size(F.split("postings", "\\|")) != F.col("df"))
    )
    assert bad.count() == 0
    assert out.filter((F.col("is_stop") == 1) & F.col("postings").isNotNull()).count() == 0


def test_bom_explosion_counts_every_part_once(spark, sf_dir):
    """Every non-root part reaches exactly one root: descendant counts
    over roots sum to |parts with key >= 10|."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_bom_explosion"](spark, sf_dir)
    total = out.agg(F.sum("n_descendants")).collect()[0][0]
    n_parts = (
        load(spark, sf_dir, "part").filter(F.col("p_partkey") >= 10).count()
    )
    assert total == n_parts


def test_interval_day_split_conserves_time(spark, sf_dir):
    """Per-day overlaps sum to total interval length (µs-exact)."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_interval_day_split"](spark, sf_dir)
    got = out.agg(F.sum("busy_us")).collect()[0][0]
    e = load(spark, sf_dir, "events")
    s = e.groupBy("user_id", F.date_trunc("day", "ts")).agg(
        (
            F.unix_micros(F.max("ts")) + 1800000000 - F.unix_micros(F.min("ts"))
        ).alias("dur")
    )
    want = s.agg(F.sum("dur")).collect()[0][0]
    assert got == want


def test_zone_map_sorted_layout_prunes_more(spark, sf_dir):
    """Sorting by the filter column must not reduce pruning."""
    from hive_task_spark.registry import QUERIES

    rows = {
        r["layout"]: r
        for r in QUERIES["source_zone_map_pruning"](spark, sf_dir).collect()
    }
    assert rows["sorted"]["n_pruned"] >= rows["natural"]["n_pruned"]
    assert rows["sorted"]["n_buckets"] == rows["natural"]["n_buckets"]


def test_ohlc_bounds(spark, sf_dir):
    """low <= open, close <= high on every candle."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_ohlc_candles"](spark, sf_dir)
    bad = out.filter(
        (F.col("low_r") > F.col("open_r"))
        | (F.col("low_r") > F.col("close_r"))
        | (F.col("open_r") > F.col("high_r"))
        | (F.col("close_r") > F.col("high_r"))
    )
    assert bad.count() == 0


def test_forecast_backtest_sane(spark, sf_dir):
    """Metrics are positive and the evaluation window is non-empty."""
    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_forecast_backtest"](spark, sf_dir).collect()[0]
    assert r["n_days"] > 0
    assert r["mae_r"] >= 0 and r["mape_r"] >= 0 and r["mase_r"] > 0


def test_kwic_context_contains_keyword(spark, sf_dir):
    """Every concordance line's context window contains the keyword
    (the rarest indexable term)."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["text_kwic_concordance"](spark, sf_dir).collect()
    assert rows
    d = load(spark, sf_dir, "documents")
    kw = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.length("t") >= 3)
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy("df", "t")
        .limit(1)
        .collect()[0]["t"]
    )
    assert all(kw in r["context"].split(" ") for r in rows)


def test_nucleus_topp_minimal_covering_prefix(spark, sf_dir):
    """Per source the selection is a prefix by rank, covers >= 90% of
    the source mass, and is minimal (dropping its last doc drops
    coverage below 90%)."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["pipeline_nucleus_topp"](spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    totals = {
        r["source"]: r["t"]
        for r in d.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
    }
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, sel in by_src.items():
        sel.sort(key=lambda r: r["rk"])
        # prefix: ranks are 1..k
        assert [r["rk"] for r in sel] == list(range(1, len(sel) + 1))
        total = totals[src]
        covered = sel[-1]["cum_mass"]
        assert 10 * covered >= 9 * total
        assert 10 * (covered - sel[-1]["n_chars"]) < 9 * total


def test_column_profiler_sanity(spark, sf_dir):
    """Profiler invariants: n constant across rows, n_distinct <= n,
    no nulls in the TPC-H key columns."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["quality_column_profiler"](spark, sf_dir).collect()
    ns = {r["n"] for r in rows}
    assert len(ns) == 1
    for r in rows:
        assert r["n_distinct"] <= r["n"]
        assert r["n_null"] == 0


def test_crosstab_marginals(spark, sf_dir):
    """Crosstab cell counts sum to the table count."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["agg_crosstab_contingency"](spark, sf_dir).collect()
    total = sum(r["F"] + r["O"] for r in rows)
    assert total == load(spark, sf_dir, "lineitem").count()


def test_twap_matches_plain_avg_on_uniform_spacing(spark, sf_dir):
    """TWAP of a constant series equals the constant: check on a
    synthetic constant column over the same segments."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").withColumn(
        "day_idx", F.floor(F.col("ts").cast("double") / 86400).cast("long")
    )
    wseq = Window.partitionBy("user_id", "day_idx").orderBy("ts", "event_id")
    obs = e.select(
        "user_id",
        "day_idx",
        F.lit(7.5).alias("v"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(wseq).alias("nx"),
    ).filter(F.col("nx").isNotNull())
    twap = (
        obs.withColumn("w", (F.col("nx") - F.col("t")) / 1e6)
        .groupBy("user_id", "day_idx")
        .agg((F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias("tw"))
    )
    assert twap.filter(F.abs(F.col("tw") - 7.5) > 1e-9).count() == 0


def test_snm_er_recall_vs_blocking(spark, sf_dir):
    """Multi-pass sorted-neighborhood ER must resolve every dirty key
    the blocking ER resolves correctly to the same lev (both verify
    with the same Levenshtein<=1 rule); its candidate set may differ
    but correct matches at lev<=1 are recoverable by one of the two
    sort keys by construction."""
    from hive_task_spark.registry import QUERIES

    snm = {
        r["dirty_key"]: r["matched_key"]
        for r in QUERIES["quality_sorted_neighborhood_er"](spark, sf_dir).collect()
    }
    blocking = {
        r["dirty_key"]: r["matched_key"]
        for r in QUERIES["quality_entity_resolution"](spark, sf_dir).collect()
    }
    # every blocking-resolved dirty key is also SNM-resolved
    missing = set(blocking) - set(snm)
    assert not missing, f"SNM missed {len(missing)} keys blocking found"


def test_markov_absorption_monotone(spark, sf_dir):
    """Hitting probabilities are monotone in the horizon and lie in
    [0, 1]."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_markov_absorption"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["p_hit1_r"] <= r["p_hit2_r"] + 1e-9
        assert r["p_hit2_r"] <= r["p_hit3_r"] + 1e-9
        assert r["p_hit3_r"] <= 1.0 + 1e-9


def test_woe_iv_census_partitions_customers(spark, sf_dir):
    """Good+bad over bins equals the customer count; IV total is
    constant across rows and non-negative."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_woe_iv_bins"](spark, sf_dir).collect()
    total = sum(r["n_good"] + r["n_bad"] for r in rows)
    assert total == load(spark, sf_dir, "customer").count()
    ivs = {r["iv_total_r"] for r in rows}
    assert len(ivs) == 1 and ivs.pop() >= 0.0


def test_stream_upsert_batch_split_invariant(spark, sf_dir):
    """The upsert sink's final state equals the one-shot batch argmax
    per key — keep-latest must be independent of micro-batching."""
    from pyspark.sql import Window
    from hive_task_spark.registry import QUERIES

    got = {
        r["user_id"]: (r["last_ts_us"], r["n_changes"])
        for r in QUERIES["stream_upsert_sink"](spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r["user_id"]: (r["t"], r["n"])
        for r in e.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter(F.col("rn") == 1)
        .select("user_id", F.unix_micros("ts").alias("t"), "n")
        .collect()
    }
    assert got == want


def test_nested_rollup_matches_flat_total(spark, sf_dir):
    """The HOF fold over the nested array equals the flat groupBy sum
    (4dp grain)."""
    from hive_task_spark.registry import QUERIES

    nested = QUERIES["array_nested_struct_rollup"](spark, sf_dir).select(
        "l_orderkey", "order_net_r"
    )
    flat = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 500)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                    )
                ),
                4,
            ).alias("flat_r")
        )
    )
    diff = nested.join(flat, "l_orderkey").filter(
        F.abs(F.col("order_net_r") - F.col("flat_r")) > 1e-9
    )
    assert diff.count() == 0


def test_did_cells_partition_events(spark, sf_dir):
    """The 2x2 DiD census covers every event exactly once."""
    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_diff_in_diff"](spark, sf_dir).collect()[0]
    total = r["n_t_pre"] + r["n_t_post"] + r["n_c_pre"] + r["n_c_post"]
    assert total == load(spark, sf_dir, "events").count()


def test_topn_others_is_exhaustive(spark, sf_dir):
    """Top-N + OTHERS buckets cover every nation with revenue: no
    group disappears from the rollup."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["agg_topn_plus_others"](spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n_rev = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .select("s_nationkey")
        .distinct()
        .count()
    )
    assert sum(r["n_nations"] for r in rows) == n_rev
    assert len(rows) == min(5, n_rev) + (1 if n_rev > 5 else 0)


def test_rle_runs_conserve_events(spark, sf_dir):
    """Run lengths sum to the event count; adjacent runs per user
    always change type."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_rle_event_runs"](spark, sf_dir)
    assert (
        out.agg(F.sum("run_len")).collect()[0][0]
        == load(spark, sf_dir, "events").count()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("run_id")
    adj = out.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").eqNullSafe(F.col("event_type"))
    )
    assert adj.count() == 0


def test_seasonal_index_averages_to_one(spark, sf_dir):
    """Weighted by day counts, the seasonal ratios average ~1 (the MA
    normalizes the level)."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_seasonal_index"](spark, sf_dir).collect()
    total_days = sum(r["n_days"] for r in rows)
    mean = sum(r["seasonal_index_r"] * r["n_days"] for r in rows) / total_days
    assert 0.7 < mean < 1.3


def test_hhi_bounds(spark, sf_dir):
    """1/n <= HHI <= 1 per segment; effective n <= n."""
    from hive_task_spark.registry import QUERIES

    for r in QUERIES["analytics_hhi_concentration"](spark, sf_dir).collect():
        assert 1.0 / r["n_customers"] - 1e-9 <= r["hhi_r"] <= 1.0 + 1e-9
        assert r["effective_n_r"] <= r["n_customers"] + 1e-6


def test_k_anonymity_only_small_classes(spark, sf_dir):
    """Every reported class is genuinely < 5 and re-countable."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["quality_k_anonymity_audit"](spark, sf_dir)
    assert out.filter(F.col("n") >= 5).count() == 0
    # recount one reported class directly
    row = out.limit(1).collect()
    if row:
        r = row[0]
        n = (
            load(spark, sf_dir, "customer")
            .filter(
                (F.col("c_nationkey") == r["nat"])
                & (F.col("c_mktsegment") == r["seg"])
                & (F.floor(F.col("c_acctbal") / 1000) == r["bal_bucket"])
            )
            .count()
        )
        assert n == r["n"]


def test_retry_census_partitions_events(spark, sf_dir):
    """Per-type event counts in the census sum to the table count;
    retries never exceed events."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["quality_retry_storm_census"](spark, sf_dir).collect()
    assert sum(r["n_events"] for r in rows) == load(spark, sf_dir, "events").count()
    assert all(r["n_retries"] <= r["n_events"] for r in rows)


def test_dense_scaffold_is_complete_grid(spark, sf_dir):
    """The scaffold has exactly |months| x |segments| rows and its
    totals equal the sparse aggregate's totals (zero-fill adds no
    mass)."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["agg_dense_report_scaffold"](spark, sf_dir)
    o = load(spark, sf_dir, "orders")
    m = o.select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    ).agg(F.min("m").alias("a"), F.max("m").alias("b")).collect()[0]
    n_months = m["b"] - m["a"] + 1
    n_segs = load(spark, sf_dir, "customer").select("c_mktsegment").distinct().count()
    assert out.count() == n_months * n_segs
    assert out.agg(F.sum("n_orders")).collect()[0][0] == o.count()


def test_parse_dispatch_covers_all_rows(spark, sf_dir):
    """Format census covers every order; 'unparsed' captures exactly
    the injected garbage class."""
    from hive_task_spark.registry import QUERIES

    rows = {r["fmt"]: r for r in QUERIES["date_multiformat_parse_dispatch"](spark, sf_dir).collect()}
    o = load(spark, sf_dir, "orders")
    assert sum(r["n"] for r in rows.values()) == o.count()
    n_garbage = o.filter(F.col("o_orderkey") % 97 == 0).count()
    assert rows["unparsed"]["n"] == n_garbage
    assert rows["unparsed"]["min_us"] is None


def test_clock_repair_is_monotone_and_minimal(spark, sf_dir):
    """Repaired times are monotone per user in arrival order and never
    below the claimed time."""
    from pyspark.sql import Window
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_clock_repair"](spark, sf_dir)
    assert out.filter(F.col("repaired_us") < F.col("t_us")).count() == 0
    w = Window.partitionBy("user_id").orderBy("event_id")
    non_mono = out.withColumn(
        "prev", F.lag("repaired_us").over(w)
    ).filter(F.col("prev") > F.col("repaired_us"))
    assert non_mono.count() == 0


def test_throttle_conserves_events(spark, sf_dir):
    """kept + suppressed == total events; one kept row per
    (user, hour)."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_first_per_hour_throttle"](spark, sf_dir)
    kept = out.count()
    suppressed = out.agg(F.sum("n_suppressed")).collect()[0][0]
    assert kept + suppressed == load(spark, sf_dir, "events").count()
    assert (
        out.groupBy("user_id", "hour_idx").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_rec_diversity_bounds(spark, sf_dir):
    """ILD in [0, 2] (cosine distance range); pair count = k(k-1)/2;
    coverage in (0, 1]."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["similarity_rec_diversity_eval"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ild_r"] <= 2.0
        assert r["n_pairs"] == 10  # k=5 -> 10 pairs
        assert 0.0 < r["catalog_coverage_r"] <= 1.0


def test_melt_conserves_cells(spark, sf_dir):
    """melt output rows = input rows x measures; every variable
    appears equally often."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["agg_melt_unpivot_api"](spark, sf_dir)
    n_in = (
        load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300).count()
    )
    assert out.count() == 4 * n_in
    per_var = out.groupBy("var").count().collect()
    assert len(per_var) == 4 and all(r["count"] == n_in for r in per_var)


def test_values_dimension_exhaustive(spark, sf_dir):
    """The inline tier mapping covers every order (no priority falls
    through the join)."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["sql_values_inline_dimension"](spark, sf_dir).collect()
    assert sum(r["n_orders"] for r in rows) == load(spark, sf_dir, "orders").count()


def test_wau_overlap_bounds(spark, sf_dir):
    """Jaccard in [0, 1]; overlap never exceeds either week's WAU."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_wau_overlap"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["jaccard_r"] <= 1.0
        assert r["n_both"] <= r["wau"]


def test_powerlaw_alpha_positive(spark, sf_dir):
    """Hill alpha > 1 by construction; tail is non-empty and d_min
    respects the threshold."""
    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_degree_powerlaw_fit"](spark, sf_dir).collect()[0]
    assert r["n_tail"] > 0 and r["d_min"] >= 3
    assert r["alpha_hill_r"] > 1.0


def test_information_gain_bounds(spark, sf_dir):
    """0 <= IG <= H(y) for every feature (entropy can only shrink)."""
    from hive_task_spark.registry import QUERIES

    for r in QUERIES["analytics_information_gain"](spark, sf_dir).collect():
        assert -1e-9 <= r["info_gain_r"] <= r["h_y_r"] + 1e-9


def test_dwell_matrix_matches_transition_counts(spark, sf_dir):
    """Dwell-matrix pair counts equal the Markov transition counts
    (same bigram stream, two measures)."""
    from hive_task_spark.registry import QUERIES

    dwell = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in QUERIES["analytics_dwell_time_matrix"](spark, sf_dir).collect()
    }
    trans = {
        (r["from_type"], r["to_type"]): r["n_trans"]
        for r in QUERIES["analytics_markov_transitions"](spark, sf_dir).collect()
    }
    assert dwell == trans


def test_timeline_seq_is_dense_per_customer(spark, sf_dir):
    """Sequence numbers are 1..n per customer with no gaps."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["analytics_customer_timeline"](spark, sf_dir)
    per = out.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n"), F.max("seq").alias("mx"),
        F.min("seq").alias("mn"),
    )
    assert per.filter((F.col("mx") != F.col("n")) | (F.col("mn") != 1)).count() == 0


def test_size_profile_accounts_all_columns(spark, sf_dir):
    """One row per customer column; numeric widths fixed at 8.00."""
    from hive_task_spark.registry import QUERIES

    rows = {r["col_name"]: r for r in QUERIES["quality_column_size_profile"](spark, sf_dir).collect()}
    assert set(rows) == {
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    }
    for c in ("c_custkey", "c_acctbal", "c_nationkey"):
        assert rows[c]["avg_width_x100"] == 800


def test_waterfill_fairness_invariants(spark, sf_dir):
    """Allocations sum exactly to the budget, never exceed demand, and
    capped sources differ by at most 1 unit (max-min fairness)."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["pipeline_waterfill_allocation"](spark, sf_dir).collect()
    total_demand = sum(r["demand"] for r in rows)
    budget = (9 * total_demand) // 10
    assert sum(r["alloc"] for r in rows) == budget
    assert all(r["alloc"] <= r["demand"] for r in rows)
    capped = [r["alloc"] for r in rows if r["fully_satisfied"] == 0]
    if capped:
        assert max(capped) - min(capped) <= 1
        # every satisfied source demands no more than any capped alloc
        sat = [r["demand"] for r in rows if r["fully_satisfied"] == 1]
        assert not sat or max(sat) <= min(capped) + 1


def test_psi_terms_nonnegative(spark, sf_dir):
    """(p-q)ln(p/q) >= 0 per bin; total equals the sum of terms."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_psi_drift"](spark, sf_dir).collect()
    assert all(r["psi_term_r"] >= -1e-9 for r in rows)
    total = {r["psi_total_r"] for r in rows}
    assert len(total) == 1
    assert abs(total.pop() - sum(r["psi_term_r"] for r in rows)) < 1e-4


def test_spearman_bounds(spark, sf_dir):
    """rho in [-1, 1]; d^2 sum consistent with the n bound."""
    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_rank_stability_spearman"](spark, sf_dir).collect()[0]
    assert -1.0 - 1e-9 <= r["spearman_r"] <= 1.0 + 1e-9
    n = r["n"]
    assert 0 <= r["sum_d2"] <= n * (n * n - 1) // 3


def test_incremental_sessionize_equals_global(spark, sf_dir):
    """Two-phase (per-day + stitch) sessionization must equal the
    one-shot global sessionizer on (user, n_events) multisets and
    6dp session values."""
    from hive_task_spark.registry import QUERIES

    inc = sorted(
        (r["user_id"], r["sess_no"], r["n_events"], r["sess_value_r"])
        for r in QUERIES["pipeline_incremental_sessionize"](spark, sf_dir).collect()
    )
    glob = sorted(
        (r["user_id"], r["sess_no"], r["n_events"], round(r["sess_value"], 6))
        for r in QUERIES["pipeline_sessionize_events"](spark, sf_dir).collect()
    )
    assert len(inc) == len(glob)
    for a, b in zip(inc, glob):
        assert a[:3] == b[:3]
        assert abs(a[3] - b[3]) < 1e-5


def test_partition_fingerprint_detects_mutation(spark, sf_dir):
    """Mutating one row changes that partition's digest and no
    other's."""
    from hive_task_spark.registry import QUERIES

    base = {
        r["nat"]: (r["n_rows"], r["sum48"], r["xor48"])
        for r in QUERIES["quality_partition_fingerprint"](spark, sf_dir).collect()
    }
    c = load(spark, sf_dir, "customer").withColumn(
        "c_name",
        F.when(F.col("c_custkey") == 7, F.lit("TAMPERED")).otherwise(
            F.col("c_name")
        ),
    )
    h48 = F.expr(
        "CAST(conv(substr(md5(concat(CAST(c_custkey AS STRING), '|',"
        " c_name, '|', c_mktsegment)), 1, 12), 16, 10) AS BIGINT)"
    )
    mutated = {
        r["nat"]: (r["n_rows"], r["sum48"], r["xor48"])
        for r in c.select(
            F.col("c_nationkey").cast("long").alias("nat"), h48.alias("h48")
        )
        .groupBy("nat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("h48").cast("long").alias("sum48"),
            F.expr("bit_xor(h48)").cast("long").alias("xor48"),
        )
        .collect()
    }
    nat7 = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") == 7)
        .select("c_nationkey")
        .collect()[0][0]
    )
    diffs = [n for n in base if base[n] != mutated[n]]
    assert diffs == [nat7]


def test_lambda_union_tiles_timeline(spark, sf_dir):
    """Batch and stream paths never overlap on a day, and per-day
    counts sum to the full table."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["stream_lambda_backfill_union"](spark, sf_dir).collect()
    days = {}
    for r in rows:
        days.setdefault(r["day_idx"], []).append(r["path"])
    assert all(len(v) == 1 for v in days.values())
    assert sum(r["n_events"] for r in rows) == load(spark, sf_dir, "events").count()


def test_filtered_search_respects_filter(spark, sf_dir):
    """Every neighbor shares the query's label; at most k per query."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["similarity_filtered_search"](spark, sf_dir)
    labels = {
        r["vec_id"]: r["label"]
        for r in load(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    rows = out.collect()
    assert rows
    for r in rows:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]
    per_q = {}
    for r in rows:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v <= 5 for v in per_q.values())


def test_fellegi_sunter_true_pairs_score_high(spark, sf_dir):
    """The true pair (dirty_key == cand_key) is never classified
    non-match — name-prefix block plus three agreeing fields keeps
    its weight above the lower threshold."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["quality_fellegi_sunter_scoring"](spark, sf_dir)
    true_bad = out.filter(
        (F.col("dirty_key") == F.col("cand_key"))
        & (F.col("decision") == "non-match")
    )
    assert true_bad.count() == 0


def test_time_to_convert_percentile_order(spark, sf_dir):
    """min <= p50 <= p90 <= max and converted <= signed up."""
    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_time_to_convert"](spark, sf_dir).collect()[0]
    assert r["min_us"] <= r["p50_us"] <= r["p90_us"] <= r["max_us"]
    assert r["n_converted"] <= r["n_signed_up"]


def test_subsample_ladder_nests(spark, sf_dir):
    """Each rung's doc set is a subset of the next larger rung."""
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT)"
        ).alias("h32"),
    )
    sets = {
        k: {
            r["doc_id"]
            for r in keyed.filter(F.col("h32") * k < 4294967296).collect()
        }
        for k in (1, 2, 4, 8, 16)
    }
    assert sets[16] <= sets[8] <= sets[4] <= sets[2] <= sets[1]
    from hive_task_spark.registry import QUERIES

    census = {
        r["denom"]: r["n_docs"]
        for r in QUERIES["pipeline_subsample_ladder"](spark, sf_dir).collect()
    }
    assert census == {k: len(v) for k, v in sets.items()}


def test_qq_deciles_monotone(spark, sf_dir):
    """Quantiles increase with the decile within each group."""
    from hive_task_spark.registry import QUERIES

    rows = sorted(
        QUERIES["analytics_qq_decile_table"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["q_urgent_r"] <= b["q_urgent_r"]
        assert a["q_other_r"] <= b["q_other_r"]


def test_encoding_advisor_rules(spark, sf_dir):
    """Low-cardinality columns get dictionary; unique keys plain."""
    from hive_task_spark.registry import QUERIES

    rows = {r["col_name"]: r["recommended"] for r in QUERIES["quality_encoding_advisor"](spark, sf_dir).collect()}
    assert rows["o_orderstatus"] == "dictionary"
    assert rows["o_orderkey"] == "plain-unique"


def test_temperature_mixture_shares(spark, sf_dir):
    """Tempered shares sum to 1 and compress the range: the largest
    language's tempered share <= its natural share, smallest >= its
    natural share."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["pipeline_temperature_mixture"](spark, sf_dir).collect()
    assert abs(sum(r["temp_share_r"] for r in rows) - 1.0) < 1e-4
    big = max(rows, key=lambda r: r["n_docs"])
    small = min(rows, key=lambda r: r["n_docs"])
    assert big["temp_share_r"] <= big["natural_share_r"] + 1e-9
    assert small["temp_share_r"] >= small["natural_share_r"] - 1e-9


def test_truncation_loss_monotone(spark, sf_dir):
    """Bigger context limits lose fewer tokens."""
    from hive_task_spark.registry import QUERIES

    rows = sorted(
        QUERIES["pipeline_truncation_loss_report"](spark, sf_dir).collect(),
        key=lambda r: r["context_limit"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["tokens_lost"] >= b["tokens_lost"]
        assert a["n_truncated"] >= b["n_truncated"]


def test_cdc_attribution_matches_key_classes(spark, sf_dir):
    """Every key divisible by 11 or 13 (with a real value change) is
    attributed, two-column rows are exactly the %143 keys, and no
    other key appears."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["quality_cdc_column_attribution"](spark, sf_dir).collect()
    for r in rows:
        k = r["o_orderkey"]
        assert k % 11 == 0 or k % 13 == 0
        if k % 143 == 0:
            assert r["n_changed"] == 2
    # price bump of 5% is a real change for any nonzero price
    o = load(spark, sf_dir, "orders")
    n11 = o.filter(
        (F.col("o_orderkey") % 11 == 0) & (F.col("o_totalprice") != 0)
    ).count()
    got_price = sum(1 for r in rows if "o_totalprice" in r["changed_cols"])
    assert got_price == n11


def test_hard_negatives_cross_label_only(spark, sf_dir):
    """Every mined negative has a different label from its anchor."""
    from hive_task_spark.registry import QUERIES

    labels = {
        r["vec_id"]: r["label"]
        for r in load(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    rows = QUERIES["similarity_hard_negative_mining"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert labels[r["query_id"]] != labels[r["negative_id"]]


def test_negative_sampling_deterministic_and_sized(spark, sf_dir):
    """Two runs produce identical samples; 8 negatives per anchor,
    all cross-label."""
    from hive_task_spark.registry import QUERIES

    a = sorted(
        (r["query_id"], r["neg_id"], r["rnk"])
        for r in QUERIES["similarity_negative_sampling"](spark, sf_dir).collect()
    )
    b = sorted(
        (r["query_id"], r["neg_id"], r["rnk"])
        for r in QUERIES["similarity_negative_sampling"](spark, sf_dir).collect()
    )
    assert a == b
    per = {}
    for q, _, _ in a:
        per[q] = per.get(q, 0) + 1
    assert all(v == 8 for v in per.values())


def test_centroid_drift_cos_bounds(spark, sf_dir):
    """Cohort-centroid cosine lies in [-1, 1]; both halves non-empty
    for every label."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["similarity_centroid_drift"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r["centroid_cos_r"] <= 1.0 + 1e-9
        assert r["n_a"] > 0 and r["n_b"] > 0


def test_leet_filter_catches_obfuscated(spark, sf_dir):
    """Obfuscated hits are found only via normalization (raw_hit=0)
    unless the term survives translation; clean docs match raw."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["text_blocklist_leet_filter"](spark, sf_dir).collect()
    assert rows
    obf = [r for r in rows if r["is_obfuscated"] == 1]
    clean = [r for r in rows if r["is_obfuscated"] == 0]
    assert all(r["norm_hit"] == 1 for r in rows)
    assert clean and all(r["raw_hit"] == 1 for r in clean)
    # any obfuscated match whose term contains a leet-mapped char must
    # be invisible to the raw filter
    for r in obf:
        if any(ch in r["matched_term"] for ch in "aeost"):
            assert r["raw_hit"] == 0


def test_join_cardinality_estimates_close(spark, sf_dir):
    """For uniform FK joins the textbook estimate lands within 2x."""
    from hive_task_spark.registry import QUERIES

    for r in QUERIES["quality_join_cardinality_audit"](spark, sf_dir).collect():
        assert 0.5 <= r["est_over_actual_r"] <= 2.0


def test_l_diversity_only_homogeneous_classes(spark, sf_dir):
    """Every reported class genuinely has < 3 distinct segments."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["quality_l_diversity_audit"](spark, sf_dir)
    assert out.filter(F.col("l_div") >= 3).count() == 0


def test_cdc_chunking_tiles_documents(spark, sf_dir):
    """Content-defined chunks tile each document: token counts sum to
    the doc's token count and chunk numbering is dense from 1."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["pipeline_content_defined_chunking"](spark, sf_dir)
    per_doc = out.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("n"),
        F.max("chunk_no").alias("mx"),
        F.count(F.lit(1)).alias("k"),
    )
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", F.size(F.split("text", " ")).alias("want"))
    )
    bad = per_doc.join(d, "doc_id").filter(
        (F.col("n") != F.col("want")) | (F.col("mx") != F.col("k"))
    )
    assert bad.count() == 0


def test_containment_is_directional_superset_of_nothing(spark, sf_dir):
    """Containment >= 0.9 on every emitted pair; the relation is not
    forced symmetric."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["dedup_asymmetric_containment"](spark, sf_dir).collect()
    for r in rows:
        assert r["containment_r"] >= 0.9 - 1e-9
        assert 10 * r["n_common"] >= 9 * r["n_a"]


def test_template_mining_covers_all_lines(spark, sf_dir):
    """The three synthesized shapes collapse to exactly three
    templates covering every document."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["text_log_template_mining"](spark, sf_dir).collect()
    assert len(rows) == 3
    assert sum(r["n_lines"] for r in rows) == load(spark, sf_dir, "documents").count()


def test_preference_pairs_positive_margin(spark, sf_dir):
    """Chosen score >= rejected score on every pair; 3 pairs per
    prompt group."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["pipeline_preference_pairs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["margin_r"] >= -1e-9
    per = {}
    for r in rows:
        per[r["prompt_group"]] = per.get(r["prompt_group"], 0) + 1
    assert all(v == 3 for v in per.values())


def test_fertility_bounds(spark, sf_dir):
    """Fertility >= 1 token per word (the proxy always emits at least
    one subtoken per word)."""
    from hive_task_spark.registry import QUERIES

    for r in QUERIES["text_tokenizer_fertility"](spark, sf_dir).collect():
        assert r["fertility_r"] >= 1.0 - 1e-9
        assert r["chars_per_token_r"] > 0


def test_vocab_coverage_monotone(spark, sf_dir):
    """Higher coverage marks need at least as many types."""
    from hive_task_spark.registry import QUERIES

    rows = sorted(
        QUERIES["text_vocab_coverage_curve"](spark, sf_dir).collect(),
        key=lambda r: r["pct"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["types_needed"] <= b["types_needed"]


def test_churn_labels_leakage_free(spark, sf_dir):
    """No feature column can be computed from outcome-window data:
    f_last_day is strictly before the cutoff, and every labeled user
    has observation-window activity."""
    from hive_task_spark.registry import QUERIES

    out = QUERIES["pipeline_churn_label_generation"](spark, sf_dir)
    e = load(spark, sf_dir, "events").withColumn(
        "day_idx", F.floor(F.col("ts").cast("double") / 86400).cast("long")
    )
    cut = e.agg(F.min("day_idx")).collect()[0][0] + 20
    assert out.filter(F.col("f_last_day") >= cut).count() == 0
    assert out.filter(F.col("f_events") <= 0).count() == 0


def test_group_folds_partition_users(spark, sf_dir):
    """Fold censuses cover every user exactly once and all events."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["pipeline_group_fold_assignment"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    assert sum(r["n_users"] for r in rows) == e.select("user_id").distinct().count()
    assert sum(r["n_events"] for r in rows) == e.count()


def test_dispersion_index_positive(spark, sf_dir):
    """Dispersion is positive and the census covers all events."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_dispersion_index"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["dispersion_r"] > 0
        assert r["mean_r"] >= 1.0  # cells exist only where counts >= 1


def test_neyman_beats_proportional_on_volatile_strata(spark, sf_dir):
    """Neyman totals stay within the budget; the allocation shifts
    sample toward higher-stddev strata relative to proportional."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_neyman_allocation"](spark, sf_dir).collect()
    assert sum(r["neyman_n"] for r in rows) <= 500
    assert sum(r["proportional_n"] for r in rows) <= 500
    hi = max(rows, key=lambda r: r["stddev_r"])
    lo = min(rows, key=lambda r: r["stddev_r"])
    assert (hi["neyman_n"] - hi["proportional_n"]) >= (
        lo["neyman_n"] - lo["proportional_n"]
    )


def test_power_analysis_monotone_in_mde(spark, sf_dir):
    """Smaller effects need more samples."""
    from hive_task_spark.registry import QUERIES

    rows = sorted(
        QUERIES["analytics_ab_power_analysis"](spark, sf_dir).collect(),
        key=lambda r: r["mde"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["n_per_arm"] > b["n_per_arm"]


def test_cuped_variance_reduction_consistent(spark, sf_dir):
    """Adjusted variance <= raw variance and the reduction fraction
    equals 1 - var_cuped/var_post within rounding."""
    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_cuped_adjustment"](spark, sf_dir).collect()[0]
    assert 0 <= r["var_cuped_r"] <= r["var_post_r"] + 1e-6
    implied = 1.0 - r["var_cuped_r"] / r["var_post_r"]
    assert abs(implied - r["var_reduction_frac_r"]) < 1e-3


def test_bracket_fee_monotone_in_spend(spark, sf_dir):
    """Fees are nondecreasing in spend and below the top marginal
    rate times spend."""
    from hive_task_spark.registry import QUERIES

    rows = sorted(
        QUERIES["analytics_progressive_brackets"](spark, sf_dir).collect(),
        key=lambda r: r["s_cents"],
    )
    prev_fee, prev_s = -1, -1
    for r in rows:
        if r["s_cents"] > prev_s:
            assert r["fee_cents"] >= prev_fee
            prev_fee, prev_s = r["fee_cents"], r["s_cents"]
        assert r["fee_cents"] <= r["s_cents"] * 5 // 100


def test_fd_histogram_covers_all_rows(spark, sf_dir):
    """Auto-binned histogram counts sum to the table count; bins are
    within [0, n_bins)."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_auto_binning_fd"](spark, sf_dir).collect()
    n = rows[0]["n_rows"]
    assert sum(r["n_in_bin"] for r in rows) == n
    nb = rows[0]["n_bins"]
    assert all(0 <= r["bin"] < nb for r in rows)


def test_waterfall_conserves(spark, sf_dir):
    """Signed steps sum to zero against the net row (bridge identity)
    per segment — exact integers."""
    from hive_task_spark.registry import QUERIES

    rows = QUERIES["analytics_margin_waterfall"](spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r["segment_key"], {})[r["stage"]] = r["amount_mu"]
    for seg, st in per.items():
        assert (
            st["gross_revenue"] + st["less_discounts"] + st["less_tax"]
            == st["net_revenue"]
        )


def test_holt_forecast_identity(spark, sf_dir):
    """forecast = level + trend on every row (4dp)."""
    from hive_task_spark.registry import QUERIES

    for r in QUERIES["analytics_holt_trend_forecast"](spark, sf_dir).collect():
        assert abs(r["forecast_next_r"] - (r["level_r"] + r["trend_r"])) < 2e-4


def test_half_life_consistent_with_slope(spark, sf_dir):
    """half_life = -ln2/slope within rounding; the 14-day window is
    fully populated in this fixture."""
    import math

    from hive_task_spark.registry import QUERIES

    r = QUERIES["analytics_retention_half_life"](spark, sf_dir).collect()[0]
    assert r["n_points"] == 14
    if abs(r["slope_r"]) > 1e-9:
        implied = -math.log(2) / r["slope_r"]
        # near-zero slopes amplify the 6dp slope rounding in the
        # reciprocal — compare with relative tolerance
        assert abs(implied - r["half_life_days_r"]) < max(
            0.01, abs(implied) * 1e-3
        )


def test_dedup_dashboard_rates_ordered(spark, sf_dir):
    """Prefix-dup rate >= exact-dup rate (prefix collisions are a
    superset), and rates lie in [0, 1)."""
    from hive_task_spark.registry import QUERIES

    for r in QUERIES["dedup_health_dashboard"](spark, sf_dir).collect():
        assert 0.0 <= r["exact_dup_rate_r"] <= r["prefix_dup_rate_r"] < 1.0


# ---------------------------------------------------------------------------
# Round-4 operator invariants
# ---------------------------------------------------------------------------


def test_js_divergence_and_tau_bounds(spark, sf_dir):
    """JS divergence (log2) lives in [0,1]; Kendall tau-b in [-1,1]
    with concordant+discordant <= n0."""
    js = registry.QUERIES["analytics_js_divergence"](spark, sf_dir).collect()[0]
    assert 0.0 <= js["js_divergence_r"] <= 1.0
    tau = registry.QUERIES["analytics_kendall_tau"](spark, sf_dir).collect()[0]
    assert -1.0 <= tau["tau_b_r"] <= 1.0
    assert tau["concordant"] + tau["discordant"] <= tau["n0"]


def test_lorenz_monotone_ends_at_one(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["analytics_lorenz_deciles"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    shares = [r["cum_share_r"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-6
    # Lorenz curve sits below the diagonal (bottom deciles own less)
    assert shares[0] <= 1.0 / len(shares) + 1e-6


def test_record_highs_bounds(spark, sf_dir):
    for r in registry.QUERIES["analytics_record_highs"](spark, sf_dir).collect():
        assert 1 <= r["n_records"] <= r["n_days"]


def test_heaps_cumulative_monotone(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["text_heaps_law"](spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    vocab = [r["cum_vocab"] for r in rows]
    toks = [r["cum_tokens"] for r in rows]
    assert vocab == sorted(vocab) and toks == sorted(toks)
    assert all(v <= t for v, t in zip(vocab, toks))
    # sublinear growth: beta in [0, 1) — exactly 0 for this synthetic
    # corpus (closed 31-token vocabulary saturates in bucket 0)
    assert 0.0 <= rows[0]["heaps_beta_r"] < 1.0


def test_epoch_shuffle_is_permutation_family(spark, sf_dir):
    rows = registry.QUERIES["pipeline_epoch_shuffle"](spark, sf_dir).collect()
    assert len(rows) == 3
    assert len({r["n_docs"] for r in rows}) == 1       # same multiset size
    assert len({r["docid_sum"] for r in rows}) == 1    # same members
    assert len({r["perm_checksum"] for r in rows}) == 3  # different orders


def test_cell_occupancy_partitions_corpus(spark, sf_dir):
    rows = registry.QUERIES["similarity_cell_occupancy"](spark, sf_dir).collect()
    assert abs(sum(r["occupancy_share_r"] for r in rows) - 1.0) < 1e-4
    assert all(r["balance_factor_r"] >= 1.0 for r in rows)


def test_kcore_survivors_meet_threshold(spark, sf_dir):
    rows = registry.QUERIES["analytics_kcore"](spark, sf_dir).collect()
    assert rows, "peel emptied the graph — adaptive k too aggressive"
    k = rows[0]["core_k"]
    assert all(r["degree_after_peel"] >= k for r in rows)


def test_phash_pairs_within_threshold(spark, sf_dir):
    for r in registry.QUERIES["multimodal_phash_neardup"](spark, sf_dir).collect():
        assert 0 <= r["hamming"] <= 20
        assert r["doc_a"] < r["doc_b"]


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_dir):
    rows = {
        r["doc_id"]: r
        for r in registry.QUERIES["text_ngram_novelty"](spark, sf_dir).collect()
    }
    first = rows[min(rows)]
    assert first["novelty_r"] == 1.0  # nothing precedes the first doc
    assert all(0.0 <= r["novelty_r"] <= 1.0 for r in rows.values())


def test_quality_ablation_margins_consistent(spark, sf_dir):
    rows = registry.QUERIES["pipeline_quality_ablation"](spark, sf_dir).collect()
    grand = [r for r in rows if r["f_len"] is None and r["f_ttr"] is None
             and r["f_en"] is None]
    leaves = [r for r in rows if r["f_len"] is not None
              and r["f_ttr"] is not None and r["f_en"] is not None]
    assert len(grand) == 1
    assert sum(r["n_docs"] for r in leaves) == grand[0]["n_docs"]


def test_bench_headline_names_registered():
    """bench.py silently skips unknown names — pin that every headline
    row actually exists in the registry so a rename can't quietly
    shrink the bench set."""
    import bench

    registry.load_all()
    missing = [n for n in bench.HEADLINE if n not in registry.QUERIES]
    assert not missing, missing


def test_minhash_portable_eval_bounds(spark, sf_dir):
    row = registry.QUERIES["dedup_minhash_portable_eval"](spark, sf_dir).collect()[0]
    assert row["n_hits"] <= min(row["n_candidates"], row["n_truth"])
    if row["precision_r"] is not None:
        assert 0.0 <= row["precision_r"] <= 1.0
    if row["recall_r"] is not None:
        assert 0.0 <= row["recall_r"] <= 1.0


def test_incremental_ingest_direction(spark, sf_dir):
    """Every emitted pair must cross the cutoff: new strictly above,
    old at or below — old×old pairs would mean the index is being
    rebuilt, not probed."""
    rows = registry.QUERIES["dedup_incremental_ingest"](spark, sf_dir).collect()
    import duckdb

    cut = duckdb.sql(
        f"SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    for r in rows:
        assert r["doc_new"] > cut >= r["doc_old"]
        assert 0.5 <= r["jaccard_r"] <= 1.0


def test_growth_accounting_flows_consistent(spark, sf_dir):
    """Week w's active count must equal new+retained+resurrected, and
    retained(w) == active(w-1) - churned(w)."""
    rows = registry.QUERIES["analytics_growth_accounting"](spark, sf_dir).collect()
    from collections import defaultdict

    cells = defaultdict(dict)
    for r in rows:
        cells[r["week_idx"]][r["status"]] = r["n_users"]
    weeks = sorted(cells)
    for w in weeks[1:]:
        prev_active = sum(
            cells[w - 1].get(k, 0) for k in ("new", "retained", "resurrected")
        )
        assert cells[w].get("retained", 0) == prev_active - cells[w].get(
            "churned", 0
        )


def test_abc_classes_cover_all_parts(spark, sf_dir):
    rows = registry.QUERIES["analytics_abc_classification"](spark, sf_dir).collect()
    import duckdb

    n_parts = duckdb.sql(
        f"SELECT count(DISTINCT l_partkey) FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchone()[0]
    assert sum(r["n_parts"] for r in rows) == n_parts
    shares = {r["abc_class"]: r["revenue_share_r"] for r in rows}
    assert abs(sum(shares.values()) - 1.0) < 1e-4
    if "A" in shares and "C" in shares:
        assert shares["A"] > shares["C"]


def test_token_budget_twopass_equals_global(spark, sf_dir):
    """The distributed two-pass form must select EXACTLY the same
    prefix as the single-window form — same doc set, same cum_tokens."""
    a = {
        r["doc_id"]: r["cum_tokens"]
        for r in registry.QUERIES["pipeline_token_budget_twopass"](
            spark, sf_dir
        ).collect()
    }
    b = {
        r["doc_id"]: r["cum_tokens"]
        for r in registry.QUERIES["pipeline_token_budget"](spark, sf_dir).collect()
    }
    assert a == b

def test_documents_corpus_is_pure_ascii(sf_dir):
    """The multimodal oracles (decode_features checksum, scene_cuts
    frame means) index documents.text by CHARACTER while the Spark
    kernels slice UTF-8 BYTES — byte-identical only on a pure-ASCII
    corpus.  Pin that invariant (octet_length == char length for every
    doc) so a corpus regeneration with multibyte text fails here
    loudly instead of silently desyncing frame boundaries."""
    import duckdb

    n_bad = duckdb.sql(
        f"""SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')
            WHERE octet_length(encode(text)) <> length(text)"""
    ).fetchone()[0]
    assert n_bad == 0, f"{n_bad} non-ASCII documents break multimodal oracles"


def test_dbscan_grid_conserves_dense_points(spark, sf_dir):
    """Grid-DBSCAN invariants: every cluster's point count is positive,
    cluster bboxes stay inside the synthesized coordinate grid, and the
    sum of clustered points never exceeds the customer count (dense
    cells are a subset of all cells)."""
    rows = registry.QUERIES["geo_dbscan_grid"](spark, sf_dir).collect()
    assert rows
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.n_points for r in rows) <= total
    for r in rows:
        assert r.n_points > 0 and r.n_cells > 0
        assert -5 <= r.min_cy <= r.max_cy <= 4
        assert -9 <= r.min_cx <= r.max_cx <= 8


def test_geohash_partition_of_customers(spark, sf_dir):
    """Geohash prefix rollup partitions the customer set exactly, and
    every min/max geohash6 carries its row's 4-char prefix (the
    prefix-is-a-bbox property the operator exists for)."""
    rows = registry.QUERIES["geo_geohash_encode"](spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.n_points for r in rows) == total
    for r in rows:
        assert r.min_geohash6.startswith(r.geohash4)
        assert r.max_geohash6.startswith(r.geohash4)
        assert len(r.min_geohash6) == 6


def test_vad_segments_internal_consistency(spark, sf_dir):
    """VAD report invariants: segment counts and frame counts cohere
    (max_seg_len <= n_active_frames <= total frames of the doc;
    n_segments >= 1 for every emitted doc; adaptive threshold means
    strictly-below-average frames exist, so never ALL frames active
    for docs with >= 2 frames of unequal energy)."""
    rows = registry.QUERIES["multimodal_vad_segments"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_segments >= 1
        assert r.max_seg_len <= r.n_active_frames
        assert r.first_seg_start >= 0


def test_fd_discovery_verdict_consistency(spark, sf_dir):
    """FD audit: holds <=> zero violating groups <=> max multiplicity 1;
    the known key dependencies must hold at every SF."""
    rows = registry.QUERIES["quality_functional_dependency_discovery"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 8
    for r in rows:
        assert (r.holds == 1) == (r.n_violating == 0) == (r.max_rhs_distinct == 1)
    verdicts = {(r.tbl, r.lhs, r.rhs): r.holds for r in rows}
    assert verdicts[("customer", "c_custkey", "c_nationkey")] == 1
    assert verdicts[("nation", "n_nationkey", "n_regionkey")] == 1
    assert verdicts[("supplier", "s_suppkey", "s_nationkey")] == 1


def test_modularity_identities(spark, sf_dir):
    """Newman modularity identities: degree mass sums to 2m, within-
    community edges never exceed m, and total Q stays in the
    theoretical [-0.5, 1) band."""
    rows = registry.QUERIES["analytics_graph_modularity"](spark, sf_dir).collect()
    assert rows
    two_m = sum(r.deg_sum for r in rows)
    e_within = sum(r.e_within for r in rows)
    assert two_m % 2 == 0
    assert e_within <= two_m // 2
    q = sum(r.q_contrib_r for r in rows)
    assert -0.5 <= q < 1.0, q


def test_matryoshka_full_dim_is_perfect(spark, sf_dir):
    """MRL eval sanity: the full-dimension row IS the truth, so its
    recall must be exactly 1.0; every prefix recall lies in [0, 1]."""
    rows = registry.QUERIES["similarity_matryoshka_eval"](spark, sf_dir).collect()
    by_dim = {r.prefix_dim: r for r in rows}
    assert by_dim[64].recall_at_k_r == 1.0
    for r in rows:
        assert 0.0 <= r.recall_at_k_r <= 1.0


def test_louvain_partition_identities(spark, sf_dir):
    """One Louvain sweep still partitions the graph: degree mass sums
    to 2m (even), within edges <= m, Q in [-0.5, 1), and node counts
    sum to the number of graph nodes."""
    rows = registry.QUERIES["analytics_louvain_one_level"](spark, sf_dir).collect()
    assert rows
    two_m = sum(r.deg_sum for r in rows)
    assert two_m % 2 == 0
    assert sum(r.e_within for r in rows) <= two_m // 2
    q = sum(r.q_contrib_r for r in rows)
    assert -0.5 <= q < 1.0, q


def test_rowgroup_stats_cover_table(spark, sf_dir):
    """Footer stats partition the shard exactly: per tracked column,
    num_values sums to the row count, row groups are dense 0..n-1,
    and doc_id min/max are non-overlapping and increasing (the file
    is sorted — that's what makes the zone map prunable)."""
    rows = registry.QUERIES["source_parquet_rowgroup_stats"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    doc_rows = sorted(
        (r for r in rows if r.column == "doc_id"), key=lambda r: r.rg_idx
    )
    assert [r.rg_idx for r in doc_rows] == list(range(len(doc_rows)))
    assert sum(r.n_values for r in doc_rows) == n_docs
    for prev, cur in zip(doc_rows, doc_rows[1:]):
        assert prev.max_v < cur.min_v


def test_fiscal_calendar_partitions_orders(spark, sf_dir):
    """Fiscal rollup conserves orders and each quarter spans exactly
    its own three fiscal months (first_fm == 3*(q-1)+1 when the
    quarter is fully populated; always within the quarter's band)."""
    rows = registry.QUERIES["date_fiscal_calendar"](spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n_orders for r in rows) == total
    for r in rows:
        lo, hi = 3 * (r.fiscal_quarter - 1) + 1, 3 * r.fiscal_quarter
        assert lo <= r.first_fm <= r.last_fm <= hi


def test_link_prediction_candidates_are_nonedges(spark, sf_dir):
    """Predicted links must be genuinely new: no candidate pair may be
    an existing co-purchase edge, scores lie in (0, 1], and u < v."""
    from hive_task_spark.tables import load
    from pyspark.sql import functions as F

    rows = registry.QUERIES["analytics_jaccard_link_prediction"](
        spark, sf_dir
    ).collect()
    assert rows
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = set(
        (r.u, r.v)
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .collect()
    )
    for r in rows:
        assert r.u % 199 == 0 and r.u != r.v  # cohort-anchored
        assert (min(r.u, r.v), max(r.u, r.v)) not in edges
        assert 0.0 < r.jaccard_r <= 1.0


def test_stream_observe_matches_batch_count(spark, sf_dir):
    """Streaming observed metrics must equal the batch ground truth
    regardless of micro-batch chopping (the merge discipline)."""
    row = registry.QUERIES["stream_observe_progress"](spark, sf_dir).collect()[0]
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert row.n_events == n
    assert row.min_user <= row.max_user


def test_hamming_topk_matches_direct_recompute(spark, sf_dir):
    """The packed-XOR-popcount Hamming distance must equal a direct
    per-dimension sign-mismatch count recomputed from the floats."""
    from pyspark.sql import functions as F

    rows = registry.QUERIES["similarity_binary_hamming_topk"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 50 and all(0 <= r.hamming <= 64 for r in rows)
    emb = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id").isin([rows[0].query_id, rows[0].cand_id]))
        .collect()
    }
    q, c = emb[rows[0].query_id], emb[rows[0].cand_id]
    direct = sum((a > 0) != (b > 0) for a, b in zip(q, c))
    assert rows[0].hamming == direct


def test_ece_bins_partition_orders(spark, sf_dir):
    """Reliability bins must partition the orders table exactly and
    the ECE must equal the n-weighted mean of the per-bin gaps."""
    rows = registry.QUERIES["quality_ece_calibration"](spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n_b for r in rows) == n
    bins = sorted(r.bin for r in rows)
    assert bins == sorted(set(bins)) and all(0 <= b <= 9 for b in bins)
    ece = sum(r.n_b * r.gap_r for r in rows) / n
    assert abs(ece - rows[0].ece_r) < 1e-5


def test_t_closeness_bounds_and_trio_consistency(spark, sf_dir):
    """t-distance is a variational distance: in [0,1]; and the
    customer-count over classes must reconcile with the table."""
    rows = registry.QUERIES["quality_t_closeness_audit"](spark, sf_dir).collect()
    assert all(0.0 <= r.t_dist_r <= 1.0 for r in rows)
    assert all(r.violates == (r.t_dist_r > 0.15) for r in rows)
    n = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.n_c for r in rows) == n


def test_dsir_shortlist_is_sorted_and_scored(spark, sf_dir):
    """DSIR shortlist: ranks contiguous, log-weights non-increasing,
    every doc tokenized."""
    rows = registry.QUERIES["pipeline_dsir_importance"](spark, sf_dir).collect()
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    assert all(
        rows[i].logw_r >= rows[i + 1].logw_r for i in range(len(rows) - 1)
    )
    assert all(r.n_tokens > 0 for r in rows)


def test_point_in_polygon_matches_shapely_free_check(spark, sf_dir):
    """Ray casting must agree with a pure-Python even-odd recompute
    for a sample of customers (independent implementation)."""
    from hive_task_spark.operators.geo import _POLY
    from pyspark.sql import functions as F

    rows = registry.QUERIES["geo_point_in_polygon"](spark, sf_dir).collect()
    n_total = sum(r.n_total for r in rows)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey").collect()
    assert n_total == len(c)

    def inside(px, py):
        cnt, n = 0, len(_POLY)
        for k in range(n):
            x1, y1 = _POLY[k]
            x2, y2 = _POLY[(k + 1) % n]
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                cnt += 1
        return cnt % 2 == 1

    expected = sum(
        inside(((r.c_custkey * 73) % 18000) / 100.0 - 90,
               ((r.c_custkey * 37) % 9000) / 100.0 - 45)
        for r in c
    )
    assert sum(r.n_inside for r in rows) == expected


def test_cohens_kappa_contingency_partitions(spark, sf_dir):
    """2x2 cells must partition orders; kappa in [-1, 1]."""
    r = registry.QUERIES["analytics_cohens_kappa"](spark, sf_dir).collect()[0]
    assert r.n11 + r.n10 + r.n01 + r.n00 == r.n
    assert -1.0 <= r.kappa_r <= 1.0


def test_business_days_closed_form_matches_python(spark, sf_dir):
    """The Monday-anchored cumulative-weekday closed form must agree
    with an independent python-dateutil-free recompute (numpy
    busday-style loop) on a sample of (order, ship) pairs."""
    import datetime

    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    sample = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .limit(50)
        .collect()
    )

    def w(d: datetime.date) -> int:
        m = (d - datetime.date(1969, 12, 29)).days
        return 5 * (m // 7) + min(m % 7 + 1, 5)

    def brute(d1: datetime.date, d2: datetime.date) -> int:
        n, d = 0, d1
        step = datetime.timedelta(days=1)
        while d < d2:
            d += step
            if d.weekday() < 5:
                n += 1
        return n

    for r in sample:
        d1, d2 = r.o_orderdate.date(), r.l_shipdate.date()
        if d2 >= d1:
            assert w(d2) - w(d1) == brute(d1, d2), (d1, d2)


def test_logsumexp_matches_python_math(spark, sf_dir):
    """Grouped LSE must agree with python math.log/sum/exp to float
    tolerance (independent implementation)."""
    import math

    rows = registry.QUERIES["math_logsumexp_grouped"](spark, sf_dir).collect()
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    for row in rows:
        vs = by_type[row.event_type]
        m = max(vs)
        lse = m + math.log(sum(math.exp(v - m) for v in vs))
        assert abs(lse - row.lse_r) < 1e-4
        assert abs((lse - math.log(len(vs))) - row.log_mean_exp_r) < 1e-4


def test_mann_kendall_matches_python(spark, sf_dir):
    """S, tie-corrected variance, and z recomputed in pure Python from
    the daily counts must match the operator."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    row = registry.QUERIES["analytics_mann_kendall"](spark, sf_dir).collect()[0]
    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 86400).alias("d")
        )
        .count()
        .orderBy("d")
        .collect()
    )
    xs = [r["count"] for r in daily]
    n = len(xs)
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = Counter(xs)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    z = (s - (1 if s > 0 else -1 if s < 0 else 0) * 1) / math.sqrt(var) if s else 0.0
    assert row.n == n and row.s_stat == s
    assert abs(row.var_s_r - var) < 1e-5
    assert abs(row.z_r - z) < 1e-5


def test_shapley_efficiency_axiom(spark, sf_dir):
    """Shapley values must satisfy efficiency: the channel credits sum
    to v(grand coalition) - v(empty set)."""
    import duckdb

    rows = registry.QUERIES["analytics_shapley_attribution"](
        spark, sf_dir
    ).collect()
    total_phi = sum(r.shapley_r for r in rows)
    con = duckdb.connect()
    v = con.execute(
        f"""
        WITH w AS (SELECT user_id, min(ts) AS t0
                   FROM read_parquet('{sf_dir}/events.parquet')
                   GROUP BY user_id),
        u AS (
            SELECT e.user_id,
                   COALESCE(array_to_string(list_sort(list_distinct(
                       list(e.event_type) FILTER (WHERE
                           e.event_type IN ('view', 'click', 'signup')
                           AND e.ts < w.t0 + INTERVAL 2 DAY))), '|'), '')
                       AS cset,
                   bool_or(e.event_type = 'purchase'
                           AND e.ts < w.t0 + INTERVAL 2 DAY) AS conv
            FROM read_parquet('{sf_dir}/events.parquet') e
            JOIN w USING (user_id) GROUP BY e.user_id
        )
        SELECT
          COALESCE(sum(CASE WHEN cset = 'click|signup|view' AND conv
                            THEN 1 ELSE 0 END) * 1.0
                   / nullif(sum(CASE WHEN cset = 'click|signup|view'
                                     THEN 1 ELSE 0 END), 0), 0.0),
          COALESCE(sum(CASE WHEN cset = '' AND conv THEN 1 ELSE 0 END) * 1.0
                   / nullif(sum(CASE WHEN cset = '' THEN 1 ELSE 0 END), 0),
                   0.0)
        FROM u
        """
    ).fetchone()
    assert abs(total_phi - (v[0] - v[1])) < 1e-4


def test_slo_burn_alert_is_conjunction(spark, sf_dir):
    """The page alert must be exactly the AND of the two window
    thresholds, and hourly counts must partition the events table."""
    rows = registry.QUERIES["analytics_slo_burn_rate"](spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n for r in rows) == n
    for r in rows:
        assert r.page_alert == ((r.burn_1h_r > 14.4) and (r.burn_6h_r > 6.0))


def test_runs_test_counts_are_consistent(spark, sf_dir):
    """Runs, ups, and downs must satisfy 1 <= R <= n_up + n_down and
    the expected-runs formula."""
    r = registry.QUERIES["analytics_runs_test"](spark, sf_dir).collect()[0]
    assert 1 <= r.r <= r.n_up + r.n_down
    er = 2.0 * r.n_up * r.n_down / (r.n_up + r.n_down) + 1
    assert abs(er - r.expected_r) < 1e-5


def test_equidepth_cutpoints_partitions_table(spark, sf_dir):
    """The sampled-cut-point histogram must partition lineitem exactly
    (counts sum to the table count), emit buckets only in 1..8, keep
    lo <= hi inside each bucket, and keep bucket ranges disjoint and
    ordered (hi of bucket k strictly below lo of bucket k+1, since
    values equal to a cut-point go left). Depths are approximate by
    design (sampled boundaries) — each within a generous 2x band of
    the ideal N/8."""
    rows = sorted(
        registry.QUERIES["agg_equidepth_cutpoints"](spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    li_n = load(spark, sf_dir, "lineitem").count()
    assert sum(r.n for r in rows) == li_n
    assert all(1 <= r.bucket <= 8 for r in rows)
    for r in rows:
        assert r.lo <= r.hi
    for a, b in zip(rows, rows[1:]):
        assert a.hi < b.lo
    ideal = li_n / 8
    for r in rows:
        assert ideal / 2 <= r.n <= ideal * 2, (r.bucket, r.n, ideal)


def test_copurchase_edges_helper_properties(spark, sf_dir):
    """_copurchase_edges (the kernel shared by all six graph ops) must
    emit each undirected edge exactly once with u < v, no self-loops,
    and agree with the independent basket-explode derivation used by
    analytics_copurchase_pairs/triangle_count."""
    from hive_task_spark.operators.analytics import _copurchase_edges

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_edges(li, checkpoint=False)
    n = edges.count()
    assert edges.filter(F.col("u") >= F.col("v")).count() == 0
    assert edges.distinct().count() == n
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    explode_edges = (
        baskets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    assert explode_edges.count() == n
    assert explode_edges.exceptAll(edges.select("u", "v")).count() == 0


def test_scratch_root_is_pid_keyed_and_reaps_dead_dirs(tmp_path):
    """Concurrent-harness safety (the r6 CANNOT_WRITE_STATE_STORE
    lesson): scratch paths must be namespaced by this process's PID,
    and directories left by dead PIDs must be reaped on first use
    while live ones survive."""
    import os

    from hive_task_spark import scratch

    p = scratch.scratch_path("some_ds")
    assert f"pid_{os.getpid()}" in p
    # plant a dir for a PID that cannot exist (beyond PID_MAX) and one
    # for this live process; force a fresh reap pass
    dead = os.path.join(scratch._BASE, "pid_99999999")
    os.makedirs(dead, exist_ok=True)
    live = scratch.scratch_root()
    scratch._cleaned = False
    scratch.scratch_root()
    assert not os.path.exists(dead)
    assert os.path.exists(live)


def test_rocksdb_statestore_actually_engaged(spark, sf_dir):
    """stream_rocksdb_statestore exists to exercise the RocksDB state
    backend: its checkpoint must contain RocksDB artifacts (zip
    snapshots / changelogs) and NO HDFSBackedStateStore .delta files —
    and the provider conf must not leak into the session."""
    import glob
    import os

    from hive_task_spark.scratch import scratch_path

    registry.QUERIES["stream_rocksdb_statestore"](spark, sf_dir)
    cp = scratch_path("cp_stream_rocksdb_statestore")
    files = [
        p for p in glob.glob(f"{cp}/state/**/*", recursive=True)
        if os.path.isfile(p)
    ]
    assert files, "no state files written"
    assert not any(f.endswith(".delta") for f in files), "HDFS backend ran"
    assert any(f.endswith((".zip", ".changelog")) for f in files)
    assert "RocksDB" not in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "HDFSBackedStateStoreProvider",
    )


def test_bench_diff_gate_math(tmp_path):
    """bench_diff.py is the per-round gate: pin its parsing of the
    driver's BENCH wrapper, the comparable-subtotal math, and the
    mover flagging / exit status."""
    import json
    import os
    import subprocess
    import sys

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    baseline = tmp_path / "base.json"
    baseline.write_text(json.dumps({
        "single_invocation_band_max": 37.0,
        "queries": {"a": 1.0, "b": 2.0, "gone": 0.5},
    }))
    bench = tmp_path / "BENCH_r99.json"
    bench.write_text(json.dumps({
        "parsed": {"value": 4.6, "queries": {"a": 1.1, "b": 3.2, "new": 0.3}}
    }))
    proc = subprocess.run(
        [sys.executable, "bench_diff.py", str(bench),
         "--baseline", str(baseline), "--threshold", "1.5"],
        capture_output=True, text=True, cwd=REPO,
    )
    out = proc.stdout
    assert proc.returncode == 1          # b moved 1.6x -> gate trips
    assert "b: 3.200s vs 2.000s = 1.60x" in out
    assert "new=0.300s" in out           # unrecorded row surfaced
    assert "gone" in out                 # missing baseline row surfaced
    assert "4.30s vs baseline 3.00s" in out  # comparable subtotal
    proc2 = subprocess.run(
        [sys.executable, "bench_diff.py", str(bench),
         "--baseline", str(baseline), "--threshold", "2.0"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert proc2.returncode == 0         # under threshold: gate passes


def test_theta_scalar_union_needs_explicit_lgk(spark):
    """Regression pin for agg_theta_sketch_setops: the SCALAR
    theta_union defaults to lgNomEntries=12 (4096) and silently
    downsamples two exact lgK=15 inputs above that — measured at
    sf0.1 (11500 vs exact 11695) before the query passed lgK
    explicitly. Intersection/difference carry no lgK and stay exact
    while their inputs are exact."""
    from pyspark.sql import functions as F

    df = spark.range(20000).selectExpr("id AS v", "CAST(id % 2 AS INT) AS h")
    sk = df.groupBy("h").agg(F.expr("theta_sketch_agg(v, 15)").alias("sk"))
    two = sk.agg(
        F.expr("theta_union_agg(CASE WHEN h = 0 THEN sk END, 15)").alias("a"),
        F.expr("theta_union_agg(CASE WHEN h = 1 THEN sk END, 15)").alias("b"),
    )
    row = two.select(
        F.expr("theta_sketch_estimate(theta_union(a, b, 15))").alias("u15"),
        F.expr("theta_sketch_estimate(theta_union(a, b))").alias("udef"),
        F.expr("theta_sketch_estimate(theta_intersection(a, b))").alias("i"),
        F.expr("theta_sketch_estimate(theta_difference(a, b))").alias("d"),
    ).first()
    assert row.u15 == 20000  # explicit lgK=15: exact
    assert row.udef != 20000  # default lgK=12: downsampled (the trap)
    assert row.i == 0 and row.d == 10000  # exact-input set ops stay exact


def test_sketch_accuracy_knobs_explicit_everywhere():
    """r12 exactness-regime audit (the r11 theta lesson as a class):
    every sketch/approx aggregate in the registry must pass its
    accuracy knob EXPLICITLY — a default left implicit is a silent
    regime boundary (theta's scalar-union lgK=12 downsampling; HLL
    lgK=12's 1.6% RSE making a 5% bound a ~3-sigma lottery). Source-
    level pin: no knob-less call forms of these functions anywhere
    in the package.

    Scan scope: docstrings and ``#`` comments are stripped (via
    ast/tokenize) before matching, so a prose example like
    ``theta_union(a, b)`` in a docstring can't spuriously fail;
    OTHER string literals are kept because ``F.expr("...")`` payloads
    ARE live call sites. Known limitation: the ``[^,)]+`` arg shapes
    only match simple args — a knobless call whose argument itself
    contains a comma or paren (e.g. ``percentile_approx(f(x),
    array(0.25, 0.5))``) evades the regex. Acceptable: every current
    site uses simple column args, and the policy is belt-and-braces
    on top of per-op accuracy tests."""
    import io
    import pathlib
    import re
    import tokenize

    def _code_only(text):
        # Blank docstrings (Expr-statement string constants) and
        # comments, preserving offsets; keep F.expr(...) strings.
        import ast

        lines = text.splitlines(keepends=True)

        def blank(r0, c0, r1, c1):
            for r in range(r0 - 1, r1):
                s = lines[r]
                a = c0 if r == r0 - 1 else 0
                b = c1 if r == r1 - 1 else len(s.rstrip("\n"))
                lines[r] = s[:a] + " " * (b - a) + s[b:]

        try:
            tree = ast.parse(text)
        except SyntaxError:
            return text
        spans = []
        for node in ast.walk(tree):
            body = getattr(node, "body", None)
            if not isinstance(body, list):
                continue  # Lambda/IfExp carry a non-list body
            for stmt in body:
                if (
                    isinstance(stmt, ast.Expr)
                    and isinstance(stmt.value, ast.Constant)
                    and isinstance(stmt.value.value, str)
                ):
                    spans.append(
                        (
                            stmt.lineno,
                            stmt.col_offset,
                            stmt.end_lineno,
                            stmt.end_col_offset,
                        )
                    )
        try:
            # tokenize the ORIGINAL text (always valid Python here)
            for tok in tokenize.generate_tokens(
                io.StringIO(text).readline
            ):
                if tok.type == tokenize.COMMENT:
                    spans.append(
                        (tok.start[0], tok.start[1], tok.end[0], tok.end[1])
                    )
        except (tokenize.TokenError, SyntaxError):
            pass
        for span in spans:
            blank(*span)
        return "".join(lines)

    pkg = pathlib.Path(__file__).resolve().parent.parent / "hive_task_spark"
    src = "\n".join(
        _code_only(p.read_text()) for p in sorted(pkg.rglob("*.py"))
    )
    # call forms that silently take the default accuracy knob
    knobless = [
        r"(?<!\w)percentile_approx\(\s*[^,)]+,\s*[^,)]+\)",  # no accuracy
        r"(?<!\w)hll_sketch_agg\(\s*[^,)]+\)",               # no lgConfigK
        r"(?<!\w)approx_top_k\(\s*[^,)]+,\s*[^,)]+\)",       # no maxItems
        r"(?<!\w)approx_top_k_accumulate\(\s*[^,)]+\)",      # no maxItems
        r"(?<!\w)approx_top_k_combine\(\s*[^,)]+\)",         # no maxItems
        r"(?<!\w)theta_sketch_agg\(\s*[^,)]+\)",             # no lgNom
        r"(?<!\w)theta_union_agg\(\s*[^,)]+\)",
        r"(?<!\w)theta_union\(\s*[^,)]+,\s*[^,)]+\)",
        r"(?<!\w)approx_count_distinct\(\s*[^,)]+\)",        # no rsd
    ]
    hits = []
    for pat in knobless:
        for m in re.finditer(pat, src):
            hits.append(m.group(0))
    assert hits == [], f"implicit-default sketch knobs found: {hits}"


def test_hll_sketch_lgk16_bound_has_margin(spark):
    """agg_hll_sketch_merge regression: at the explicit lgConfigK=16
    the estimate must sit WELL inside the query's 5% oracle band
    (RSE 0.4% -> the band is ~12 sigma) at a cardinality far beyond
    HLL's exact regime — the scenario where the old default lgK=12
    (1.6% RSE, ~3 sigma) made the band a per-dataset lottery."""
    from pyspark.sql import functions as F

    n = 200_000  # >> 2^12 and >> 2^16 exact regimes
    est = (
        spark.range(n)
        .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(id, 16))").alias("e"))
        .first()
        .e
    )
    assert abs(est - n) <= 0.02 * n  # 2% — 5x tighter than the oracle band


def test_time_type_suite_survives_vanilla_session(spark, sf_dir):
    """date_time_type_suite depends on the runtime-settable
    spark.sql.timeType.enabled, which a vanilla externally-built
    session does NOT carry — the query must pin it itself (via
    tables.load -> apply_runtime_conf), never rely on engine session
    construction. Unset the conf to simulate the driver's session,
    then run."""
    from hive_task_spark.functions.dates import date_time_type_suite

    try:
        spark.conf.unset("spark.sql.timeType.enabled")
    except Exception:
        pass
    out = date_time_type_suite(spark, sf_dir).collect()
    assert len(out) > 0
    for row in out:
        # string edge stays HH:mm:ss[.f*] with trailing zeros trimmed
        assert row.first_tod.count(":") == 2
        assert not row.first_tod.endswith("0") or "." not in row.first_tod


def test_time_string_edge_trims_exactly_like_duckdb(spark):
    """Pin the cross-engine TIME->string contract the oracle relies
    on: both engines trim trailing fraction zeros and drop the dot for
    whole seconds. A Spark-side change to TIME(6) casting would
    surface here before the driver hash caught it."""
    import duckdb

    cases = ["12:34:56", "12:34:56.789", "01:02:03.00025", "08:09:10.5"]
    sp = spark.sql(
        "SELECT "
        + ", ".join(
            f"CAST(TIME '{c}' AS STRING) AS c{i}" for i, c in enumerate(cases)
        )
    ).first()
    dk = duckdb.connect().execute(
        "SELECT "
        + ", ".join(
            f"CAST(TIME '{c}' AS VARCHAR) AS c{i}" for i, c in enumerate(cases)
        )
    ).fetchone()
    assert tuple(sp) == tuple(dk) == tuple(cases)


def test_time_string_edge_parity_random_times(spark):
    """Property sweep of the TIME->string trimming contract across 200
    deterministic pseudo-random microsecond times (seeded, incl. forced
    edge shapes: zero fraction, single trailing-zero micro, .5, full
    6-digit fractions). Spark CAST(TIME AS STRING) and DuckDB
    CAST(TIME AS VARCHAR) must agree byte-for-byte — the contract
    date_time_type_suite's oracle hash rides on."""
    import duckdb
    import random

    rng = random.Random(12)
    times = [
        (0, 0, 0, 0), (23, 59, 59, 999999), (1, 2, 3, 250000),
        (4, 5, 6, 500000), (7, 8, 9, 100000), (10, 11, 12, 120000),
    ] + [
        (rng.randrange(24), rng.randrange(60), rng.randrange(60),
         rng.choice([0, rng.randrange(1_000_000),
                     rng.randrange(1000) * 1000]))
        for _ in range(194)
    ]

    def lit(h, m, s, us):
        frac = f".{us:06d}" if us else ""
        return f"{h:02d}:{m:02d}:{s:02d}{frac}"

    sel = ", ".join(
        f"CAST(TIME '{lit(*t)}' AS STRING) AS c{i}"
        for i, t in enumerate(times)
    )
    sp = tuple(spark.sql("SELECT " + sel).first())
    dsel = ", ".join(
        f"CAST(TIME '{lit(*t)}' AS VARCHAR) AS c{i}"
        for i, t in enumerate(times)
    )
    dk = tuple(duckdb.connect().execute("SELECT " + dsel).fetchone())
    assert sp == dk


def test_variant_explode_array_pos_semantics(spark):
    """variant_explode over a VARIANT ARRAY: pos is the element index
    and key is NULL (vs sorted-key order for objects, which
    json_variant_explode_lateral's oracle mirrors). Pins the generator
    contract the query's docstring states."""
    rows = spark.sql(
        "SELECT pos, key, to_json(value) AS v "
        "FROM variant_explode(parse_json('[10, \"x\", [1]]'))"
    ).collect()
    assert [(r.pos, r.key, r.v) for r in rows] == [
        (0, None, "10"),
        (1, None, '"x"'),
        (2, None, "[1]"),
    ]


def test_occ_loser_aborts_without_corrupting_log(tmp_path):
    """Optimistic-concurrency drill (sparkless — the commit protocol is
    pure log metadata): a losing conflicting writer must abort leaving
    the log BYTE-IDENTICAL, a losing compatible writer must rebase to
    the next version, and a crash mid-commit (orphaned .tmp, no
    published file) must be invisible to readers and to later
    version claims."""
    import hashlib
    import os

    import pytest

    from hive_task_spark.sources.readers import (
        CommitConflictError,
        _occ_live_files,
        _occ_versions,
        occ_commit,
    )

    base = str(tmp_path)

    def log_digest() -> str:
        h = hashlib.sha256()
        for v in _occ_versions(base):
            with open(os.path.join(base, f"_commit_{v}.json"), "rb") as fh:
                h.update(f"{v}:".encode() + fh.read())
        return h.hexdigest()

    assert occ_commit(base, 0, [{"action": "add", "file": "a"}]) == (1, 0)
    # append race: both read v1, second rebases to v3
    assert occ_commit(base, 1, [{"action": "add", "file": "b"}]) == (2, 0)
    assert occ_commit(base, 1, [{"action": "add", "file": "c"}]) == (3, 1)
    # crash mid-commit: a fully-written but never-linked tmp file
    orphan = os.path.join(base, "_commit_attempt.99999.1.tmp")
    with open(orphan, "w") as fh:
        fh.write('{"action": "add", "file": "ghost"}\n')
    assert _occ_versions(base) == [1, 2, 3]  # reader ignores the tmp
    assert "ghost" not in _occ_live_files(base)
    # conflicting delete-delete: loser aborts, log byte-identical
    before = log_digest()
    assert occ_commit(
        base, 3,
        [{"action": "remove", "file": "a"},
         {"action": "add", "file": "a_c1"}],
    ) == (4, 0)
    mid = log_digest()
    with pytest.raises(CommitConflictError, match="ConcurrentDeleteDelete"):
        occ_commit(
            base, 3,
            [{"action": "remove", "file": "a"},
             {"action": "add", "file": "a_c2"}],
        )
    assert log_digest() == mid != before
    assert _occ_versions(base) == [1, 2, 3, 4]
    assert _occ_live_files(base) == ["a_c1", "b", "c"]
    # the aborted writer's tmp was cleaned up; only the crash orphan
    # remains, still claiming nothing
    tmps = [f for f in os.listdir(base) if f.endswith(".tmp")]
    assert tmps == [os.path.basename(orphan)]
    # a later writer claims v5 unimpeded by the orphan
    assert occ_commit(base, 4, [{"action": "add", "file": "d"}]) == (5, 0)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    txns=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # read lag
            st.lists(  # (action, file) pairs over a small alphabet
                st.tuples(
                    st.sampled_from(["add", "remove"]),
                    st.sampled_from(["f0", "f1", "f2", "f3", "f4"]),
                ),
                min_size=1,
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_occ_commit_matches_sequential_model(tmp_path_factory, txns):
    """Model-based OCC drill: for ANY sequence of transactions with
    arbitrary stale read versions, occ_commit must agree with a
    sequential reference model — commit lands at latest+1 with
    n_rebases = latest - read_version IFF no version in
    (read_version, latest] removed a file this txn also removes
    (checked in version order; the first clash aborts), else
    CommitConflictError with the log unchanged. After the sequence,
    the live-file set must equal the model's replay of exactly the
    committed action lists (versions stay gapless 1..N)."""
    import os

    import pytest

    from hive_task_spark.sources.readers import (
        CommitConflictError,
        _occ_live_files,
        _occ_versions,
        occ_commit,
    )

    base = str(tmp_path_factory.mktemp("occ_model"))
    committed: list[list[dict]] = []  # index v-1 = version v's actions

    for read_lag, pairs in txns:
        actions = [{"action": a, "file": f} for a, f in pairs]
        my_removes = {f for a, f in pairs if a == "remove"}
        read_version = max(0, len(committed) - read_lag)
        # reference prediction: walk intermediate winners in order
        expected_conflict = False
        for v in range(read_version + 1, len(committed) + 1):
            their_removes = {
                x["file"]
                for x in committed[v - 1]
                if x["action"] == "remove"
            }
            if my_removes & their_removes:
                expected_conflict = True
                break
        if expected_conflict:
            with pytest.raises(CommitConflictError):
                occ_commit(base, read_version, actions)
        else:
            got = occ_commit(base, read_version, actions)
            assert got == (
                len(committed) + 1,
                len(committed) - read_version,
            )
            committed.append(actions)
        # invariants after EVERY txn: gapless version history, live
        # set = model replay, no leaked tmp files
        assert _occ_versions(base) == list(range(1, len(committed) + 1))
        live: set[str] = set()
        for acts in committed:
            for x in acts:
                if x["action"] == "add":
                    live.add(x["file"])
                else:
                    live.discard(x["file"])
        assert _occ_live_files(base) == sorted(live)
        assert not [f for f in os.listdir(base) if f.endswith(".tmp")]


def test_cohort_staging_rejects_non_partitioning_user_ids(spark, tmp_path):
    """The cohort-split guard must fail LOUDLY if events ever carries a
    NULL or negative user_id (either silently drops rows from every
    `% 3 == k` cohort while the DuckDB oracles still count them — the
    exact divergence class the guard exists for)."""
    import pytest

    from hive_task_spark.streaming.stream_queries import _run_cohort_batches

    fake_sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "2024-03-01 00:00:00", "view", 1.0),
            (None, "2024-03-01 00:00:01", "view", 2.0),  # NULL id
            (-4, "2024-03-01 00:00:02", "click", 3.0),  # negative id
        ],
        "user_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{fake_sf}/events.parquet")
    with pytest.raises(ValueError, match="not a partition of events"):
        _run_cohort_batches(spark, fake_sf, "guard_drill")


def test_exactly_once_sink_commit_log_and_versions(spark, sf_dir):
    """stream_foreachbatch_exactly_once leaves exactly one commit marker
    and one immutable state version per micro-batch (3), the final
    version equals the returned catalog table, and the in-query drills
    (duplicate delivery skipped, restart processes zero batches) have
    already run — the query raises on any violation, so reaching the
    assertions below means both drills passed."""
    import os

    from hive_task_spark.scratch import scratch_root

    out = registry.QUERIES["stream_foreachbatch_exactly_once"](
        spark, sf_dir
    ).toPandas()
    commit_dir = os.path.join(scratch_root(), "eo_state", "committed")
    markers = sorted(os.listdir(commit_dir))
    assert markers == ["batch_0.done", "batch_1.done", "batch_2.done"]
    # each marker records the state version its batch committed — the
    # on-disk source of truth the merge derives its base from (a crash
    # between state write and marker, or a full process restart, must
    # resume from markers, never from process memory)
    contents = [
        open(os.path.join(commit_dir, m)).read().strip() for m in markers
    ]
    assert contents == ["1", "2", "3"]
    state_versions = sorted(
        d for d in os.listdir(os.path.join(scratch_root(), "eo_state"))
        if d.startswith("v")
    )
    assert state_versions == ["v1", "v2", "v3"]  # no v4 from the drills
    v3 = spark.read.parquet(
        os.path.join(scratch_root(), "eo_state", "v3")
    ).toPandas()
    assert len(v3) == len(out)
    assert int(v3["n_events"].sum()) == int(out["n_events"].sum())
    assert int(v3["sum_cents"].sum()) == int(out["sum_cents"].sum())
    # catalog table registered and readable
    from hive_task_spark.streaming.stream_queries import (
        eo_state_table_name,
    )

    assert spark.catalog.tableExists(eo_state_table_name())


def test_file_metadata_engine_specific_columns_sane(spark, sf_dir):
    """The _metadata columns kept OFF the value edge (engine-generated:
    file_name, file_size, file_modification_time) are still real:
    non-null, parquet-suffixed, positive size — and the one-file-per-
    partition precondition the oracle depends on holds dataset-wide."""
    import os

    from pyspark.sql import functions as F

    from hive_task_spark.scratch import scratch_path

    # materialize the op's round-trip dataset, then probe it directly
    registry.QUERIES["source_file_metadata_columns"](spark, sf_dir).collect()
    path = scratch_path("orders_meta_parts")
    m = spark.read.parquet(path).select(
        "o_orderpriority",
        F.col("_metadata.file_path").alias("fpath"),
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.file_size").alias("fsize"),
        F.col("_metadata.file_modification_time").alias("fmtime"),
    )
    row = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("fpath").alias("n_files"),
        F.countDistinct("o_orderpriority").alias("n_parts"),
        F.min("fsize").alias("min_size"),
        F.sum(F.col("fname").endswith(".parquet").cast("int")).alias("n_pq"),
        F.sum(F.col("fmtime").isNull().cast("int")).alias("n_null_mtime"),
    ).first()
    # one file per partition dir, identified by FULL path (a task's
    # basename repeats across the dirs it writes)
    assert row["n_files"] == row["n_parts"]
    assert row["min_size"] > 0
    assert row["n_pq"] == row["n"]
    assert row["n_null_mtime"] == 0


def test_occ_commit_unlinks_tmp_on_write_failure(tmp_path):
    """A transaction whose action list cannot even be serialized must
    leave the log directory byte-untouched — including no leaked
    `.tmp` staging file (the r15 ADVICE finding: the tmp write now
    lives inside the try so the finally's unlink covers write-time
    failures, not just link-time ones)."""
    import os

    import pytest

    from hive_task_spark.sources.readers import occ_commit

    base = str(tmp_path)
    with pytest.raises(TypeError):
        occ_commit(base, 0, [{"action": "add", "file": object()}])
    assert os.listdir(base) == []


def test_occ_vacuum_retention_model(tmp_path):
    """Vacuum reachability model: a data file survives IFF some
    retained version's live set references it. Orphans (staged,
    never committed) die at any horizon; a removed file survives
    exactly as long as a retained version can still time-travel to
    it; vacuum is idempotent and never touches commit files."""
    import os

    from hive_task_spark.sources.readers import (
        _occ_versions,
        occ_commit,
        occ_vacuum,
    )

    base = str(tmp_path)
    for d in ("a", "b", "b_c", "orphan"):
        os.makedirs(os.path.join(base, d))
    occ_commit(
        base,
        0,
        [{"action": "add", "file": "a"}, {"action": "add", "file": "b"}],
    )
    occ_commit(
        base,
        1,
        [
            {"action": "remove", "file": "b"},
            {"action": "add", "file": "b_c"},
        ],
    )
    # horizon at v1: every committed version retained → only the
    # orphan is garbage; b stays reachable via AS-OF-v1
    assert occ_vacuum(base, retain_from=1) == ["orphan"]
    assert sorted(
        e for e in os.listdir(base) if os.path.isdir(os.path.join(base, e))
    ) == ["a", "b", "b_c"]
    assert occ_vacuum(base, retain_from=1) == []  # idempotent
    # horizon at v2: v1 ages out, b becomes unreferenced
    assert occ_vacuum(base, retain_from=2) == ["b"]
    assert occ_vacuum(base, retain_from=2) == []
    assert sorted(
        e for e in os.listdir(base) if os.path.isdir(os.path.join(base, e))
    ) == ["a", "b_c"]
    # the log itself is never vacuum's to touch
    assert _occ_versions(base) == [1, 2]


def test_commit_log_data_skipping_scans_only_surviving_files(spark, sf_dir):
    """The data-skipping read must open ONLY the band files whose
    stored [min,max] intersects the predicate — checked through
    Spark's own inputFiles() on the returned plan, not the operator's
    self-reported counter. Bands 0-2 top out below 150k, the bound is
    160k, so every scanned file sits in band 3 or 4."""
    from hive_task_spark.registry import QUERIES

    df = QUERIES["source_commit_log_data_skipping"](spark, sf_dir)
    files = df.inputFiles()
    assert files, "scan resolved no input files"
    assert all("band=3" in f or "band=4" in f for f in files), files


def test_join_state_reader_matches_batch_inputs(spark, sf_dir, oracle_con):
    """The joinSide state reader must return each side's buffered
    input EXACTLY (pure equi-join + far watermark = zero eviction):
    row counts, key counts, and the event-id checksum all equal the
    batch-side aggregates of the two filtered streams. The in-query
    drills additionally cross-check state vs join output; this test
    pins the reader-vs-batch contract at the test SF."""
    from hive_task_spark.registry import QUERIES

    got = {
        r["side"]: r
        for r in QUERIES["stream_statestore_join_state_reader"](
            spark, sf_dir
        ).collect()
    }
    exp = oracle_con.execute(
        """
        SELECT 'left' AS side, count(*) AS n, count(DISTINCT user_id) AS k,
               sum(event_id) AS s
        FROM events WHERE event_type = 'view' AND event_id % 10 = 0
        UNION ALL
        SELECT 'right', count(*), count(DISTINCT user_id), sum(event_id)
        FROM events WHERE event_type = 'purchase'
        """
    ).fetchall()
    for side, n, k, s in exp:
        assert got[side]["n_state_rows"] == n, side
        assert got[side]["n_keys"] == k, side
        assert got[side]["sum_event_id"] == int(s), side


@settings(max_examples=40, deadline=None)
@given(
    commits=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["add", "remove"]),
                st.sampled_from(["f0", "f1", "f2", "f3", "f4"]),
            ),
            min_size=1,
            max_size=3,
        ),
        min_size=0,
        max_size=6,
    ),
    n_orphans=st.integers(min_value=0, max_value=2),
    horizon=st.integers(min_value=1, max_value=9),
)
def test_occ_vacuum_matches_reachability_model(
    tmp_path_factory, commits, n_orphans, horizon
):
    """Model-based vacuum drill: for ANY committed history, orphan
    set, and horizon (including horizons beyond the latest version),
    occ_vacuum must delete exactly the model's garbage — every data
    dir not in the union of live sets over retained versions, with
    the horizon clamped so the CURRENT snapshot always survives —
    and be idempotent. An empty log must vacuum nothing."""
    import os

    from hive_task_spark.sources.readers import (
        _occ_versions,
        occ_commit,
        occ_vacuum,
    )

    base = str(tmp_path_factory.mktemp("vacuum_model"))
    # stage a data dir for every name that could ever be referenced
    all_files = {f for acts in commits for _a, f in acts}
    orphans = {f"orphan{i}" for i in range(n_orphans)}
    for f in sorted(all_files | orphans):
        os.makedirs(os.path.join(base, f))
    for i, acts in enumerate(commits):
        occ_commit(
            base, i, [{"action": a, "file": f} for a, f in acts]
        )
    versions = _occ_versions(base)
    if not versions:
        assert occ_vacuum(base, horizon) == []
        assert sorted(os.listdir(base)) == sorted(all_files | orphans)
        return
    eff = min(horizon, versions[-1])  # the clamp under test
    reachable: set[str] = set()
    live: set[str] = set()
    for v, acts in enumerate(commits, start=1):
        for a, f in acts:
            live.add(f) if a == "add" else live.discard(f)
        if v >= eff:
            reachable |= live
    expected_garbage = sorted((all_files | orphans) - reachable)
    assert occ_vacuum(base, horizon) == expected_garbage
    assert occ_vacuum(base, horizon) == []  # idempotent
    on_disk = {
        e for e in os.listdir(base) if os.path.isdir(os.path.join(base, e))
    }
    assert on_disk == ((all_files | orphans) & reachable)
    # the log itself is untouched either way
    assert _occ_versions(base) == versions


@settings(max_examples=60, deadline=None)
@given(
    files=st.lists(
        st.lists(
            st.integers(min_value=-50, max_value=50),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    ),
    lo=st.one_of(st.none(), st.integers(min_value=-60, max_value=60)),
    hi=st.one_of(st.none(), st.integers(min_value=-60, max_value=60)),
)
def test_stats_prune_never_drops_a_matching_file(files, lo, hi):
    """Pruning soundness: for ANY file contents and ANY (possibly
    one-sided, possibly empty) range predicate, every file holding at
    least one matching value must survive stats_prune — skipping may
    over-scan, never under-scan. Stats-less actions must always be
    kept (missing metadata degrades to scanning)."""
    from hive_task_spark.sources.readers import stats_prune

    actions = [
        {
            "action": "add",
            "file": f"f{i}",
            "stats": {"col": "x", "min": min(vals), "max": max(vals)},
        }
        for i, vals in enumerate(files)
    ]
    kept = set(stats_prune(actions, lo=lo, hi=hi))
    for i, vals in enumerate(files):
        matches = [
            v
            for v in vals
            if (lo is None or v >= lo) and (hi is None or v <= hi)
        ]
        if matches:
            assert f"f{i}" in kept, (vals, lo, hi)
    # and the conservative defaults: absent stats AND partial stats
    # (one bound missing) must both degrade to scanning, never crash
    partials = [
        {"action": "add", "file": "nostats"},
        {"action": "add", "file": "onlymax", "stats": {"col": "x", "max": 0}},
        {"action": "add", "file": "onlymin", "stats": {"col": "x", "min": 0}},
    ]
    kept2 = stats_prune(partials, lo=lo, hi=hi)
    assert "nostats" in kept2
    # a sole bound still prunes on ITS side, scans on the missing side
    if lo is not None and lo > 0:
        assert "onlymax" not in kept2  # max=0 < lo proves no match
    else:
        assert "onlymax" in kept2
    if hi is not None and hi < 0:
        assert "onlymin" not in kept2  # min=0 > hi proves no match
    else:
        assert "onlymin" in kept2
