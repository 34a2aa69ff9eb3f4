"""Physical-plan assertions — the 100 TB posture, enforced by tests
(SCALE.md). Correctness tests prove the answers; these prove the plans
stay the ones we designed: filters reach scans, dimensions broadcast,
aggregation is partial+final, no accidental cartesian products.
"""

from __future__ import annotations

from dataclasses import dataclass

import pytest

from hive_task_spark import registry
from hive_task_spark.plans.checkpoints import (
    overstated_records,
    record_checkpoints,
    understated_records,
)

registry.load_all()


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, sf_dir, name: str) -> str:
    return _explain(spark, registry.QUERIES[name](spark, sf_dir))


def _broadcast_threshold_bytes(spark) -> int:
    """The LIVE autoBroadcastJoinThreshold in bytes (not a hardcoded
    10 MiB): if the suite ever raises the threshold, the stats guards
    must tighten with it or they under-protect against the r7
    broadcast-OOM class."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    raw = raw.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    for suffix, mult in units.items():
        if raw.endswith(suffix + "b"):
            return int(float(raw[:-2]) * mult)
        if raw.endswith(suffix):
            return int(float(raw[:-1]) * mult)
    if raw.endswith("b"):
        return int(float(raw[:-1]))
    return int(float(raw))


# An unpartitioned Window funnels its whole input through one task, so
# it is only allowed above a node that bounds the row count.
_BOUNDING_NODES = {
    "Aggregate",
    "LocalRelation",
    "OneRowRelation",
    "GlobalLimit",
    "Deduplicate",
}


def _is_bounded(node) -> bool:
    """True iff EVERY path from this node down to a relation scan
    passes through a bounding node — 'an Aggregate exists somewhere
    in the subtree' is not enough (a raw fact table cross-joined
    with a broadcast 1-row aggregate contains an Aggregate yet
    keeps the fact table's cardinality; ADVICE r4)."""
    if node.nodeName() in _BOUNDING_NODES:
        return True
    ch = node.children()
    if ch.size() == 0:
        return False  # leaf relation scan: unbounded by definition
    return all(_is_bounded(ch.apply(i)) for i in range(ch.size()))


def _has_unbounded_global_window(plan) -> bool:
    stack = [plan]
    while stack:
        node = stack.pop()
        ch = node.children()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            if not all(_is_bounded(ch.apply(i)) for i in range(ch.size())):
                return True
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return False


@dataclass
class _Verdict:
    """What the registry walk keeps of one query: verdicts, never the
    DataFrame (or the checkpointed partitions it pins)."""

    cartesian: bool
    unbounded_window: bool
    checkpoints: int
    understated: list[str]
    overstated: list[str]
    below_threshold: list[str]


@pytest.fixture(scope="module")
def registry_walk(spark, sf_dir) -> dict[str, _Verdict]:
    """Build every registered batch query ONCE, recording its
    checkpoints, and keep the verdicts the registry-wide plan tests
    assert on. Streaming plans materialize lazily and sources write,
    so ``stream_``/``source_`` queries are not walked."""
    threshold = _broadcast_threshold_bytes(spark)
    verdicts = {}
    for name in sorted(registry.QUERIES):
        if name.startswith(("stream_", "source_")):
            continue
        with record_checkpoints() as recs:
            df = registry.QUERIES[name](spark, sf_dir)
        verdicts[name] = _Verdict(
            cartesian="CartesianProduct" in _explain(spark, df),
            unbounded_window=_has_unbounded_global_window(
                df._jdf.queryExecution().optimizedPlan()
            ),
            checkpoints=len(recs),
            understated=understated_records(recs, min_rows=1000),
            overstated=overstated_records(recs),
            below_threshold=[
                f"checkpoint #{i}: {rec.rows} rows but stats "
                f"{rec.stats_bytes}B <= autoBroadcastJoinThreshold "
                f"{threshold}B — AQE would broadcast it"
                for i, rec in enumerate(recs)
                if rec.rows > 100_000 and rec.stats_bytes <= threshold
            ],
        )
    return verdicts


def test_star_join_all_broadcast(spark, sf_dir):
    """Every dimension join in the star queries must be broadcast-hash;
    a SortMergeJoin would shuffle the fact table per dimension."""
    for name in ("join_inner_star", "q3_shipping_priority",
                 "q5_local_supplier_volume", "q10_returned_items"):
        plan = _plan(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, f"{name}: dim join degraded to SMJ"
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join found"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """Selective predicates must appear in PushedFilters of the scan."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark, sf_dir):
    """q1 projects 7 of 11 lineitem columns; the scan must not read
    the rest (ReadSchema pruned)."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema  # unused column stays unread
    assert "l_quantity" in read_schema


def test_partial_aggregation(spark, sf_dir):
    """Grouped aggregates must be partial+final (two HashAggregate
    levels) so the shuffle carries one row per (partition, group)."""
    plan = _plan(spark, sf_dir, "agg_stats_suite")
    assert plan.count("HashAggregate") >= 2


def test_global_topk_avoids_global_sort(spark, sf_dir):
    """orderBy+limit must compile to TakeOrderedAndProject, never a
    full global Sort+CollectLimit."""
    plan = _plan(spark, sf_dir, "global_sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_products_anywhere(registry_walk):
    """Nothing in the inventory may plan a CartesianProduct; the only
    intentional cross join (join_cross_small) must broadcast."""
    bad = sorted(n for n, v in registry_walk.items() if v.cartesian)
    assert not bad, f"cartesian products: {bad}"


@pytest.mark.parametrize(
    "name", ["window_ranking", "window_running_total", "window_topk_per_group"]
)
def test_windows_always_partitioned(spark, sf_dir, name):
    """Window specs must partition — an empty partition spec would
    funnel the table through one task."""
    plan = _plan(spark, sf_dir, name)
    assert "Window" in plan
    # Spark renders unpartitioned windows with an empty partition list
    assert "windowspecdefinition()" not in plan.lower().replace(" ", "")


def test_unpartitioned_windows_are_bounded(registry_walk):
    """An unpartitioned Window.orderBy funnels its whole input through
    one task, so it is only allowed above a node that bounds the row
    count (Aggregate / LocalRelation / Limit / Deduplicate) — the
    Holt/forecast/OLS family all window pre-aggregated daily series.
    The explicit exceptions below window document-METADATA cardinality
    and each docstring records the two-pass plan used at 100 TB; any
    new query that globally windows a raw table must either bound it
    or argue its way onto this list."""
    allowed_raw_input = {
        "agg_equidepth_histogram",        # global ntile over value sample
        "analytics_auto_binning_fd",      # Freedman–Diaconis needs global order stats
        "analytics_lift_gains_table",     # decile ntile IS a global sort (range-partitioned at scale)
        "analytics_woe_iv_bins",          # same: exact equal-frequency bins need global order
        "pipeline_shard_plan",            # running size over shard metadata
        "pipeline_token_budget",          # budget prefix; SCALE.md two-pass plan
        "quality_sorted_neighborhood_er", # SNM is global-sort by definition
        "similarity_hybrid_rrf",          # ranks over filtered candidate set
    }
    offenders = sorted(
        n for n, v in registry_walk.items()
        if v.unbounded_window and n not in allowed_raw_input
    )
    assert not offenders, f"unbounded global windows: {offenders}"


def test_tpch_dim_joins_broadcast(spark, sf_dir):
    """The TPC-H shapes added for full Q1-Q22 coverage keep every
    dimension join broadcast (q21's two SortMergeJoins are the
    deliberate exception: both sides are fact-table aggregates that
    could never broadcast at scale, so SMJ is the right plan)."""
    for name in ("q8_market_share", "q9_product_profit",
                 "q12_late_shipments", "q2_min_cost_supplier",
                 "q16_supplier_count", "q20_excess_suppliers"):
        plan = _plan(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, f"{name}: dim join degraded to SMJ"
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join found"


def test_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization must reuse one user_id exchange for the gap
    window, the island-numbering window, and the final groupBy —
    exactly one hash-partitioning exchange in the whole plan."""
    plan = _plan(spark, sf_dir, "pipeline_sessionize_events")
    # formatted mode prints each operator twice (tree + details)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_funnel_one_row_sides_broadcast(spark, sf_dir):
    """analytics_funnel chains two crossJoins of single-row aggregates;
    both must plan as BroadcastNestedLoopJoin via explicit hints (AQE-
    independent), never a CartesianProduct or shuffled NL join."""
    plan = _plan(spark, sf_dir, "analytics_funnel")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_pure_map(spark, sf_dir):
    """pipeline_chunk_sliding must compile to a shuffle-free map plan:
    no Exchange, no Window, no aggregate — chunk rows stream from the
    scan to the sink."""
    plan = _plan(spark, sf_dir, "pipeline_chunk_sliding")
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan


def test_pack_and_keep_best_single_shuffle(spark, sf_dir):
    """pipeline_pack_sequences: one per-source window. keep-best: rank
    and group size share one norm_hash window partitioning — at most
    one hash-partitioning exchange each (formatted mode double-prints
    operators: tree + details)."""
    for name in ("pipeline_pack_sequences", "pipeline_dedup_keep_best"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") <= 2, name


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """source_bucketed_join: both scans must read bucketed files
    (Bucketed: true) and the forced SortMergeJoin must have no
    hash-partitioning exchange under it — the write-time bucketing
    replaced the join shuffle."""
    plan = _plan(spark, sf_dir, "source_bucketed_join")
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") >= 2
    assert "Exchange hashpartitioning" not in plan


def test_dpp_runtime_partition_filter(spark, sf_dir):
    """The dimension-derived year predicate must reach the fact scan as
    a DYNAMIC partition-pruning subquery (not a static literal): the
    star-join pattern where the date dim prunes fact directories at
    runtime."""
    df = registry.QUERIES["source_join_dpp_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP subquery in fact scan"


def test_kmeans_assign_no_shuffle_before_stats(spark, sf_dir):
    """Codebook scoring must be a broadcast nested loop over the plan-
    literal centroids — no SortMergeJoin anywhere."""
    plan = _plan(spark, sf_dir, "similarity_kmeans_assign")
    assert "SortMergeJoin" not in plan


def test_compaction_reduces_file_count(spark, sf_dir):
    """The compaction op must actually reduce the physical file count
    64 -> 4 (layout change), while the oracle proves value identity."""
    import os

    registry.QUERIES["source_compact_small_files"](spark, sf_dir).count()
    from hive_task_spark.scratch import scratch_path

    n_frag = len([f for f in os.listdir(scratch_path("orders_fragmented")) if f.endswith(".parquet")])
    n_comp = len([f for f in os.listdir(scratch_path("orders_compacted")) if f.endswith(".parquet")])
    assert n_frag == 64 and n_comp == 4, (n_frag, n_comp)


def test_session_window_single_exchange(spark, sf_dir):
    """Native batch session_window must plan the dedicated session-
    merging aggregate with exactly one user-key exchange — the reason
    it beats the two-window island rewrite at scale."""
    df = registry.QUERIES["agg_session_window_batch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MergingSessions" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bnlj_only_where_intended(spark, sf_dir):
    """The pure-inequality band lookup is the ONE query allowed a
    BroadcastNestedLoopJoin (constant-size build side); it must not
    degrade to a cartesian product."""
    plan = _plan(spark, sf_dir, "join_broadcast_nested_loop")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_temporal_join_dim_broadcast(spark, sf_dir):
    """Point-in-time join: the SCD2 dimension side must broadcast at
    this scale (equi-key + residual range predicate, never a range
    explosion or SMJ of the fact per version)."""
    plan = _plan(spark, sf_dir, "join_temporal_pointintime")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_product_quantization_pure_map(spark, sf_dir):
    """PQ scoring is a map stage: frozen codebooks are plan literals,
    so the plan must contain NO exchange at all (per-vector output)."""
    plan = _plan(spark, sf_dir, "similarity_product_quantization")
    assert "Exchange" not in plan


def test_zorder_partial_aggregation(spark, sf_dir):
    """Morton-key bucket stats must aggregate partial+final — the bit
    algebra stays inside WholeStageCodegen (no Python, no UDF)."""
    plan = _plan(spark, sf_dir, "pipeline_zorder_layout")
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fifo_matching_pushdown_and_no_cartesian(spark, sf_dir):
    """Both flow branches push (partkey, linestatus) to the scan and
    the match join is keyed — never a cartesian."""
    plan = _plan(spark, sf_dir, "analytics_fifo_inventory_matching")
    assert "CartesianProduct" not in plan
    pushed = plan.split("PushedFilters")
    assert len(pushed) >= 3  # two scans with pushed filters
    assert "LessThan(l_partkey,150)" in plan


def test_proration_single_fact_partitioning(spark, sf_dir):
    """The rebate dim broadcasts; the fact side is hash-partitioned by
    l_orderkey once and reused by both window passes (no SMJ)."""
    import re

    plan = _plan(spark, sf_dir, "analytics_proration_largest_remainder")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2


def test_cdc_net_effect_one_fact_exchange(spark, sf_dir):
    """Both windows (seq row_number + per-key count) share ONE
    user_id exchange and one sort; base-table probe is broadcast."""
    import re

    plan = _plan(spark, sf_dir, "pipeline_cdc_net_effect")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1


def test_ohlc_windows_share_group_exchange(spark, sf_dir):
    """The two argmin/argmax windows and the final aggregate all key on
    (event_type, day_idx): at most two exchanges, no join at all."""
    import re

    plan = _plan(spark, sf_dir, "analytics_ohlc_candles")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2


def test_keyset_pagination_no_cartesian(spark, sf_dir):
    """The cursor is a broadcast one-row side (BNLJ), never a
    cartesian product; no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "sql_keyset_pagination")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_join_hints_land_their_operators(spark, sf_dir):
    """Each join-strategy hint must produce its physical operator —
    the surface is proven, not assumed."""
    from hive_task_spark.tables import load

    sql = """
        SELECT /*+ {hint} */ c.c_mktsegment, count(*) AS n
        FROM {{orders}} o JOIN {{customer}} c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """

    def plan_of(hint):
        df = spark.sql(
            sql.format(hint=hint),
            orders=load(spark, sf_dir, "orders"),
            customer=load(spark, sf_dir, "customer"),
        )
        je = df._jdf.queryExecution()
        return je.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    assert "ShuffledHashJoin" in plan_of("SHUFFLE_HASH(c)")
    assert "SortMergeJoin" in plan_of("MERGE(c)")
    assert "BroadcastHashJoin" in plan_of("BROADCAST(c)")


def test_parquet_bloom_filter_lands_on_disk(spark, sf_dir):
    """source_parquet_bloom_filter's writer options must actually
    produce bloom filters: the bloom-enabled file is written alongside
    an option-free but otherwise identical write, and must be bigger
    by at least one bloom's worth of bytes. (pyarrow 16 / DuckDB 1.0
    don't expose bloom_filter_offset, so the size delta is the
    observable — an option typo would make the two writes equal.)"""
    import os

    from hive_task_spark.scratch import scratch_path
    from hive_task_spark.tables import load as _load

    # run the registered query (writes _scratch/lineitem_bloom)
    registry.QUERIES["source_parquet_bloom_filter"](spark, sf_dir).collect()

    li = _load(spark, sf_dir, "lineitem")
    plain = scratch_path("lineitem_bloom_control")
    (
        li.select("l_suppkey", "l_extendedprice")
        .sort("l_suppkey")
        .write.mode("overwrite")
        .parquet(plain)
    )

    def _bytes(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    bloom_b = _bytes(scratch_path("lineitem_bloom"))
    plain_b = _bytes(plain)
    assert bloom_b > plain_b + 1000, (
        f"bloom-enabled write ({bloom_b} B) not larger than control "
        f"({plain_b} B): bloom filter options did not take effect"
    )


def test_copurchase_edge_stats_stay_above_broadcast_threshold(spark, sf_dir):
    """Regression guard for the round-7 kernel experiment: the
    checkpointed co-purchase edge list must keep a size estimate ABOVE
    the auto-broadcast threshold. A kernel whose checkpointed plan
    advertises tiny stats (the basket-explode variant claimed ~1.5 MB
    for 1.2M edges) flips every downstream AQE join to broadcasting
    the edge list — measured kcore 3.6s -> 16.3s and three graph ops
    broadcast-OOMed at sf0.1. Downstream joins must stay shuffles."""
    from pyspark.sql import functions as F

    from hive_task_spark.operators.analytics import _copurchase_edges
    from hive_task_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_edges(li)
    size = int(edges._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    threshold = _broadcast_threshold_bytes(spark)
    assert size > threshold, (
        f"edge-list stats {size}B would invite AQE broadcast "
        f"(live autoBroadcastJoinThreshold={threshold}B)"
    )


def test_equidepth_cutpoints_no_total_order_exchange(spark, sf_dir):
    """The sampled-cut-point histogram exists to avoid the global sort:
    its plan must contain no rangepartitioning exchange and no Sort,
    and the cut-point side must arrive via BroadcastExchange."""
    plan = _plan(spark, sf_dir, "agg_equidepth_cutpoints")
    assert "rangepartitioning" not in plan.lower()
    # the documented "no Sort" guarantee, asserted on the node grain
    # (a global Sort can appear without a range exchange under AQE,
    # and a SortAggregate fallback would also smuggle one in)
    import re
    sort_nodes = [
        ln for ln in plan.splitlines()
        if re.match(r"\(\d+\)\s+(Sort|SortAggregate|SortMergeJoin)\b", ln.strip())
    ]
    assert not sort_nodes, f"unexpected sort nodes: {sort_nodes}"
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row cutpoint crossJoin


# Checkpointed intermediates that are dimension-scale BY DESIGN, so a
# small (even mildly understated) estimate is the truth and downstream
# broadcast is the intended plan. Measured to justify each entry;
# the >100k-row absolute rule below still applies as the backstop if
# the design assumption ever breaks.
_DIMENSION_SCALE_BY_DESIGN = {
    "analytics_triangle_count": (
        "support>=2 co-purchase edges SATURATE at part-pair scale: "
        "measured 3445 rows at sf0.01 -> 3573 at sf0.1 (+3.7% across 10x "
        "data) — see _copurchase_edges' docstring for the r7 analysis"
    ),
}


# Plain checkpoints waived from the OVERstatement bound
# (overstated_records; checkpoint_conservative records are exempt by
# construction). Each entry states why the inflated estimate decides
# no join: every broadcast downstream of the checkpoint is an explicit
# F.broadcast/hint, and any join left to AQE is between relations that
# scale with the corpus, where no-broadcast is the 100 TB plan anyway.
_OVERSTATED_WAIVED = {
    "dedup_minhash_lsh": (
        "the LSH candidate-pair checkpoint inherits the band self-join's "
        "cardinality estimate (~175 GiB for 25 rows at sf0.01); its "
        "consumers broadcast cand_docs via an explicit F.broadcast, and "
        "candidate pairs grow with the corpus"
    ),
    "analytics_kcore": (
        "iterative BSP rounds: each round's checkpoint inherits the "
        "previous round's multiplied join estimate (~6e27 B for 8.8k "
        "edges); surviving edges and keep-sets scale with the graph, the "
        "loop hints shuffle_hash explicitly and scalars broadcast via "
        "explicit F.broadcast"
    ),
    "analytics_louvain_one_level": (
        "iterative BSP rounds inherit multiplied join estimates; node "
        "labels scale with the graph and scalars broadcast via explicit "
        "F.broadcast"
    ),
    "similarity_pca_power_iteration": (
        "the d² covariance cells and each d-row matvec inherit the "
        "moment pass's multiplied estimate (~4e11 B/row, then ~7e17 "
        "to 8e49 per round); every join downstream of them broadcasts "
        "its small side (the vector, the norm, the sign) by an explicit "
        "F.broadcast, and cov is only ever the streamed side"
    ),
    "similarity_matryoshka_eval": (
        "the per-prefix top-k checkpoint (N_QUERIES x TOP_K x dims "
        "rows) inherits the query x corpus pair estimate (~1.5e8 "
        "B/row); its one downstream join broadcasts the truth set by an "
        "explicit F.broadcast, and the rest is a groupBy"
    ),
}


def test_registry_walk_sees_every_waived_checkpoint(registry_walk):
    """The walk the per-query checkpoint guard reads must see
    checkpoints at all (positive control: a recorder that sees nothing
    guards nothing), and every waiver must name a query that still
    checkpoints."""
    checkpointing = {n for n, v in registry_walk.items() if v.checkpoints}
    assert checkpointing, "the registry walk recorded no checkpoint at all"
    stale = (set(_DIMENSION_SCALE_BY_DESIGN) | set(_OVERSTATED_WAIVED)) - checkpointing
    assert not stale, f"waivers name queries that no longer checkpoint: {stale}"


@pytest.mark.parametrize(
    "name",
    sorted(n for n in registry.QUERIES if not n.startswith(("stream_", "source_"))),
)
def test_checkpointed_intermediates_not_broadcast_bait(registry_walk, name):
    """Class-wide generalization of the co-purchase edge-stats guard
    (the r7 regression), over every query the registry walk builds:
    each localCheckpoint'ed intermediate must advertise a sane size
    estimate — >= 8 B per actual row (the buggy r7 kernel sat at
    ~1.25 B/row at any SF), no more than 1e6 B per row unless waived,
    and above the LIVE autoBroadcastJoinThreshold once it exceeds 100k
    rows — or downstream AQE flips its joins to broadcasting a big
    relation (measured: kcore 3.6->16.3s + three graph-op OOMs at
    sf0.1). A query that records no checkpoint has nothing to violate."""
    v = registry_walk[name]
    problems = list(v.below_threshold)
    if name not in _DIMENSION_SCALE_BY_DESIGN:
        problems += v.understated
    if name not in _OVERSTATED_WAIVED:
        problems += v.overstated
    assert not problems, f"{name}: checkpoint stats violations: {problems}"


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """join_runtime_bloom_filter exists to demonstrate Catalyst's
    InjectRuntimeFilter: the locked-in optimized plan must carry the
    might_contain(bloom, xxhash64(key)) probe on the fact side."""
    df = registry.QUERIES["join_runtime_bloom_filter"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan
    # and the scoped confs must not leak into the session
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_lateral_join_decorrelates_to_group_limit(spark, sf_dir):
    """join_lateral_dataframe's correlated LIMIT subquery must NOT
    plan as a per-row nested loop: Catalyst decorrelates it to a
    WindowGroupLimit (pushed PARTIALLY below the shuffle, so each map
    task pre-prunes to 2 rows per nation before exchanging) feeding
    one equi-join — lateral correlation at 100 TB costs the same as
    the hand-written window top-k."""
    plan = _plan(spark, sf_dir, "join_lateral_dataframe")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # map-side pre-prune before the exchange
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pandas_api_pipeline_compiles_to_broadcast_join(spark, sf_dir):
    """relational_pandas_api_pipeline exists to prove the pandas API
    surfaces the SAME Catalyst plan as the DataFrame original: the
    nation merge must broadcast (never SMJ the customer side), the
    groupby must run partial+final, and no distributed-sequence
    default index may sneak a zipWithIndex-style pass into the plan
    (index_col pins real columns)."""
    plan = _plan(spark, sf_dir, "relational_pandas_api_pipeline")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "Partial" in plan
    assert "AttachDistributedSequence" not in plan
    assert "CartesianProduct" not in plan


def test_theta_sketch_setops_single_fact_pass(spark, sf_dir):
    """agg_theta_sketch_setops must build every month sketch in ONE
    orders pass (one scan, partial+final sketch agg) — the mergeable
    form that lets 100 TB sketches be maintained per-partition; the
    half-year folds and scalar set ops run on 12 sketch rows, never
    touching orders again."""
    plan = _plan(spark, sf_dir, "agg_theta_sketch_setops")
    # count scan NODES (the formatted detail section repeats the node
    # name, so "Scan parquet" text alone overcounts)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters")[1][:300]
    assert "CartesianProduct" not in plan


def test_file_metadata_scan_reads_zero_data_columns(spark, sf_dir):
    """source_file_metadata_columns' read-back aggregate must be a
    metadata-only scan: the data columns written to the round-trip
    dataset (o_orderkey, o_totalprice) may NOT appear in ReadSchema —
    the whole point of _metadata lineage is per-file audit at zero
    data-column IO. The only materialized field is the synthetic
    row_index (reader state), plus the partition value from the dir."""
    plan = _plan(spark, sf_dir, "source_file_metadata_columns")
    read_schemas = [
        seg[: seg.find("\n")] for seg in plan.split("ReadSchema: ")[1:]
    ]
    assert read_schemas, plan
    for rs in read_schemas:
        assert "o_orderkey" not in rs and "o_totalprice" not in rs, rs
        assert "row_index" in rs, rs
    assert "CartesianProduct" not in plan


def test_analyzed_catalog_stats_drive_planning(spark, sf_dir):
    """ANALYZE-collected catalog statistics must actually reach the
    optimizer: (a) with CBO enabled, the analyzed table's logical plan
    advertises the EXACT rowCount (not an estimate); (b) with AQE off
    and no hints, a big-join-small between two analyzed tables picks
    BroadcastHashJoin from catalog sizeInBytes alone — the
    stats-driven decision a 100 TB planner lives on."""
    from pyspark.sql import functions as F

    from hive_task_spark.scratch import scratch_path

    # the op creates + analyzes the PID-keyed CBO stats table
    from hive_task_spark.operators.workloads import cbo_stats_table_name

    cbo_tbl = cbo_stats_table_name()
    registry.QUERIES["sql_analyze_cbo_stats"](spark, sf_dir).collect()
    n = spark.table(cbo_tbl).count()

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("bucket_key"), "n_name"
    )
    (
        nation.write.mode("overwrite")
        .option("path", scratch_path("cbo_dim_tbl"))
        .saveAsTable("htspark_cbo_dim")
    )
    spark.sql("ANALYZE TABLE htspark_cbo_dim COMPUTE STATISTICS")

    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        stats = (
            spark.table(cbo_tbl)
            ._jdf.queryExecution().optimizedPlan().stats()
        )
        assert stats.rowCount().toString() == f"Some({n})"
        j = (
            spark.table(cbo_tbl)
            .join(
                spark.table("htspark_cbo_dim"),
                F.col("bucket97") == F.col("bucket_key"),
            )
            .groupBy("n_name")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_observation_listener_survives_intended_failure_drills(spark, sf_dir):
    """Pin for the VERDICT r16 cosmetic finding: once any query uses the
    Observation API, Spark 4.1's session-global ObservationManager
    listener receives every later FAILED analysis and logs one benign
    ERROR stack (its tryComplete touches qe.observedMetrics, which
    rethrows). This pins what matters underneath the noise: (1) the
    intended-failure drill still raises the precise missing-path error,
    (2) the Observation machinery keeps working for subsequent queries,
    and (3) a query with an intended-failure drill inside
    (source_commit_log_vacuum) still returns correct rows. If this test
    starts failing, a REAL listener regression is hiding in what was
    log spray. (Unregistering the listener is NOT a fix: a later
    Observation.get then blocks forever — measured r17.)"""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    obs = Observation("pin_health")
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n")).write.format(
        "noop"
    ).mode("overwrite").save()
    assert obs.get["n"] == 10

    # intended failure with the listener registered: precise error, no hang
    with pytest.raises(Exception) as ei:
        df = spark.read.parquet("/nonexistent_r17_pin")
        df.schema
        df.count()
    cond = getattr(ei.value, "getCondition", lambda: None)() or ""
    assert "PATH_NOT_FOUND" in cond or "PATH_NOT_FOUND" in str(ei.value)

    # observation machinery still alive after the failure
    obs2 = Observation("pin_health_2")
    spark.range(5).observe(obs2, F.count(F.lit(1)).alias("n")).write.format(
        "noop"
    ).mode("overwrite").save()
    assert obs2.get["n"] == 5

    # the registered query whose drill rides this path stays correct
    rows = registry.QUERIES["source_commit_log_vacuum"](spark, sf_dir).collect()
    assert len(rows) == 3


def test_unit_dots_kernel_bit_exact_vs_hof(spark, sf_dir):
    """The r18 Arrow vector kernels claim BIT-exactness to the
    interpreted zip_with/aggregate fold (same IEEE op sequence,
    vectorized across rows). Pin it: _unit_dots_frame's uvec and all
    16 codebook dots must equal the HOF formulation exactly — zero
    tolerance — so a kernel edit that reorders the accumulation (e.g.
    a matmul swap) fails here, not at the driver's hash."""
    from pyspark.sql import functions as F

    from hive_task_spark.operators.similarity import (
        _IVF_CODEBOOK,
        _dot,
        _norm,
        _unit_dots_frame,
        _vec_d,
    )
    from hive_task_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: (list(r["uvec"]), list(r["dots"]))
        for r in _unit_dots_frame(e).collect()
    }
    vecs = e.select("vec_id", _vec_d().alias("vec")).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    unit = vecs.select(
        "vec_id", F.expr("transform(vec, x -> x / nrm)").alias("uvec")
    )
    cvecs = [
        F.expr("array(" + ",".join(f"{x}D" for x in c) + ")")
        for c in _IVF_CODEBOOK
    ]
    ref_rows = unit.select(
        "vec_id",
        "uvec",
        F.array(*[_dot(F.col("uvec"), c) for c in cvecs]).alias("dots"),
    ).collect()
    assert len(ref_rows) == len(got) > 0
    for r in ref_rows:
        ku, kd = got[r["vec_id"]]
        assert ku == list(r["uvec"])  # exact, no tolerance
        assert kd == list(r["dots"])


def _nan_zero_embeddings(spark):
    """A zero vector, NaN components first and last, and one plain
    vector: the rows where NumPy and SQL comparison semantics part."""
    nan = float("nan")
    rows = [
        (0, [0.0] * 64),
        (1, [nan] + [0.1] * 63),
        (2, [0.2] * 63 + [nan]),
        (3, [0.01 * (i % 7 - 3) for i in range(64)]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("source", ["embeddings", "nan_zero"])
def test_lsh_bucket_kernel_bit_exact_vs_hof(spark, sf_dir, source):
    """_lsh_bucket_frame's bucket ids and norms must equal the HOF form
    ``CASE WHEN _dot(vec, plane) > 0`` exactly, NaN rows included:
    Spark orders NaN above every value, so a NaN dot sets its bit."""
    from pyspark.sql import functions as F

    from hive_task_spark.operators.similarity import (
        _PLANES,
        _dot,
        _lsh_bucket_frame,
        _norm,
        _vec_d,
    )
    from hive_task_spark.tables import load

    e = (
        load(spark, sf_dir, "embeddings")
        if source == "embeddings"
        else _nan_zero_embeddings(spark)
    )
    got = {
        r["vec_id"]: (list(r["buckets"]), repr(r["nrm"]))
        for r in _lsh_bucket_frame(e).collect()
    }
    vec = _vec_d()
    ref_buckets = F.array(
        *[
            sum(
                F.when(
                    _dot(vec, F.array(*[F.lit(x) for x in plane])) > 0, 1 << p
                ).otherwise(0)
                for p, plane in enumerate(table)
            )
            for table in _PLANES
        ]
    )
    ref = e.select("vec_id", ref_buckets.alias("buckets"), _norm(vec).alias("nrm"))
    ref_rows = ref.collect()
    assert len(ref_rows) == len(got) > 0
    for r in ref_rows:
        assert got[r["vec_id"]] == (list(r["buckets"]), repr(r["nrm"]))


def test_recursive_cte_khop_equals_one_hop(spark, sf_dir):
    """sql_recursive_cte walks K=8 links per UnionLoop step (r18).
    Pin the unrolling against the ORIGINAL one-hop recursion on the
    same session: identical rows, exactly — the k-hop form's
    correctness rests on (a) the nested per-hop round sequence and
    (b) max-over-subset == max-over-all-prefixes for increasing cums,
    both of which this equivalence witnesses end-to-end."""
    from hive_task_spark import registry
    from hive_task_spark.tables import load

    out = {
        (r[0], r[1], r[2])
        for r in registry.QUERIES["sql_recursive_cte"](spark, sf_dir).collect()
    }
    edges = spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice,
               lead(o_orderkey)   OVER w AS nk1,
               lead(o_totalprice) OVER w AS np1,
               row_number()       OVER w AS rn
        FROM {orders}
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        orders=load(spark, sf_dir, "orders"),
    )
    one_hop = spark.sql(
        """
        WITH RECURSIVE chain AS (
            SELECT o_custkey AS ck, o_orderkey AS ok,
                   CAST(1 AS BIGINT) AS depth,
                   round(o_totalprice, 2) AS cum
            FROM {edges} WHERE rn = 1
            UNION ALL
            SELECT c.ck, e.nk1, c.depth + 1, round(c.cum + e.np1, 2)
            FROM chain c JOIN {edges} e ON e.o_orderkey = c.ok
            WHERE e.nk1 IS NOT NULL
        )
        SELECT ck AS c_custkey,
               CAST(max(depth) AS BIGINT) AS n_orders,
               round(max(cum), 2)         AS total_spend
        FROM chain
        GROUP BY ck
        """,
        edges=edges,
    )
    ref = {(r[0], r[1], r[2]) for r in one_hop.collect()}
    assert out == ref and len(out) > 0
