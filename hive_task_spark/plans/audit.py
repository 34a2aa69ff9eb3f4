"""Plan audit: regenerate PLANS.md — the scale-relevant physical-plan
evidence for the most expensive headline queries.

Run: ``python -m hive_task_spark.plans.audit [sf_dir]``

For each audited query it extracts the properties SCALE.md argues from:
scan pushdown (PushedFilters / ReadSchema pruning), join strategies
(broadcast vs SMJ), aggregate mode (partial+final), exchange count, and
whole-stage-codegen coverage — so "the plan is the one we designed" is a
checked artifact, not prose. test_plans.py enforces the hard invariants;
this file makes them reviewable.
"""

from __future__ import annotations

import re
import sys

AUDITED = [
    "q1_pricing_summary",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "dedup_minhash_lsh",
    "analytics_copurchase_pairs",
    "pipeline_decontaminate",
    "similarity_kmeans_assign",
    "merge_upsert_apply",
    "asof_join_nearest",
    "source_join_dpp_prune",
    # mid-round-3 additions
    "agg_session_window_batch",
    "join_temporal_pointintime",
    "similarity_product_quantization",
    "analytics_attribution_models",
    "pipeline_zorder_layout",
    "analytics_dau_mau",
    # late-round-3 waves
    "geo_radius_join",
    "pipeline_feature_hashing",
    "analytics_mann_whitney",
    "quality_snapshot_diff",
    "analytics_shortest_path_bfs",
    # closing waves
    "analytics_fifo_inventory_matching",
    "analytics_proration_largest_remainder",
    "pipeline_cdc_net_effect",
    "analytics_ohlc_candles",
    "sql_keyset_pagination",
    "text_inverted_index",
    # round-4 waves
    "analytics_kcore",
    "text_ngram_novelty",
    "multimodal_phash_neardup",
    "similarity_cell_occupancy",
    "analytics_kendall_tau",
    "text_source_vocab_overlap",
    "dedup_incremental_ingest",
    "dedup_minhash_portable_eval",
    "pipeline_token_budget_twopass",
    "geo_nearest_supplier",
    # round-5 additions
    "dedup_winnowing_pairs",
    "similarity_silhouette_simplified",
    "similarity_ivf_nprobe_sweep",
    "multimodal_scene_cuts",
    # round-6 additions
    "analytics_graph_modularity",
    "multimodal_vad_segments",
    "geo_dbscan_grid",
    "geo_geohash_encode",
    "quality_functional_dependency_discovery",
    "similarity_matryoshka_eval",
    "analytics_louvain_one_level",
    "analytics_jaccard_link_prediction",
    "pipeline_dsir_importance",
    "text_rouge_n_pairs",
    "text_textrank_keywords",
    "similarity_binary_hamming_topk",
    "analytics_degree_assortativity",
    "analytics_mann_kendall",
    "similarity_reciprocal_nn_pairs",
    "quality_order_total_reconciliation",
    "analytics_regression_influence",
    "text_stupid_backoff",
    # round-7 additions
    "agg_equidepth_cutpoints",
    # round-8 additions
    "join_runtime_bloom_filter",
    "udf_arrow_native_scalar",
    # round-9 additions
    "join_lateral_dataframe",
    "relational_transpose",
    # round-10 additions
    "source_python_datasource_pushdown",
    "stream_python_datasource_sink",
    "source_python_datasource_arrow_writer",
    # round-11 additions
    "agg_theta_sketch_setops",
    "relational_pandas_api_pipeline",
    # round-12 additions
    "date_time_type_suite",
    "agg_approx_top_k_partial_algebra",
    "json_variant_explode_lateral",
    # round-13 additions
    "agg_try_sum_overflow",
    "stream_state_ttl_eviction",
    # round-14 additions
    "source_file_metadata_columns",
    "stream_foreachbatch_exactly_once",
    "sql_analyze_cbo_stats",
    "source_commit_log_optimistic_concurrency",
    "stream_rocksdb_changelog_checkpoint",
    "stream_statestore_time_travel",
    # round-16 additions
    "source_commit_log_data_skipping",
    "source_commit_log_vacuum",
    "stream_statestore_join_state_reader",
    # checkpointing queries whose build segments PLANS.md reports
    "analytics_triangle_count",
    "analytics_pagerank_lite",
    "sql_recursive_cte",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
]


def _summarize(plan: str) -> dict[str, object]:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "partial_aggs": len(re.findall(r"HashAggregate.*partial", plan)),
        # the final (post-AQE) plan marks codegen stages as "*(n) Op"
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": re.findall(r"PushedFilters: \[([^\]]*)\]", plan)[:2],
        "dpp": "dynamicpruning" in plan.lower(),
    }


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    from pyspark.sql import SparkSession

    from hive_task_spark import registry
    from hive_task_spark.plans.checkpoints import (
        record_checkpoints,
        understated_records,
    )

    registry.load_all()
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of the expensive queries",
        "",
        f"Auto-generated by `python -m hive_task_spark.plans.audit` at {sf_dir}.",
        "Hard invariants (no cartesian products, dims broadcast, windows",
        "partitioned, DPP fires) are enforced in tests/test_plans.py; this",
        "artifact records the current POST-AQE final-plan numbers for review",
        "(e.g. q21's sort-merge join converts to broadcast at runtime).",
        "Queries that materialize shared subtrees via localCheckpoint",
        "(minhash, triangle, kcore, kmeans, louvain, ...) report only their",
        "post-checkpoint segment in the table below — their eager build",
        "stages are audited separately in the 'Checkpointed intermediates'",
        "section (rows, advertised stats, bytes/row, build-plan summary).",
        "",
        "| query | exchanges | bcast joins | SMJ | partial aggs | codegen spans | DPP |",
        "|---|---|---|---|---|---|---|",
    ]
    details: list[str] = []
    ckpt_rows: list[str] = []
    for name in AUDITED:
        with record_checkpoints() as recs:
            df = registry.QUERIES[name](spark, sf_dir)
        df.collect()  # executes THIS plan, so AQE finalizes it in place
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # drop pre-AQE copy
        s = _summarize(plan)
        lines.append(
            f"| {name} | {s['exchanges']} | {s['broadcast_joins']} | "
            f"{s['smj']} | {s['partial_aggs']} | {s['codegen_spans']} | "
            f"{'yes' if s['dpp'] else '—'} |"
        )
        if s["pushed"]:
            pushed = "; ".join(p[:100] for p in s["pushed"] if p.strip())
            if pushed:
                details.append(f"- **{name}** PushedFilters: `{pushed}`")
        for i, rec in enumerate(recs):
            b = rec.build_summary()
            stats = rec.stats_bytes
            human = (
                f"{stats / (1 << 30):.1f} GiB" if stats >= (1 << 30)
                else f"{stats / (1 << 20):.2f} MiB" if stats >= (1 << 20)
                else f"{stats} B"
            )
            bpr = f"{stats / rec.rows:.1f}" if rec.rows else "—"
            ckpt_rows.append(
                f"| {name} | #{i} | {rec.rows} | {human} | {bpr} | "
                f"{b['exchanges']} | {b['joins']} | {b['aggregates']} |"
            )
        bad = understated_records(recs, min_rows=1000)
        if bad:
            ckpt_rows.append(f"| {name} | — | — | **UNDERSTATED: {bad}** | | | | |")
    lines += ["", "## Scan pushdown evidence", ""] + (details or ["(none)"])
    lines += [
        "",
        "## Checkpointed intermediates (eager build segments)",
        "",
        "stats = the post-checkpoint logical-plan size estimate — what",
        "downstream AQE join planning sees. The invariant (enforced by",
        "test_plans.py::test_checkpointed_intermediates_not_broadcast_bait):",
        "no intermediate with real volume may advertise broadcast-bait",
        "stats. triangle's support>=2 edge set is dimension-scale BY",
        "DESIGN (3445 rows sf0.01 -> 3573 sf0.1), so its small stats are",
        "the truth, not understatement.",
        "",
        "OVERstated rows (minhash's 25-row/175 GiB candidates; the",
        "kcore/louvain round checkpoints, which inherit multiplied",
        "iterative-join estimates) are bounded by the mirror invariant",
        "(overstated_records, <= 1e6 B/row) with documented waivers",
        "(test_plans.py _OVERSTATED_WAIVED): every broadcast downstream",
        "of a waived checkpoint is an explicit F.broadcast/hint immune to",
        "the estimate, and any join left to AQE is corpus-scaled. Rows of",
        "checkpoint_conservative (Long.MaxValue stats by design) are",
        "exempt from that bound. The test applies both invariants to",
        "every query whose build checkpoints; this table lists the",
        "audited ones.",
        "",
        "| query | ckpt | rows | stats | B/row | build exchanges | build joins | build aggs |",
        "|---|---|---|---|---|---|---|---|",
    ]
    lines += ckpt_rows
    lines.append("")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(lines))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main(*sys.argv[1:])
