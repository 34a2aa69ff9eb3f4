"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. $SPARK_GRAFT_CPUS defaults to the
CPUs this process may use, and the parallel canary sizes to it.

Each query is timed end-to-end (plan construction + execution) with a
`noop` sink so we measure engine work, not driver-side row transfer.
Each query runs three times and reports the best — steady-state engine
throughput, excluding one-off JIT/footer/shuffle-file warmup noise and
external machine-load spikes (single runs wobble ±20% on a loaded box;
methodology recorded in BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from hive_task_spark import registry  # noqa: E402
from hive_task_spark.plans.session import default_parallelism, get_session  # noqa: E402

# Import at module top so a broken/missing bench_diff fails FAST —
# before the ~40 s measurement run — instead of aborting at JSON-build
# time and discarding a completed run (ADVICE r13). If it still breaks
# at call time, the record degrades gracefully (box_degraded omitted).
from bench_diff import box_degraded  # noqa: E402

# Headline set: one per major operator family — batch spine, star join,
# windows, cube, set ops, dedup, similarity, text. Names must exist in
# the registry; missing ones are skipped (early rounds).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "join_inner_star",
    "join_semi_exists",
    "agg_cube",
    "agg_count_distinct",
    "window_topk_per_group",
    "window_running_total",
    "setop_intersect",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "text_quality_scores",
    "asof_join_orders",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "pipeline_sessionize_events",
    "pipeline_decontaminate",
    "analytics_resample_locf",
    "analytics_copurchase_pairs",
    # Python-kernel + stateful paths (round 3): longitudinal signal for
    # Arrow-batched mapInPandas and Structured Streaming replay, not
    # just batch SQL.
    "stream_tumbling_append",
    "multimodal_decode_features",
    "analytics_markov_transitions",
    "similarity_kmeans_assign",
    "merge_upsert_apply",
    # Mid-round-3 additions: native session merge vs the island rewrite
    # (same semantics, one fewer pass), the SCD2 point-in-time join, and
    # the zero-shuffle PQ map stage.
    "agg_session_window_batch",
    "join_temporal_pointintime",
    "similarity_product_quantization",
    # Late-round-3 waves: the binned spatial join (the new join
    # pattern), the explode-heavy hashing-trick featurizer, and the
    # chained two-stage stateful stream (multi-operator state path).
    "geo_radius_join",
    "pipeline_feature_hashing",
    "stream_chained_windows",
    # Closing waves: the interval-algebra FIFO matcher (cumsum + keyed
    # interval join), the corpus-wide inverted-index build (distinct +
    # collect_list posting serialization), and the per-(user,day) TWAP
    # (lead window + weighted aggregate over the full events table).
    "analytics_fifo_inventory_matching",
    "text_inverted_index",
    "analytics_time_weighted_avg",
    # Round-4 families: the bounded-aggregate pairwise statistic (one
    # corpus pass + O(days²) on the reduction), the shingle-grain
    # novelty scorer (decontaminate shuffle class), and the unrolled
    # k-core peel (BSP with localCheckpoint materialization).
    "analytics_kendall_tau",
    "text_ngram_novelty",
    "analytics_kcore",
    # Round-6 additions: the no-iteration graph metric (edge-labeling
    # joins + two aggregates over the co-purchase edge list) and the
    # VAD gaps-and-islands path (Arrow kernel + single-exchange window
    # algebra).
    "analytics_graph_modularity",
    "multimodal_vad_segments",
    # Round-7 addition: the no-global-sort equi-depth path (sampled
    # cut-points + broadcast bucket pass — the scale swap for ntile).
    "agg_equidepth_cutpoints",
    "join_runtime_bloom_filter",
    # Round-9 additions: the decorrelated DataFrame lateral join
    # (WindowGroupLimit + equi-join, the correlated-subquery scale
    # path) and the dimension-scale transpose (eager index collect).
    "join_lateral_dataframe",
    "relational_transpose",
    # Round-10 additions: filter pushdown INTO a Python DataSource
    # (5-of-16 partitions planned at the source), the Python streaming
    # sink (per-epoch two-phase commit + read-back), and the
    # Arrow-native batch sink (columnar RecordBatch egress).
    "source_python_datasource_pushdown",
    "stream_python_datasource_sink",
    "source_python_datasource_arrow_writer",
    # Round-11 additions: theta-sketch set algebra (per-month sketch
    # build + union/intersection/difference fold) and the pandas API
    # on Spark pipeline (merge + mask + named agg compiled to a
    # broadcast join + partial/final aggregate).
    "agg_theta_sketch_setops",
    "relational_pandas_api_pipeline",
    # Round-12 additions: the TIME data type suite (Spark 4.1 TIME(6)
    # time-of-day analytics) and the frequent-items partial-sketch
    # algebra (approx_top_k_accumulate/_combine/_estimate — per-month
    # states folded into a global top-k without a rescan).
    "date_time_type_suite",
    "agg_approx_top_k_partial_algebra",
    # VARIANT shredding via the variant_explode LATERAL generator.
    "json_variant_explode_lateral",
    # Round-13 addition: failure-safe aggregation (try_sum/try_avg
    # overflow-to-NULL — plan-identical to plain sum/avg).
    "agg_try_sum_overflow",
    # Round-14 addition: hidden file-source _metadata columns over a
    # partitioned round-trip (per-file lineage aggregate; the scan
    # reads ZERO data columns — partition value + reader-state
    # metadata only). stream_foreachbatch_exactly_once stays out of
    # the headline set like the other replay-orchestration streams
    # (TTL, rocksdb): correctness-tracked via the sweep/driver window.
    "source_file_metadata_columns",
]


def _burn(_arg: int) -> int:
    s = 0
    for i in range(20_000_000):
        s += i * i
    return s


def _cpu_canary() -> float:
    """Single-threaded pure-Python arithmetic probe: a box-health
    reading embedded in every bench record. Healthy box ~1.2-1.4 s;
    late round 8 measured it swinging 2.3-3.1 s under host CPU steal
    invisible to container loadavg, while the 44-row total inflated
    1.3-1.6x with non-reproducible 'movers'. Gate math should
    discount a bench whose canaries are elevated (BASELINE.md)."""
    t0 = time.perf_counter()
    # Plain call + explicit check (NOT assert: `python -O` strips
    # asserts, which would skip the burn and report a ~0s "healthy"
    # canary exactly when the health signal matters — ADVICE r8).
    if not _burn(0):
        raise RuntimeError("CPU canary burn returned falsy — broken probe")
    return round(time.perf_counter() - t0, 3)


def _parallel_canary(workers: int = 32) -> float:
    """Process-parallel canary: `workers` simultaneous _burn loops.
    On a box with `workers` real cores this matches the single canary;
    elevation = the container is getting FEWER effective cores than
    advertised (late r8: 2.29 s vs 1.3 s single => ~18 of 32 cores),
    which inflates every multi-core Spark stage uniformly — the
    failure mode that single-thread probes and loadavg both miss."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    with mp.Pool(workers) as pool:
        pool.map(_burn, range(workers))
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    registry.load_all()
    spark = get_session(app_name="hive_task_spark_bench", cpus=cpus)

    names = [n for n in HEADLINE if n in registry.QUERIES]
    # Box-health canaries run TWICE — here (pre) and at JSON-build time
    # (post, the original `canary_sec` keys): host contention that
    # starts or drains mid-run shows up as a pre/post disagreement, and
    # bench_diff scales its mover band by the WORSE pair, so a record
    # degraded in either half self-adjudicates.
    canary_pre = _cpu_canary()
    parallel_pre = _parallel_canary(min(cpus, 32))
    # Warm the JVM + parquet footers once (excluded from timings).
    registry.QUERIES["q1_pricing_summary"](spark, sf_dir).count()

    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Key order is load-bearing: the driver keeps only the LAST 2000
    # chars of stdout (head-truncated), so the big per-query dict goes
    # FIRST and every scalar the gate math needs (canaries, verdict,
    # metric, total) goes AFTER it — a truncated tail then stays
    # self-describing, losing at worst the oldest queries entries
    # (VERDICT r13 item 2; bench_diff.recover_from_tail is the reader).
    record = {
        "queries": timings,
        "sf": float(sf) if sf else None,
        "cpus": cpus,
        "canary_pre_sec": canary_pre,
        "parallel_canary_pre_sec": parallel_pre,
        "canary_sec": _cpu_canary(),
        "parallel_canary_sec": _parallel_canary(min(cpus, 32)),
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
    }
    # Embed the box-health verdict so the record is self-describing for
    # gate math (no cross-referencing BASELINE.md prose): degraded =
    # either canary pair trips bench_diff's rule (parallel > 1.7 s
    # absolute AND parallel/single > 1.6x).
    try:
        record["box_degraded"] = box_degraded(record)
    except Exception as exc:  # pragma: no cover - defensive
        print(f"bench: box_degraded verdict failed ({exc}); key omitted",
              file=sys.stderr)
    line = json.dumps(record)
    # Tear the session down BEFORE emitting the JSON line: the streaming
    # replays leave a StateStore maintenance timer alive, and its
    # "SparkEnv not active" WARN stack trace landed AFTER the JSON in
    # round 5's captured output, breaking the driver's tail-line parse
    # (BENCH_r05 rc=0 but parsed=null). Stopping streams + the session
    # first — then a short grace for any in-flight daemon log lines —
    # guarantees the JSON is the true final stdout line.
    for sq in spark.streams.active:
        sq.stop()
    spark.stop()
    time.sleep(2.0)
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
