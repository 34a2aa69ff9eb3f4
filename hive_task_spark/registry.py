"""Query/oracle registry — the driver-facing operator inventory.

Each operator from SURVEY.md §2B registers:
  * a named query: ``(spark, sf_dir) -> DataFrame`` (PySpark, Spark-first)
  * a DuckDB-runnable ANSI-SQL oracle string computing the same result
    on the same parquet tables (required: engine-specific values, such
    as approximate sketches, LSH or streaming state, are put on the
    edge as exact properties the oracle can state).

The driver compares row-count + schema + order-insensitive value hash
at sf=0.01.

Cross-engine discipline (SURVEY.md §7 risk register):
  * alias every computed column identically on both sides;
  * cast to stable types at the query edge (BIGINT for counts/lengths,
    DOUBLE for money/ratios) — e.g. DuckDB ``sum(INTEGER)`` is HUGEINT
    and ``year()`` is BIGINT while Spark yields LONG and INT;
  * deterministic tie-breakers inside every window/order spec;
  * session timezone pinned to UTC (tables.load does this).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# True registration order, UNAFFECTED by _apply_window's reorder of
# QUERIES. The r12+ reconfirm rule (CLAUDE.md) tie-breaks stalest
# names by registration order — tools/sampled_rounds.py reads this
# list, because iterating QUERIES after load_all yields the curated
# AUDIT_WINDOW first, not the order operators were registered in.
REGISTRATION_ORDER: list[str] = []

# The external audit samples the FIRST 50 queries in registration
# order.  Rather than deriving that window from module import order
# (fragile — adding one operator to an early module silently evicts
# the 50th name), the window is an explicit curated list: load_all
# reorders QUERIES so these names come first, in this order, and
# everything else follows in plain registration order.  The rotation
# schedule lives in CLAUDE.md; this is round 18's row: the r16 red
# name hash_engine_specific leads slot 1 (red-name rule — its
# rows-only edge was reworked to a literal-boolean property oracle
# this round, VERDICT r17 item 2), followed by the 49 stalest-signal
# reconfirm names per SAMPLED_ROUNDS.json (max sampled round
# ascending, registration-order tie-break — the r6/r7 analytics
# cohort). Round 17's window came back 50/50 oracle-green
# (CORRECTNESS_r17); every name registered through r17 is
# driver-confirmed at least once (578/578 cumulative).
AUDIT_WINDOW: tuple[str, ...] = (
    "hash_engine_specific",
    "analytics_anova_f",
    "analytics_benford",
    "analytics_period_over_period",
    "analytics_cohort_ltv",
    "analytics_survival_km",
    "analytics_path_flows",
    "analytics_streak_longest",
    "analytics_bootstrap_ci",
    "analytics_ols_normal_equations",
    "analytics_changepoint_cusum",
    "analytics_proration_largest_remainder",
    "analytics_fifo_inventory_matching",
    "analytics_lift_gains_table",
    "analytics_peak_concurrency",
    "analytics_bom_explosion",
    "analytics_interval_day_split",
    "analytics_forecast_backtest",
    "analytics_ohlc_candles",
    "analytics_time_weighted_avg",
    "analytics_woe_iv_bins",
    "analytics_markov_absorption",
    "analytics_diff_in_diff",
    "analytics_seasonal_index",
    "analytics_rle_event_runs",
    "analytics_hhi_concentration",
    "analytics_clock_repair",
    "analytics_first_per_hour_throttle",
    "math_suite",
    "analytics_wau_overlap",
    "analytics_degree_powerlaw_fit",
    "analytics_information_gain",
    "analytics_dwell_time_matrix",
    "analytics_customer_timeline",
    "analytics_psi_drift",
    "analytics_rank_stability_spearman",
    "analytics_time_to_convert",
    "analytics_qq_decile_table",
    "analytics_dispersion_index",
    "analytics_neyman_allocation",
    "analytics_ab_power_analysis",
    "analytics_cuped_adjustment",
    "analytics_progressive_brackets",
    "analytics_auto_binning_fd",
    "analytics_margin_waterfall",
    "analytics_holt_trend_forecast",
    "analytics_retention_half_life",
    "analytics_kendall_tau",
    "analytics_theil_sen",
    "analytics_acf_daily",
)


def register(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register a named query and its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        REGISTRATION_ORDER.append(name)
        ORACLES[name] = oracle
        return fn

    return deco


def _apply_window() -> None:
    """Reorder QUERIES so AUDIT_WINDOW names come first (idempotent).

    Names in the window that aren't registered raise — the curated
    window must never silently shrink below 50.
    """
    missing = [n for n in AUDIT_WINDOW if n not in QUERIES]
    if missing:
        raise ValueError(f"AUDIT_WINDOW names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in AUDIT_WINDOW}
    for name, fn in QUERIES.items():
        if name not in ordered:
            ordered[name] = fn
    QUERIES.clear()
    QUERIES.update(ordered)


def load_all() -> None:
    """Import every module that registers queries (idempotent).

    External audits sample the FIRST 50 queries in registration order.
    Since round 4 the window is the explicit AUDIT_WINDOW list above —
    _apply_window reorders QUERIES after all modules register, so the
    window is independent of module import order.  The round-by-round
    rotation schedule lives in CLAUDE.md.
    """
    # Imports are inside the function so `import hive_task_spark` stays
    # cheap and circular-import-free; modules self-register on import.
    from hive_task_spark.operators import (  # noqa: F401
        relational,
        windows,
        setops,
        asof,
    )
    from hive_task_spark.sources import readers  # noqa: F401
    from hive_task_spark.streaming import stream_queries  # noqa: F401
    from hive_task_spark.operators import (  # noqa: F401
        similarity,
        text,
        quality,
        multimodal,
        analytics,
        pipeline,
        aggregates,
        workloads,
        subqueries,
        joins,
        dedup,
        geo,
    )
    from hive_task_spark.functions import (  # noqa: F401
        arrays,
        maps,
        json_fns,
        math_fns,
        strings,
        dates,
        hashes,
        udfs,
    )

    _apply_window()
