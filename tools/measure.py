#!/usr/bin/env python3
"""Time registered queries on a noop sink, isolated per query.

Usage:
    python tools/measure.py <tag> <name> [<name> ...]
    python tools/measure.py <tag> --headline
    python tools/measure.py <tag> --all

Named queries and ``--headline`` (bench.HEADLINE): 2 unmeasured runs
per query to settle it (JIT warm-up keeps a query's first runs in a
session well above its settled cost; perfbench's ``headline`` workload
settles 2 passes for the same reason), then 3 timed runs, best kept,
and the ``.explain("formatted")`` plan written to the git-ignored
``_scratch/plans/<tag>/<name>.txt``. Prints one JSON line
``{"tag", "queries": {name: sec}, "total"}``.

``--all``: every registered query once (an outlier finder, not a
benchmark); prints one JSON line ``{name: sec}`` ranked by descending
cost, -1.0 for a query that raised.

Same session/env contract as bench.py: $SPARK_GRAFT_SF_DIR (default
sf0.1) and $SPARK_GRAFT_CPUS (default: the CPUs this process may use).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hive_task_spark import registry  # noqa: E402
from hive_task_spark.plans.session import default_parallelism, get_session  # noqa: E402


def _run(spark, sf_dir: str, name: str) -> float:
    t0 = time.perf_counter()
    registry.QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    tag, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    registry.load_all()
    time_all = names == ["--all"]
    if time_all:
        names = list(registry.QUERIES)
    elif names == ["--headline"]:
        import bench

        names = [n for n in bench.HEADLINE if n in registry.QUERIES]
    spark = get_session(app_name=f"measure_{tag}", cpus=cpus)
    plan_dir = os.path.join(REPO, "_scratch", "plans", tag)
    if not time_all:
        os.makedirs(plan_dir, exist_ok=True)
    # Warm the JVM + parquet footers once (excluded from timings).
    registry.QUERIES["q1_pricing_summary"](spark, sf_dir).count()
    out: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"{tag}:{name}")
        if time_all:
            try:
                out[name] = round(_run(spark, sf_dir, name), 3)
            except Exception as exc:  # noqa: BLE001
                out[name] = -1.0
                print(f"ERROR {name}: {str(exc)[:200]}", file=sys.stderr)
        else:
            for _ in range(2):
                _run(spark, sf_dir, name)
            out[name] = round(min(_run(spark, sf_dir, name) for _ in range(3)), 3)
            plan = registry.QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(None)
    for sq in spark.streams.active:
        sq.stop()
    spark.stop()
    if time_all:
        print(json.dumps(dict(sorted(out.items(), key=lambda kv: -kv[1]))))
    else:
        total = round(sum(out.values()), 3)
        print(json.dumps({"tag": tag, "queries": out, "total": total}))


if __name__ == "__main__":
    main()
