#!/usr/bin/env python3
"""Driver-faithful correctness sweep — the round gate as one command.

Runs the registered queries against their DuckDB oracles at sf0.01
with the strict comparator (tests/compare.py), on one of four
session profiles:

    vanilla      local[8], no conf — exactly the round driver's session
    hostiletz    vanilla + a non-UTC session timezone (Pacific/Chatham)
    hostileconf  local[5], Asia/Kathmandu, 7 shuffle partitions, AQE off
                 — flushes conf/order-dependent results (verify skill's
                 "deeper probe")
    hostilesplit local[8], 256 KB scan splits — shatters every scan so
                 summation-order-dependent float edges show

Scope `window` sweeps only the first 50 names (the driver's audit
window); `full` sweeps every registered name. Usage:

    python tools/sweep.py [window|full] [vanilla|hostiletz|hostileconf|hostilesplit]

Exit code 0 iff zero fails. The per-round recipe (CLAUDE.md
steady-state step 3) is: `window hostiletz` once, plus one `full
vanilla` and one `full hostileconf`, at least one of them concurrent
with the full pytest suite. Concurrency is safe: all scratch paths are
PID-keyed (hive_task_spark/scratch.py).

A failure after which the JVM no longer answers ends the sweep with
one `JVM LOST` line and exit 1.

SPARK_GRAFT_SWEEP_SF overrides the dataset (default sf0.01). Run
`SPARK_GRAFT_SWEEP_SF=/root/testdata/sf0.1 python tools/sweep.py full
vanilla` once per round: it samples a 10x bigger float-boundary
lottery than the driver's sf0.01 and is the only gate that catches
the grid-average class (r16 found 4 such edges green at sf0.01 —
CLAUDE.md float rules).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from hive_task_spark.tables import TABLES
    from tests.compare import assert_frames_match

    mode = sys.argv[1] if len(sys.argv) > 1 else "full"
    conf = sys.argv[2] if len(sys.argv) > 2 else "vanilla"
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.01")

    b = SparkSession.builder
    if conf == "vanilla":
        b = b.master("local[8]")
    elif conf == "hostiletz":
        b = b.master("local[8]").config(
            "spark.sql.session.timeZone", "Pacific/Chatham"
        )
    elif conf == "hostileconf":
        b = (
            b.master("local[5]")
            .config("spark.sql.session.timeZone", "Asia/Kathmandu")
            .config("spark.sql.shuffle.partitions", "7")
            .config("spark.sql.adaptive.enabled", "false")
        )
    elif conf == "hostilesplit":
        # Multi-split scans (r18): 256 KB splits shatter every base
        # table into dozens of scan partitions while DuckDB still sums
        # in file order — the probe that catches any remaining
        # summation-order-dependent float edge (the class the exact
        # integer-units rewrite eliminates). openCostInBytes lowered so
        # the tiny files actually split.
        b = (
            b.master("local[8]")
            .config("spark.sql.files.maxPartitionBytes", str(256 * 1024))
            .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        )
    else:
        raise SystemExit(f"unknown conf profile: {conf}")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs, osql = entry.queries(), entry.oracle_sql()
    if mode == "window":
        names = list(qs)[:50]
    elif mode.startswith("names:"):
        # Targeted re-check (r17): `names:a,b,c` sweeps just those.
        names = [n for n in mode[len("names:"):].split(",") if n]
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"unknown query names: {unknown}")
    else:
        names = sorted(qs)
    fails: list[tuple[str, str]] = []
    for i, name in enumerate(names):
        try:
            spdf = qs[name](spark, sf).toPandas()
            assert_frames_match(spdf, con.execute(osql[name]).fetchdf(), name)
        except Exception as e:  # noqa: BLE001
            fails.append((name, str(e)[:300]))
            print(f"FAIL {name}: {str(e)[:300]}", flush=True)
            try:  # after a JVM death every later query would fail too
                spark.sparkContext._jsc.sc().applicationId()
            except Exception:  # noqa: BLE001
                n = len(names)
                print(f"JVM LOST at {name}: {i + 1}/{n} run, {n - i - 1} not run")
                print(f"[{mode}/{conf}] fails so far: {fails}", flush=True)
                return 1
        if (i + 1) % 50 == 0:
            print(f"... {i + 1}/{len(names)}", flush=True)
    print(
        f"[{mode}/{conf}] fails: {fails or 'none'} / {len(names)} queries",
        flush=True,
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
