"""Summarise and compare run records written by run.py.

    python3 perfbench/compare.py spread RECORD...
    python3 perfbench/compare.py diff BASE_RECORD... -- CHANGE_RECORD...

`spread` prints, per workload and end-to-end metric, the median, the
quartiles and the quartile spread as a share of the median.
`diff` prints both sides' medians and their ratio. Records from runs
with a different `cpus` are refused: their figures are not comparable.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

METRICS = ("setup_s", "cold_pass_s", "pass_s", "pass_cpu_s", "peak_rss_mb",
           "latency_p50_s", "latency_p90_s", "error_rate", "box.steal_share")


def _load(paths: list[str]) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for path in paths:
        with open(path) as fh:
            rec = json.load(fh)
        if not rec["trace"]:
            by_workload[rec["workload"]].append(rec)
    return by_workload


def _cpus(groups: list[dict[str, list[dict]]]) -> int:
    seen = {r["cpus"] for g in groups for recs in g.values() for r in recs}
    if len(seen) != 1:
        sys.exit(f"refusing to compare records with different cpus: {sorted(seen)}")
    return seen.pop()


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(paths: list[str]) -> None:
    recs = _load(paths)
    print(f"cpus={_cpus([recs])}")
    for workload, rows in sorted(recs.items()):
        print(f"{workload} ({len(rows)} runs)")
        for m in METRICS:
            q1, med, q3 = _quartiles([r[m] for r in rows])
            share = (q3 - q1) / med if med else 0.0
            print(f"  {m:<14} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}"
                  f"  spread {share:6.3f}")


def diff(base: list[str], change: list[str]) -> None:
    a, b = _load(base), _load(change)
    print(f"cpus={_cpus([a, b])}")
    for workload in sorted(set(a) & set(b)):
        print(workload)
        for m in METRICS:
            ma = statistics.median(r[m] for r in a[workload])
            mb = statistics.median(r[m] for r in b[workload])
            ratio = mb / ma if ma else float("nan")
            print(f"  {m:<14} base {ma:10.4f}  change {mb:10.4f}  ratio {ratio:6.3f}")


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] not in ("spread", "diff"):
        sys.exit(__doc__)
    if sys.argv[1] == "spread":
        spread(sys.argv[2:])
        return
    args = sys.argv[2:]
    if "--" not in args:
        sys.exit("diff needs BASE... -- CHANGE...")
    cut = args.index("--")
    diff(args[:cut], args[cut + 1:])


if __name__ == "__main__":
    main()
