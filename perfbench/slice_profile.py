"""Layer profile of a traced run, and the choice of the headline slice.

    python3 perfbench/run.py --workload full --trace 1 --seconds 0
    python3 perfbench/slice_profile.py RECORD [--budget 4.5] [--show 0]

`full` runs all of bench.HEADLINE. From the traced pass of its record
this prints each query's wall time and layer split, the shares of the
whole set (build, plan, exec and load time as shares of the pass wall;
Python-worker CPU as a share of pass CPU; loads, checkpoints and jobs
per query), and then the slice of queries whose untraced warm time fits
`--budget` seconds and whose shares come closest to the whole set's,
preferring slices that cover more modules. The search is seeded, so
the same record always gives the same slice.

Given the record of a run of another workload (for example a traced
`headline` run), it prints that run's shares beside nothing else, so
the slice can be checked against the profile it was chosen from.
"""

from __future__ import annotations

import argparse
import json
import math
import random
import statistics
from collections import defaultdict

SHARES = ("build", "plan", "exec", "load", "pyworker_cpu")


def per_query(rec: dict) -> dict[str, dict]:
    """Per-query figures from the last traced pass and the last
    untraced warm pass before it."""
    traced = [p for p in rec["passes"] if p["kind"] == "traced"][-1]
    warm = [p for p in rec["passes"] if p["kind"] == "warm"][-1]
    spans = [s for s in rec["spans"] if s["pass"] == traced["pass"]]
    out: dict[str, dict] = {}
    for q, v in traced["queries"].items():
        mine = [s for s in spans if s.get("query") == q]

        def took(kind):
            return sum(s["t1"] - s["t0"] for s in mine if s["kind"] == kind)

        cpu = v.get("cpu_by_kind", {})
        out[q] = {
            "ok": v["ok"] and warm["queries"][q]["ok"],
            "warm_s": warm["queries"][q]["s"],
            "wall": v["s"],
            "build": took("build"),
            "plan": sum(s.get("plan_s", 0.0) for s in mine if s["kind"] == "plan"),
            "exec": took("exec"),
            "load": took("load"),
            "loads": sum(1 for s in mine if s["kind"] == "load"),
            "checkpoints": sum(1 for s in mine if s["kind"] == "checkpoint"),
            "cpu": cpu.get("total", 0.0),
            "pyworker_cpu": cpu.get("pyworker", 0.0),
            "module": next((s["module"] for s in mine if s["kind"] == "build"), "?"),
        }
    return out


def shares(rows: list[dict]) -> dict[str, float]:
    wall = sum(r["wall"] for r in rows) or 1.0
    cpu = sum(r["cpu"] for r in rows) or 1.0
    out = {k: sum(r[k] for r in rows) / wall for k in ("build", "plan", "exec", "load")}
    out["pyworker_cpu"] = sum(r["pyworker_cpu"] for r in rows) / cpu
    out["loads_per_query"] = sum(r["loads"] for r in rows) / len(rows)
    out["checkpoints_per_query"] = sum(r["checkpoints"] for r in rows) / len(rows)
    return out


def _distance(a: dict, b: dict) -> float:
    """Absolute differences of the time shares, plus relative ones of
    loads per query and (at a fifth of the weight) checkpoints per query."""
    d = sum(abs(a[k] - b[k]) for k in SHARES)
    d += abs(a["loads_per_query"] - b["loads_per_query"]) / max(b["loads_per_query"], 1e-9)
    return d + 0.2 * abs(a["checkpoints_per_query"] - b["checkpoints_per_query"]) / max(
        b["checkpoints_per_query"], 1e-9)


def choose(profile: dict[str, dict], budget: float, seed: int = 0,
           restarts: int = 6, steps: int = 10000) -> list[str]:
    """Simulated annealing over slices whose warm time fits the budget:
    minimise the share distance to the whole set plus 0.01 per module
    the slice leaves uncovered."""
    ok = {q: r for q, r in profile.items() if r["ok"]}
    target = shares(list(profile.values()))
    modules = {r["module"] for r in ok.values()}
    names = sorted(ok)
    rng = random.Random(seed)

    def cost(sl: set[str]) -> float:
        if not sl or sum(ok[q]["warm_s"] for q in sl) > budget:
            return math.inf
        covered = {ok[q]["module"] for q in sl}
        return (_distance(shares([ok[q] for q in sl]), target)
                + 0.01 * len(modules - covered))

    best, best_cost = set(), math.inf
    for _ in range(restarts):
        cur, cur_cost = set(), math.inf
        for i in range(steps):
            cand = set(cur)
            move = rng.random()
            if cand and (move < 0.33 or move >= 0.66):
                cand.discard(rng.choice(sorted(cand)))
            if move >= 0.33:
                cand.add(rng.choice(names))
            c = cost(cand)
            temp = 0.05 * (1 - i / steps) + 1e-6
            if c <= cur_cost or (c < math.inf
                                 and rng.random() < math.exp(-(c - cur_cost) / temp)):
                cur, cur_cost = cand, c
                if c < best_cost:
                    best, best_cost = set(cand), c
    return sorted(best, key=names.index)


def _print_shares(label: str, s: dict[str, float]) -> None:
    print(f"{label:<10} " + "  ".join(f"{k} {v:.3f}" for k, v in s.items()))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("record")
    ap.add_argument("--budget", type=float, default=4.5)
    ap.add_argument("--show", type=int, default=1, help="print the per-query table")
    args = ap.parse_args()
    with open(args.record) as fh:
        rec = json.load(fh)
    profile = per_query(rec)
    if args.show:
        print(f"{'query':<44}{'warm_s':>8}{'build':>8}{'plan':>7}{'exec':>8}"
              f"{'loads':>6}{'ckpt':>5}{'pyCPU':>7}  module")
        for q, r in sorted(profile.items(), key=lambda kv: -kv[1]["warm_s"]):
            print(f"{q:<44}{r['warm_s']:8.2f}{r['build']:8.2f}{r['plan']:7.2f}"
                  f"{r['exec']:8.2f}{r['loads']:6d}{r['checkpoints']:5d}"
                  f"{r['pyworker_cpu']:7.2f}  {r['module']}{'' if r['ok'] else '  FAILED'}")
    whole = shares(list(profile.values()))
    _print_shares(rec["workload"], whole)
    print(f"{rec['workload']:<10} warm pass {sum(r['warm_s'] for r in profile.values()):.2f} s, "
          f"{len(profile)} queries, "
          f"{len({r['module'] for r in profile.values()})} modules")
    if rec["workload"] != "full":
        return
    sl = choose(profile, args.budget)
    _print_shares("slice", shares([profile[q] for q in sl]))
    by_module = defaultdict(list)
    for q in sl:
        by_module[profile[q]["module"]].append(q)
    print(f"slice      warm pass {sum(profile[q]['warm_s'] for q in sl):.2f} s, "
          f"{len(sl)} queries, {len(by_module)} modules, "
          f"median query {statistics.median(profile[q]['warm_s'] for q in sl):.2f} s")
    for q in sl:
        print(f"    {q!r},  # {profile[q]['module']}")


if __name__ == "__main__":
    main()
