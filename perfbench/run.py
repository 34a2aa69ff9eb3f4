"""Repository benchmark: wall time and process-tree CPU-seconds of the
query engine in three regimes, each checked against its DuckDB oracle.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one table

Workloads (query sets in workloads.py):
  headline    serial closed loop over a slice of bench.HEADLINE at sf0.1
  concurrent  rounds of the headline slice submitted through scheduler.put_work
  tpch_x16    serial closed loop over star-schema rows on a 16x scale-up
  full        serial closed loop over all of bench.HEADLINE, for profiling

One run is one fresh process on local[n], n = SPARK_GRAFT_CPUS else
nproc: set-up, one cold pass whose results are checked against the
oracles after timing, settling passes, then a fixed number of measured
passes (and passes until --seconds have elapsed, which enter no metric).
With --trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The full record
(per-pass series, box probes, spans) goes to perfbench/.work/records/.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The JVM compiles with C1 only. Under the default tiered JIT, C2 was
# still compiling for about half of the process tree's CPU-seconds in
# each measured pass, and how far it had got varied from run to run, so
# pass_s and pass_cpu_s measured the JIT rather than the engine (see
# README.md, "Warm-up and the JIT"). C1-only defaults to a 48 MB code
# cache, which fills within a dozen concurrent rounds and sets off
# recompilation; 240 MB is the tiered default.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

import procs  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        _fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def _check_checkout() -> None:
    for rel in ("hive_task_spark/__init__.py", "__spark_entry__.py", "bench.py",
                "tests/compare.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} is missing: run from a checkout of the repository")
    sys.path.insert(0, ROOT)


def _source_dir() -> str:
    """The sf0.1 fixture: $SPARK_GRAFT_SF_DIR, else the sibling of the
    driver contract's smoke fixture."""
    import __spark_entry__

    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1"
    )
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        _fail(f"fixture directory {sf} has no lineitem.parquet")
    return sf


def _fresh_run_dir() -> str:
    """A private directory for this run; leftovers of ended runs go."""
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    for entry in os.listdir(runs):
        if entry.isdigit() and not os.path.exists(f"/proc/{entry}"):
            shutil.rmtree(os.path.join(runs, entry), ignore_errors=True)
    run_dir = os.path.join(runs, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "scratch", "events", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir


def _isolate(run_dir: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} '
        f'-Dderby.system.home={run_dir} -XX:-UsePerfData {JIT_OPTS}" pyspark-shell'
    )


def _session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _stop(spark, tree: procs.Tree) -> None:
    """Stop streams, the session and the JVM; wait for every child."""
    from pyspark import SparkContext

    for sq in spark.streams.active:
        sq.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while tree.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in tree.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run_one(args: argparse.Namespace) -> dict:
    _check_checkout()
    source = _source_dir()
    run_dir = _fresh_run_dir()
    _isolate(run_dir)
    workload = W.workload(args.workload)
    if args.settle is not None or args.measured is not None:
        workload = dataclasses.replace(
            workload,
            settle=workload.settle if args.settle is None else args.settle,
            measured=workload.measured if args.measured is None else args.measured,
        )
    trace = bool(args.trace)

    datagen_s = 0.0
    sf_dir = source
    if workload.scale_up:
        import datagen

        sf_dir = os.path.join(WORK, "x16")
        datagen_s = datagen.ensure(source, sf_dir, args.seed)

    from hive_task_spark import registry, scratch, tables

    scratch._BASE = os.path.join(run_dir, "scratch")
    tracer = None
    if trace:
        tracer = tracing.Tracer()
        tables.load = tracer.wrap_load(tables.load)
        tracer.wrap_checkpoints()
    t0 = time.perf_counter()
    registry.load_all()
    load_all_s = time.perf_counter() - t0
    from hive_task_spark.plans.session import get_session

    n = procs.cpus()
    t0 = time.perf_counter()
    spark = get_session(app_name=f"perfbench_{args.workload}", cpus=n,
                        extra_conf=_session_conf(run_dir, trace))
    session_s = time.perf_counter() - t0
    setup_s = procs.process_start_age() - datagen_s

    tree = procs.Tree()
    box = {"nproc": procs.nproc(), "cpus": n, "box.loadavg": procs.loadavg()}
    box.update(procs.canaries(n))
    if tracer is not None:
        tracer.sc = spark.sparkContext

    runner = W.Runner(spark, sf_dir, workload, n, tree, tracer)
    runner.run(args.seed, args.seconds)
    rss = tree.peak_rss_mb()
    _stop(spark, tree)
    check = W.oracle_check(sf_dir, runner.cold_results, workload)

    record = runner.summary(check)
    record.update(box)
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": trace, "sf_dir": sf_dir, "datagen_s": datagen_s,
        "setup_s": setup_s,
        "session.start_s": session_s, "registry.load_all_s": load_all_s,
        "peak_rss_mb": rss["total"], "peak_rss_by_kind": rss,
    })
    if tracer is not None:
        events = tracing.event_log_summary(os.path.join(run_dir, "events"),
                                     tracer.spans, serial=not workload.concurrent)
        record.update(W.layer_metrics(runner, tracer, events, record))
        record["spans"] = tracer.spans
        record["event_log"] = events
    shutil.rmtree(run_dir, ignore_errors=True)
    return record


def _result_line(record: dict, spec: dict, trace: bool) -> dict:
    """The declared metrics of one group. A workload run by hand (not in
    BENCHMARK.json) may lack some build_s.<module> figures; those are
    left out rather than reported as zeros."""
    group = spec["per_layer"] if trace else spec["end_to_end"]
    gating = record["workload"] in {w["name"] for w in spec["workloads"]}
    metrics = {}
    for m in group:
        if m["name"] not in record:
            if gating or not m["name"].startswith("build_s."):
                raise KeyError(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": record[m["name"]], "unit": m["unit"]}
    return {"correct": record["correct"], "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def _save(record: dict) -> str:
    out = os.path.join(WORK, "records")
    os.makedirs(out, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(
        out, f"{record['workload']}-seed{record['seed']}-trace{int(record['trace'])}-{stamp}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path


def run_all(args: argparse.Namespace) -> None:
    """Each workload in a fresh process; a table of every metric."""
    names = list(W.WORKLOADS)
    combined, ok, attempted, failed = {}, True, 0, 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if res.returncode != 0:
            _fail(f"workload {name} exited with {res.returncode}")
        line = json.loads(res.stdout.strip().splitlines()[-1])
        ok &= line["correct"]
        attempted += line["attempted"]
        failed += line["failed"]
        print(f"{name}: correct={line['correct']} attempted={line['attempted']} "
              f"failed={line['failed']}", file=sys.stderr)
        for metric, v in line["metrics"].items():
            print(f"  {metric:<32} {v['value']:>14.4f} {v['unit']}", file=sys.stderr)
            combined[f"{name}.{metric}"] = v
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": combined}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Overrides for profiling by hand, e.g. `--settle 0 --measured 12`
    # records the whole warm-up curve.
    ap.add_argument("--settle", type=int, default=None)
    ap.add_argument("--measured", type=int, default=None)
    args = ap.parse_args()
    spec = _spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.workload == "all":
        run_all(args)
        return
    names = sorted((*W.WORKLOADS, "full", "all"))
    if args.workload not in names:
        _fail(f"unknown workload {args.workload!r}; choose from {names}")
    record = run_one(args)
    path = _save(record)
    print(f"perfbench: record written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    line = _result_line(record, spec, bool(args.trace))
    sys.stdout.flush()
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
