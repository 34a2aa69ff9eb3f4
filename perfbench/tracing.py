"""The traced run: spans at the layer boundaries and the Spark event log.

Spans nest pass -> query -> build{load, checkpoint} -> plan -> exec,
where checkpoint is each localCheckpoint a query's build makes. They
are kept in memory and written out when the run ends. Every Spark
call the benchmark makes inside a span runs under a job group
"<phase>|<pass>|<query>", so the event log attributes each job, stage
and task to a phase. Jobs a query starts on threads of its own (the
micro-batches of a streaming query) carry no such group; in a serial
pass they are attributed to the span whose interval holds their
submission time.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.pass_no = -1
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.sc = None
        self.load_calls: dict[int, int] = defaultdict(int)
        self.load_s: dict[int, float] = defaultdict(float)
        self.checkpoints: list[tuple[str, object]] = []

    @property
    def query(self) -> str:
        """The query the calling thread is building."""
        return getattr(self._tls, "query", "")

    @query.setter
    def query(self, name: str) -> None:
        self._tls.query = name

    @contextmanager
    def span(self, kind: str, name: str, phase: str | None = None, **extra):
        """Time one call; with `phase`, run it under that job group and
        restore the enclosing group afterwards."""
        if not self.active:
            yield {}
            return
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if phase else None
        if phase:
            self.sc.setJobGroup(f"{phase}|{self.pass_no}|{name}", phase)
        stack = self._tls.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "parent": stack[-1] if stack else None,
               "kind": kind, "name": name, "pass": self.pass_no, **extra}
        stack.append(rec["id"])
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self.spans.append(rec)
            if phase:
                if prev:
                    self.sc.setJobGroup(prev, prev.split("|", 1)[0])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def wrap_load(self, load):
        """tables.load, counted and timed per pass while tracing."""

        def traced_load(spark, sf_dir, name):
            if not self.active:
                return load(spark, sf_dir, name)
            t0 = time.perf_counter()
            with self.span("load", name, phase="load", query=self.query):
                df = load(spark, sf_dir, name)
            with self._lock:  # concurrent rounds load from several threads
                self.load_calls[self.pass_no] += 1
                self.load_s[self.pass_no] += time.perf_counter() - t0
            return df

        return traced_load

    def wrap_checkpoints(self) -> None:
        """A `checkpoint` span, inside the enclosing build span, around
        every localCheckpoint a query makes: the direct DataFrame method
        and the one plans.checkpoints.checkpoint_conservative calls. The
        checkpointed DataFrames are kept so their rows can be counted
        after the pass."""
        from hive_task_spark.plans import checkpoints

        def traced(orig):
            def local_checkpoint(df, *args, **kwargs):
                q = self.query
                with self.span("checkpoint", q, phase="checkpoint", query=q):
                    out = orig(df, *args, **kwargs)
                if self.active:
                    with self._lock:
                        self.checkpoints.append((q, out))
                return out

            return local_checkpoint

        checkpoints._DF.localCheckpoint = traced(checkpoints._DF.localCheckpoint)
        checkpoints._ORIG_LOCAL_CHECKPOINT = traced(checkpoints._ORIG_LOCAL_CHECKPOINT)


def plan_seconds(df) -> float:
    """Catalyst time of `df`: analysis + optimization + planning, read
    from QueryExecution.tracker() after forcing the physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jit_seconds(spark) -> float:
    """Time the JVM's JIT compilers have spent so far."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000.0


def _events(log_dir: str):
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def event_log_summary(log_dir: str, spans: list[dict], serial: bool) -> dict:
    """Per-pass job/stage/task figures by phase, from the event log."""
    windows = sorted(
        (s["t0"] * 1000, s["t1"] * 1000, s)
        for s in spans
        if s["kind"] in ("load", "build", "exec", "checkpoint")
    )

    def by_time(ms: float):
        # Innermost span holding the instant: loads nest inside builds.
        best = None
        for t0, t1, s in windows:
            if t0 <= ms <= t1 and (best is None or t0 >= best["t0"] * 1000):
                best = s
        return best

    job_key: dict[int, tuple[str, int]] = {}
    stage_key: dict[int, tuple[str, int]] = {}
    scan_stages: set[int] = set()
    tasks: dict[int, list[dict]] = defaultdict(list)
    unattributed = 0
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            parts = group.split("|")
            key = None
            if len(parts) == 3 and parts[1].lstrip("-").isdigit():
                key = (parts[0], int(parts[1]))
            elif serial:
                s = by_time(ev["Submission Time"])
                if s is not None:
                    key = (s["kind"], s["pass"])
            if key is None:
                unattributed += 1
                continue
            job_key[ev["Job ID"]] = key
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                scan_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})

    out: dict[tuple[str, int], dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "scan_tasks": 0,
                 "task_s": 0.0, "shuffle_read_mb": 0.0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0, "skew": 1.0}
    )
    for key in job_key.values():
        out[key]["jobs"] += 1
    mb = 1024.0 * 1024.0
    for sid, metrics in tasks.items():
        key = stage_key.get(sid)
        if key is None:
            continue
        row = out[key]
        row["stages"] += 1
        row["tasks"] += len(metrics)
        if sid in scan_stages:
            row["scan_tasks"] += len(metrics)
        run_ms = [m.get("Executor Run Time", 0) for m in metrics]
        row["task_s"] += sum(run_ms) / 1000.0
        for m in metrics:
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            row["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / mb
            row["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / mb
            row["spill_mb"] += m.get("Disk Bytes Spilled", 0) / mb
        if len(run_ms) >= 2:
            med = max(statistics.median(run_ms), 1)
            row["skew"] = max(row["skew"], max(run_ms) / med)
    return {"by_phase_pass": {f"{k[0]}|{k[1]}": v for k, v in out.items()},
            "unattributed_jobs": unattributed}
