"""Process-tree accounting from /proc: CPU-seconds, resident memory and
box-health probes.

The tree is this Python driver, the JVM it launches and the
`pyspark.daemon` workers the JVM forks. CPU is utime+stime+cutime+cstime
of every live process in the tree, so a child that exits and is reaped
inside the tree keeps counting through its parent's cutime/cstime.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    """Cores granted to the run: SPARK_GRAFT_CPUS, else nproc."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(raw) if raw.strip() else len(os.sched_getaffinity(0))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def host_ticks() -> tuple[int, int]:
    """Busy and steal ticks of all CPUs since boot (/proc/stat). Steal is
    time the hypervisor ran something else while a CPU had work."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # Fields after the parenthesised command; index 0 is the state.
    return raw.rsplit(")", 1)[1].split()


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ")
    except OSError:
        return "gone"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "pyworker"
    if b"java" in cmd.split(b" ", 1)[0]:
        return "jvm"
    return "driver"


def process_start_age() -> float:
    """Seconds since this interpreter's process was created."""
    start = int(_stat(os.getpid())[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start / _TICK


class Tree:
    """Snapshot source for the process tree rooted at `root`."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()
        self._kinds: dict[int, str] = {}

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def kind(self, pid: int) -> str:
        if pid not in self._kinds:
            self._kinds[pid] = _kind(pid)
        return self._kinds[pid]

    def cpu(self) -> dict[str, float]:
        """CPU-seconds so far, by process kind and in total."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in self.pids():
            st = _stat(pid)
            if st is None:
                continue
            own = (int(st[11]) + int(st[12])) / _TICK
            reaped = (int(st[13]) + int(st[14])) / _TICK
            kind = self.kind(pid)
            if kind == "gone":
                continue
            # The JVM reaps the daemons it forks and a daemon reaps its
            # workers, so time reaped below the driver is Python-worker
            # time.
            out[kind] += own
            out["pyworker" if kind != "driver" else "driver"] += reaped
        out["total"] = out["driver"] + out["jvm"] + out["pyworker"]
        return out

    def peak_rss_mb(self) -> dict[str, float]:
        """Per-kind sums of the per-process resident high-water marks
        (VmHWM) of the live tree, in MB, with their total."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in self.pids():
            kind = self.kind(pid)
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            out[kind] += int(line.split()[1]) / 1024.0
                            break
            except (OSError, KeyError):
                continue
        out["total"] = out["driver"] + out["jvm"] + out["pyworker"]
        return out

    def descendants(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]


def _burn(_arg: int) -> int:
    s = 0
    for i in range(3_000_000):
        s += i * i
    return s


def canaries(n: int) -> dict[str, float]:
    """Single-thread and n-process CPU probes, recorded to explain drift.
    They never gate a result."""
    t0 = time.perf_counter()
    if not _burn(0):
        raise RuntimeError("canary burn returned no work")
    single = time.perf_counter() - t0
    ctx = mp.get_context("fork")
    t0 = time.perf_counter()
    with ctx.Pool(n) as pool:
        pool.map(_burn, range(n))
    parallel = time.perf_counter() - t0
    return {"box.canary_s": single, "box.parallel_canary_s": parallel}
