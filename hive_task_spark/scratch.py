"""Per-process scratch root for queries that write local datasets.

Why per-process: the round-6 postmortem (VERDICT r6 item 4) — a
correctness sweep and pytest racing each other on the FIXED
``_scratch/cp_<name>`` streaming-checkpoint dirs abort with
CANNOT_WRITE_STATE_STORE / STREAM_FAILED, and the source round-trip
datasets (``nation_csv`` etc., rebuilt with mode=overwrite on every
call) can expose a half-written directory to a concurrent reader.
Keying every scratch path by PID makes harness runs disjoint: a sweep
and pytest can overlap safely.

Garbage control: on first use, directories belonging to dead PIDs are
removed (``/proc/<pid>`` probe — this sandbox is Linux-only), so
``_scratch/`` stays bounded across many harness runs.  ``_scratch``
itself is gitignored.
"""

from __future__ import annotations

import os
import shutil
import time

_BASE = os.path.join(os.path.dirname(os.path.dirname(__file__)), "_scratch")
_cleaned = False


_MAX_AGE_SECONDS = 6 * 3600


def _reap_stale_pid_dirs() -> None:
    """Best-effort removal of pid_* dirs whose owner process is gone.

    Second criterion: dirs older than _MAX_AGE_SECONDS by mtime are
    reaped even if /proc/<pid> exists — a recycled PID can belong to
    an unrelated long-lived process, which would otherwise keep a
    dead harness's scratch alive indefinitely.  The owner keeps its
    own dir's mtime fresh (scratch_root() touches it on every call),
    so mtime is a true liveness signal: a live >6h soak that still
    calls scratch_root() never trips the age reap, only a genuinely
    abandoned dir does (ADVICE r8).
    """
    try:
        entries = os.listdir(_BASE)
    except FileNotFoundError:
        return
    now = time.time()
    for entry in entries:
        if not entry.startswith("pid_"):
            continue
        try:
            pid = int(entry[4:])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        path = os.path.join(_BASE, entry)
        stale = not os.path.exists(f"/proc/{pid}")
        if not stale:
            try:
                stale = now - os.stat(path).st_mtime > _MAX_AGE_SECONDS
            except OSError:
                stale = False
            if stale:
                # Second look before reaping a LIVE pid's dir: the
                # top-level mtime only moves on direct-child churn, so
                # a >6h harness whose streaming checkpoints write only
                # to nested files would look stale. Any file anywhere
                # under the dir newer than the cutoff proves liveness.
                stale = not _any_recent_file(path, now - _MAX_AGE_SECONDS)
        if stale:
            shutil.rmtree(path, ignore_errors=True)


def _any_recent_file(root: str, cutoff: float) -> bool:
    """True if any entry under ``root`` has mtime newer than cutoff.
    Bounded in practice: pid dirs hold a handful of checkpoint /
    round-trip datasets; os.walk aborts early on the first hit."""
    try:
        for dirpath, _dirnames, filenames in os.walk(root):
            for name in filenames:
                try:
                    if os.stat(os.path.join(dirpath, name)).st_mtime > cutoff:
                        return True
                except OSError:
                    continue
    except OSError:
        pass
    return False


def scratch_root() -> str:
    """This process's private scratch directory (created on demand)."""
    global _cleaned
    if not _cleaned:
        _reap_stale_pid_dirs()
        _cleaned = True
    root = os.path.join(_BASE, f"pid_{os.getpid()}")
    os.makedirs(root, exist_ok=True)
    # Liveness heartbeat: top-level mtime only moves when direct
    # children churn, so a long-lived harness could look stale to a
    # concurrent process's age reap while still holding live
    # checkpoints.  Touching on every call makes the 6h age criterion
    # honest.
    try:
        os.utime(root)
    except OSError:
        pass
    return root


def scratch_path(name: str) -> str:
    """A named path under this process's private scratch root."""
    return os.path.join(scratch_root(), name)


def fresh_scratch(name: str) -> str:
    """``scratch_path(name)``, emptied and created: the one reset for a
    query that rebuilds its dataset or checkpoint from nothing. A
    leftover the reset could not remove fails here, not in a read."""
    path = scratch_path(name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
