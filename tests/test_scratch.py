"""Reaper liveness tests for the PID-keyed scratch root (ADVICE r8):
the 6h age criterion must never delete a LIVE process's checkpoints.

Liveness has two signals now: (1) scratch_root() touches the owner's
dir mtime on every call, and (2) before age-reaping a dir whose pid
still exists, the reaper scans for ANY nested file newer than the
cutoff — a streaming harness writes checkpoint files continuously
without ever touching the top-level dir again.
"""

from __future__ import annotations

import os
import time

import hive_task_spark.scratch as S

_OLD = time.time() - (S._MAX_AGE_SECONDS + 3600)


def _make_pid_dir(base: str, pid: str) -> str:
    d = os.path.join(base, f"pid_{pid}")
    os.makedirs(os.path.join(d, "nested"))
    return d


def _age(path: str) -> None:
    os.utime(path, (_OLD, _OLD))


def test_dead_pid_reaped_even_with_recent_files(tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_BASE", str(tmp_path))
    dead = _make_pid_dir(str(tmp_path), "999999")
    with open(os.path.join(dead, "nested", "f"), "w") as f:
        f.write("x")
    _age(dead)
    S._reap_stale_pid_dirs()
    assert not os.path.exists(dead)


def test_live_pid_with_recent_nested_writes_kept(tmp_path, monkeypatch):
    # pid 1 always exists; aged top-level mtime but a fresh nested
    # checkpoint file must save the dir (the streaming-soak case).
    monkeypatch.setattr(S, "_BASE", str(tmp_path))
    live = _make_pid_dir(str(tmp_path), "1")
    with open(os.path.join(live, "nested", "ckpt"), "w") as f:
        f.write("x")
    _age(live)
    S._reap_stale_pid_dirs()
    assert os.path.exists(live)


def test_live_pid_all_aged_reaped_as_recycled(tmp_path, monkeypatch):
    # pid exists but every file is >6h old: treat as a recycled PID
    # holding a dead harness's litter.
    monkeypatch.setattr(S, "_BASE", str(tmp_path))
    live = _make_pid_dir(str(tmp_path), "1")
    ck = os.path.join(live, "nested", "ckpt")
    with open(ck, "w") as f:
        f.write("x")
    for p in (ck, os.path.join(live, "nested"), live):
        _age(p)
    S._reap_stale_pid_dirs()
    assert not os.path.exists(live)


def test_scratch_root_refreshes_own_mtime(tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_BASE", str(tmp_path))
    monkeypatch.setattr(S, "_cleaned", True)
    root = S.scratch_root()
    _age(root)
    S.scratch_root()
    assert os.stat(root).st_mtime > time.time() - 60


def test_own_pid_dir_never_reaped(tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_BASE", str(tmp_path))
    mine = _make_pid_dir(str(tmp_path), str(os.getpid()))
    _age(mine)
    S._reap_stale_pid_dirs()
    assert os.path.exists(mine)


def test_fresh_scratch_returns_an_empty_dir_under_own_root(tmp_path, monkeypatch):
    # a stale file and a nested dir are cleared on every call, the
    # second call (over the first call's leftovers) included
    monkeypatch.setattr(S, "_BASE", str(tmp_path))
    monkeypatch.setattr(S, "_cleaned", True)
    own_root = os.path.join(str(tmp_path), f"pid_{os.getpid()}")
    for _ in range(2):
        stale = S.scratch_path("ds")
        os.makedirs(os.path.join(stale, "nested"), exist_ok=True)
        for name in ("stale_file", os.path.join("nested", "f")):
            with open(os.path.join(stale, name), "w") as f:
                f.write("x")
        path = S.fresh_scratch("ds")
        assert path == os.path.join(own_root, "ds")
        assert os.path.isdir(path) and os.listdir(path) == []
