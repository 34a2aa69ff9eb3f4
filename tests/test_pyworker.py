"""The Python worker daemon module and the posture Python tasks run under.

``hive_task_spark.plans.pyworker`` patches ``zipimport.zipimporter`` for
the whole process, so its own test runs in a subprocess: the patch must
never reach the pytest process, whose driver is meant to run without it.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The archive goes first on sys.path, so it is already open when the
# daemon module is imported, as pyspark.zip is when the daemon starts.
_GUARD = """
import importlib, sys, zipfile, zipimport
archive = sys.argv[1]

def write(source):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m.py", source)

write("VALUE = 1\\n")
sys.path.insert(0, {repo!r})
sys.path.insert(0, archive)
import hive_task_spark.plans.pyworker
import m

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
importlib.invalidate_caches()
importlib.invalidate_caches()
print("UNCHANGED", len(reads))

write("# a longer file, so the archive's size changes\\nVALUE = 2\\n")
importlib.invalidate_caches()
del sys.modules["m"]
import m
print("CHANGED", len(reads), m.VALUE)
"""


def test_guard_rereads_an_archive_only_when_it_changed(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD.format(repo=REPO), str(tmp_path / "m.zip")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = dict(ln.split(" ", 1) for ln in proc.stdout.splitlines())
    assert lines["UNCHANGED"] == "0"
    assert lines["CHANGED"] == "1 2"


def test_python_tasks_run_under_the_engine_posture(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        guard = zipimport.zipimporter.invalidate_caches.__qualname__
        row = {"guard": guard, "reads": len(reads), "argv": " ".join(sys.argv)}
        yield pa.RecordBatch.from_pylist([row])

    # One row per partition, each from the worker that ran it.
    rows = spark.range(1).mapInArrow(probe, "guard string, reads long, argv string")
    for row in rows.collect():
        assert row.guard == "invalidate_if_changed"
        assert row.reads == 0
        # perfbench/procs.py counts a process as a Python worker by this text.
        assert "pyspark.worker" in row.argv

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    socket_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.isdir(socket_dir)
    # Spark binds "<dir>/.<uuid4>.sock"; an AF_UNIX path holds 107 bytes.
    assert len(socket_dir) + 43 < 108
