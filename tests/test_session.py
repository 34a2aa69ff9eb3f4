"""Session-factory tests that need a fresh driver process.

The module-level Python kernels are pickled by reference, so each
Python worker imports ``hive_task_spark`` to unpickle them. A driver
that imports the package by path from some other directory must still
give its workers that import: ``get_session`` puts the package root on
the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from hive_task_spark import registry
from hive_task_spark.plans.session import get_session
registry.load_all()
spark = get_session(app_name="kernel_import_probe", cpus=2)
n = len(registry.QUERIES["multimodal_decode_features"](spark, {sf!r}).collect())
print("ROWS:" + str(n))
spark.stop()
"""


def test_kernels_unpickle_outside_the_checkout(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO, sf=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS:")]
    assert rows and int(rows[-1][5:]) > 0
