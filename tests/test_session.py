"""Session-factory tests.

``scoped_conf`` must hand the session conf back exactly as it found it.

The kernel-import test needs a fresh driver process: the module-level
Python kernels are pickled by reference, so each Python worker imports
``hive_task_spark`` to unpickle them. A driver that imports the package
by path from some other directory must still give its workers that
import: ``get_session`` puts the package root on the workers'
``PYTHONPATH``.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from hive_task_spark.plans.session import scoped_conf

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


# Two runtime SQL keys no query or fixture sets: one is given a value
# before each test, the other stays unset.
_SET = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
_UNSET = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


@pytest.fixture
def conf(spark):
    spark.conf.set(_SET, "7")
    spark.conf.unset(_UNSET)
    yield spark.conf
    spark.conf.unset(_SET)


def test_scoped_conf_restores_a_set_value_and_unsets_an_unset_key(spark, conf):
    before = conf.getAll
    with scoped_conf(spark, {_SET: "3", _UNSET: "true"}):
        assert (conf.get(_SET), conf.get(_UNSET)) == ("3", "true")
    assert conf.get(_SET) == "7"
    assert _UNSET not in conf.getAll
    assert conf.getAll == before


def test_scoped_conf_restores_when_the_block_raises(spark, conf):
    before = conf.getAll
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {_SET: "3", _UNSET: "true"}):
            raise RuntimeError("boom")
    assert conf.getAll == before
