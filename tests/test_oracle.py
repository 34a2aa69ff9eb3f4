"""Differential tests: every registered query with an oracle is compared
against DuckDB on the same parquet (the driver's t2 check, run locally
at sf0.001 for speed)."""

from __future__ import annotations

import pytest

from hive_task_spark import registry
from hive_task_spark.plans.session import apply_runtime_conf
from tests.compare import assert_frames_match

registry.load_all()

ORACLE_NAMES = sorted(registry.ORACLES)


def _temp_views(spark):
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name, spark, oracle_con, sf_dir):
    # A query may change session conf or temporary views only for its
    # own run: one that leaves either changed alters every query after
    # it on a shared session.
    conf_before = apply_runtime_conf(spark).conf.getAll
    views_before = _temp_views(spark)
    spark_pdf = registry.QUERIES[name](spark, sf_dir).toPandas()
    assert spark.conf.getAll == conf_before, "query left the session conf changed"
    assert _temp_views(spark) == views_before, "query left temp views changed"
    oracle_pdf = oracle_con.execute(registry.ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_every_query_is_oracle_backed():
    """Every registered query carries a non-empty SQL oracle and every
    oracle belongs to a registered query: a rows-only query would
    weaken the driver's value check to a row check."""
    assert set(registry.QUERIES) == set(registry.ORACLES)
    bad = sorted(
        name
        for name, sql in registry.ORACLES.items()
        if not isinstance(sql, str) or not sql.strip()
    )
    assert bad == [], bad
