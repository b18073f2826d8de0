"""Smoke tests for the driver contract (__spark_entry__)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns and "count_order" in df.columns
    # Pricing summary over A/N/R x F/O: at most 6 groups, all counts positive.
    assert all(r["count_order"] > 0 for r in rows)


def test_registry_contract(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "no queries registered"
    # Every oracle key must have a query.
    assert set(oracles) <= set(qs)


def test_flagship_deterministic(spark, sf_dir):
    qs = entrymod.queries()
    a = qs["q_agg_group"](spark, sf_dir).collect()
    b = qs["q_agg_group"](spark, sf_dir).collect()
    assert a == b


def test_grading_window_rotation_order():
    """plans/__init__ orders the registry by staleness (the driver
    grades the first 50 keys): last-green rounds must be
    non-decreasing, and the oracles iterate in the same order."""
    from pipeline_airflow_docker_spark import plans
    from pipeline_airflow_docker_spark.plans import _last_green

    keys = list(plans.QUERIES)
    green = _last_green()
    rounds = [green.get(k, -1) for k in keys]
    assert rounds == sorted(rounds)
    assert [k for k in plans.ORACLES] == [k for k in keys if k in plans.ORACLES]
