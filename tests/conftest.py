import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def pytest_collection_modifyitems(session, config, items):
    """Run test_submit.py FIRST: it spawns spark-submit subprocess JVMs and
    must not overlap the in-process session (CLAUDE.md: one Spark session at
    a time on this shared host). Alphabetical order would start the fixture
    session long before test_submit; fronting it means the subprocesses run
    while no in-process JVM exists, with zero coverage loss."""
    front = [it for it in items if "test_submit" in it.nodeid]
    rest = [it for it in items if "test_submit" not in it.nodeid]
    items[:] = front + rest


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("spatial-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def executed_plans(spark):
    """``run(action)``: call ``action()`` and return ``(description,
    physical plan description)`` for each SQL execution it started, in
    order, read from Spark's SQL status store by ``perfbench.checks.PlanLog``."""
    from perfbench.checks import PlanLog

    log = PlanLog(spark)

    def run(action):
        last = log.last_id()
        action()
        return [(desc, plan) for _, desc, plan in log.since(last)]

    return run


def initial_tree(plan: str) -> str:
    """The operator tree of a physical plan description as planned before
    any adaptive re-planning: no node details, no runtime statistics, so
    it depends only on the query's shape."""
    tree = plan.split("\n\n")[0]
    return tree.split("\n+- == Initial Plan ==")[-1]
