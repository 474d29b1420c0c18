"""Shared Spark fixtures: one local session for the whole test run."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import os
    import shutil

    from spark_etl_cli_spark.session import get_spark

    # the package default heap (48g) exceeds a small box's memory, and
    # the local-mode JVM grows into it; half of physical memory, capped
    # at that default, unless SPARK_GRAFT_DRIVER_MEM says otherwise
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{min(phys // 2 // 2**20, 48 * 1024)}m"
    )

    # orphaned managed-table locations from aborted runs break saveAsTable
    shutil.rmtree("/tmp/pytest-spark-warehouse", ignore_errors=True)

    spark = get_spark(
        app_name="pytest",
        master="local[4]",
        extra_confs={
            "spark.sql.shuffle.partitions": "4",
            "spark.default.parallelism": "4",
            "spark.sql.warehouse.dir": "/tmp/pytest-spark-warehouse",
            "spark.driver.memory": heap,
        },
    )
    yield spark


@pytest.fixture
def sql_executions(spark):
    """``sql_executions(fn, *args, **kwargs)`` → (fn's result, the number
    of SQL executions it ran): the growth of the last execution id in
    the SQL status store once the listener bus has delivered every
    event (the store keeps only the latest executions, so its size
    stops growing in a long session)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id():
        bus.waitUntilEmpty()
        n = int(store.executionsCount())
        return int(store.executionsList(n - 1, 1).head().executionId()) if n else -1

    def run(fn, *args, **kwargs):
        before = last_id()
        out = fn(*args, **kwargs)
        return out, last_id() - before

    return run


@pytest.fixture
def files_under():
    """``files_under(path)`` → every file below ``path`` (relative
    paths; empty when ``path`` does not exist)."""
    import os

    def files(path):
        return {
            os.path.relpath(os.path.join(d, f), path)
            for d, _dirs, fs in os.walk(path)
            for f in fs
        }

    return files
