from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from stock_data_warehouse_analytics_spark.session import get_spark

    cpus = min(8, os.cpu_count() or 8)
    spark = get_spark("tests", master=f"local[{cpus}]")
    yield spark
    spark.stop()


def jobs_of(spark, group: str, fn) -> int:
    """The number of Spark jobs ``fn()`` starts, counted through a job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
