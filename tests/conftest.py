"""Shared Spark fixture for the test suite (local mode, small shuffle)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from osm_wikidata_spark.session import build_session

    session = build_session(
        app_name="osm-wikidata-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield session
    session.stop()


def count_jobs(spark, action) -> int:
    """Run ``action()`` under a fresh job group and return how many Spark
    jobs it started — a cost signal that machine load cannot move."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
