"""Shared SparkSession, mirroring the reference's tuned test conf
(/root/reference/tests/conftest.py:43-121: one session per run,
shuffle.partitions small, AQE off for tiny data)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("splink_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(action)``: the Spark jobs ``action()`` runs, counted
    through a job group."""
    sc = spark.sparkContext

    def count(action) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def persons(spark):
    """Mini fake_1000-style dedupe fixture (FIXTURES.md F1): 12 records,
    4 entities, with typos / nulls / swapped fields."""
    rows = [
        # entity 0
        (0, "julia", "taylor", "2015-10-29", "london", "julia.t@mail.com", 0),
        (1, "julia ", "taylor", "2015-10-29", "london", "julia.t@mail.com", 0),
        (2, "julia", "tailor", "2015-10-29", "london", None, 0),
        # entity 1
        (3, "oliver", "smith", "1984-03-02", "leeds", "osmith@mail.com", 1),
        (4, "olivre", "smith", "1984-03-02", "leeds", "osmith@mail.com", 1),
        (5, "oliver", "smith", "1984-03-12", None, "osmith@mail.net", 1),
        # entity 2
        (6, "grace", "jones", "1971-06-30", "london", "gj@x.org", 2),
        (7, "grace", "jones", "1971-06-30", "london", "gj@x.org", 2),
        (8, "jones", "grace", "1971-06-30", "london", None, 2),
        # entity 3 (singletons-ish)
        (9, "amir", "khan", "1990-01-01", "manchester", "ak@x.org", 3),
        (10, None, "khan", "1990-01-01", "manchester", "ak@x.org", 3),
        (11, "zoe", "li", "2001-12-25", "bristol", "zli@x.org", 4),
    ]
    return spark.createDataFrame(
        rows,
        ["unique_id", "first_name", "surname", "dob", "city", "email", "cluster"],
    )
