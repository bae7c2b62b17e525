from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("openalex-walden-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def jobs_in(spark):
    """``with jobs_in("name") as ids:`` fills ``ids`` with the ids of the
    Spark jobs the block launched, once the block has ended."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def counting(group: str):
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            # job starts reach the status store through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return counting


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from openalex_walden_spark.oracle import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def spark_udfs(spark):
    from openalex_walden_spark.functions.sql_udfs import create_sql_udfs

    create_sql_udfs(spark)
    return spark
