from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
        .appName("crawler-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_TEST_DRIVER_MEM", "4g"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def smoke_fixture():
    from crawler_german_localpoliticans_spark import fixtures
    from fixture_profiles import SMOKE

    return fixtures.generate(SMOKE)


@pytest.fixture(scope="session")
def correctness_fixture():
    from crawler_german_localpoliticans_spark import fixtures
    from fixture_profiles import CORRECTNESS

    return fixtures.generate(CORRECTNESS)


@pytest.fixture(scope="session")
def smoke_dir(tmp_path_factory, smoke_fixture):
    from crawler_german_localpoliticans_spark.fixtures import write_fixture_parquet

    d = tmp_path_factory.mktemp("smoke_fixture")
    write_fixture_parquet(smoke_fixture, str(d))
    return str(d)


@pytest.fixture(scope="session")
def correctness_dir(tmp_path_factory, correctness_fixture):
    from crawler_german_localpoliticans_spark.fixtures import write_fixture_parquet

    d = tmp_path_factory.mktemp("correctness_fixture")
    write_fixture_parquet(correctness_fixture, str(d))
    return str(d)
