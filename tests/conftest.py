import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
# python workers forked by Spark need the package importable too
os.environ["PYTHONPATH"] = REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master("local[4]")
        .appName("yetisearch-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def facade_idx(spark, tmp_path_factory):
    """The seed-77 index (3000 turns, 8 buckets, block_size 16) shared by
    test_round5_facade and test_round6_totals: built once per session."""
    from facade_helpers import _build

    return _build(spark, tmp_path_factory, "facade_idx", 3000, 77)
