import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("hashsplitter-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def distributed_scoring(monkeypatch):
    """Score every single query through the distributed ``mapInPandas``
    kernel: suites that exercise its prune machinery (anchor-id filter,
    block ranges, MaxScore bootstrap) would otherwise take the driver
    site on their small corpora and never reach it."""
    from elasticsearch_analysis_hashsplitter_spark.operators import search

    monkeypatch.setattr(search, "_DRIVER_SCORE_CUTOFF", 0)
