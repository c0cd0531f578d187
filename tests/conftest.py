import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder
         .master("local[4]")
         .appName("boon_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture
def parquet_reads(monkeypatch):
    """The sources of every ``pyarrow.parquet.read_table`` call made
    while the test runs (manifest entries are read through it)."""
    import pyarrow.parquet as pq
    reads, real = [], pq.read_table

    def spy(source, *args, **kwargs):
        reads.append(source)
        return real(source, *args, **kwargs)
    monkeypatch.setattr(pq, "read_table", spy)
    return reads
