import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("otel-semconv-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def chunk_codecs():
    """``chunk_codecs(base)``: the codec of every column chunk of every
    parquet data file under ``base``, as a set (empty when there is none)."""
    import pyarrow.parquet as pq

    def codecs(base):
        found = set()
        for dirpath, _, names in os.walk(base):
            for n in names:
                if n.endswith(".parquet"):
                    meta = pq.read_metadata(os.path.join(dirpath, n))
                    found |= {meta.row_group(g).column(c).compression
                              for g in range(meta.num_row_groups) for c in range(meta.num_columns)}
        return found

    return codecs


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")
