import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from tikv_data_compare_spark.session import get_spark

    spark = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="session")
def kv_pair(spark, lineitem):
    """(src, dst) keyed KV frames: dst = src with deterministic mutations."""
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.model import Keyed, to_kv, unique_by_key

    src_t = unique_by_key(lineitem, ["l_orderkey", "l_linenumber"]).cache()
    dst_t = (
        src_t.filter(~((F.col("l_orderkey") % 101 == 0) & (F.col("l_linenumber") == 1)))
        .withColumn(
            "l_quantity",
            F.when(F.col("l_orderkey") % 97 == 0, F.col("l_quantity") + 1).otherwise(F.col("l_quantity")),
        )
    )
    src = Keyed(to_kv(src_t, ["l_orderkey", "l_linenumber"]).cache())
    dst = Keyed(to_kv(dst_t, ["l_orderkey", "l_linenumber"]).cache())
    src.df.count(), dst.df.count()  # materialize once
    return src, dst


@pytest.fixture
def cache_entries(spark):
    """Callable returning how many frames the session's CacheManager holds
    (one entry per ``persist()``/``cache()`` not yet unpersisted).  The
    CacheManager exposes only ``isEmpty()``, and session fixtures keep
    frames cached for the whole run, so a non-empty count is read from its
    ``cachedData`` field."""
    cm = spark._jsparkSession.sharedState().cacheManager()

    def count() -> int:
        if cm.isEmpty():
            return 0
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return field.get(cm).size()

    return count
