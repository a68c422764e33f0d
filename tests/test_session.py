"""Session plumbing: executor self-shipping, the generated-code cache and
scale_out invariants."""

import zipfile

from pyspark import SparkFiles


def test_ship_package_registers_source_zip(spark):
    """get_spark must have shipped the package source via addPyFile so
    executor Python workers can import module-referenced closure helpers
    (the media decoders, the codec) without a cluster-wide install."""
    sc = spark.sparkContext
    assert getattr(sc, "_tdcs_package_shipped", False)
    shipped = [f for f in sc.listFiles if "tikv_data_compare_spark-ship" in f]
    assert shipped, f"package zip not in sc.listFiles: {sc.listFiles}"
    local = SparkFiles.get(shipped[0].rsplit("/", 1)[-1])
    with zipfile.ZipFile(local) as zf:
        names = zf.namelist()
    assert "tikv_data_compare_spark/operators/media_decode.py" in names
    assert "tikv_data_compare_spark/codec.py" in names


def test_ship_package_idempotent(spark):
    from tikv_data_compare_spark.session import ship_package

    before = list(spark.sparkContext.listFiles)
    ship_package(spark)
    ship_package(spark)
    assert list(spark.sparkContext.listFiles) == before


def test_codegen_cache_keeps_a_warm_working_set(spark):
    """get_spark sizes Spark's generated-code cache past a curate call's
    ~190 classes; at the default of 100 entries each call evicted its own
    classes and compiled them again.  80 distinct queries of 2 classes each
    overflow 100 entries, and a second pass over them compiles nothing."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2000
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for i in range(1, 81):
            spark.range(8).selectExpr(f"id * {i} + {i} AS x").collect()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0
