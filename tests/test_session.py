"""Engine session defaults that the tests' shared session must carry."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from icenetetl_spark.session import CODEGEN_CACHE_ENTRIES, default_driver_memory


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_more_than_sparks_default(spark):
    """A plan rerun after more than 100 other plan shapes (Spark's default
    cache size) must reuse its compiled classes, not pay Janino again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def first():
        spark.range(10).select((F.col("id") * 7 + 3).alias("v")).agg(
            F.max("v")
        ).collect()

    first()
    # long literals are inlined into the generated source, so each k is a
    # distinct class in the cache
    for k in range(1, 151):
        spark.range(10).select((F.col("id") * k + k).alias("v")).agg(
            F.sum("v")
        ).collect()
    before = _compiles(spark)
    first()
    assert _compiles(spark) == before


def test_default_driver_heap_fits_the_host(spark):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 2**20 <= phys
    assert spark.conf.get("spark.driver.memory") == os.environ.get(
        "SPARK_DRIVER_MEMORY", heap
    )
