"""Operator-internal caches do not outlive their query: every registry
row, built and collected, leaves no persistent RDD behind once
``session.release_held()`` has run."""

from timeseriestokenizer_spark import contract
from timeseriestokenizer_spark.session import release_held

SF_DIR = "/root/testdata/sf0.001"  # the smoke scale (TESTDATA.md)


def test_no_registry_row_leaks_a_cache(spark):
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    leaks = {}
    for name, build in contract.QUERIES.items():
        before = rdds().size()
        build(spark, SF_DIR).collect()
        release_held()
        left = rdds().size() - before
        if left:
            leaks[name] = left
            spark.catalog.clearCache()  # keep the next row's count clean
    assert not leaks, leaks
