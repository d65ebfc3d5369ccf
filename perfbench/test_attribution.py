"""Job attribution of the traced run: a job group per span, never reused.

Starts a local Spark session (about a minute):

    python -m pytest perfbench/test_attribution.py -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from tracing import SparkTracer  # noqa: E402
from workloads import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from timeseriestokenizer_spark.session import get_spark

    s = get_spark("perfbench-attribution", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_build_jobs_are_counted_once_per_pass(spark):
    """dedup_clusters fires 25 Spark jobs (its connected-components rounds)
    while it is being built over the sf0.01 documents. With a group name
    reused across passes, getJobIdsForGroup would return the running total
    (25, 50, 75, ...); per-span groups give 25 on every pass."""
    from timeseriestokenizer_spark import contract

    sf_dir = SF_DIR
    # the first build also reads the tables' footers (contract.load memoizes
    # the handles); the passes below are the warm ones
    contract.QUERIES["dedup_clusters"](spark, sf_dir).collect()
    tracer = SparkTracer(spark, "attribution")
    tracer.install()
    try:
        per_pass = []
        for i in range(3):
            spark.catalog.clearCache()
            tracer.begin_op(i)
            with tracer.span("registry", "dedup_clusters"):
                with tracer.span("registry", "dedup_clusters.build", "build"):
                    df = contract.QUERIES["dedup_clusters"](spark, sf_dir)
                df.collect()
            per_pass.append(tracer.end_op(wall_s=1.0, cores=2))
    finally:
        tracer.uninstall()

    build_jobs = [p["build.jobs"] for p in per_pass]
    assert build_jobs == [25] * 3

    # the failure mode the per-span names avoid: one name, two builds
    sc = spark.sparkContext
    for _ in range(2):
        spark.catalog.clearCache()
        sc.setLocalProperty("spark.jobGroup.id", "reused")
        contract.QUERIES["dedup_clusters"](spark, sf_dir)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("reused")) == 2 * build_jobs[0]
    assert len({sp.group for sp in tracer.spans}) == len(tracer.spans)
    # every job of a pass is attributed to exactly one of its spans
    for p in per_pass:
        assert p["exec.jobs"] > p["build.jobs"]
        assert p["catalyst.queries"] >= 1
