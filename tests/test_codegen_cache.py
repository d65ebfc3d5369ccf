"""The session's codegen class cache holds a working set larger than
Spark's default 100 entries: a warm pass over more distinct generated
classes than that compiles nothing."""


def test_warm_pass_compiles_nothing(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    # each literal is inlined into its own generated class
    queries = [f"id * {i} + {i}" for i in range(150)]

    def run_pass():
        before = compiles.getCount()
        for q in queries:
            spark.range(3).selectExpr(q).collect()
        return compiles.getCount() - before

    assert run_pass() >= len(queries)
    assert run_pass() == 0
