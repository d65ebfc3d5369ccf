"""Python workers start from ``timeseriestokenizer_spark.worker_daemon``:
each task begins with no ``zipimporter`` in ``sys.path_importer_cache``,
workers are still reused across actions, and a kernel's error still
reaches the driver."""

import ast
import importlib.util
import os
import sys

import pytest
from pyspark.errors import PythonException

# located, not imported: importing it would load pyspark.daemon here
SHIM = importlib.util.find_spec("timeseriestokenizer_spark.worker_daemon").origin


def _task_reports(df):
    """One row per task: its worker's pid, ``sys.argv[0]``, and how many
    ``zipimporter`` entries ``sys.path_importer_cache`` holds as the
    kernel starts."""

    def report(batches):  # nested, so it pickles by value
        import zipimport

        import pyarrow as pa

        finders = sum(isinstance(f, zipimport.zipimporter)
                      for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "argv0": [sys.argv[0]], "zip_finders": [finders]})

    return df.mapInArrow(report, "pid long, argv0 string, zip_finders long").collect()


def test_tasks_start_without_zip_finders_on_reused_workers(spark):
    df = spark.range(4000, numPartitions=8)
    first, second = _task_reports(df), _task_reports(df)

    assert len(first) == len(second) == 8
    for r in first + second:
        assert r.argv0 == SHIM
    reused = {r.pid for r in first} & {r.pid for r in second}
    assert reused
    # a worker's first task may rebuild the top-level entries (pyspark.zip,
    # the py4j zip) while it imports what the task needs; a worker that
    # already ran this kernel imports nothing, so what the shim dropped
    # stays dropped
    assert {r.zip_finders for r in second if r.pid in reused} == {0}


def test_kernel_error_reaches_the_driver(spark):
    def boom(batches):
        for _ in batches:
            raise ValueError("boom")
        yield from ()

    with pytest.raises(PythonException, match="boom"):
        spark.range(100, numPartitions=4).mapInArrow(boom, "id long").collect()
    # the daemon keeps serving tasks after a failed one
    assert len(_task_reports(spark.range(100, numPartitions=4))) == 4


def test_shim_imports_only_stdlib_and_pyspark():
    with open(SHIM) as f:
        tree = ast.parse(f.read())
    roots = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            roots.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            roots.add(node.module.split(".")[0])
    assert roots <= set(sys.stdlib_module_names) | {"pyspark"}
    assert "pyspark" in roots
