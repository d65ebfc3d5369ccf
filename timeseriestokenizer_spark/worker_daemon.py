"""Spark's Python worker daemon, minus one per-task re-read of every zip
archive on the worker's import path.

At the start of every task ``pyspark.worker.main`` calls
``importlib.invalidate_caches()`` (in ``worker_util.setup_spark_files``).
On CPython 3.11 that makes each ``zipimport.zipimporter`` held in
``sys.path_importer_cache`` re-parse its whole archive. A warm worker holds
16 of them over ``pyspark.zip`` (1,328 entries) and the py4j zip: about
0.2 CPU-s per task before it reads a row (4-core x86 host, ``local[4]``).
Dropping those cache entries first leaves nothing to re-parse: the next
import lookup rebuilds a dropped entry through the zip path hook, from
``zipimport``'s own directory cache, so imports resolve exactly as before.
The archives never change while a worker lives. Forking, worker reuse and
error handling stay Spark's own (``pyspark.daemon``). On CPython 3.12+,
where ``invalidate_caches`` no longer re-reads archives, the shim changes
nothing.

``session.get_spark`` selects it through ``spark.python.daemon.module``, and
Spark starts it as ``python -m timeseriestokenizer_spark.worker_daemon``.
It imports only the standard library and pyspark, so the daemon and every
worker forked from it load nothing else of the package.
"""

import sys
import zipimport

from pyspark import daemon


def _drop_zip_finders(worker_main):
    """Wrap ``worker_main`` so each task starts with no ``zipimporter`` in
    ``sys.path_importer_cache``."""

    def main(infile, outfile):
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[path]
        return worker_main(infile, outfile)

    return main


if __name__ == "__main__":
    daemon.worker_main = _drop_zip_finders(daemon.worker_main)
    daemon.manager()
