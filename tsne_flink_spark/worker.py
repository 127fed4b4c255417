"""Once-per-worker setup that every engine kernel runs first.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``, ``setup_spark_files``).  On Python 3.11 that
makes each ``zipimporter`` on the worker's ``sys.path`` (pyspark.zip, the
py4j zip, the spark-core jar) re-read its archive directory: 0.2-0.3 s per
task before the UDF runs (BASELINE.md B94).  Workers are reused across
tasks and jobs (``spark.python.worker.reuse``), so replacing that method
once per worker process removes the cost from every later task the
worker runs; only a worker's first task still pays, because the rescan
happens before the task's function is unpickled.

What it gives up: an archive on ``sys.path`` that is rewritten in place
while the session runs is not re-read by a patched worker.  A newly added
``addPyFile`` archive is a new ``sys.path`` entry with a fresh importer
and still imports.  The patch holds for every later UDF the same worker
runs, the engine's or not.  ``sys.path``, ``sys.path_importer_cache`` and
the import sources are left as they are, and the driver is never patched.

Every function the engine hands to ``mapInArrow``, ``mapInPandas``,
``applyInPandas``, ``applyInPandasWithState``, ``pandas_udf`` or
``rdd.mapPartitions``/``rdd.map`` calls ``skip_zip_rescan()`` as its first
statement (``tests/test_worker.py`` checks every site): cloudpickle ships
nested kernels by value, so a kernel cannot count on some other engine
import having run in the worker.
"""

from __future__ import annotations

import zipimport

from pyspark import TaskContext


def _keep_directory(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps the directory it read
    when the importer was made."""


def skip_zip_rescan() -> None:
    """Stop per-task zip-archive rescans in this Spark Python worker.

    Idempotent; does nothing outside a task (on the driver)."""
    if (
        zipimport.zipimporter.invalidate_caches is not _keep_directory
        and TaskContext.get() is not None
    ):
        zipimport.zipimporter.invalidate_caches = _keep_directory
