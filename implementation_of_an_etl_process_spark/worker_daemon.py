"""PySpark's worker daemon, minus the per-task import-cache flush.

Spark forks its Python workers from one daemon process per executor
(``spark.python.daemon.module``, set by ``session.get_spark``). Before
every task the stock worker runs ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python 3.11 that call re-reads
every path finder, the zip directories of ``pyspark.zip``, the py4j zip
and the spark-core jar included: about 69 ms in one worker and
130-225 ms per task when four tasks run it at once, against a decode
that takes a few milliseconds per split.

This module runs PySpark's own daemon and worker unchanged except for
that step. Its ``setup_spark_files`` does the same reads and
``add_path`` calls, and flushes the import caches only when the import
path or the Spark files directory (names and mtimes) differs from what
this worker saw at its previous task. The first task of each forked
worker always flushes, and a file added with ``SparkContext.addFile``
or ``addPyFile`` changes the listing, so it is importable in the next
task as before. Plain directories on ``sys.path`` need no flush: their
finders notice a changed directory mtime on their own.

Run as ``python -m implementation_of_an_etl_process_spark.worker_daemon
<worker module>``, which is how Spark starts a daemon module. A PySpark
without the ``worker_util.setup_spark_files`` hook gets the stock
daemon untouched.
"""

from __future__ import annotations

import importlib
import os
import sys
from typing import IO

from pyspark import worker_util

# (sys.path, files dir, listing) at this worker's previous task; None
# in the daemon, so every forked worker flushes at its first task.
_seen: tuple | None = None


def _files_listing(spark_files_dir: str) -> tuple | None:
    try:
        with os.scandir(spark_files_dir) as entries:
            return tuple(sorted((e.name, e.stat().st_mtime_ns) for e in entries))
    except OSError:
        return None


def setup_spark_files(infile: IO) -> None:
    """``pyspark.worker_util.setup_spark_files`` with the import-cache
    flush skipped when nothing it could reveal has changed."""
    global _seen
    spark_files_dir = worker_util.utf8_deserializer.loads(infile)

    if not worker_util.is_remote_only():
        from pyspark.core.files import SparkFiles

        SparkFiles._root_directory = spark_files_dir  # noqa: SLF001
        SparkFiles._is_running_on_worker = True  # noqa: SLF001

    worker_util.add_path(spark_files_dir)
    for _ in range(worker_util.read_int(infile)):
        filename = worker_util.utf8_deserializer.loads(infile)
        worker_util.add_path(os.path.join(spark_files_dir, filename))

    state = (tuple(sys.path), spark_files_dir, _files_listing(spark_files_dir))
    if state != _seen:
        importlib.invalidate_caches()
        _seen = state


def main() -> None:
    """Run PySpark's daemon with this module's ``setup_spark_files``
    swapped in where the worker looks it up; the stock daemon when this
    PySpark lacks the hook."""
    hooked = all(
        hasattr(worker_util, name)
        for name in ("setup_spark_files", "utf8_deserializer", "read_int",
                     "add_path", "is_remote_only")
    )
    if hooked:
        # before the daemon imports its worker module, so a module that
        # binds the name at import binds this one
        worker_util.setup_spark_files = setup_spark_files
    from pyspark import daemon

    worker_module = sys.modules[daemon.worker_main.__module__]
    if hooked and hasattr(worker_module, "setup_spark_files"):
        worker_module.setup_spark_files = setup_spark_files
    daemon.manager()


if __name__ == "__main__":
    # through the package, so workers report this module by its name
    # rather than as __main__
    from implementation_of_an_etl_process_spark import worker_daemon

    worker_daemon.main()
