"""PySpark worker daemon that keeps each worker's zip directories.

Spark starts this module (``spark.python.daemon.module``, set by
``session.get_spark``) in place of ``pyspark.daemon``; the daemon forks
every Python worker, so the patch below holds in each of them from its
first task.

Before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Under CPython 3.11 that makes every
``zipimporter`` on the worker's path re-read its archive's central
directory (``pyspark.zip``, the py4j zip, the spark-core jar): about
0.1-0.2 s of CPU per task, spent before the task reads its command.
Those archives do not change while a worker lives, so their importers'
``invalidate_caches`` becomes a no-op. A ``--py-files`` include added
later gets a new importer when it first joins ``sys.path``, so new code
is still found.
"""

import zipimport


def _keep_directory(self) -> None:
    return None


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_directory

    from pyspark.daemon import manager

    manager()
