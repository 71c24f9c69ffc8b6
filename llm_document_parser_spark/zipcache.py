"""Keep a Python worker's zip archive directories across Spark tasks.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``). Before Python 3.12 that makes
each cached ``zipimporter`` re-read its whole archive directory: Spark's
``pyspark.zip``, the py4j zip, the ``spark-core`` jar and any ``--py-files``
archive, about 27k entries per task, 0.14-0.41 s against 17-30 ms of UDF
work per 375-row batch. Spark does not change those archives while a
worker lives, so a worker's ``zipimporter.invalidate_caches`` keeps the
directory it already read.

The package's ``__init__`` installs this in Spark Python workers only (a
``TaskContext`` is set while a task unpickles its UDFs). A reused worker
pays the re-read once, on the task that first imports the package.
"""

from __future__ import annotations

import zipimport


def _keep_directory(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` for an archive that does not
    change: the directory read when the importer was built stays valid."""


def keep_zip_directories() -> None:
    """Stop ``importlib.invalidate_caches()`` re-reading zip archives in
    this process."""
    zipimport.zipimporter.invalidate_caches = _keep_directory
