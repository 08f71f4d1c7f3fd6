"""Python worker daemon: ``pyspark.daemon`` with a cheaper
``importlib.invalidate_caches``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task, after it puts the task's files on ``sys.path``. On Python
3.10+ that makes every ``zipimport.zipimporter`` on the path re-read
its archive's central directory: ``pyspark.zip``, each of its
subpackage entries and any jar on the path (a 1-task Python job on a
4-vCPU box took 165-197 ms with it, 89-145 ms without). The archives
on the worker path do not change while an application runs, so this
daemon skips the zip importers and still invalidates every other
finder; directory finders refresh as before, so files shipped with
``SparkContext.addPyFile`` stay importable.

``el.conf.get_spark`` selects this module through
``spark.python.daemon.module``; Spark starts it as
``python -m el.worker_daemon``, so workers import it from the same
path as el's UDFs.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_all = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` minus the zip archive re-reads:
    absolute-path zip importers are held out of
    ``sys.path_importer_cache`` while every other finder is
    invalidated, then put back."""
    zips = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
    }
    for path in zips:
        del sys.path_importer_cache[path]
    try:
        _invalidate_all()
    finally:
        sys.path_importer_cache.update(zips)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
