"""Python worker daemon: ``pyspark.daemon`` with a targeted import refresh.

Spark starts Python workers by forking them from a daemon process
(``spark.python.daemon.module``; ``session.get_spark`` sets this
module). Before each task runs user code,
``pyspark.worker_util.setup_spark_files`` stores the task's SparkFiles
directory in ``SparkFiles._root_directory``, puts that directory and
each ``--py-files`` include inside it on ``sys.path`` (``add_path``) and
then calls ``importlib.invalidate_caches()``. Upstream, that call
refreshes every path finder in ``sys.path_importer_cache``; on a worker
those include the zipimporters of ``pyspark.zip`` and its sub-package
entries, py4j and the spark-core jar, and each of them re-reads its
archive directory on every task, before any user code.

Only the SparkFiles directory gains importable files between tasks:
``SparkContext.addPyFile`` copies ``.py`` files into it and ships
archives as new includes inside it. So this module hands ``worker_util``
an ``importlib`` whose ``invalidate_caches()`` does what upstream's does
with one difference: of the path finders, it refreshes only those keyed
at or under the SparkFiles directory. As upstream, it still refreshes
the other ``sys.meta_path`` finders, drops negative (``None``) and
relative-path entries from ``sys.path_importer_cache``, and makes
namespace packages recompute their ``__path__``. What it does not see is
a module that appears, between tasks, inside an archive outside the
SparkFiles directory that the worker already imported from, or in a
directory outside it whose mtime does not move. Spark itself changes
neither.

Everything else is upstream's: the daemon, the fork-per-task loop and
the worker module named by ``sys.argv[1]``. Run as
``python -m sketchy_spark.worker_daemon [worker_module]``, which is how
Spark launches a daemon module.
"""

from __future__ import annotations

import importlib
import os
import sys
from importlib import _bootstrap_external
from importlib.machinery import PathFinder

from pyspark import worker_util
from pyspark.core.files import SparkFiles


def _under(key: str, root: str) -> bool:
    return key == root or key.startswith(root.rstrip(os.sep) + os.sep)


class TargetedImportlib:
    """The ``importlib`` that ``worker_util`` sees. ``invalidate_caches``
    is upstream's with the path finders outside the SparkFiles directory
    left alone; any other attribute is the real ``importlib``'s."""

    def __getattr__(self, name: str):
        return getattr(importlib, name)

    @staticmethod
    def invalidate_caches() -> None:
        root = SparkFiles._root_directory
        if root is None:
            importlib.invalidate_caches()
            return
        for finder in sys.meta_path:
            if finder is PathFinder:
                _refresh_path_finders(root)
            elif hasattr(finder, "invalidate_caches"):
                finder.invalidate_caches()


def _refresh_path_finders(root: str) -> None:
    """``PathFinder.invalidate_caches`` restricted to the finders keyed
    at or under ``root``."""
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if finder is None or not os.path.isabs(key):
            del cache[key]
        elif _under(key, root) and hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()
    _bootstrap_external._NamespacePath._epoch += 1


def main() -> None:
    worker_util.importlib = TargetedImportlib()
    # imported after the patch: pyspark.daemon imports the worker module
    # (sys.argv[1]) at import time, and forked workers inherit the patch
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run under the importable name, so that a task can check
    # isinstance(worker_util.importlib, worker_daemon.TargetedImportlib)
    from sketchy_spark import worker_daemon

    worker_daemon.main()
