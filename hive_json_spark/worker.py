"""Python worker entry for the engine's sessions: PySpark's own daemon and
worker, except that a task keeps the zip-archive import caches.

Every Python task starts in ``pyspark.worker.main``, whose
``setup_spark_files`` calls ``importlib.invalidate_caches()``. On Python
3.11 that makes each cached ``zipimport.zipimporter`` re-read its archive's
whole central directory. A worker caches a dozen of them over
``pyspark.zip`` (1,328 entries) and the Spark core jar (5,359 entries),
which the JVM puts on workers' ``sys.path``, so every task paid about
0.3 s (``local[4]``, 4-core x86 host) before its kernel ran.

In the workers ``importlib.invalidate_caches`` is :func:`invalidate_caches`:
the stdlib call, run with the zip importers set aside and put back after.
Everything else it does still happens: ``FileFinder``s are reset, ``None``
and relative-path entries are dropped, meta-path finders are invalidated,
and the namespace-package epoch is bumped. Zip archives are safe to keep
because they do not change while a worker lives. A zip that ``addPyFile``
adds later is a new ``sys.path`` entry, so it gets a fresh importer on its
first lookup. Spark refuses to overwrite an added file of the same name
(``spark.files.overwrite`` is false by default), which is the only way an
archive could change in place. On a Python whose zip importers invalidate
lazily, keeping them costs nothing.

Mechanism: ``session.get_spark`` names this module as
``spark.python.daemon.module``. The JVM runs it as ``python -m
hive_json_spark.worker``, so it must import wherever the kernels do (the
checkout as cwd, or on ``PYTHONPATH``). It replaces the daemon rather than
``spark.python.worker.module`` because ``pyspark.daemon`` ignores a worker
module whose name does not start with ``pyspark``. The zips and the jar stay
on workers' ``sys.path``: the JVM always puts them there (no setting drops
them), and where Spark is not pip-installed the ``pyspark`` and ``py4j``
zips are the only copies of those packages the workers have.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_every_finder = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` for every finder but the
    absolute-path zip importers, which keep their archive directories."""
    kept = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
    }
    for path in kept:
        del sys.path_importer_cache[path]
    try:
        _invalidate_every_finder()
    finally:
        sys.path_importer_cache.update(kept)


def serve() -> None:
    """Run ``pyspark.daemon``; the workers it forks inherit the cheaper
    invalidation and run ``pyspark.worker.main`` unchanged."""
    from pyspark import daemon

    importlib.invalidate_caches = invalidate_caches
    daemon.manager()


if __name__ == "__main__":
    # the importable copy, so workers find this module under its own name
    from hive_json_spark.worker import serve

    serve()
