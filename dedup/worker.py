"""Python-worker import hook: keep zip finders out of per-task cache
invalidation.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.11 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory, and Spark puts
pyspark.zip, the py4j zip and the spark-core jar ahead of site-packages
on every worker's path: a reused worker re-parsed 16 zip directories
(~26.7k entries, ~0.2 s) before each task's function ran. Those archives
cannot change while the worker lives.

``install`` is a no-op outside a Spark Python worker (the JVM's worker
factory sets ``PYTHON_WORKER_FACTORY_SECRET`` for the daemon and its
forks; a driver never has it). Inside one, everything but the zip
finders is still invalidated by the stdlib function: directory finders
(``.py`` files ``addPyFile`` drops into the SparkFiles dir), negative
(``None``) entries and relative paths, namespace packages and any
metadata finder. A zip shipped with ``addPyFile`` is a new ``sys.path``
entry, so its finder is created fresh on first lookup.
"""

import importlib
import os
import sys
import zipimport

_stdlib_invalidate_caches = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` minus the absolute-path zip finders."""
    cache = sys.path_importer_cache
    zips = {
        p: f for p, f in cache.items()
        if isinstance(f, zipimport.zipimporter) and os.path.isabs(p)
    }
    for p in zips:
        del cache[p]
    try:
        _stdlib_invalidate_caches()
    finally:
        for p, f in zips.items():
            cache.setdefault(p, f)


def install() -> None:
    if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
        importlib.invalidate_caches = invalidate_caches
