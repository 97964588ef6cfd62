"""The Python-worker import hook (dedup/worker.py): reused workers skip
the per-task zip-directory re-read, files shipped later still import,
and the driver's importlib is untouched."""

from __future__ import annotations

import importlib
import os
import uuid
import zipfile


def _count_zip_invalidations(_):
    """Task body: count zipimporter.invalidate_caches calls since the
    previous task on this worker (the worker's own per-task
    ``importlib.invalidate_caches`` ran in between) plus those of one
    explicit call, then (re)install the counting wrapper."""
    import importlib
    import os
    import sys
    import zipimport

    import dedup  # noqa: F401  (installs the hook on this worker)

    zi = zipimport.zipimporter
    prev = getattr(zi.invalidate_caches, "_dedup_test_calls", None)
    since_last_task = prev[0] if prev is not None else None
    orig = getattr(zi.invalidate_caches, "__wrapped__", zi.invalidate_caches)
    calls = [0]

    def counting(self):
        calls[0] += 1
        return orig(self)

    counting.__wrapped__ = orig
    counting._dedup_test_calls = calls
    zi.invalidate_caches = counting
    importlib.invalidate_caches()
    explicit = calls[0]
    calls[0] = 0
    n_zip = sum(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    yield os.getpid(), n_zip, since_last_task, explicit


def _restore_zipimporter(_):
    import zipimport

    zi = zipimport.zipimporter
    zi.invalidate_caches = getattr(zi.invalidate_caches, "__wrapped__", zi.invalidate_caches)
    yield 0


def test_reused_workers_skip_zip_reread(spark):
    sc = spark.sparkContext
    try:
        first = sc.parallelize(range(4), 4).mapPartitions(_count_zip_invalidations).collect()
        second = sc.parallelize(range(4), 4).mapPartitions(_count_zip_invalidations).collect()
    finally:
        sc.parallelize(range(8), 8).mapPartitions(_restore_zipimporter).collect()
    seen = {pid for pid, *_ in first}
    reused = [r for r in second if r[0] in seen]
    assert reused, f"no worker was reused: {first} then {second}"
    for pid, n_zip, since_last_task, explicit in first + second:
        # the worker really imports from zips (pyspark.zip, py4j), so a
        # zero count is the hook at work, not an empty cache
        assert n_zip > 0, (pid, n_zip)
        assert explicit == 0, f"worker {pid}: explicit call re-read {explicit} zips"
    for pid, _, since_last_task, _ in reused:
        assert since_last_task == 0, (
            f"worker {pid}: the per-task invalidation re-read {since_last_task} zips"
        )


def _import_dedup(_):
    import dedup  # noqa: F401

    yield 0


def _import_value(name):
    def run(_):
        import importlib

        import dedup  # noqa: F401

        yield importlib.import_module(name).VALUE

    return run


def test_files_added_after_worker_start_still_import(spark, tmp_path):
    sc = spark.sparkContext
    # start the workers and install the hook on each before shipping
    sc.parallelize(range(4), 4).mapPartitions(_import_dedup).count()

    tag = uuid.uuid4().hex[:12]
    py_name, zip_name = f"late_py_{tag}", f"late_zip_{tag}"
    py_path = tmp_path / f"{py_name}.py"
    py_path.write_text("VALUE = 'py'\n")
    zip_path = tmp_path / f"{zip_name}.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr(f"{zip_name}.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(py_path))
    sc.addPyFile(str(zip_path))

    rdd = sc.parallelize(range(4), 4)
    assert set(rdd.mapPartitions(_import_value(py_name)).collect()) == {"py"}
    assert set(rdd.mapPartitions(_import_value(zip_name)).collect()) == {"zip"}


def test_driver_importlib_is_stdlib():
    import dedup  # noqa: F401
    from dedup import worker

    worker.install()
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert importlib.invalidate_caches is not worker.invalidate_caches
    assert importlib.invalidate_caches.__module__ == "importlib"
