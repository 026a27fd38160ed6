"""``zipimporter.invalidate_caches`` re-reads only archives that changed.

PySpark workers import PySpark from ``pyspark.zip`` and call
``importlib.invalidate_caches()`` before every task; on CPython < 3.12
that re-parsed the archive's central directory once per zipimporter per
task.  ``sequin_spark`` (imported by every engine UDF's unpickling)
keys the re-read on the archive's ``(st_mtime_ns, st_size)``.
"""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

import sequin_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads zip directories lazily; no fix installed")


def _write_zip(path, module, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", body)


@pytest.fixture
def read_counts(monkeypatch):
    """archive path -> number of ``zipimport._read_directory`` calls."""
    counts: dict = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


@pytest.fixture
def zipped_module(tmp_path, monkeypatch):
    """A fresh module importable only from a zip on ``sys.path``."""
    module = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{module}.zip")
    _write_zip(archive, module, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    yield module, archive
    sys.modules.pop(module, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zipped_module, read_counts):
    module, archive = zipped_module
    assert importlib.import_module(module).VALUE == 1
    importlib.invalidate_caches()  # first call stamps the cached directory
    read_counts.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert read_counts.get(archive, 0) == 0
    # the reused directory still serves imports
    sys.modules.pop(module)
    assert importlib.import_module(module).VALUE == 1


@pytest.mark.parametrize("change", ["mtime", "size"])
def test_rewritten_archive_is_reread(zipped_module, read_counts, change):
    module, archive = zipped_module
    assert importlib.import_module(module).VALUE == 1
    importlib.invalidate_caches()
    before = os.stat(archive)
    if change == "mtime":
        # same length, new contents and a new mtime
        _write_zip(archive, module, "VALUE = 2\n")
        assert os.stat(archive).st_size == before.st_size
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    else:
        # new length, mtime pinned to the old one
        _write_zip(archive, module, "VALUE = 22\n")
        assert os.stat(archive).st_size != before.st_size
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    read_counts.clear()
    importlib.invalidate_caches()
    assert read_counts.get(archive, 0) == 1
    sys.modules.pop(module)
    assert importlib.import_module(module).VALUE == (2 if change == "mtime" else 22)
    read_counts.clear()
    importlib.invalidate_caches()
    assert read_counts.get(archive, 0) == 0


def test_removed_archive_keeps_original_semantics(zipped_module):
    module, archive = zipped_module
    importlib.import_module(module)
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_newer_python_leaves_zipimport_untouched(monkeypatch):
    installed = zipimport.zipimporter.invalidate_caches
    original = installed.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    sequin_spark._reread_changed_zip_archives_only()
    assert zipimport.zipimporter.invalidate_caches is original


def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    sequin_spark._reread_changed_zip_archives_only()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_spark_tasks_do_not_reread_pyspark_zip(spark):
    """After a warm-up action, no task re-reads a zip directory.

    The UDF closes over an engine function, so unpickling it imports
    ``sequin_spark`` in the worker exactly as an engine UDF does; the
    first task in each worker installs a ``_read_directory`` counter,
    and every later task reports the reads made since the previous task
    in that worker ended — which include ``setup_spark_files``'s
    ``importlib.invalidate_caches()`` for this task.
    """
    import pandas as pd

    from sequin_spark.sinks.base import create_sink

    def probe(batches):
        import os
        import zipimport

        assert create_sink is not None
        state = getattr(zipimport, "_read_probe", None)
        warmed = state is not None
        if not warmed:
            state = zipimport._read_probe = {"calls": 0, "seen": 0}
            real = zipimport._read_directory

            def counting(archive):
                state["calls"] += 1
                return real(archive)

            zipimport._read_directory = counting
        reads = state["calls"] - state["seen"]
        for _ in batches:
            pass
        state["seen"] = state["calls"]
        yield pd.DataFrame({
            "pid": [os.getpid()], "warmed": [warmed], "reads": [reads],
            "fixed": [getattr(zipimport.zipimporter.invalidate_caches,
                              "_reads_changed_only", False)],
        })

    df = spark.range(0, 800, numPartitions=8)
    schema = "pid long, warmed boolean, reads long, fixed boolean"
    for _ in range(2):  # warm up every worker the pool hands out
        df.mapInPandas(probe, schema).collect()
    # a task the pool hands a fresh worker has nothing to report; retry
    # until one action ran wholly on warmed workers (the first, normally)
    for _ in range(3):
        rows = df.mapInPandas(probe, schema).collect()
        assert len(rows) == 8
        assert all(r.fixed for r in rows), rows
        assert [r.reads for r in rows if r.warmed] == [0] * sum(r.warmed for r in rows), rows
        if all(r.warmed for r in rows):
            break
    assert all(r.warmed for r in rows), rows
