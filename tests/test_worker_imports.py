"""Per-task import-cache cost of a Python worker.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. Importing the engine makes that call skip zip archives that have
not changed (``session.skip_unchanged_zip_rereads``), so a warm worker
does not re-read ``pyspark.zip`` and the spark-core jar on each task.
A regression shows as a fixed ~0.2 s of CPU on every Python task.
"""

import importlib
import sys
import zipfile
import zipimport

import mysteryann_spark  # noqa: F401  (installs the wrapper)


def _count_rereads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    size = (tmp_path / "mods.zip").stat().st_size
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        importlib.invalidate_caches()
        calls = _count_rereads(monkeypatch)
        importlib.invalidate_caches()
        assert calls == []

        _write_zip(archive, ["m1", "m2"])
        assert (tmp_path / "mods.zip").stat().st_size != size
        importlib.invalidate_caches()
        assert archive in calls
        assert importlib.import_module("m2").NAME == "m2"
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_warm_worker_skips_unchanged_zip_rereads(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import mysteryann_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        yield pd.DataFrame({"zips": [zips], "rereads": [len(calls)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "zips int, rereads int").collect()
    assert len(rows) == 1
    assert rows[0].zips >= 1, "no zipimporter in the worker: the check would be vacuous"
    assert rows[0].rereads == 0
