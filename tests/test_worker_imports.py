"""The worker-side ``importlib.invalidate_caches`` wrapper
(``osm_lib_spark._keep_unchanged_zip_caches``): unchanged zip archives
are not re-read, new or rewritten ones and plain directories are, and
the driver's function is left alone."""

import importlib
import os
import sys
import uuid
import zipfile

import pyarrow as pa
import pytest

import osm_lib_spark


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def _install_as_worker(monkeypatch):
    """Install the wrapper in this process as a worker would; the
    original ``invalidate_caches`` comes back after the test."""
    from pyspark import TaskContext

    monkeypatch.setattr(importlib, "invalidate_caches", importlib.invalidate_caches)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    osm_lib_spark._keep_unchanged_zip_caches()
    assert hasattr(importlib.invalidate_caches, "seen")


def test_driver_invalidate_caches_untouched():
    assert importlib.invalidate_caches.__module__ == "importlib"
    assert not hasattr(importlib.invalidate_caches, "seen")


def test_wrapper_skips_only_unchanged_archives(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    old, new, plain = f"zold_{tag}", f"znew_{tag}", f"zplain_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {f"{old}.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.syspath_prepend(str(tmp_path / "dir"))
    (tmp_path / "dir").mkdir()
    monkeypatch.delitem(sys.modules, old, raising=False)
    assert importlib.import_module(old).VALUE == 1
    importer = sys.path_importer_cache[archive]

    _install_as_worker(monkeypatch)  # after the import, as in a worker's first engine task

    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files  # unchanged archive: not re-read

    st = os.stat(archive)
    _write_zip(archive, {f"{old}.py": "VALUE = 2\n", f"{new}.py": "VALUE = 3\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importer._files is not files  # rewritten archive: re-read
    assert importlib.import_module(new).VALUE == 3
    monkeypatch.delitem(sys.modules, new)
    monkeypatch.delitem(sys.modules, old)
    assert importlib.import_module(old).VALUE == 2

    # a plain directory's FileFinder is still invalidated: the new file
    # leaves the directory's mtime as it was, so only that finds it
    st = os.stat(tmp_path / "dir")
    (tmp_path / "dir" / f"{plain}.py").write_text("VALUE = 4\n")
    os.utime(tmp_path / "dir", ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert importlib.import_module(plain).VALUE == 4
    monkeypatch.delitem(sys.modules, plain)


def _map_tasks(spark, fn, ddl, n=4):
    """``fn()`` run once in each of ``n`` Python-worker tasks; its dicts
    as rows of ``ddl``."""
    df = spark.range(n, numPartitions=n)

    def run(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pylist([fn()])

    return [r.asDict() for r in df.mapInArrow(run, ddl).collect()]


def test_warm_workers_keep_pyspark_zip_directories(spark):
    """After a first engine task, later tasks in the same workers run
    the wrapper and leave the pyspark.zip importers' directories as
    they were (the same ``_files`` object across tasks)."""

    def report():
        import importlib
        import os
        import sys
        import zipimport

        import osm_lib_spark  # noqa: F401  (as every engine UDF does)

        zips = {p: f for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter) and f.archive.endswith("pyspark.zip")}
        held = sys.__dict__.setdefault("_zip_files_probe", {})
        compared = [p for p in zips if p in held]
        same = sum(zips[p]._files is held[p] for p in compared)
        held.update({p: f._files for p, f in zips.items()})
        return {"pid": os.getpid(), "wrapped": hasattr(importlib.invalidate_caches, "seen"),
                "zips": len(zips), "compared": len(compared), "same": same}

    ddl = "pid long, wrapped boolean, zips long, compared long, same long"
    rows = [r for _ in range(4) for r in _map_tasks(spark, report, ddl)]
    assert all(r["wrapped"] and r["zips"] for r in rows)
    later = [r for r in rows if r["compared"]]
    assert later, "no worker ran two report tasks"
    assert all(r["same"] == r["compared"] for r in later), later


def test_py_file_added_to_warm_workers_imports(spark, tmp_path):
    """A zip sent with ``addPyFile`` after the workers are warm (and
    wrapped) imports inside a UDF."""
    tag = uuid.uuid4().hex[:8]

    def warm():
        import importlib

        import osm_lib_spark  # noqa: F401

        return {"wrapped": hasattr(importlib.invalidate_caches, "seen")}

    assert all(r["wrapped"] for r in _map_tasks(spark, warm, "wrapped boolean"))
    name = f"late_{tag}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def late():
        import importlib

        return {"value": importlib.import_module(name).VALUE}

    assert [r["value"] for r in _map_tasks(spark, late, "value long")] == [42] * 4
