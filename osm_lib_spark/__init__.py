"""osm_lib_spark — a PySpark-native spatial analytics engine.

A brand-new engine (NOT a port) reproducing the query semantics of
conveyal/osm-lib — bounding-box tile extracts, way→node resolution,
relation closure, intersection detection, format round-trips — as
DataFrame / Catalyst operations over tables of interleaved text+media
documents, plus the large-scale training-data operators (dedup,
similarity search, text analysis) such a corpus engine needs.

Reference semantics are cited per-function as ``file:line`` into the
reference checkout (read-only, at /root/reference).

Layout:
  functions/   scalar/column function library (tags, tiles, geo)
  sources/     span codec (docs <-> entities), synthetic world generator
  operators/   extract, intersections, indexes, knn, pip, dedup, similarity, text
  plans/       lineage / checkpoint-resume layer
  streaming/   incremental change application (OSC-style merge)
"""

__version__ = "0.1.0"


def _keep_unchanged_zip_caches() -> None:
    """In a PySpark worker, leave unchanged zip archives out of
    ``importlib.invalidate_caches``; elsewhere do nothing.

    Every task's ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and in CPython 3.11 that makes
    each ``zipimporter`` re-read its whole archive directory: 16
    importers over the 1,328 entries of ``pyspark.zip`` in an engine
    worker, ~0.2 CPU-s a task. With warm workers on a 4 vCPU host, a
    no-op ``mapInArrow`` cost 0.62-0.94 Python-worker CPU-s over 4
    tasks and 1.94-2.61 over 12; with this wrapper 0.06-0.08 and
    0.17-0.26. It skips every zipimporter whose archive's
    ``(st_mtime_ns, st_size)`` is what the worker saw when it last read
    it; FileFinders, namespace paths and new or rewritten archives
    (``addPyFile``, ``SparkFiles``) are invalidated as before. Workers
    are reused, so it holds for every later task of the worker, engine
    or not. Workers run one task at a time, so holding the skipped
    importers out of ``sys.path_importer_cache`` races no import.
    """
    import importlib
    import os
    import sys
    import zipimport

    from pyspark import TaskContext

    if TaskContext.get() is None or hasattr(importlib.invalidate_caches, "seen"):
        return
    invalidate = importlib.invalidate_caches

    def archive_sigs():
        sigs = {}
        for path, finder in sys.path_importer_cache.items():
            if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path):
                try:
                    st = os.stat(finder.archive)
                    sigs[finder.archive] = (st.st_mtime_ns, st.st_size)
                except OSError:
                    sigs[finder.archive] = None
        return sigs

    def invalidate_caches():
        sigs = archive_sigs()
        held = {p: f for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter) and os.path.isabs(p)
                and sigs[f.archive] is not None and seen.get(f.archive) == sigs[f.archive]}
        for p in held:
            del sys.path_importer_cache[p]
        try:
            invalidate()
        finally:
            sys.path_importer_cache.update(held)
        seen.update(sigs)

    seen = archive_sigs()
    invalidate_caches.seen = seen
    importlib.invalidate_caches = invalidate_caches


_keep_unchanged_zip_caches()
