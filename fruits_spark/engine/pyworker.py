"""Python worker daemon without Spark's archives on ``sys.path``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and on Python 3.11 that makes each cached ``zipimporter`` re-read
its archive's whole central directory: pyspark.zip, the py4j zip and the
spark-core jar, which the JVM puts on the worker path.  When ``pyspark``
and ``py4j`` also resolve from a directory at the archive's version,
this daemon drops the archives before forking workers; otherwise it runs
the stock daemon unchanged.  Every worker forks from this process and
inherits what it imported, so it must stay import-light, and nothing
here may import pyspark before the path is filtered (pyspark would then
load, and keep loading its submodules, from the archive).

    spark.python.daemon.module = fruits_spark.engine.pyworker
"""

import importlib.machinery
import sys
import zipimport

_ARCHIVES = (".zip", ".jar")


def _version(pkg, path):
    """``pkg.__version__`` as written in the copy ``path`` resolves, or
    None when ``path`` has no copy with a version module."""
    finder = importlib.machinery.PathFinder
    spec = finder.find_spec(pkg, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    vspec = finder.find_spec(pkg + ".version",
                             spec.submodule_search_locations)
    src = vspec and vspec.loader.get_source(vspec.name)
    for line in (src or "").splitlines():
        if line.startswith("__version__"):
            return line.split("=", 1)[1].strip().strip("'\"")
    return None


def archive_free_path(path):
    """``path`` without its .zip/.jar entries when pyspark and py4j
    resolve from what is left at the version ``path`` itself resolves;
    otherwise ``path`` unchanged."""
    kept = [p for p in path if not p.endswith(_ARCHIVES)]
    for pkg in ("pyspark", "py4j"):
        v = _version(pkg, kept)
        if v is None or v != _version(pkg, path):
            return list(path)
    return kept


def drop_archives():
    """Filter ``sys.path`` in place and forget every cached
    ``zipimporter``, so no task re-reads an archive directory."""
    path = archive_free_path(sys.path)
    if path == sys.path:
        return
    sys.path[:] = path
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_archives()
    from pyspark import daemon

    daemon.manager()
