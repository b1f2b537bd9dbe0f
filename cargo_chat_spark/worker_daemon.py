"""Spark's Python worker daemon, run without Spark's archives on ``sys.path``.

Spark starts its Python workers as ``python -m <daemon module>
pyspark.worker``, with ``$SPARK_HOME/python/lib/pyspark.zip``, the
``py4j-*-src.zip`` and the spark-core jar in front of ``sys.path``. Every
task then calls ``importlib.invalidate_caches()``, which re-reads the whole
directory of each of those archives (see ``session.py``). Run as that daemon
module, this file drops the three archives when the interpreter has its own
``pyspark`` of the same version and its own ``py4j``, and then hands over to
``pyspark.daemon.manager()``. Otherwise ``sys.path`` stays as Spark set it.

It imports only the standard library: it runs before ``pyspark`` is
imported, so that ``pyspark`` is not loaded from the archive.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def prune(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, when the interpreter's own
    ``pyspark`` (with the same ``version.py`` as ``pyspark.zip``) and
    ``py4j`` are found on what is left; otherwise ``path`` unchanged."""
    archives = [
        p for p in path
        if any(fnmatch.fnmatch(os.path.basename(p), a) for a in SPARK_ARCHIVES)
    ]
    rest = [p for p in path if p not in archives]
    pyspark = PathFinder.find_spec("pyspark", rest)
    if (not archives or pyspark is None or not pyspark.submodule_search_locations
            or PathFinder.find_spec("py4j", rest) is None):
        return path
    version = os.path.join(pyspark.submodule_search_locations[0], "version.py")
    try:
        with open(version, "rb") as fh:
            mine = fh.read()
        for zip_path in archives:
            if os.path.basename(zip_path) == "pyspark.zip":
                with zipfile.ZipFile(zip_path) as zf:
                    if zf.read("pyspark/version.py") != mine:
                        return path
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest


if __name__ == "__main__":
    pruned = prune(sys.path)
    if pruned is not sys.path:
        sys.path[:] = pruned
        # the interpreter's start-up imports made importers for the archives
        sys.path_importer_cache.clear()
    from pyspark.daemon import manager

    manager()
