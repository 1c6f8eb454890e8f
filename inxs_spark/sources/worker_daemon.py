"""Spark Python-worker daemon that imports pyspark from a directory.

Spark starts its Python daemon with ``pyspark.zip``, the py4j source zip
and the spark-core jar at the front of ``PYTHONPATH``. Every task then
runs ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole directory (1.3k entries for the pyspark zip, once per pyspark
subpackage imported from it, and 5.4k for the jar). That was about
0.3 CPU-s of fixed cost per Python task on a 4-core box.

This module drops those archives from ``sys.path`` before pyspark is
imported, but only when ``pyspark`` and ``py4j`` then resolve from
directories and the directory pyspark has the archive's version (the
pip-installed package, or ``$SPARK_HOME/python``). Otherwise the path
stays as Spark built it. ``get_spark`` selects this module through
``spark.python.daemon.module``; the worker protocol is pyspark's own
``pyspark.daemon.manager``.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` minus Spark's archives when a directory pyspark whose
    ``version.py`` equals the archive's, and a directory py4j, are
    importable from the rest; otherwise ``path`` itself, unchanged."""
    try:
        archives = [p for p in path if _is_spark_archive(p)]
        zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
        if not zips:
            return path
        kept = [p for p in path if p not in archives]
        specs = [PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")]
        # a module found in an archive has an origin inside it, which
        # is not a file on disk
        if not all(s is not None and s.origin and os.path.isfile(s.origin)
                   for s in specs):
            return path
        with zipfile.ZipFile(zips[0]) as zf:
            want = zf.read("pyspark/version.py")
        with open(os.path.join(os.path.dirname(specs[0].origin),
                               "version.py"), "rb") as fh:
            have = fh.read()
    except Exception:
        return path
    return kept if want == have else path


def main() -> None:
    path = without_spark_archives(sys.path)
    if path is not sys.path:
        sys.path[:] = path
        sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
