"""PySpark worker daemon with a lean import path.

``webextract.session.get_spark`` names this module in
``spark.python.daemon.module`` for local masters. Spark then starts it
as ``python -m webextract_daemon pyspark.worker``, and every Python
worker is forked from it, inheriting its ``sys.path``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task. On CPython 3.11 that re-reads the central directory of
every zip or jar importer on the path: the spark-core jar Spark puts on
the worker path (thousands of entries and no Python) and Spark's
``pyspark.zip`` (once per cached sub-package importer). Before the
daemon first imports ``pyspark``, this module drops:

* the spark-core jar, always;
* Spark's ``pyspark.zip`` and ``py4j-*.zip``, only when both packages
  import from a plain directory on the remaining path (the pip install
  the application process already imports).

No other path entry is touched. The module lives outside the
``webextract`` package because that package's ``__init__`` imports
``pyspark``, which would happen before the path could be pruned.
"""

from __future__ import annotations

import fnmatch
import os
import sys
from importlib.machinery import PathFinder

SPARK_JAR = ("spark-core*.jar",)
SPARK_ZIPS = ("pyspark.zip", "py4j-*.zip")
PACKAGES = ("pyspark", "py4j")


def _matches(entry: str, patterns) -> bool:
    name = os.path.basename(entry.rstrip(os.sep))
    return any(fnmatch.fnmatchcase(name, p) for p in patterns)


def _imports_from_directory(package: str, path: list[str]) -> bool:
    spec = PathFinder.find_spec(package, path)
    return bool(spec and spec.origin and os.path.isfile(spec.origin))


def prune_worker_path(path: list[str]) -> list[str]:
    """``path`` without the entries named in the module docstring."""
    kept = [p for p in path if not _matches(p, SPARK_JAR)]
    lean = [p for p in kept if not _matches(p, SPARK_ZIPS)]
    if all(_imports_from_directory(pkg, lean) for pkg in PACKAGES):
        return lean
    return kept


def main() -> None:
    kept = prune_worker_path(sys.path)
    dropped = set(sys.path) - set(kept)
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
