"""PySpark worker daemon that imports `pyspark` from site-packages.

Spark puts `pyspark.zip`, the py4j zip and the spark-core jar at the
head of every Python worker's `PYTHONPATH`. Each task's
`worker_util.setup_spark_files` calls `importlib.invalidate_caches()`,
which makes every zip importer on the path re-read its directory, and
modules imported from the zips are compiled again in every forked
worker. This module drops those three entries (and only those: a user
zip on `PYTHONPATH` stays) when the `pyspark` left on the path is the
version inside Spark's `pyspark.zip`, checked in the interpreter that
runs the workers; otherwise the path stays as Spark built it. It then
runs the stock `pyspark.daemon`, whose forked workers inherit the path.
Stdlib only until `pyspark.daemon` runs.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipimport
from importlib.machinery import PathFinder

_VERSION_ASSIGN = re.compile(rb"""__version__(?::\s*str)?\s*=\s*["']([^"']+)["']""")


def _is_spark_entry(path: str) -> bool:
    name = os.path.basename(path)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _version(source: bytes) -> str | None:
    m = _VERSION_ASSIGN.search(source)
    return m.group(1).decode() if m else None


def _zip_version(entries: list[str]) -> str | None:
    """Version of the pyspark inside Spark's `pyspark.zip`."""
    for p in entries:
        if os.path.basename(p) == "pyspark.zip":
            try:
                return _version(zipimport.zipimporter(p).get_data("pyspark/version.py"))
            except (ImportError, OSError):
                return None
    return None


def _path_version(path: list[str]) -> str | None:
    """Version of the pyspark that `path` imports, if any."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py, "rb") as f:
            return _version(f.read())
    except OSError:
        return None


def worker_path(path: list[str], pythonpath: str) -> list[str]:
    """`path` without Spark's own `PYTHONPATH` entries when the pyspark
    left on it matches the one in `pyspark.zip`, else `path` itself."""
    spark = [p for p in pythonpath.split(os.pathsep) if _is_spark_entry(p)]
    kept = [p for p in path if p not in spark]
    version = _zip_version(spark)
    if kept == path or version is None or _path_version(kept) != version:
        return path
    return kept


if __name__ == "__main__":
    path = worker_path(sys.path, os.environ.get("PYTHONPATH", ""))
    if path is not sys.path:
        dropped = [p for p in sys.path if p not in path]
        prefixes = tuple(p + os.sep for p in dropped)
        for key in list(sys.path_importer_cache):
            if key in dropped or key.startswith(prefixes):
                del sys.path_importer_cache[key]
        sys.path[:] = path
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
