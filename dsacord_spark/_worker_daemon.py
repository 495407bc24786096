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
Stdlib only until the preload below.

Before it hands over, the daemon imports the worker-side Arrow stack
once (`PRELOAD`), runs `gc.collect()` and then `gc.freeze()`. Every
forked worker shares those pages copy-on-write instead of importing its
own copy after the fork, and the frozen objects are never traversed by
the collector, so a worker's collections do not dirty the shared pages.
The list comes from diffing a worker's `sys.modules` around its first
extraction task: the daemon already holds numpy, `pyspark.worker` and
`pyspark.sql.pandas.serializers` (`pyspark.daemon` imports them), and
the task added 358 modules: pandas (296), pyarrow with its `csv`,
`compute` and `pandas_compat` modules, dateutil, pytz and the extraction
kernel. With the preload in place it adds 8, all small
(`concurrent.futures`, two codecs, `pyarrow.vendored.version`). A module
that fails to import is skipped; the daemon starts either way, on the
zip-free path and on Spark's own. The preload costs the daemon about
0.4 s once, before its first fork. Measured on perfbench
`ingest_backfill` (local[4], 4 CPUs / 15 GB, 10 pairs): at the peak each
of the three workers went from 70-83 MB PSS (beside a 27 MB daemon) to
36-58 MB for any of the four processes, the Python part of the tree
from a median 257 to 181 MB, and `peak_rss_mb` from a median 1610 to
1532 MB (-4.8%). A prototype without the freeze and the kernel import
left that part of the tree at 222-235 MB.

Fork safety: after the preload the daemon runs 5 threads (3 OpenBLAS
threads from numpy, which the stock daemon already starts, and
pyarrow's jemalloc background thread). Both libraries register
`pthread_atfork` handlers; this is the state of gunicorn `--preload` or
of a fork-start multiprocessing pool after numpy, and a one-fork-per-task
stress test of pyarrow CSV parses and numpy matmuls pins it
(tests/test_worker_daemon.py).
"""

from __future__ import annotations

import gc
import importlib
import os
import re
import runpy
import sys
import traceback
import zipimport
from importlib.machinery import PathFinder

# the modules a worker's first extraction task imports, beyond what
# pyspark.daemon already holds (the two pyspark entries are imported by
# the daemon anyway and are listed so the stack is complete on its own)
PRELOAD = (
    "pyarrow",
    "pyarrow.csv",
    "pyarrow.compute",
    "pandas",
    "pyarrow.pandas_compat",
    "pyspark.worker",
    "pyspark.sql.pandas.serializers",
    "dsacord_spark.sources.zipsource",
)

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


def preload(modules: tuple[str, ...] = PRELOAD) -> list[str]:
    """Import each of `modules`, skipping any that fails (its traceback
    goes to stderr, never to stdout, where Spark reads the daemon's
    port), then collect and freeze the heap for the workers to share.
    Returns the names that imported."""
    loaded = []
    for name in modules:
        try:
            importlib.import_module(name)
        except Exception:  # noqa: BLE001 - best effort: a worker imports it itself
            print(f"worker daemon: preload of {name} skipped", file=sys.stderr)
            traceback.print_exc()
            continue
        loaded.append(name)
    gc.collect()
    gc.freeze()
    return loaded


if __name__ == "__main__":
    path = worker_path(sys.path, os.environ.get("PYTHONPATH", ""))
    if path is not sys.path:
        dropped = [p for p in sys.path if p not in path]
        prefixes = tuple(p + os.sep for p in dropped)
        for key in list(sys.path_importer_cache):
            if key in dropped or key.startswith(prefixes):
                del sys.path_importer_cache[key]
        sys.path[:] = path
    preload()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
