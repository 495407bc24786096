"""Zip-free Python workers (`dsacord_spark._worker_daemon`).

`session.get_spark` runs local workers through a daemon that imports
`pyspark` from site-packages instead of `pyspark.zip`, and keeps the
stock `pyspark.daemon` where a worker could not import this package;
the daemon keeps Spark's path when the workers' pyspark differs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from dsacord_spark import _worker_daemon, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_worker_imports_pyspark_outside_zip(spark):
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "dsacord_spark._worker_daemon"
    )

    def origin(batches):
        import zipimport

        import pyarrow as pa
        import pyspark

        zip_importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        info = json.dumps([pyspark.__file__, zip_importers])
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"info": info}])

    rows = spark.range(4, numPartitions=2).mapInArrow(origin, "info string").collect()
    assert len(rows) == 2
    for row in rows:
        pyspark_file, zip_importers = json.loads(row.info)
        assert ".zip" not in pyspark_file and ".jar" not in pyspark_file
        assert zip_importers == 0


def test_python_worker_keeps_user_zip_on_path(spark, tmp_path, monkeypatch):
    # only Spark's own entries leave the worker path: a dependency zip on
    # PYTHONPATH stays importable (sc.environment reaches the workers'
    # PYTHONPATH and starts a daemon of its own)
    user_zip = tmp_path / "deps.zip"
    with zipfile.ZipFile(user_zip, "w") as zf:
        zf.writestr("dsacord_probe_dep.py", "VALUE = 7\n")

    def origin(batches):
        import dsacord_probe_dep
        import pyarrow as pa
        import pyspark

        info = json.dumps([pyspark.__file__, dsacord_probe_dep.VALUE])
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"info": info}])

    monkeypatch.setitem(spark.sparkContext.environment, "PYTHONPATH", str(user_zip))
    rows = spark.range(2, numPartitions=1).mapInArrow(origin, "info string").collect()
    pyspark_file, value = json.loads(rows[0].info)
    assert ".zip" not in pyspark_file and value == 7


def _fake_spark(tmp_path, zip_version: str, site_version: str | None):
    """A Spark-like PYTHONPATH (pyspark.zip, py4j zip, spark-core jar)
    plus a user zip, and a worker sys.path that also holds a site dir
    with `site_version`'s pyspark (none if None)."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{zip_version}"\n')
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    zipfile.ZipFile(py4j_zip, "w").close()
    core_jar = tmp_path / "spark" / "jars" / "spark-core_2.13-9.9.9.jar"
    user_zip = tmp_path / "deps.zip"
    zipfile.ZipFile(user_zip, "w").close()
    site_dir = tmp_path / "site"
    (site_dir / "pyspark").mkdir(parents=True)
    if site_version is not None:
        (site_dir / "pyspark" / "__init__.py").write_text("")
        (site_dir / "pyspark" / "version.py").write_text(
            f'__version__ = "{site_version}"\n'
        )
    entries = [str(p) for p in (pyspark_zip, py4j_zip, core_jar, user_zip)]
    path = [str(tmp_path)] + entries + [str(site_dir)]
    return path, os.pathsep.join(entries)


def test_daemon_strips_only_spark_entries_on_matching_version(tmp_path):
    path, pythonpath = _fake_spark(tmp_path, "9.9.9", "9.9.9")
    assert _worker_daemon.worker_path(path, pythonpath) == [
        path[0], str(tmp_path / "deps.zip"), path[-1],
    ]


def test_daemon_keeps_spark_path_on_version_mismatch(tmp_path):
    path, pythonpath = _fake_spark(tmp_path, "9.9.9", "9.9.8")
    assert _worker_daemon.worker_path(path, pythonpath) is path


def test_daemon_keeps_spark_path_without_outside_pyspark(tmp_path):
    path, pythonpath = _fake_spark(tmp_path, "9.9.9", None)
    assert _worker_daemon.worker_path(path, pythonpath) is path
    # and with no pyspark.zip to compare against
    assert _worker_daemon.worker_path(path, pythonpath.split(os.pathsep, 1)[1]) is path


def test_guard_needs_local_master_and_importable_package(monkeypatch, tmp_path):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.delenv("PYTHONSAFEPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert session._zip_free_workers_ok("local[2]")
    assert not session._zip_free_workers_ok("spark://host:7077")
    monkeypatch.chdir(tmp_path)
    assert not session._zip_free_workers_ok("local[2]")
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert session._zip_free_workers_ok("local[2]")


_OUTSIDE_DRIVER = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from dsacord_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
daemon = spark.sparkContext.getConf().get(
    "spark.python.daemon.module", "pyspark.daemon"
)
plus_one = F.udf(lambda x: x + 1, "long")
total = spark.range(3).select(plus_one("id").alias("y")).agg(F.sum("y")).first()[0]
print("RESULT", daemon, total)
spark.stop()
"""


def test_session_outside_checkout_runs_python_udf(tmp_path):
    # the driver imports the package via its own sys.path only: neither
    # the cwd nor PYTHONPATH gives it to the workers, so the importability
    # guard must keep the stock daemon
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    res = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_DRIVER, REPO],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-4000:]
    assert "RESULT pyspark.daemon 6" in res.stdout
