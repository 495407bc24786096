"""Zip-free Python workers (`dsacord_spark._worker_daemon`).

`session.get_spark` runs local workers through a daemon that imports
`pyspark` from site-packages instead of `pyspark.zip`, and keeps the
stock `pyspark.daemon` where a worker could not import this package;
the daemon keeps Spark's path when the workers' pyspark differs. The
daemon imports the worker-side Arrow stack and freezes its heap before
the first fork, so the workers share those pages.
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


def test_worker_forks_from_frozen_preloaded_daemon(spark):
    def state(batches):
        # read before this function imports anything itself
        loaded = [
            m in sys.modules
            for m in ("pyarrow", "pandas", "dsacord_spark.sources.zipsource")
        ]
        import gc

        import pyarrow as pa

        info = json.dumps([gc.get_freeze_count(), loaded])
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"info": info}])

    rows = spark.range(4, numPartitions=2).mapInArrow(state, "info string").collect()
    assert len(rows) == 2
    for row in rows:
        frozen, loaded = json.loads(row.info)
        assert frozen > 0
        assert loaded == [True, True, True]


def test_daemon_on_spark_path_still_preloads(spark, tmp_path, monkeypatch):
    # a pyspark of another version behind Spark's entries makes the
    # daemon keep the path as Spark built it (pyspark from pyspark.zip);
    # it must still start, preload and freeze
    fake = tmp_path / "pyspark"
    fake.mkdir()
    (fake / "__init__.py").write_text("")
    (fake / "version.py").write_text('__version__ = "0.0.0"\n')

    def state(batches):
        import gc

        import pyarrow as pa
        import pyspark

        info = json.dumps([
            pyspark.__file__, gc.get_freeze_count(),
            "dsacord_spark.sources.zipsource" in sys.modules,
        ])
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"info": info}])

    monkeypatch.setitem(spark.sparkContext.environment, "PYTHONPATH", str(tmp_path))
    rows = spark.range(2, numPartitions=1).mapInArrow(state, "info string").collect()
    pyspark_file, frozen, kernel = json.loads(rows[0].info)
    assert "pyspark.zip" in pyspark_file
    assert frozen > 0 and kernel


def test_preload_skips_modules_that_fail(tmp_path):
    (tmp_path / "dsacord_broken_mod.py").write_text("raise RuntimeError('boom')\n")
    code = (
        "import gc, json, sys\n"
        f"sys.path.insert(0, {str(tmp_path)!r})\n"
        "from dsacord_spark import _worker_daemon as w\n"
        "got = w.preload(('json', 'dsacord_no_such_mod', 'dsacord_broken_mod', 'csv'))\n"
        "print(json.dumps([got, gc.get_freeze_count() > 0]))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120, cwd=REPO,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert json.loads(res.stdout.splitlines()[-1]) == [["json", "csv"], True]


_FORK_STRESS_DRIVER = r"""
import json
from dsacord_spark.session import get_spark

spark = get_spark(
    master="local[4]", shuffle_partitions=4,
    extra_conf={"spark.python.worker.reuse": "false"},
)
daemon = spark.sparkContext.getConf().get("spark.python.daemon.module")


def work(batches):
    import gc
    import io

    import numpy as np
    import pyarrow as pa
    from pyarrow import csv as pa_csv

    for batch in batches:
        out = []
        for i in batch.column(0).to_pylist():
            lines = ["a,b"] + [f"{i * j},{j}" for j in range(2000)]
            t = pa_csv.read_csv(io.BytesIO("\n".join(lines).encode()))
            a = (np.arange(256 * 256, dtype=np.float64).reshape(256, 256) + i) % 7
            out.append({
                "id": i,
                "csv_sum": sum(t.column("a").to_pylist()),
                "mm": int((a @ a).sum()),
                "frozen": gc.get_freeze_count() > 0,
            })
        yield pa.RecordBatch.from_pylist(out)


rows = (
    spark.range(40, numPartitions=40)
    .mapInArrow(work, "id long, csv_sum long, mm long, frozen boolean")
    .collect()
)
print("RESULT " + json.dumps(
    [daemon, sorted((r.id, r.csv_sum, r.mm, r.frozen) for r in rows)]
))
spark.stop()
"""


def test_one_fork_per_task_stress(tmp_path):
    # every task forks a fresh worker from the preloaded daemon (worker
    # reuse off), then parses a CSV with pyarrow's threaded reader and
    # runs a numpy matmul: a lock held across the fork would hang it
    import numpy as np

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", _FORK_STRESS_DRIVER],
        capture_output=True, text=True, timeout=420, cwd=REPO, env=env,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-4000:]
    line = [x for x in res.stdout.splitlines() if x.startswith("RESULT ")][-1]
    daemon, rows = json.loads(line[len("RESULT "):])
    assert daemon == "dsacord_spark._worker_daemon"
    want = []
    for i in range(40):
        a = (np.arange(256 * 256, dtype=np.float64).reshape(256, 256) + i) % 7
        want.append([i, i * sum(range(2000)), int((a @ a).sum()), True])
    assert rows == want


_CURATE_DRIVER = r"""
import json, os, random, sys
import pyarrow as pa, pyarrow.parquet as pq
from pyspark.sql import functions as F
from dsacord_spark.curate import (
    build_corpus_index, dedup_incremental, update_corpus_index,
)
from dsacord_spark.session import get_spark

tmp = sys.argv[1]
spark = get_spark(
    master="local[4]", shuffle_partitions=4,
    extra_conf={"spark.sql.warehouse.dir": os.path.join(tmp, "wh")},
)
jvm_pid = spark.sparkContext._gateway.proc.pid


def text(i):
    r = random.Random(i)
    return " ".join(f"w{r.randrange(5000)}" for _ in range(24))


def docs(name, pairs):
    # written by pyarrow and read by Spark: no Python rows in the plan
    path = os.path.join(tmp, name)
    ids, texts = zip(*pairs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": list(texts)}), path)
    return spark.read.parquet(path)


def python_workers():
    parent, cmd = {}, {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd[int(d)] = f.read().replace(b"\0", b" ").decode()
        except (OSError, ValueError):
            continue
        parent[int(d)] = int(st[st.rfind(")") + 2:].split()[1])

    def under_jvm(pid):
        while pid in parent and pid != jvm_pid:
            pid = parent[pid]
        return pid == jvm_pid

    return sorted(
        cmd[p] for p in cmd
        if p != jvm_pid and under_jvm(p)
        and ("pyspark.daemon" in cmd[p] or "_worker_daemon" in cmd[p])
    )


out = {}
for method in ("minhash", "simhash"):
    table = f"t_nowork_{method}"
    build_corpus_index(docs(f"{method}_corpus", [(i, text(i)) for i in range(30)]),
                       method, table)
    labels = []
    for b, planted in ((0, 3), (1, 1000)):
        base = 1000 + 100 * b
        batch = docs(f"{method}_b{b}",
                     [(base + i, text(base + i)) for i in range(6)]
                     + [(base + 50, text(planted))])
        got = sorted(
            (r["doc_id"], r["kept"], r["index_match_id"])
            for r in dedup_incremental(batch, method=method, index_table=table)
            .select("doc_id", "kept", "index_match_id").collect()
        )
        labels.append(got)
        update_corpus_index(
            batch.filter(F.col("doc_id").isin([d for d, k, _ in got if k])),
            method, table,
        )
    out[method] = labels
out["workers"] = python_workers()
# the detector sees a daemon once a Python task has run
spark.range(2).rdd.map(lambda r: r.id).collect()
out["workers_after_udf"] = python_workers()
print("RESULT " + json.dumps(out))
spark.stop()
"""


def test_curate_loop_starts_no_python_worker(tmp_path):
    # the index meta rows are local relations: a build, a probe and an
    # append run entirely in the JVM
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", _CURATE_DRIVER, str(tmp_path)],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-4000:]
    line = [x for x in res.stdout.splitlines() if x.startswith("RESULT ")][-1]
    out = json.loads(line[len("RESULT "):])
    assert out["workers"] == []
    assert any("_worker_daemon" in c for c in out["workers_after_udf"])
    for method in ("minhash", "simhash"):
        first, second = out[method]
        # fresh docs kept; the planted copy of corpus doc 3 matches it,
        # and the next day's copy of an appended doc matches that doc
        assert first == [[1000 + i, True, None] for i in range(6)] + [[1050, False, 3]]
        assert second == [[1100 + i, True, None] for i in range(6)] + [
            [1150, False, 1000]
        ], method


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
