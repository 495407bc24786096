"""Host fit for one benchmark run: a private run directory inside the
checkout, a Spark session sized to this machine, a peak-RSS sampler over
the Spark process tree, and the between-operation hygiene (drain the
ContextCleaner, flush writeback) that keeps one operation's leftovers out
of the next one's timed window, and the shutdown that ends every process
the run started before it exits."""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import threading
import time


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def driver_heap_mb() -> int:
    """Driver heap from MemTotal (not MemAvailable, which moves with
    co-tenants and would make the heap, and so peak RSS, vary run to run):
    a sixteenth of RAM, clamped to 768 MiB - 2 GiB. The workloads' working
    sets fit well inside it, and a heap the young generation cycles
    through completely early in the run keeps peak RSS from depending on
    when the collector happens to expand the heap."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(768, min(2048, total_mb // 16))
    return 1024


def descendants() -> list[int]:
    """Pids of every live process below this one, zombies included."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        parent[int(name)] = int(stat[stat.rfind(")") + 2:].split()[1])
    me = os.getpid()
    out = []
    for pid in parent:
        p = parent[pid]
        while p and p != me and p in parent:
            p = parent[p]
        if p == me:
            out.append(pid)
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of its subtree (Linux
    PR_SET_CHILD_SUBREAPER), so a Python worker whose parent JVM has
    exited is re-parented here, where `descendants` still finds it and
    `stop_processes` can wait for it, rather than to init. SIGTERM is
    turned into SystemExit so the run's cleanup still runs."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, _exit_on_term)


def _exit_on_term(signum, frame) -> None:
    raise SystemExit(128 + signum)


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop the Spark session, if one started, and every process started
    under this one, and return only once each has ended and been reaped.

    `SparkSession.stop()` leaves the py4j gateway JVM running until it
    reads EOF on its stdin, which would otherwise come only when this
    interpreter exits, and the JVM then takes a while to shut down after
    the run has printed its result. Here its stdin is closed and the JVM
    waited for; anything still left (Python workers) gets SIGTERM, and
    SIGKILL once `timeout_s` has passed. A SIGTERM arriving meanwhile is
    ignored, so it cannot cut the shutdown short."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the processes are stopped below
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reap every child that has exited
        except ChildProcessError:
            pass  # no children left
        left = descendants()
        if not left:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


class RssSampler:
    """Samples the resident memory of every descendant process of this one
    (the Spark driver JVM and its Python workers) and keeps the peak of
    their sum. Each process counts its proportional set size, so pages
    shared between processes (forked Python workers, or the JVM in the
    instant between a fork and an exec) count once, not once per sharer.
    The benchmark's own interpreter, which holds the generated inputs, is
    not counted."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_tree: list[int] = []  # per-process MiB at the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) << 10
        except OSError:
            pass  # exited since the walk
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = [self._pss(pid) for pid in descendants()]
            if sum(tree) > self.peak_bytes:
                self.peak_bytes = sum(tree)
                self.peak_tree = sorted((v >> 20 for v in tree), reverse=True)
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


class RunDir:
    """`.perfbench_run/<workload>-<pid>` under the checkout root, removed
    on exit; Spark's local dirs, warehouse, JVM and Python temp files all
    land inside it."""

    def __init__(self, root: str, workload: str):
        self.path = os.path.join(root, ".perfbench_run", f"{workload}-{os.getpid()}")

    def __enter__(self) -> "RunDir":
        os.makedirs(self.path)
        for sub in ("local", "tmp", "warehouse", "data"):
            os.makedirs(self.sub(sub))
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["TMPDIR"] = self.sub("tmp")
        import tempfile

        tempfile.tempdir = self.sub("tmp")
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run still uses it

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)


def start_session(run_dir: RunDir, cpus: int):
    """The program's own session factory, pointed at this run's dirs and
    sized to this host."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from dsacord_spark.session import get_spark

    tmp = run_dir.sub("tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
            "spark.local.dir": run_dir.sub("local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def settle(spark, timeout_s: float = 10.0) -> None:
    """Outside any timed window: drop cached blocks, force a JVM GC, wait
    until the async ContextCleaner stops deleting shuffle files, then
    flush dirty pages so writeback is not billed to the next operation."""
    spark.catalog.clearCache()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    dirs = jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager().localDirs()
    paths = [dirs[i].getAbsolutePath() for i in range(len(dirs))]

    def count() -> int:
        return sum(len(files) for p in paths for _, _, files in os.walk(p))

    prev = count()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        time.sleep(0.1)
        cur = count()
        if cur >= prev:
            break
        prev = cur
    os.sync()


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of `suffix` files under `path`."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
