"""In-process lease registry coordinating index MAINTENANCE with live
streaming probes (r10 verdict item 4 / PLANS.md backlog).

The streaming probes (stream_probe_hamming_index / _minhash_index /
_ivf_index) run the batch probe on every micro-batch, which resolves
the CURRENT index files and reads them. compact_index rewrites those
files; run concurrently from another thread it can delete files an
in-flight probe plan still references. The registry makes that
interleaving explicit:

- a stream probe holds a lease on its index base name for the stream's
  lifetime;
- the probe marks the lease "at boundary" while its on_batch_start hook
  runs — the one point where no probe plan is in flight and a SYNCHRONOUS
  compaction completes before the next batch's plan is built, so
  maintenance driven from the hook is safe by construction;
- compact_index refuses (raises) while any lease is live and NOT at a
  boundary, unless forced.

Scope: the REGISTRY leases are per-process (this driver) — they guard
the in-flight-plan race between threads of one driver. Cross-PROCESS
coordination (r12 verdict item 4: a second driver compacting the same
warehouse) is the job of `fs_maintenance_marker` below: a filesystem
claim file beside the guarded directory, atomically created
(FileSystem.createNewFile — exclusive on HDFS and local FS; on object
stores without atomic create it degrades to advisory), carrying
holder diagnostics (op, pid, host, claim time). The rewriting ops
(compact_index, build/append/retrain_ivf_index) take BOTH: registry
lease for in-process readers, marker for other drivers. The rename-
aside swap in sinks/parquet.compact_bucketed_table independently
guarantees the TABLE always exists; these guards close the narrower
live-file-list and double-append races.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

_LOCK = threading.Lock()
_LEASES: dict[str, list["_StreamLease"]] = {}
_MAINTENANCE: dict[str, int] = {}


class _StreamLease:
    __slots__ = ("table_name", "at_boundary")

    def __init__(self, table_name: str):
        self.table_name = table_name
        self.at_boundary = False


@contextmanager
def stream_lease(table_name: str):
    """Register a live streaming reader of index `table_name` (base name,
    not the per-suffix tables) for the duration of the with-block.
    Raises if a maintenance op is currently rewriting the index — a
    stream started mid-rewrite would plan batch 0 over files about to
    be deleted (the reverse direction of the compaction guard; both
    directions are decided under the one registry lock, so neither side
    can slip in between the other's check and registration)."""
    lease = _StreamLease(table_name)
    with _LOCK:
        if _MAINTENANCE.get(table_name):
            raise RuntimeError(
                f"cannot start a streaming probe of {table_name!r}: a "
                f"maintenance rewrite (compact_index) is in progress — "
                f"retry when it completes"
            )
        _LEASES.setdefault(table_name, []).append(lease)
    try:
        yield lease
    finally:
        with _LOCK:
            held = _LEASES.get(table_name, [])
            if lease in held:
                held.remove(lease)
            if not held:
                _LEASES.pop(table_name, None)


@contextmanager
def at_boundary(lease: "_StreamLease"):
    """Mark `lease` as sitting at a micro-batch boundary (no probe plan
    in flight) while the block runs — maintenance invoked inside it sees
    this lease as non-blocking."""
    lease.at_boundary = True
    try:
        yield
    finally:
        lease.at_boundary = False


def blocking_leases(table_name: str) -> int:
    """Number of live leases on `table_name` that are NOT currently at a
    batch boundary — the count that must be 0 for a file-rewriting
    maintenance op to proceed safely."""
    with _LOCK:
        return sum(
            1 for lease in _LEASES.get(table_name, ())
            if not lease.at_boundary
        )


@contextmanager
def maintenance_lease(table_name: str, force: bool = False):
    """Atomically claim `table_name` for a file-rewriting maintenance op
    (compact_index): under the ONE registry lock, verify no mid-batch
    stream lease exists (unless `force`) and mark maintenance active, so
    a stream starting after the check cannot race the rewrite — the
    check-then-rewrite TOCTOU the r11 review flagged. Mid-batch leases
    raise the refusal the caller turns into its diagnostic; leases AT a
    boundary (the on_batch_start hook window) do not block, and a
    stream attempting to START during the with-block is rejected by
    stream_lease."""
    with _LOCK:
        blocking = sum(
            1 for lease in _LEASES.get(table_name, ())
            if not lease.at_boundary
        )
        if blocking and not force:
            raise _MaintenanceBlocked(table_name, blocking)
        _MAINTENANCE[table_name] = _MAINTENANCE.get(table_name, 0) + 1
    try:
        yield
    finally:
        with _LOCK:
            n = _MAINTENANCE.get(table_name, 1) - 1
            if n <= 0:
                _MAINTENANCE.pop(table_name, None)
            else:
                _MAINTENANCE[table_name] = n


class _MaintenanceBlocked(RuntimeError):
    def __init__(self, table_name: str, n_blocking: int):
        self.table_name = table_name
        self.n_blocking = n_blocking
        super().__init__(
            f"{n_blocking} live streaming probe(s) hold a mid-batch "
            f"lease on {table_name!r}"
        )


class MaintenanceMarkerHeld(RuntimeError):
    """Another DRIVER holds the filesystem maintenance marker for this
    location. Carries the holder's self-description so the operator can
    decide: wait, investigate the named pid/host, or (if the holder is
    known dead) re-run with force=True / delete the marker file."""

    def __init__(self, base: str, holder: dict, age_s: float):
        self.base = base
        self.holder = holder
        self.age_s = age_s
        super().__init__(
            f"maintenance marker already held for {base!r}: "
            f"{holder.get('op', '?')} by pid {holder.get('pid', '?')}@"
            f"{holder.get('host', '?')}, claimed {age_s:.0f}s ago. "
            f"Another driver is rewriting this index; wait for it, or "
            f"if it crashed pass force=True (or delete "
            f"{_marker_path(base)}) to take over."
        )


def _marker_path(base: str) -> str:
    """The claim file lives BESIDE the guarded directory (the
    `__retrain`/`__old` sibling convention), never inside it: rename-
    aside swaps rename the directory itself mid-op, and a marker inside
    would vanish with it — opening the exact takeover window it
    exists to close."""
    return base.rstrip("/") + "__maintenance.json"


@contextmanager
def fs_maintenance_marker(
    spark,
    base: str,
    op: str,
    stale_after_s: float = 3600.0,
    force: bool = False,
):
    """Cross-PROCESS maintenance claim on the directory `base` (an index
    table location or an IVF lake path): atomically create the sibling
    marker file, write holder diagnostics into it, delete it on exit —
    success or raise. If the marker already exists: raise
    MaintenanceMarkerHeld while it is fresh; take it over once it is
    older than `stale_after_s` (the crash-recovery path — a driver that
    died mid-rewrite leaves its marker behind, and rename-aside keeps
    the data recoverable, so after the staleness window the next
    maintainer proceeds and the stale claim is replaced by its own).
    `force=True` takes over regardless of age. Two drivers racing the
    takeover are serialized by the same atomic create: exactly one
    createNewFile succeeds, the loser gets MaintenanceMarkerHeld.

    Staleness is judged from the marker FILE's modification time, never
    from its JSON payload (r12 review: an empty or half-written payload
    would read as epoch 0 -> "1970, stale" -> instant takeover of a
    marker another driver claimed microseconds ago; mtime is set by the
    same createNewFile that claimed it, so the unreadable-payload window
    is fresh by construction). While the with-block runs, a daemon
    heartbeat rewrites the payload every stale_after_s/4 (r12 review:
    without it, a legitimately long rewrite outlives its own staleness
    window and gets usurped mid-op) — so takeover happens only when the
    holder has been genuinely silent for the full window.

    This guards DRIVERS from each other; in-process readers are the
    registry leases' job — callers hold both."""
    import json
    import os
    import socket
    import time

    from dsacord_spark.hadoopfs import hadoop_read_text

    jvm = spark._jvm
    marker_str = _marker_path(base)
    marker = jvm.org.apache.hadoop.fs.Path(marker_str)
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())

    def read_holder() -> dict:
        try:
            return json.loads(hadoop_read_text(spark, marker_str))
        except Exception:
            return {}

    def marker_age_s() -> float:
        # mtime, refreshed by the holder's heartbeat writes
        return time.time() - fs.getFileStatus(
            marker
        ).getModificationTime() / 1000.0

    def write_holder() -> None:
        from dsacord_spark.hadoopfs import hadoop_write_text

        hadoop_write_text(spark, marker_str, json.dumps({
            "op": op,
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "epoch_s": time.time(),
        }))

    if force:
        fs.delete(marker, False)
    if not fs.createNewFile(marker):
        try:
            age = marker_age_s()
        except Exception:
            # the marker vanished between create and stat (holder just
            # released); one retry settles it
            if not fs.createNewFile(marker):
                raise MaintenanceMarkerHeld(base, read_holder(), 0.0)
            age = None
        if age is not None:
            if age <= stale_after_s:
                raise MaintenanceMarkerHeld(base, read_holder(), age)
            # stale claim: the holder has been silent past its heartbeat
            # window; take over. The delete+create pair is racy only
            # against another TAKEOVER, settled by createNewFile: one
            # winner.
            fs.delete(marker, False)
            if not fs.createNewFile(marker):
                raise MaintenanceMarkerHeld(base, read_holder(), 0.0)
    stop = threading.Event()

    def _heartbeat() -> None:
        while not stop.wait(max(stale_after_s / 4.0, 5.0)):
            try:
                write_holder()
            except Exception:
                pass  # best-effort; the next beat retries

    hb = threading.Thread(
        target=_heartbeat, name=f"marker-heartbeat-{op}", daemon=True
    )
    try:
        # only the claimant reaches this overwrite: every other driver's
        # createNewFile failed above
        write_holder()
        hb.start()
        yield
    finally:
        stop.set()
        if hb.ident is not None:  # started
            hb.join(timeout=5.0)
        fs.delete(marker, False)
