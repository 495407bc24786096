"""Isolate the ingest_e2e phases with noop sinks (guide §1.4).

Phases, each timed separately over the same bench fixture (cumulative
prefixes of the real dataflow, so phase N - phase N-1 ~= the Nth
operator's cost):
  A  binaryFile scan + mapInArrow extract        -> noop
  B  A + decisions_transform (typed select)       -> noop
  C  B + split_quarantine valid-side filter       -> noop
  D  C + dedup_batch window                       -> noop
  E  full write_decisions_parquet (real sink) + count (the bench action)

After the timings it prints the lake phase E wrote: its file count, data
files per day and bytes per row, so the file layout can be read next to
the write time it costs.

Run on an idle host: python scripts/ingest_phase_timing.py [reps]
"""

from __future__ import annotations

import os
import sys
import time


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _build_ingest_fixture, _reset_session_state
    import tempfile

    from dsacord_spark.session import get_spark
    from dsacord_spark.sinks.jdbc import dedup_batch
    from dsacord_spark.sinks.parquet import write_decisions_parquet
    from dsacord_spark.sources.zipsource import read_staged_zips
    from dsacord_spark.transform import decisions_transform, split_quarantine

    spark = get_spark(app_name="ingest-phases", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    work = tempfile.mkdtemp(prefix="ingest-phase-")
    landing = os.path.join(work, "landing")
    days = min(cpus, 32)
    rows = _build_ingest_fixture(landing, days, 28125)
    os.sync()
    print(f"fixture rows={rows}")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def phase_a(out):
        noop(read_staged_zips(spark, landing))

    def phase_b(out):
        noop(decisions_transform(read_staged_zips(spark, landing)))

    def phase_c(out):
        valid, _ = split_quarantine(
            decisions_transform(read_staged_zips(spark, landing)))
        noop(valid)

    def phase_d(out):
        valid, _ = split_quarantine(
            decisions_transform(read_staged_zips(spark, landing)))
        noop(dedup_batch(valid))

    def phase_e(out):
        valid, _ = split_quarantine(
            decisions_transform(read_staged_zips(spark, landing)))
        write_decisions_parquet(
            dedup_batch(valid), out, mode="overwrite", days=days
        )
        return spark.read.parquet(out).count()

    phases = [("A extract", phase_a), ("B +transform", phase_b),
              ("C +filter", phase_c), ("D +dedup", phase_d),
              ("E full+write+count", phase_e)]
    # warm one full pass first
    phase_e(os.path.join(work, "warm_out"))
    results = {}
    lake = {}
    for r in range(reps):
        for name, fn in phases:
            _reset_session_state(spark)
            spark.sparkContext.setJobDescription(f"phase {name} rep {r}")
            out = os.path.join(work, f"out_{r}")
            t0 = time.perf_counter()
            n = fn(out)
            dt = time.perf_counter() - t0
            if fn is phase_e:
                lake = {"rows": n, "files": 0, "bytes": 0}
                for d, _, names in os.walk(out):
                    for f in names:
                        if f.endswith(".parquet"):
                            lake["files"] += 1
                            lake["bytes"] += os.path.getsize(os.path.join(d, f))
            results.setdefault(name, []).append(round(dt, 2))
            _reset_session_state(spark)
            os.sync()
    for name, ts in results.items():
        print(f"{name:22s} min={min(ts):6.2f} all={ts}")
    print(
        f"E lake: rows={lake['rows']} files={lake['files']} "
        f"files/day={lake['files'] / days:.2f} "
        f"bytes/row={lake['bytes'] / max(1, lake['rows']):.1f}"
    )
    import shutil

    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
