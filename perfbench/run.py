"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Generates the workload's inputs
from the seed, starts the program's Spark session on local[n] (n = the
CPUs this process may use, at most 4), runs the workload as a closed loop
with one client for S seconds of timed operations, checks every output,
and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end set; with --trace 1 the
same workload runs with spans around each layer and the metrics are the
per-layer set. Every process the run started (the Spark JVM and its
Python workers) has ended before the result is printed. A detail record
(per-operation walls, load average, any failed check) goes to stderr. Exits non-zero without a result line when
the program is not importable from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import core  # noqa: E402
import host  # noqa: E402

WORKLOADS = ("ingest_backfill", "curate_daily", "catalog_panel")


def _workload(name: str):
    if name == "ingest_backfill":
        import ingest

        return ingest.ingest_backfill
    if name == "curate_daily":
        import curate

        return curate.curate_daily
    import panel

    return panel.catalog_panel


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = os.getcwd()
    sys.path.insert(1, root)
    try:
        import dsacord_spark.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {root}: {exc}",
              file=sys.stderr)
        return 2

    from spans import Tracer

    started = time.perf_counter()
    cpus = min(4, host.cpu_count())
    load_start = core.load_avg()
    host.adopt_orphans()
    with host.RunDir(root, a.workload) as run_dir, host.RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            spark = host.start_session(run_dir, cpus)
            spark.range(1).count()
            session_s = time.perf_counter() - t0
            ctx = core.Context(spark, Tracer(spark, bool(a.trace)), a.seed,
                               a.seconds, bool(a.trace), run_dir,
                               os.path.join(root, ".perfbench_cache"))
            outcome = _workload(a.workload)(ctx, session_s)
        finally:
            host.stop_processes()
        peak_mb = rss.peak_mb
        peak_tree = rss.peak_tree

    failed = sum(not o.ok for o in outcome.ops)
    if a.trace:
        layers = dict.fromkeys((n for n, _ in core.PER_LAYER), 0.0)
        layers.update(outcome.layers)
        layers["session.start_s"] = session_s
        layers["trace.batch_p50_s"] = core.median_of(o.wall_s for o in outcome.ops)
        units = dict(core.PER_LAYER)
    else:
        layers = core.end_to_end(outcome, peak_mb)
        units = dict(core.END_TO_END)
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus,
        "load_avg_1m": [load_start, core.load_avg()],
        "session_s": session_s, "setup_s": outcome.setup_s,
        "window_s": sum(o.wall_s for o in outcome.ops),
        "run_wall_s": time.perf_counter() - started,
        "peak_rss_mb_by_process": peak_tree,
        "ops": [(o.kind, round(o.wall_s, 4), o.rows_in, o.rows_out, o.ok)
                for o in outcome.ops],
        "problems": outcome.problems[:20],
    }
    print("perfbench detail " + json.dumps(detail), file=sys.stderr)
    print(json.dumps({
        "correct": not outcome.problems and failed == 0,
        "attempted": len(outcome.ops),
        "failed": failed,
        "metrics": {k: {"value": float(layers[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
