"""What every workload shares: the run context, the closed loop, the
metric names, and the reduction of a run's operations to the reported
end-to-end metrics."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

# catalog_panel's entries and the catalog tables each one reads
PANEL = {
    "dedup_components": ("documents",),
    "orders_rfm_segments": ("orders",),
}

END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("batch_p50_s", "s"),
    ("docs_per_s", "1/s"),
    ("catalog_panel_s", "s"),
    ("lake_bytes_per_row", "B"),
    ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.stage_s", "s"),
    ("sources.extract_s", "s"),
    ("sources.extract_executor_ms", "ms"),
    ("sources.rows_out", "count"),
    ("transform.typed_s", "s"),
    ("transform.quarantined_rows", "count"),
    ("sinks.dedup_s", "s"),
    ("sinks.dedup_shuffle_bytes", "B"),
    ("sinks.dedup_spill_bytes", "B"),
    ("sinks.write_s", "s"),
    ("sinks.files", "count"),
    ("sinks.bytes", "B"),
    ("sinks.append_s", "s"),
    ("sinks.append_write_s", "s"),
    ("sinks.append_jobs", "count"),
    ("sinks.append_stages", "count"),
    ("sinks.append_yield", "ratio"),
    ("pipeline.run_s", "s"),
    ("pipeline.other_s", "s"),
    ("pipeline.jobs", "count"),
    ("curate.build_index_s", "s"),
    ("curate.plan_build_s", "s"),
    ("curate.label_write_s", "s"),
    ("curate.update_index_s", "s"),
    ("curate.jobs", "count"),
    ("curate.stages", "count"),
    ("curate.shuffle_bytes", "B"),
    ("curate.spill_bytes", "B"),
    ("operators.matches_vs_index", "count"),
    ("operators.dropped_within_batch", "count"),
    ("operators.planted_recall", "ratio"),
    ("operators.index_files", "count"),
    ("operators.index_bytes", "B"),
] + [
    (f"plans.{entry}.{m}", u)
    for entry in PANEL
    for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                 ("stages", "count"), ("shuffle_bytes", "B"))
] + [
    ("trace.batch_p50_s", "s"),
]


@dataclass
class Op:
    kind: str          # operation kind; catalog_panel_s sums one median per kind
    wall_s: float
    rows_in: int       # input records the operation consumed
    rows_out: int      # records the operation delivered to its output
    ok: bool = True


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    trace: bool
    run_dir: object
    cache_dir: str     # survives runs: derived results keyed by their inputs


@dataclass
class Outcome:
    setup_s: float
    ops: list[Op]
    bytes_per_row: float             # storage footprint of what the run wrote
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def closed_loop(seconds: float, step: Callable[[int], Op], min_ops: int,
                between: Callable[[], None], group: int = 1) -> list[Op]:
    """One client: run `step(i)` back to back (with untimed `between`
    hygiene) until the timed walls add up to `seconds`, at least `min_ops`
    ran, and the last group of `group` operations is complete (a mixed
    panel then always measures whole passes). An operation that raises
    counts as failed."""
    ops: list[Op] = []
    i = 0
    while (sum(o.wall_s for o in ops) < seconds or len(ops) < min_ops
           or len(ops) % group):
        t0 = time.perf_counter()
        try:
            ops.append(step(i))
        except Exception:  # boundary: count the failure and keep measuring
            traceback.print_exc(file=sys.stderr)
            ops.append(Op("failed", time.perf_counter() - t0, 0, 0, ok=False))
        between()
        i += 1
    return ops


def median_of(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def median_by_key(records: list[dict]) -> dict[str, float]:
    """Per key, the median over a run's per-operation layer records."""
    return {k: median_of(r[k] for r in records) for k in records[0]} if records else {}


def end_to_end(outcome: Outcome, peak_rss_mb: float) -> dict[str, float]:
    ops = [o for o in outcome.ops if o.ok] or outcome.ops
    wall = sum(o.wall_s for o in ops)
    kinds = sorted({o.kind for o in ops})
    return {
        "setup_s": outcome.setup_s,
        "rows_per_s": sum(o.rows_in for o in ops) / wall,
        "batch_p50_s": median_of(o.wall_s for o in ops),
        "docs_per_s": sum(o.rows_out for o in ops) / wall,
        "catalog_panel_s": sum(
            median_of(o.wall_s for o in ops if o.kind == k) for k in kinds),
        "lake_bytes_per_row": outcome.bytes_per_row,
        "peak_rss_mb": peak_rss_mb,
    }


def load_avg() -> float:
    return os.getloadavg()[0]
