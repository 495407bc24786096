"""ingest_backfill: each operation is one `pipeline.run_backfill` over
the same D generated days into a new, empty lake (the shape of the
reference's published run). The `opener` injection serves the dump ZIPs
from local disk, so staging, extraction, the typed transform,
quarantine, dedup and the parquet lake sink all run exactly as in
production, minus the network; the duplicate probe has nothing to probe.
"""

from __future__ import annotations

import io
import os
import re
import time
from datetime import timedelta

import duckdb
import numpy as np

import gen
from core import Context, Op, Outcome, closed_loop, median_by_key, median_of
from host import dir_bytes, settle

BACKFILL_DAYS = 6
ROWS_PER_DAY = 3_000


class DumpServer:
    """The HTTP transport `run_backfill(opener=...)` expects, answering
    each daily dump URL with a generated ZIP. Days are generated lazily
    and deterministically from (seed, day number), outside any timed
    window; the expected lake content of each day is kept alongside."""

    _DAY = re.compile(r"-(\d{4}-\d{2}-\d{2})-full\.zip$")

    def __init__(self, seed: int, rows_per_day: int):
        self.seed = seed
        self.rows_per_day = rows_per_day
        self.vocab = gen.make_vocab(np.random.default_rng([seed, 0]), 20_000)
        self.dumps: dict[str, gen.DayDump] = {}

    def day(self, n: int) -> gen.DayDump:
        d = gen.FIRST_DAY + timedelta(days=n)
        key = d.isoformat()
        if key not in self.dumps:
            rng = np.random.default_rng([self.seed, 1, n])
            self.dumps[key] = gen.decisions_day(rng, self.vocab, d, self.rows_per_day)
        return self.dumps[key]

    def __call__(self, url: str):
        data = self.dumps[self._DAY.search(url).group(1)].zip_bytes
        resp = io.BytesIO(data)
        resp.status = 200
        return resp


def _config(landing: str, days: int):
    from dsacord_spark.config import Config

    return Config(
        date_from=gen.FIRST_DAY,
        date_to=gen.FIRST_DAY + timedelta(days=days - 1),
        workers=4,
        landing_dir=landing,
    )


def check_lake(lake: str, want: dict) -> list[str]:
    """DuckDB over the lake's parquet files against the generator's manifest."""
    con = duckdb.connect()
    try:
        got = con.execute(
            f"""SELECT count(*), count(DISTINCT uuid),
                sum(md5_number_upper(uuid)), sum(md5_number_upper(decision_facts)),
                sum(md5_number_upper(category)), sum(md5_number_upper(entity_id)),
                sum(len(territorial_scope)), sum(epoch_ms(created_at)) // 1000,
                count(*) FILTER (WHERE automated_detection),
                count(*) FILTER (WHERE automated_detection IS NULL)
            FROM read_parquet('{lake}/*/*.parquet')"""
        ).fetchone()
    finally:
        con.close()
    got = dict(zip(["rows", "distinct", "uuid_md5", "facts_md5", "category_md5",
                    "entity_md5", "scope_items", "created_epoch", "detected_yes",
                    "detected_null"], [int(v or 0) for v in got]))
    problems = [f"lake {k}: got {got[k]}, want {v}" for k, v in want.items()
                if got[k] != v]
    if got["distinct"] != got["rows"]:
        problems.append(f"lake holds {got['rows'] - got['distinct']} duplicate uuids")
    return problems


def _wrap_layers(tracer) -> None:
    import dsacord_spark.pipeline as pipeline
    import dsacord_spark.sinks.parquet as parquet

    tracer.wrap(pipeline, "stage_range", "sources.stage")
    tracer.wrap(parquet, "append_new_decisions", "sinks.append")
    tracer.wrap(parquet, "write_decisions_parquet", "sinks.write")


def _prefixes(ctx: Context, zips: list[str]) -> dict[str, float]:
    """Cumulative no-op-sink prefixes of the ingest dataflow over the
    operation's own staged ZIPs: extract, +typed transform, +quarantine
    and dedup. Each layer is lazy until an action, so a layer's cost is
    the difference between consecutive prefixes."""
    from pyspark.sql import Observation, functions as F

    from dsacord_spark.sinks.jdbc import dedup_batch
    from dsacord_spark.sources.zipsource import read_staged_zips
    from dsacord_spark.transform import decisions_transform, split_quarantine

    spark, tracer = ctx.spark, ctx.tracer

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    rows = Observation("extracted")
    out = {}
    for name, build in (
        ("prefix.extract", lambda w: w.observe(rows, F.count(F.lit(1)).alias("n"))),
        ("prefix.transform", decisions_transform),
        ("prefix.dedup",
         lambda w: dedup_batch(split_quarantine(decisions_transform(w))[0])),
    ):
        settle(spark)
        with tracer.span(name):
            noop(build(read_staged_zips(spark, zips)))
        out[name] = tracer.calls[name][-1]
    return {
        "sources.extract_s": out["prefix.extract"]["wall_s"],
        "sources.extract_executor_ms": out["prefix.extract"]["executor_ms"],
        "sources.rows_out": int(rows.get["n"]),
        "transform.typed_s": out["prefix.transform"]["wall_s"]
        - out["prefix.extract"]["wall_s"],
        "sinks.dedup_s": out["prefix.dedup"]["wall_s"]
        - out["prefix.transform"]["wall_s"],
        "sinks.dedup_shuffle_bytes": out["prefix.dedup"]["shuffle_bytes"],
        "sinks.dedup_spill_bytes": out["prefix.dedup"]["spill_bytes"],
    }


def _op_layers(ctx: Context, metrics, lake: str) -> dict[str, float]:
    """The traced operation's layer numbers; the prefixes re-read the ZIPs
    its own `stage_range` call returned."""
    t = ctx.tracer
    layers = _prefixes(ctx, [p for p, _ in t.results["sources.stage"] if p])
    run = t.calls["pipeline.run"][-1]
    files, size = dir_bytes(lake)
    layers.update({
        "transform.quarantined_rows": metrics.rows_quarantined,
        "sinks.write_s": t.last("sinks.write") - t.calls["prefix.dedup"][-1]["wall_s"],
        "sinks.files": files,
        "sinks.bytes": size,
        "sinks.append_s": t.last("sinks.append"),
        "sinks.append_write_s": t.last("sinks.write"),
        "sinks.append_jobs": t.last("sinks.append", "jobs"),
        "sinks.append_stages": t.last("sinks.append", "stages"),
        "sinks.append_yield": metrics.rows_written / max(1, layers["sources.rows_out"]),
        "sources.stage_s": t.last("sources.stage"),
        "pipeline.run_s": run["wall_s"],
        "pipeline.other_s": run["wall_s"] - t.last("sources.stage") - t.last("sinks.append"),
        "pipeline.jobs": run["jobs"],
    })
    return layers


def ingest_backfill(ctx: Context, session_s: float) -> Outcome:
    from dsacord_spark.pipeline import run_backfill

    server = DumpServer(ctx.seed, ROWS_PER_DAY)
    days = [server.day(n) for n in range(BACKFILL_DAYS)]
    rows_in = sum(d.rows for d in days)
    want = gen.merge_manifests([gen.lake_manifest(d.valid) for d in days])
    problems: list[str] = []
    per_op: list[dict] = []
    footprint: list[float] = []
    _wrap_layers(ctx.tracer)

    def backfill(tag: str):
        landing = ctx.run_dir.sub("data", tag)
        cfg = _config(landing, BACKFILL_DAYS)
        ctx.tracer.mark()
        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.run"):
            m = run_backfill(ctx.spark, cfg, opener=server)
        return m, time.perf_counter() - t0, landing

    # warm-up: one untimed operation (starts the Python workers, compiles
    # the operators, initialises the committer)
    t0 = time.perf_counter()
    backfill("warmup")
    setup_s = session_s + time.perf_counter() - t0
    settle(ctx.spark)

    def step(i: int) -> Op:
        m, wall, landing = backfill(f"op{i}")
        lake = os.path.join(landing, "decisions")
        bad = check_lake(lake, want)
        if m.rows_written != want["rows"]:
            bad.append(f"rows_written {m.rows_written}, want {want['rows']}")
        if m.rows_quarantined != sum(d.quarantined for d in days):
            bad.append(f"rows_quarantined {m.rows_quarantined}")
        footprint.append(dir_bytes(lake)[1] / max(1, want["rows"]))
        if ctx.trace:
            per_op.append(_op_layers(ctx, m, lake))
        problems.extend(f"op {i}: {b}" for b in bad)
        return Op("backfill", wall, rows_in, m.rows_written, ok=not bad)

    ops = closed_loop(ctx.seconds, step, 3, lambda: settle(ctx.spark))
    ctx.tracer.unwrap_all()
    return Outcome(setup_s, ops, median_of(footprint), problems, median_by_key(per_op))

