"""curate_daily: the build-once / probe-daily near-duplicate loop.

Setup writes a generated corpus, builds its persisted MinHash index with
`curate.build_corpus_index`, and runs one untimed warm-up batch. Each
operation is then one daily batch: `curate.dedup_incremental` against the
index table, the labeled batch written as parquet, and the kept documents
appended back with `curate.update_corpus_index`, so the next batch dedups
against today's survivors. Batches plant exact copies and two-word edits
of corpus documents and within-batch copies among fresh documents.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from core import Context, Op, Outcome, closed_loop, median_by_key
from host import dir_bytes, settle

CORPUS_DOCS = 500
BATCH_DOCS = 400
INDEX = "perfbench_corpus"


def _write_docs(path: str, ids: list[int], texts: list[str]) -> str:
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
    return path


def _check_batch(out: str, b: gen.CurateBatch) -> tuple[list[str], dict]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, kept, index_match_id FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    finally:
        con.close()
    labels = {d: (k, m) for d, k, m in rows}
    bad = []
    if sorted(labels) != sorted(b.ids):
        bad.append(f"labeled {len(labels)} docs, want {len(b.ids)}")
    missing = [d for d in b.uniques if not labels.get(d, (False,))[0]]
    if missing:
        bad.append(f"{len(missing)} unique docs dropped, e.g. {missing[:3]}")
    kept_copies = [d for d in b.exact_copies
                   if labels.get(d, (True, None))[0] or labels[d][1] is None]
    if kept_copies:
        bad.append(f"{len(kept_copies)} exact copies kept or unmatched")
    split = [p for p in b.within_pairs
             if sum(labels.get(d, (False,))[0] for d in p) != 1]
    if split:
        bad.append(f"{len(split)} within-batch pairs not kept exactly once")
    dropped = sum(not k for k, _ in labels.values())
    matched = sum(m is not None for _, m in labels.values())
    planted = b.exact_copies + b.near_copies
    stats = {
        "operators.matches_vs_index": matched,
        "operators.dropped_within_batch": dropped - matched,
        "operators.planted_recall":
            sum(not labels.get(d, (True,))[0] for d in planted) / len(planted),
        "kept": len(labels) - dropped,
    }
    return bad, stats


def _index_docs(warehouse: str) -> tuple[int, int]:
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*), count(DISTINCT doc) FROM "
            f"read_parquet('{warehouse}/{INDEX}_shingles/*.parquet')").fetchone()
    finally:
        con.close()


def curate_daily(ctx: Context, session_s: float) -> Outcome:
    import dsacord_spark.curate as curate
    from pyspark.sql import functions as F

    spark, tracer = ctx.spark, ctx.tracer
    source = gen.CurateSource(ctx.seed, CORPUS_DOCS, BATCH_DOCS)
    data = ctx.run_dir.sub("data")
    corpus = _write_docs(os.path.join(data, "corpus.parquet"), source.corpus_ids,
                         source.corpus_texts)
    warehouse = ctx.run_dir.sub("warehouse")
    tracer.wrap(curate, "dedup_incremental", "curate.plan_build")
    tracer.wrap(curate, "update_corpus_index", "curate.update_index")
    problems: list[str] = []
    per_op: list[dict] = []
    kept_total = 0

    def prepare(i: int) -> tuple[gen.CurateBatch, str]:
        """Generate and write batch i: benchmark work, never timed."""
        b = source.batch(i)
        return b, _write_docs(os.path.join(data, f"batch{i}.parquet"), b.ids, b.texts)

    def run(i: int, src: str) -> float:
        out = os.path.join(data, f"labeled{i}")
        tracer.mark()
        t0 = time.perf_counter()
        with tracer.span("curate.batch"):
            labeled = curate.dedup_incremental(
                spark.read.parquet(src), method="minhash", index_table=INDEX)
            with tracer.span("curate.label_write"):
                labeled.select("doc_id", "text", "kept", "index_match_id") \
                    .write.mode("overwrite").parquet(out)
            curate.update_corpus_index(
                spark.read.parquet(out).filter(F.col("kept")).select("doc_id", "text"),
                "minhash", INDEX)
        return time.perf_counter() - t0

    def check(i: int, b: gen.CurateBatch) -> tuple[dict, int, bool]:
        bad, stats = _check_batch(os.path.join(data, f"labeled{i}"), b)
        problems.extend(f"batch {i}: {x}" for x in bad)
        kept = stats.pop("kept")
        nonlocal kept_total
        kept_total += kept
        return stats, kept, not bad

    # setup: the index build and one warm-up batch, whose kept docs join
    # the index; generating its input and checking its output are not timed
    warm_batch, warm_src = prepare(0)
    t0 = time.perf_counter()
    with tracer.span("curate.build_index"):
        curate.build_corpus_index(spark.read.parquet(corpus), "minhash", INDEX)
    build_s = time.perf_counter() - t0
    settle(spark)
    setup_s = session_s + build_s + run(0, warm_src)
    check(0, warm_batch)
    settle(spark)

    def step(i: int) -> Op:
        b, src = prepare(i + 1)
        wall = run(i + 1, src)
        stats, kept, ok = check(i + 1, b)
        if ctx.trace:
            batch = tracer.calls["curate.batch"][-1]
            per_op.append({
                "curate.plan_build_s": tracer.last("curate.plan_build"),
                "curate.label_write_s": tracer.last("curate.label_write"),
                "curate.update_index_s": tracer.last("curate.update_index"),
                "curate.jobs": batch["jobs"],
                "curate.stages": batch["stages"],
                "curate.shuffle_bytes": batch["shuffle_bytes"],
                "curate.spill_bytes": batch["spill_bytes"],
                **stats,
            })
        return Op("batch", wall, BATCH_DOCS, kept, ok=ok)

    ops = closed_loop(ctx.seconds, step, 2, lambda: settle(spark))
    tracer.unwrap_all()
    rows, docs = _index_docs(warehouse)
    if not rows == docs == CORPUS_DOCS + kept_total:
        problems.append(f"index holds {rows} rows / {docs} docs, want "
                        f"{CORPUS_DOCS} corpus + {kept_total} kept")
    index_dirs = [os.path.join(warehouse, f"{INDEX}_{t}") for t in ("bands", "shingles")]
    files = sum(dir_bytes(d)[0] for d in index_dirs)
    size = sum(dir_bytes(d)[1] for d in index_dirs)
    layers = median_by_key(per_op)
    if ctx.trace:
        layers.update({"curate.build_index_s": build_s,
                       "operators.index_files": files, "operators.index_bytes": size})
    return Outcome(setup_s, ops, size / max(1, docs), problems, layers)
