"""M5 — Structured Streaming: landing dir -> typed transform -> epoch
sink via foreachBatch with availableNow (the reference's one-shot
backfill), checkpointed resume, and epoch-level dedup; and the stream
index probes, which run the batch probe over a persisted index on each
micro-batch."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dsacord_spark.schema import CSV_COLUMNS
from dsacord_spark.streaming.pipeline import start_decisions_stream
from tests.index_tables import (
    HAMMING_SUFFIXES,
    MINHASH_SUFFIXES,
    drop_index_tables,
)

HEADER = ",".join(CSV_COLUMNS)
# the checkout this file belongs to, whatever its path
_REPO = str(Path(__file__).resolve().parents[1])


def _wire_csv(rows: list[dict]) -> str:
    return HEADER + "\n" + "\n".join(
        ",".join('"' + r.get(c, "") + '"' for c in CSV_COLUMNS) for r in rows
    )


def _write_day(landing, dt: str, name: str, rows: list[dict]) -> None:
    day = landing / f"dt={dt}"
    day.mkdir(parents=True, exist_ok=True)
    (day / name).write_text(_wire_csv(rows))


def test_streaming_backfill_dedup_and_resume(spark, tmp_path):
    landing = tmp_path / "landing"
    ckpt = str(tmp_path / "ckpt")
    _write_day(
        landing,
        "2025-01-01",
        "d1.csv",
        [
            {"uuid": "u1", "created_at": "2025-01-01 00:00:00", "account_type": "old"},
            {"uuid": "u1", "created_at": "2025-01-01 12:00:00", "account_type": "new"},
            {"uuid": "", "created_at": "2025-01-01 00:00:00"},  # quarantined
            {"uuid": "u2", "created_at": "2025-01-01 00:00:00"},
        ],
    )

    epochs: list[list] = []

    def sink(batch_df, epoch_id):
        epochs.append(batch_df.select("uuid", "account_type", "created_at").collect())

    q = start_decisions_stream(
        spark, str(landing), ckpt, sink, available_now=True
    )
    q.awaitTermination(120)
    batch1 = {r["uuid"]: r for e in epochs for r in e}
    assert set(batch1) == {"u1", "u2"}           # empty uuid quarantined
    assert batch1["u1"]["account_type"] == "new"  # epoch keep-latest dedup

    # late re-dump arrives: restart from checkpoint processes ONLY the new file
    epochs.clear()
    _write_day(
        landing,
        "2025-01-02",
        "d2.csv",
        [{"uuid": "u3", "created_at": "2025-01-02 00:00:00"}],
    )
    q2 = start_decisions_stream(
        spark, str(landing), ckpt, sink, available_now=True
    )
    q2.awaitTermination(120)
    batch2 = [r["uuid"] for e in epochs for r in e]
    assert batch2 == ["u3"]  # checkpoint: day-1 file not reprocessed


def test_sessionize_bounded_splits_islands(spark):
    """applyInPandasWithState sessionizer: within-batch gap split + final
    watermark flush (>= gap starts a new session, matching session_windows)."""
    from dsacord_spark.streaming.pipeline import sessionize_bounded

    ev = spark.createDataFrame(
        [
            ("A", "2025-01-01 10:00:00"),
            ("A", "2025-01-01 10:10:00"),
            ("A", "2025-01-01 20:00:00"),  # > 4h after 10:10 -> new session
            ("B", "2025-01-01 11:00:00"),
        ],
        "user_id string, ts_s string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in sessionize_bounded(spark, ev, gap_s=14400).collect()
    }
    assert got == {
        ("A", "2025-01-01 10:00:00", "2025-01-01 10:10:00", 2),
        ("A", "2025-01-01 20:00:00", "2025-01-01 20:00:00", 1),
        ("B", "2025-01-01 11:00:00", "2025-01-01 11:00:00", 1),
    }


def test_sessionize_stateful_merges_across_batches(spark, tmp_path):
    """State carries an open session across micro-batches: a second-batch
    event inside the gap extends it rather than opening a new session."""
    import os

    from dsacord_spark.streaming.pipeline import sessionize_events

    src = tmp_path / "src"
    src.mkdir()
    files = [
        ("b1.csv", "user_id,ts\nA,2025-01-01 10:00:00\n"),
        ("b2.csv", "user_id,ts\nA,2025-01-01 10:05:00\n"),
        ("b3.csv", "user_id,ts\n__s__,2025-01-02 00:00:00\n"),
        ("b4.csv", "user_id,ts\n__s__,2025-01-02 00:00:01\n"),
    ]
    for i, (name, body) in enumerate(files):
        p = src / name
        p.write_text(body)
        os.utime(p, (1700000000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out: list = []
    q = (
        sessionize_events(stream, gap_s=14400, watermark="0 seconds")
        .writeStream.foreachBatch(lambda df, eid: out.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = [r for batch in out for r in batch if r["user_id"] == "A"]
    assert len(rows) == 1  # merged, not two single-event sessions
    assert rows[0]["n_events"] == 2
    assert str(rows[0]["session_start"]) == "2025-01-01 10:00:00"
    assert str(rows[0]["session_end"]) == "2025-01-01 10:05:00"


def test_streaming_event_counts_append_seals_on_watermark(spark, tmp_path):
    """Windowed streaming agg with watermark in APPEND mode — the
    watermark's hard guarantees: a window is emitted exactly once, only
    after the watermark passes its end, and windows the watermark has not
    passed are held as state, never emitted early. (Dropping of late rows
    that would open NEW below-watermark state is best-effort in Spark and
    deliberately not asserted here.)"""
    import os

    from dsacord_spark.streaming.pipeline import streaming_event_counts

    src = tmp_path / "src"
    src.mkdir()
    files = [
        # batch 0: advances watermark to 12:00 - 2h = 10:00
        ("b1.csv", "event_type,ts\nclick,2025-01-01 09:30:00\n"
                   "click,2025-01-01 09:45:00\n"
                   "click,2025-01-01 12:00:00\n"),
        # batch 1 (wm=10:00): seals [09:00,10:00); 10:30 stays open state
        ("b2.csv", "event_type,ts\nclick,2025-01-01 10:30:00\n"),
    ]
    for i, (name, body) in enumerate(files):
        p = src / name
        p.write_text(body)
        os.utime(p, (1700000000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    agg = streaming_event_counts(stream, window="1 hour", watermark="2 hours")
    out: list = []
    q = (
        agg.writeStream.foreachBatch(lambda df, eid: out.append(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emissions = [str(r["window_start"]) for b in out for r in b]
    counts = {str(r["window_start"]): r["n_events"] for b in out for r in b}
    # sealed exactly once, with the full 2-event count
    assert emissions.count("2025-01-01 09:00:00") == 1
    assert counts["2025-01-01 09:00:00"] == 2
    # windows the watermark never passed are held open, not emitted
    assert "2025-01-01 10:00:00" not in counts
    assert "2025-01-01 12:00:00" not in counts


def _mtime_files(src, files):
    """Write files with strictly increasing mtimes — the file source orders
    batches by modification time."""
    import os

    src.mkdir(exist_ok=True)
    for i, (name, body) in enumerate(files):
        p = src / name
        p.write_text(body)
        os.utime(p, (1700000000 + i * 60,) * 2)


def test_dedup_stream_drops_within_watermark_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a key redelivered while its state is
    live is dropped (even with a different ts); after the watermark evicts
    the key, a fresh event for it is emitted again."""
    from dsacord_spark.streaming.pipeline import dedup_stream

    src = tmp_path / "src"
    _mtime_files(
        src,
        [
            # batch 0: A first seen
            ("b1.csv", "user_id,ts\nA,2025-01-01 10:00:00\n"),
            # batch 1: duplicate A dropped; W pushes the watermark to
            # 10:50 (11:00 - 10m), past A's expiry (10:00 + 10m)
            ("b2.csv", "user_id,ts\nA,2025-01-01 10:05:00\nW,2025-01-01 11:00:00\n"),
            # batch 2: state cleanup runs with the advanced watermark
            # (eviction is end-of-batch, one batch after the push)
            ("b3.csv", "user_id,ts\nW2,2025-01-01 11:30:00\n"),
            # batch 3: A re-arrives after eviction -> emitted again
            ("b4.csv", "user_id,ts\nA,2025-01-01 12:00:00\n"),
        ],
    )
    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out: list = []
    q = (
        dedup_stream(stream, ["user_id"], watermark="10 minutes")
        .writeStream.foreachBatch(lambda df, eid: out.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    a_rows = sorted(str(r["ts"]) for b in out for r in b if r["user_id"] == "A")
    assert a_rows == ["2025-01-01 10:00:00", "2025-01-01 12:00:00"]  # 10:05 dropped


def test_join_event_streams_interval_bound(spark, tmp_path):
    """Stream-stream inner join with watermarks: right events join iff they
    fall in [left.ts, left.ts + within]; out-of-bound and wrong-key rows
    don't match."""
    from dsacord_spark.streaming.pipeline import join_event_streams

    left_src, right_src = tmp_path / "left", tmp_path / "right"
    _mtime_files(left_src, [("l1.csv", "user_id,ts\nA,2025-01-01 10:00:00\nB,2025-01-01 10:00:00\n")])
    _mtime_files(
        right_src,
        [("r1.csv", "user_id,ts\nA,2025-01-01 10:30:00\n"   # in bound
                    "A,2025-01-01 12:00:00\n"               # past within=1h
                    "A,2025-01-01 09:59:00\n"               # before left
                    "C,2025-01-01 10:30:00\n")],            # wrong key
    )

    def read(src):
        return (
            spark.readStream.schema("user_id string, ts timestamp")
            .option("header", True)
            .csv(str(src))
        )

    out: list = []
    q = (
        join_event_streams(read(left_src), read(right_src), within="1 hour")
        .writeStream.foreachBatch(lambda df, eid: out.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {(r["user_id"], str(r["l_ts"]), str(r["r_ts"])) for b in out for r in b}
    assert rows == {("A", "2025-01-01 10:00:00", "2025-01-01 10:30:00")}


def test_streaming_lake_rollup_stays_consistent(spark, tmp_path):
    """End-to-end continuous aggregation: landing stream -> lake append ->
    incremental rollup refresh per epoch. After every backfill run the
    rollup equals a from-scratch recompute, replays no-op, and a day the
    second epoch never touched keeps its rollup file."""
    import glob
    import os

    from pyspark.sql import functions as F

    from dsacord_spark.sinks.parquet import lake_with_rollup_sink

    landing = tmp_path / "landing"
    ckpt = str(tmp_path / "ckpt")
    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")

    def daily_counts(df):
        return df.groupBy("dt").agg(F.count(F.lit(1)).alias("n_rows"))

    def assert_rollup_matches():
        got = sorted(
            map(
                tuple,
                spark.read.parquet(roll).select("dt", "n_rows").collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                daily_counts(spark.read.parquet(lake))
                .select("dt", "n_rows")
                .collect(),
            )
        )
        assert got == want

    sink = lake_with_rollup_sink(spark, lake, roll, daily_counts)

    _write_day(
        landing,
        "2025-01-01",
        "d1.csv",
        [
            {"uuid": "u1", "created_at": "2025-01-01 00:00:00"},
            {"uuid": "u2", "created_at": "2025-01-01 01:00:00"},
            {"uuid": "u3", "created_at": "2025-01-02 00:00:00"},
        ],
    )
    q = start_decisions_stream(spark, str(landing), ckpt, sink, available_now=True)
    q.awaitTermination(120)
    assert_rollup_matches()

    d1_file = glob.glob(os.path.join(roll, "dt=2025-01-01", "*.parquet"))[0]
    d1_mtime = os.path.getmtime(d1_file)

    # second backfill: a new day plus a duplicate of u3 (lands in nothing)
    _write_day(
        landing,
        "2025-01-03",
        "d3.csv",
        [
            {"uuid": "u3", "created_at": "2025-01-02 00:00:00"},
            {"uuid": "u4", "created_at": "2025-01-03 00:00:00"},
        ],
    )
    q2 = start_decisions_stream(spark, str(landing), ckpt, sink, available_now=True)
    q2.awaitTermination(120)
    assert_rollup_matches()
    assert spark.read.parquet(lake).filter(F.col("uuid") == "u3").count() == 1
    # day-1 rollup partition untouched by an epoch that only added day 3
    assert os.path.getmtime(d1_file) == d1_mtime


def test_sessionize_bounded_timezone_safe():
    """Regression for the sentinel timezone bug: under a session pinned
    east of UTC (+08:00) with TIMESTAMP_MICROS output, the per-key
    sentinels must still sit 2*gap past every event as INSTANTS — a
    naive (NTZ) sentinel write would land 8h early and swallow each
    key's trailing session. Runs in a subprocess so the shared session's
    timezone is untouched."""
    import subprocess
    import sys

    script = r"""
import sys, datetime
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.session.timeZone", "Asia/Shanghai")
         .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
         .getOrCreate())
from dsacord_spark.streaming.pipeline import sessionize_bounded
rows = [("A", datetime.datetime(2025, 1, 1, 10, 0, 0)),
        ("A", datetime.datetime(2025, 1, 1, 10, 10, 0)),
        ("A", datetime.datetime(2025, 1, 1, 20, 0, 0)),
        ("B", datetime.datetime(2025, 1, 1, 11, 0, 0))]
df = spark.createDataFrame(rows, "user_id string, ts timestamp")
got = sorted((r["user_id"], str(r["session_start"]), r["n_events"])
             for r in sessionize_bounded(spark, df, gap_s=14400).collect())
expected = [("A", "2025-01-01 10:00:00", 2),
            ("A", "2025-01-01 20:00:00", 1),
            ("B", "2025-01-01 11:00:00", 1)]
assert got == expected, got
print("TZ-SAFE-PASS")
"""
    res = subprocess.run(
        [sys.executable, "-c", script, _REPO],
        capture_output=True, text=True, timeout=420, cwd=_REPO,
    )
    assert "TZ-SAFE-PASS" in res.stdout, res.stdout[-2000:] + res.stderr[-2000:]


def test_stream_cms_runs_multiple_micro_batches(spark, sf_dir):
    """The streaming CMS must actually exercise the partial-sketch merge:
    with 4 staged files and maxFilesPerTrigger=1 the bounded drain runs
    4 micro-batches (foreachBatch invocation count observed through the
    batch_transform closure), and the merged answer equals the batch
    formulation's."""
    from pyspark.sql import functions as F

    from dsacord_spark.plans.catalog import specs
    from dsacord_spark.plans.quality import _cms_probes, _cms_top10
    from dsacord_spark.functions.text import tokens
    from dsacord_spark.streaming.pipeline import run_bounded_stream

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "text"
    ).repartition(4)
    calls = []

    def batch_partial(batch):
        calls.append(1)
        tok = batch.select(F.explode(tokens("text")).alias("tk"))
        lv = tok.select("tk", F.explode(_cms_probes()).alias("p")).select(
            "tk", "p.i", "p.b"
        )
        return lv.groupBy("tk", "i", "b").agg(F.count(F.lit(1)).alias("c"))

    partials = run_bounded_stream(
        spark, d, lambda s: s,
        reader_options={"maxFilesPerTrigger": "1"},
        batch_transform=batch_partial,
    )
    merged = partials.groupBy("tk", "i", "b").agg(F.sum("c").alias("cnt"))
    got = {tuple(r) for r in _cms_top10(merged).collect()}
    assert len(calls) >= 4, f"expected >=4 micro-batches, saw {len(calls)}"
    want = {
        tuple(r)
        for r in specs()["text_heavy_hitters_cms"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_hll_merge_matches_batch_and_exact(spark, sf_dir):
    """HLL mergeability: the stream-merged estimate must equal the
    batch-global sketch estimate (register-wise max union is lossless),
    and land within 5% of the exact distinct count."""
    from pyspark.sql import functions as F

    from dsacord_spark.plans.catalog import specs

    from dsacord_spark.streaming.pipeline import run_bounded_stream

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    partials = run_bounded_stream(
        spark,
        o.select("o_orderstatus", "o_custkey").repartition(4),
        lambda s: s,
        reader_options={"maxFilesPerTrigger": "1"},
        batch_transform=lambda b: b.groupBy("o_orderstatus").agg(
            F.hll_sketch_agg("o_custkey").alias("sk")
        ),
    )
    got = {
        r["o_orderstatus"]: r["est"]
        for r in partials.groupBy("o_orderstatus")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("est")
        )
        .collect()
    }
    batch = {
        r["o_orderstatus"]: r["est"]
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey"))
            .cast("long")
            .alias("est")
        )
        .collect()
    }
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    assert got == batch, (got, batch)
    for k, n in exact.items():
        assert abs(got[k] - n) / n <= 0.05, (k, got[k], n)
    # the catalog entry's structural contract (r8): exact counts match
    # and the within-bound boolean computed from the merged sketch holds
    for r in specs()["stream_approx_distinct_hll"].fn(spark, sf_dir).collect():
        assert r["est_within_5pct"], r
        assert r["exact_customers"] == exact[r["o_orderstatus"]], r


def _spy_in_literals(monkeypatch) -> list[str]:
    """Force the index probes' auto-prune on and record the IN-filters
    it pushes, so a test can assert the pruned path really ran."""
    from dsacord_spark.operators import dedup

    cols: list[str] = []
    real = dedup._in_literals

    def spy(col_name, vals):
        cols.append(col_name)
        return real(col_name, vals)

    monkeypatch.setattr(dedup, "_PRUNE_AUTO_MIN_BYTES", 0)
    monkeypatch.setattr(dedup, "_in_literals", spy)
    return cols


def test_stream_probe_from_persisted_index_parity(
    spark, sf_dir, monkeypatch
):
    """r8 verdict ask #6: the daily-production streaming shape — index
    ON DISK (build_hamming_index tables), new batch arriving in
    micro-batches, each probed inside foreachBatch via the bucketed
    tables — must produce exactly the catalog entry's output
    (stream_incremental_dedup: in-memory persisted index frames), which
    itself equals the batch probe. Checked with the auto-prune decision
    off (the index is small) and forced on."""
    from dsacord_spark.operators.dedup import (
        SIMHASH_BITS,
        build_hamming_index,
        simhash_signatures,
    )
    from dsacord_spark.plans.reports import stream_incremental_dedup
    from dsacord_spark.streaming.pipeline import stream_probe_hamming_index

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = simhash_signatures(d, "doc_id", "text").persist()
    try:
        batch = sig.filter(F.col("doc") % 10 == 0).repartition(4)
        index = sig.filter(F.col("doc") % 10 != 0)
        build_hamming_index(index, "doc", "simhash", "t_ham_stream",
                            n_bands=4, hash_bits=SIMHASH_BITS, buckets=4)
        want = sorted(map(tuple, stream_incremental_dedup(
            spark, sf_dir
        ).collect()))
        for forced in (False, True):
            if forced:
                pruned = _spy_in_literals(monkeypatch)
            got = sorted(map(tuple, stream_probe_hamming_index(
                spark, "t_ham_stream", batch.select("doc", "simhash"),
                "doc", "simhash", radius=3,
            ).withColumnRenamed("doc", "doc_id").collect()))
            assert got == want and len(got) > 0, f"prune forced={forced}"
            assert any(r[1] for r in got)
        assert "band_key" in pruned, "the stream never pruned"
    finally:
        sig.unpersist()
        drop_index_tables(spark, "t_ham_stream", HAMMING_SUFFIXES)


def test_stream_probe_minhash_index_parity(spark, sf_dir, monkeypatch):
    """The Jaccard twin of the streaming persisted-index probe:
    micro-batched raw documents probed against the on-disk
    build_minhash_index tables must equal the batch probe_minhash_index
    (per-doc matches are batching-independent) — which
    test_round9_properties pins equal to the in-memory incremental
    probe. Checked with the auto-prune decision off and forced on."""
    from dsacord_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )
    from dsacord_spark.streaming.pipeline import stream_probe_minhash_index

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = d.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text") \
        .repartition(4)
    index = d.filter(F.col("doc_id") % 10 != 0)
    try:
        build_minhash_index(index, "doc_id", "text", "t_mh_stream",
                            n=3, n_perm=32, bands=8, buckets=4)
        want = sorted(map(tuple, probe_minhash_index(
            spark, "t_mh_stream", batch, "doc_id", "text", threshold=0.5,
        ).collect()))
        for forced in (False, True):
            if forced:
                pruned = _spy_in_literals(monkeypatch)
            got = sorted(map(tuple, stream_probe_minhash_index(
                spark, "t_mh_stream", batch, "doc_id", "text",
                threshold=0.5,
            ).collect()))
            assert got == want and len(got) > 0, f"prune forced={forced}"
            assert any(r[1] for r in got)
        assert "band_hash" in pruned, "the stream never pruned"
    finally:
        spark.catalog.clearCache()
        drop_index_tables(spark, "t_mh_stream", MINHASH_SUFFIXES)


def test_stream_probe_sees_index_append_from_hook(spark):
    """r9 verdict item 5: every micro-batch re-reads the index tables,
    so an index append made from on_batch_start(1) is seen by batches 1
    and 2 and not by batch 0 — and the drained output over an index
    that holds the append from the start equals the batch probe."""
    from dsacord_spark.operators.dedup import (
        build_minhash_index, probe_minhash_index,
    )
    from dsacord_spark.streaming.pipeline import stream_probe_minhash_index

    base = spark.createDataFrame(
        [(1, "completely unrelated base corpus document one"),
         (2, "another unrelated base document about lakes")],
        "doc_id long, text string",
    )
    delta_text = "the snapshot boundary pangram about zebras and spark"
    delta = spark.createDataFrame(
        [(50, delta_text)], "doc_id long, text string",
    )
    # 9 docs, all exact copies of the delta text, 3 per micro-batch
    batch = spark.createDataFrame(
        [(100 + i, delta_text) for i in range(9)],
        "doc_id long, text string",
    ).repartition(3)

    tname = "t_snap_mh"
    drop_index_tables(spark, tname, MINHASH_SUFFIXES)
    build_minhash_index(base, "doc_id", "text", tname, buckets=2)

    def hook(i: int) -> None:
        if i == 1:
            build_minhash_index(
                delta, "doc_id", "text", tname, mode="append",
            )

    try:
        out = stream_probe_minhash_index(
            spark, tname, batch, "doc_id", "text", on_batch_start=hook,
        )
        # batches 1 and 2 (3 docs each) run after the append and match
        # the delta; batch 0 predates it
        assert out.filter(F.col("is_dup")).count() == 6
    finally:
        drop_index_tables(spark, tname, MINHASH_SUFFIXES)

    tname = "t_snap_par"
    drop_index_tables(spark, tname, MINHASH_SUFFIXES)
    build_minhash_index(
        base.union(delta), "doc_id", "text", tname, buckets=2,
    )
    try:
        got = sorted(map(tuple, stream_probe_minhash_index(
            spark, tname, batch, "doc_id", "text",
        ).collect()))
        want = sorted(map(tuple, probe_minhash_index(
            spark, tname, batch, "doc_id", "text",
        ).collect()))
        assert got == want and sum(1 for r in got if r[1]) == 9
    finally:
        drop_index_tables(spark, tname, MINHASH_SUFFIXES)


def test_stream_probe_leaves_no_cache_entries(spark):
    """r9 ADVICE: stream_probe_minhash_index persisted one batch shingle
    frame per micro-batch with no unpersist — a session-lifetime leak in
    the advertised daily loop. The probe releases each batch's frame
    after its write: the persistent-RDD census must be unchanged across
    a whole streamed probe."""
    from dsacord_spark.operators.dedup import build_minhash_index
    from dsacord_spark.streaming.pipeline import stream_probe_minhash_index

    base = spark.createDataFrame(
        [(1, "a base document about spark streaming probes here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"probe doc {i} about spark streaming probes here")
         for i in range(6)],
        "doc_id long, text string",
    ).repartition(3)
    tname = "t_leak_mh"
    drop_index_tables(spark, tname, MINHASH_SUFFIXES)
    build_minhash_index(base, "doc_id", "text", tname, buckets=2)
    try:
        before = spark._jsc.sc().getPersistentRDDs().size()
        stream_probe_minhash_index(
            spark, tname, batch, "doc_id", "text",
        ).count()
        assert spark._jsc.sc().getPersistentRDDs().size() <= before
    finally:
        drop_index_tables(spark, tname, MINHASH_SUFFIXES)


def test_compact_index_interleaves_with_stream_probe(spark):
    """r10 verdict item 4: compacting an index UNDER a live stream. The
    safe pattern — compact from the stream's own on_batch_start hook (a
    batch boundary) — must succeed mid-stream, and the stream must stay
    CORRECT on the batches that re-read the now-compacted tables. A
    compaction attempted while a mid-batch lease is held must refuse."""
    from dsacord_spark import leases
    from dsacord_spark.operators.dedup import (
        SIMHASH_BITS, build_hamming_index, compact_index,
        probe_hamming_index, simhash_signatures,
    )
    from dsacord_spark.streaming.pipeline import stream_probe_hamming_index

    docs = spark.createDataFrame(
        [(i, f"document number {i} with mostly shared boilerplate text "
              f"and a unique token tok{i}") for i in range(16)],
        "doc_id long, text string",
    )
    t = "t_r11_ilv"
    try:
        sig = simhash_signatures(docs, "doc_id", "text")
        build_hamming_index(sig, "doc", "simhash", t,
                            n_bands=4, hash_bits=SIMHASH_BITS, buckets=4)
        # append a second generation so buckets span >1 file and the
        # compaction has real work
        from dsacord_spark.curate import update_corpus_index

        update_corpus_index(
            spark.createDataFrame(
                [(100 + i, f"later appended doc {i} carrying token "
                           f"late{i}") for i in range(4)],
                "doc_id long, text string",
            ), "simhash", t,
        )
        # refusal: a held mid-batch lease blocks compaction
        with leases.stream_lease(t):
            with pytest.raises(RuntimeError, match="refused"):
                compact_index(spark, t)
            compact_index(spark, t, force=True)  # override works
        assert leases.blocking_leases(t) == 0  # lease released

        batch = sig.repartition(4)  # 4 staged files -> 4 micro-batches
        compacted = {}

        def hook(i: int) -> None:
            if i == 1:
                # mid-stream, at a boundary: must succeed (the lease is
                # marked non-blocking inside the hook window)
                compacted.update(compact_index(spark, t))

        streamed = stream_probe_hamming_index(
            spark, t, batch, "doc", "simhash", on_batch_start=hook,
        )
        got = sorted(map(tuple, streamed.collect()))
        assert compacted, "hook never compacted — batch 1 did not run"
        for s, st in compacted.items():
            assert st["files_after"] <= st["n_buckets"], (s, st)
        # batches 1-3 read the compacted tables: the drained output
        # equals the batch probe over the same frame
        want = sorted(map(tuple, probe_hamming_index(
            spark, t, batch, "doc", "simhash").collect()))
        assert got == want
        assert leases.blocking_leases(t) == 0
    finally:
        spark.catalog.clearCache()
        drop_index_tables(spark, t, HAMMING_SUFFIXES)


def test_stream_probe_empty_batch_returns_empty_frame(spark):
    """r11 review: a bounded stream that drains ZERO micro-batches (an
    empty staged batch writes no data files) reaches run_bounded_stream's
    fallback, which must honor the 2-arg batch_transform contract — it
    used to call the probe with one arg and die with TypeError instead
    of returning an empty, correctly-shaped result."""
    from dsacord_spark.operators.dedup import (
        SIMHASH_BITS, build_hamming_index, simhash_signatures,
    )
    from dsacord_spark.streaming.pipeline import stream_probe_hamming_index

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    t = "t_r11_empty"
    try:
        sig = simhash_signatures(docs, "doc_id", "text")
        build_hamming_index(sig, "doc", "simhash", t,
                            n_bands=4, hash_bits=SIMHASH_BITS, buckets=2)
        empty = sig.filter(F.lit(False))
        out = stream_probe_hamming_index(spark, t, empty, "doc", "simhash")
        assert out.count() == 0
        assert out.columns == ["doc", "is_dup", "match_id", "best_hamming"]
    finally:
        spark.catalog.clearCache()
        drop_index_tables(spark, t, HAMMING_SUFFIXES)


def test_zero_batch_drain_is_side_effect_free(
    spark, sf_dir, monkeypatch
):
    """r11 ADVICE, end-to-end through the probes' own drain path: when
    the bounded runner reports zero micro-batches, the index probes
    must shape their empty output WITHOUT firing on_batch_start (the
    maintenance hook could compact an index for a batch that never ran)
    and leave no cache entry behind. The runner is stubbed to the
    zero-batch branch (under availableNow even an empty staged input
    runs one empty micro-batch, so the branch is defensive); the drain
    and the batch probes it runs are the real ones."""
    from dsacord_spark.operators.dedup import (
        build_hamming_index,
        build_minhash_index,
    )
    from dsacord_spark.streaming import pipeline as sp

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    calls: list[int] = []
    cache = spark._jsparkSession.sharedState().cacheManager()

    def fake_runner(spark_, batch_df, transform, **kw):
        return sp._shape_empty_drain(
            spark_, transform(batch_df).schema, kw.get("batch_transform"),
            kw.get("pass_batch_id", False), kw.get("drain_transform"),
        )

    monkeypatch.setattr(sp, "run_bounded_stream", fake_runner)
    try:
        build_hamming_index(
            docs.select("doc_id", F.xxhash64("text").alias("h")),
            "doc_id", "h", "t_r12_drain_ham",
        )
        build_minhash_index(docs, "doc_id", "text", "t_r12_drain_mh")
        spark.catalog.clearCache()
        out = sp.stream_probe_hamming_index(
            spark, "t_r12_drain_ham",
            spark.createDataFrame([], "doc_id long, h long"),
            "doc_id", "h",
            on_batch_start=calls.append,
        )
        assert out.count() == 0 and len(out.columns) >= 2
        assert calls == [], "hook fired for a batch that never ran"
        assert cache.isEmpty(), "drain left a cache entry"

        out = sp.stream_probe_minhash_index(
            spark, "t_r12_drain_mh",
            spark.createDataFrame([], "doc_id long, text string"),
            "doc_id", "text",
            on_batch_start=calls.append,
        )
        assert out.count() == 0 and len(out.columns) >= 2
        assert calls == [], "hook fired for a batch that never ran"
        assert cache.isEmpty(), "drain left a cache entry"
    finally:
        for t in ("t_r12_drain_ham", "t_r12_drain_mh"):
            for suffix in ("_summary", "_bands", "_shingles", "_meta"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
