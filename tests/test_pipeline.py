"""End-to-end backfill: URL generation -> staged download (fake HTTP) ->
nested-zip extraction -> typed transform -> dedup -> parquet sink ->
metrics, with one day 403ing (isolated, run continues — main.go:137-144)."""

from __future__ import annotations

import io
import urllib.error
from datetime import date

from dsacord_spark.config import Config
from dsacord_spark.pipeline import run_backfill
from tests.wire_dumps import FULL_ROW, day_zip, dump_zip, stage_zip


class _Resp(io.BytesIO):
    status = 200

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


def test_run_backfill_end_to_end(spark, tmp_path):
    served = {
        "2025-01-01": day_zip("day1-row", copies=2),
        "2025-01-03": day_zip("day3-row", copies=2),
    }

    def opener(url):
        for dt, data in served.items():
            if dt in url:
                return _Resp(data)
        raise urllib.error.HTTPError(url, 403, "forbidden", None, None)  # day 2

    cfg = Config(
        date_from=date(2025, 1, 1),
        date_to=date(2025, 1, 3),
        landing_dir=str(tmp_path / "landing"),
    )
    metrics = run_backfill(spark, cfg, opener=opener)

    assert metrics.rows_written == 2            # dup rows within day deduped
    assert metrics.rows_quarantined == 0
    assert len(metrics.day_errors) == 1         # the 403 day, isolated
    assert "forbidden" in metrics.day_errors[0]

    out = spark.read.parquet(str(tmp_path / "landing" / "decisions"))
    assert sorted(r["uuid"] for r in out.select("uuid").collect()) == [
        "day1-row",
        "day3-row",
    ]


def test_default_sink_runs_extraction_exactly_once(spark, tmp_path, monkeypatch):
    """r7 verdict #2: the default sink used to count the dataflow and then
    write it — executing the binaryFile->zip->CSV->transform pipeline
    twice. Pin single execution by counting every wire row the extraction
    emits in a Spark accumulator: 2 days x 2 CSV rows = 4; a re-executed
    dataflow would double it."""
    from dsacord_spark.sources import zipsource

    served = {
        "2025-01-01": day_zip("d1", copies=2),
        "2025-01-02": day_zip("d2", copies=2),
    }

    def opener(url):
        for dt, data in served.items():
            if dt in url:
                return _Resp(data)
        raise AssertionError(f"unexpected url {url}")

    rows_emitted = spark.sparkContext.accumulator(0)
    orig_extract = zipsource.extract_zip_arrow

    def counting_extract(it):
        for rb in orig_extract(it):
            rows_emitted.add(rb.num_rows)
            yield rb

    monkeypatch.setattr(zipsource, "extract_zip_arrow", counting_extract)

    cfg = Config(
        date_from=date(2025, 1, 1),
        date_to=date(2025, 1, 2),
        landing_dir=str(tmp_path / "landing"),
    )
    metrics = run_backfill(spark, cfg, opener=opener)  # default sink
    assert metrics.rows_written == 2        # one per day after dedup
    assert rows_emitted.value == 4          # 2 wire rows/day, extracted ONCE
    assert metrics.rows_quarantined == 0    # observe populated by the write


def test_default_sink_handles_all_quarantined_empty_write(spark, tmp_path):
    """r8 review: a run whose every row is quarantined (empty uuid)
    writes an empty lake — rows_written must be 0, not an
    AnalysisException from reading back a data-less parquet dir."""
    metrics = run_backfill(
        spark,
        Config(
            date_from=date(2025, 1, 1),
            date_to=date(2025, 1, 1),
            landing_dir=str(tmp_path / "landing"),
        ),
        opener=lambda url: _Resp(day_zip("", copies=2)),  # empty uuid -> quarantined
    )
    assert metrics.rows_written == 0
    assert metrics.rows_quarantined == 2  # the dup pair, both quarantined
    assert metrics.day_errors == []


def test_first_backfill_never_reads_absent_lake(spark, tmp_path, monkeypatch):
    """A first backfill into an empty landing dir asks the filesystem
    whether the lake exists instead of reading the absent path (which
    fails analysis with PATH_NOT_FOUND and logs a stack trace), and
    still counts rows_written exactly."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    lake = str(tmp_path / "landing" / "decisions")
    absent_reads = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        absent_reads.extend(p for p in paths if not os.path.exists(p))
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    served = {
        "2025-01-01": day_zip("d1", copies=2),
        "2025-01-02": day_zip("d2", copies=2),
    }
    metrics = run_backfill(
        spark,
        Config(date_from=date(2025, 1, 1), date_to=date(2025, 1, 2),
               landing_dir=str(tmp_path / "landing")),
        opener=lambda url: _Resp(
            next(v for k, v in served.items() if k in url)
        ),
    )
    assert absent_reads == []
    assert metrics.rows_written == 2
    assert spark.read.parquet(lake).count() == 2


def test_run_backfill_scopes_to_this_runs_days(spark, tmp_path):
    """r8 verdict #2: a second run with a NEW range into a SHARED landing
    dir must process (and count) only its own staged days — not
    re-extract and re-write every previously staged day — and must leave
    earlier runs' lake rows in place EVEN IN A SHARED dt PARTITION (the
    lake partitions on created_at, not the dump day, so run B's rows can
    land in run A's partition — r9 review: a partition overwrite would
    clobber; the anti-join append must not). Replaying a day appends
    nothing and counts 0."""
    landing = str(tmp_path / "landing")

    def opener_a(url):
        assert "2025-01-01" in url, f"run A staged unexpected url {url}"
        return _Resp(day_zip("rowA", "2025-01-01 00:00:00"))

    def opener_b(url):
        assert "2025-01-02" in url, f"run B staged unexpected url {url}"
        # created_at deliberately in run A's day partition
        return _Resp(day_zip("rowB", "2025-01-01 12:00:00"))

    m_a = run_backfill(
        spark,
        Config(date_from=date(2025, 1, 1), date_to=date(2025, 1, 1),
               landing_dir=landing),
        opener=opener_a,
    )
    assert m_a.rows_written == 1

    cfg_b = Config(date_from=date(2025, 1, 2), date_to=date(2025, 1, 2),
                   landing_dir=landing)
    m_b = run_backfill(spark, cfg_b, opener=opener_b)
    assert m_b.rows_written == 1  # counts ONLY run B's day, not A's

    lake = spark.read.parquet(landing + "/decisions")
    assert sorted(r["uuid"] for r in lake.select("uuid").collect()) == [
        "rowA", "rowB",  # B appended INTO A's dt partition without clobbering
    ]

    # replaying run B: the uuid anti-join appends nothing, counts 0
    m_b2 = run_backfill(spark, cfg_b, opener=opener_b)
    assert m_b2.rows_written == 0
    assert spark.read.parquet(landing + "/decisions").count() == 2

    # the escape hatch: rebuild=True re-extracts EVERY staged ZIP under
    # the landing dir and rewrites the whole lake (old semantics)
    m_c = run_backfill(
        spark,
        Config(date_from=date(2025, 1, 2), date_to=date(2025, 1, 2),
               landing_dir=landing),
        opener=opener_b,
        rebuild=True,
    )
    assert m_c.rows_written == 2  # both staged days reprocessed
    lake = spark.read.parquet(landing + "/decisions")
    assert lake.count() == 2


def test_run_backfill_distributed_staging_end_to_end(spark, tmp_path):
    """r8 verdict #3: cfg.staging='distributed' routes the backfill's
    downloads through stage_range_distributed (Spark tasks, multi-node
    NIC) — same results, metrics, and per-day error isolation as the
    driver pool. The fake transport is defined in-test so cloudpickle
    ships it to the Python workers BY VALUE (a test-module-level def
    pickles by reference to a module the workers cannot import)."""
    served = {
        "2025-02-01": day_zip("dist-day1", copies=2),
        "2025-02-03": day_zip("dist-day3", copies=2),
    }

    class _R(io.BytesIO):
        status = 200

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def dist_opener(url):
        for dt, data in served.items():
            if dt in url:
                return _R(data)
        raise urllib.error.HTTPError(url, 403, "forbidden", None, None)

    cfg = Config(
        date_from=date(2025, 2, 1),
        date_to=date(2025, 2, 3),
        landing_dir=str(tmp_path / "landing"),
        staging="distributed",
    )
    metrics = run_backfill(spark, cfg, opener=dist_opener)

    assert metrics.rows_written == 2            # dup rows within day deduped
    assert len(metrics.day_errors) == 1         # the 403 day, isolated
    assert "forbidden" in metrics.day_errors[0]
    out = spark.read.parquet(str(tmp_path / "landing" / "decisions"))
    assert sorted(r["uuid"] for r in out.select("uuid").collect()) == [
        "dist-day1", "dist-day3",
    ]


def test_config_rejects_unknown_staging():
    import pytest

    with pytest.raises(ValueError, match="staging"):
        Config(date_from=date(2025, 1, 1), date_to=date(2025, 1, 1),
               staging="carrier-pigeon").validate()


# three versions of one uuid with the same created_at: only their
# content differs, so the keep choice falls to the tie-breaks
_CONFLICT = [
    dict(FULL_ROW, uuid="c-1", account_type=kind) for kind in ("b", "a", "c")
]


def _days(dumps: list[list[dict]]) -> list[str]:
    """The dump day of each entry of `dumps`, from 2025-01-01 on."""
    return [f"2025-01-0{i}" for i in range(1, len(dumps) + 1)]


def _backfill_survivor(spark, tmp_path, dumps: list[list[dict]]) -> str:
    kept: list = []
    served = dict(zip(_days(dumps), map(dump_zip, dumps)))

    def sink(df):
        kept.extend(df.select("uuid", "account_type").collect())
        return len(kept)

    run_backfill(
        spark,
        Config(date_from=date(2025, 1, 1), date_to=date(2025, 1, len(dumps)),
               landing_dir=str(tmp_path / "landing")),
        sink=sink,
        opener=lambda url: _Resp(next(z for dt, z in served.items() if dt in url)),
    )
    assert [r["uuid"] for r in kept] == ["c-1"]
    return kept[0]["account_type"]


def _stream_survivor(spark, tmp_path, dumps: list[list[dict]]) -> str:
    from dsacord_spark.streaming.pipeline import start_decisions_stream

    for dt, rows in zip(_days(dumps), dumps):
        stage_zip(tmp_path / "stream", dt, f"sbd-{dt}-full.zip", dump_zip(rows))
    kept: list = []
    q = start_decisions_stream(
        spark, str(tmp_path / "stream"), str(tmp_path / "ckpt"),
        lambda df, _epoch: kept.extend(df.select("uuid", "account_type").collect()),
    )
    q.awaitTermination(120)
    assert [r["uuid"] for r in kept] == ["c-1"]
    return kept[0]["account_type"]


def test_dedup_keep_choice_ignores_row_order(spark, tmp_path):
    """Rows that tie on uuid and created_at arrive at the dedup window in
    file order; the survivor must not depend on it (a task retry can
    change arrival order), in the backfill and in the stream's epoch.
    A tie split across two dumps goes to the later file on both paths,
    even where the column tie-break would pick the other row."""
    inputs = {
        "one dump": ([_CONFLICT], "a"),
        "one dump, reversed": ([_CONFLICT[::-1]], "a"),
        "two dumps": ([[_CONFLICT[1]], [dict(_CONFLICT[1], account_type="z")]], "z"),
    }
    for path in (_backfill_survivor, _stream_survivor):
        for i, (name, (dumps, want)) in enumerate(inputs.items()):
            got = path(spark, tmp_path / f"{path.__name__}{i}", dumps)
            assert got == want, (path.__name__, name, got)


def test_dedup_keep_choice_prefers_later_source_file(spark):
    from pyspark.sql import functions as F

    from dsacord_spark.sinks.jdbc import dedup_batch

    rows = [
        ("c-1", "a", "file:/landing/sbd-2025-01-01-full.zip!d.csv"),
        ("c-1", "z", "file:/landing/sbd-2025-01-02-full.zip!d.csv"),
    ]
    for ordered in (rows, rows[::-1]):
        df = spark.createDataFrame(
            ordered, "uuid string, account_type string, _source_file string"
        ).coalesce(1).withColumn("created_at", F.lit("2025-01-01").cast("timestamp"))
        kept = dedup_batch(df).collect()
        assert [(r["uuid"], r["account_type"]) for r in kept] == [("c-1", "z")]
