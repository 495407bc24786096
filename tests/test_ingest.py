"""Ingestion-path integration: zip-of-zips-of-csv fixture -> extraction
-> typed transform -> quarantine split -> parquet sink (SURVEY §5.2 item 5).
Edge cases mirror FIXTURES.md §2 golden rows."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dsacord_spark.schema import CSV_COLUMNS
from dsacord_spark.sources.zipsource import read_staged_zips
from dsacord_spark.transform import decisions_transform, split_quarantine
from dsacord_spark.sinks.parquet import write_decisions_parquet
from tests.wire_dumps import FULL_ROW, stage_zip, wire_csv, zip_bytes


def _build_fixture(tmp_path) -> str:
    """landing/dt=2025-01-01/day.zip: nested zip + plain csv + ragged csv."""
    # ragged: header-subset file (missing most columns) with a short row
    csv2 = (
        "uuid,platform_uid,automated_detection\n"
        '"bbbb-1","abc-9-server","NO"\n'
        '"bbbb-2"\n'  # short row: missing cells -> '' (reference get-closure semantics)
    )
    inner = zip_bytes({"part-0.csv": wire_csv([FULL_ROW, {"uuid": ""}])})
    return stage_zip(
        tmp_path / "landing", "2025-01-01", "day.zip",
        zip_bytes({"inner.zip": inner, "part-1.csv": csv2}),
    )


@pytest.fixture(scope="module")
def wire(spark, tmp_path_factory):
    landing = _build_fixture(tmp_path_factory.mktemp("ingest"))
    return read_staged_zips(spark, landing).cache()


def test_extraction_row_count_and_provenance(wire):
    rows = wire.collect()
    assert len(rows) == 4
    sources = {r["_source_file"] for r in rows}
    assert any("inner.zip!part-0.csv" in s for s in sources)  # nested path
    assert any("!part-1.csv" in s for s in sources)


def test_typed_transform_golden_values(wire):
    typed = decisions_transform(wire)
    by_uuid = {r["uuid"]: r for r in typed.collect()}
    full = by_uuid["aaaa-1"]
    assert full["decision_visibility"] == ["DECISION_VISIBILITY_CONTENT_REMOVED"]
    assert full["content_type"] == ["not-json-token"]  # singleton fallback
    assert full["end_date_visibility_restriction"] == datetime(2025, 1, 2, 3, 4, 5)
    assert full["automated_detection"] is True
    assert full["snowflake_time"] == datetime(2016, 4, 30, 11, 18, 25, 796000)
    assert full["entity_id"] == "42" and full["entity_type"] == "user"
    assert full["incompatible_content_illegal"] is None  # Q4
    # header-subset file: absent column -> '' (the reference's get closure,
    # utils.go:185-191, returns '' for missing and short), bad snowflake ->
    # NULL time; ''-input parse functions still yield NULL
    partial = by_uuid["bbbb-1"]
    assert partial["category"] == ""
    assert partial["decision_ground"] == ""
    assert partial["end_date_visibility_restriction"] is None
    assert partial["automated_detection"] is False
    assert partial["snowflake_time"] is None
    assert partial["entity_id"] == "9" and partial["entity_type"] == "server"
    # short row: missing cells -> '' -> uid parts fall back to ''
    short = by_uuid["bbbb-2"]
    assert short["platform_uid"] == "" and short["entity_id"] == ""


def test_quarantine_split(wire):
    valid, quarantined = split_quarantine(decisions_transform(wire))
    assert valid.count() == 3
    assert quarantined.count() == 1


def test_parquet_sink_roundtrip(spark, wire, tmp_path):
    out = str(tmp_path / "decisions")
    valid, _ = split_quarantine(decisions_transform(wire))
    write_decisions_parquet(valid, out, mode="overwrite")
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert "dt" in back.columns  # date-partitioned layout
    assert back.filter(F.col("uuid") == "aaaa-1").select("dt").collect()[0][
        "dt"
    ] == "2025-01-01"


def test_lake_files_clustered_by_entity_id(spark, wire, tmp_path):
    """Each output file is internally sorted by entity_id (the lake
    formulation of the reference's EntityID index, types.go:63) — sorted
    files are what make parquet row-group min/max stats selective."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "clustered")
    valid, _ = split_quarantine(decisions_transform(wire))
    write_decisions_parquet(valid, out, mode="overwrite")
    files = glob.glob(f"{out}/dt=*/*.parquet")
    assert files
    for f in files:
        vals = [
            v for v in pq.read_table(f, columns=["entity_id"])
            .column("entity_id").to_pylist() if v is not None
        ]
        assert vals == sorted(vals), f


def test_append_new_decisions_skips_existing_keys(spark, wire, tmp_path):
    """Re-appending an overlapping batch adds only unseen uuids — the
    reference's optimistic 'insert only new rows' semantics
    (main.go:194-204) on the lake sink."""
    from dsacord_spark.sinks.parquet import append_new_decisions

    out = str(tmp_path / "lake")
    valid, _ = split_quarantine(decisions_transform(wire))
    append_new_decisions(spark, valid, out)          # empty lake: all rows
    n1 = spark.read.parquet(out).count()
    append_new_decisions(spark, valid, out)          # full overlap: no-op
    assert spark.read.parquet(out).count() == n1
    extra = valid.withColumn("uuid", F.concat(F.col("uuid"), F.lit("-v2")))
    append_new_decisions(spark, valid.union(extra), out)  # half overlap
    back = spark.read.parquet(out)
    assert back.count() == 2 * n1
    assert back.select("uuid").distinct().count() == 2 * n1


def test_compact_partitions_merges_small_files(spark, tmp_path):
    """Fragmented day partitions are rewritten to the target file count;
    healthy partitions are untouched; data survives bit-identical."""
    import glob
    import os

    from dsacord_spark.sinks.parquet import compact_partitions

    out = str(tmp_path / "lake")
    # day A: 8 fragment files; day B: 1 healthy file
    frag = spark.range(2000).select(
        F.col("id"),
        F.lit("2025-01-01").alias("dt"),
    ).repartition(8)
    frag.write.partitionBy("dt").parquet(out)
    healthy = spark.range(2000, 2500).select(
        F.col("id"), F.lit("2025-01-02").alias("dt")
    ).coalesce(1)
    healthy.write.mode("append").partitionBy("dt").parquet(out)

    def n_files(day):
        return len(glob.glob(os.path.join(out, f"dt={day}", "*.parquet")))

    healthy_file = glob.glob(os.path.join(out, "dt=2025-01-02", "*.parquet"))[0]
    healthy_mtime = os.path.getmtime(healthy_file)
    before = sorted(r["id"] for r in spark.read.parquet(out).collect())

    stats = compact_partitions(spark, out, target_file_bytes=1 << 30)

    assert stats["partitions_compacted"] == 1
    assert stats["files_before"] == 8 and stats["files_after"] == 1
    assert n_files("2025-01-01") == 1
    # healthy partition: same file, not rewritten
    assert os.path.getmtime(healthy_file) == healthy_mtime
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == before
    # idempotent: second run is a metadata-only no-op
    assert compact_partitions(spark, out, target_file_bytes=1 << 30) == {
        "partitions_compacted": 0,
        "files_before": 0,
        "files_after": 0,
    }


def test_zip_path_matches_get_closure_semantics(spark, tmp_path):
    """Empty cell, per-member-absent column, and globally-absent column
    all surface as '' exactly like the reference's get closure."""
    landing = stage_zip(
        tmp_path / "landing", "2025-01-01", "day.zip", zip_bytes({
            "a.csv": "uuid,category,platform_uid\n"
            '"fast-1","CAT","123-9-user"\n'
            '"fast-2","",""\n',  # present-but-empty cells
            "b.csv": 'uuid\n"fast-3"\n',  # header-subset member
        }),
    )
    rows = {r["uuid"]: r for r in read_staged_zips(spark, landing).collect()}
    assert set(rows) == {"fast-1", "fast-2", "fast-3"}
    assert rows["fast-1"]["category"] == "CAT"
    assert rows["fast-2"]["category"] == ""          # empty cell -> ''
    assert rows["fast-3"]["category"] == ""          # absent column -> ''
    assert rows["fast-3"]["decision_ground"] == ""   # globally absent -> ''


def test_ragged_first_row_keeps_uuids(spark, tmp_path):
    """A member whose FIRST data row has one extra field is legal for the
    reference's reader (FieldsPerRecord=-1): every row keeps its own
    uuid and the extra field is ignored — no column shift."""
    landing = stage_zip(
        tmp_path / "landing", "2025-01-01", "day.zip",
        zip_bytes({"r.csv": 'uuid,category\n"r-1","C1","EXTRA"\n"r-2","C2"\n'}),
    )
    rows = read_staged_zips(spark, landing).collect()
    assert sorted((r["uuid"], r["category"]) for r in rows) == [
        ("r-1", "C1"),
        ("r-2", "C2"),
    ]


def test_dq_metrics_observed_in_one_pass(spark):
    """O5/Q2: the observation is populated by the first downstream action
    — exact counts, no second scan, no over-counting."""
    from dsacord_spark.schema import CSV_COLUMNS
    from dsacord_spark.transform import decisions_transform, split_quarantine, with_dq_metrics

    wire = spark.createDataFrame(
        [
            {"uuid": "m-1", "created_at": "2025-01-01 00:00:00"},
            {"uuid": "", "created_at": "2025-01-01 00:00:00"},
            {"uuid": "m-2", "created_at": "not-a-time"},
        ],
        ", ".join(f"{c} string" for c in CSV_COLUMNS),
    )
    typed, dq = with_dq_metrics(decisions_transform(wire))
    valid, _ = split_quarantine(typed)
    assert valid.count() == 2  # the action that populates the observation
    assert dq.get == {"rows": 3, "empty_uuid": 1, "null_created_at": 1}


def test_url_table_generation(spark):
    """S1 (main.go:146-154): one URL per day, inclusive range, zero-padded
    date in the template."""
    from datetime import date

    from dsacord_spark.sources.urlgen import url_table

    rows = sorted(
        url_table(spark, date(2025, 1, 30), date(2025, 2, 2), workers=2).collect(),
        key=lambda r: r["dt"],
    )  # repartition(workers) does not preserve order
    assert [r["dt"] for r in rows] == [
        "2025-01-30", "2025-01-31", "2025-02-01", "2025-02-02",
    ]
    assert rows[0]["url"] == (
        "https://dsa-sor-data-dumps.s3.eu-central-1.amazonaws.com/"
        "sor-discord-netherlands-bv-2025-01-30-full.zip"
    )


def test_refresh_rollup_recomputes_only_changed_days(spark, tmp_path):
    """Incremental rollup maintenance: appending one new day refreshes
    exactly that rollup partition; untouched rollup partitions keep
    their files (not re-read, not rewritten); the refreshed rollup
    always equals a from-scratch recompute."""
    import glob
    import os

    from dsacord_spark.sinks.parquet import refresh_rollup

    src = str(tmp_path / "src")
    roll = str(tmp_path / "rollup")

    def day(dt, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.lit(dt).alias("dt"), (F.col("id") % 3).alias("k")
        )

    def daily_counts(df):
        return df.groupBy("dt", "k").agg(F.count(F.lit(1)).alias("n"))

    def full_recompute():
        return sorted(
            map(
                tuple,
                daily_counts(spark.read.parquet(src))
                .select("dt", "k", "n")
                .collect(),
            )
        )

    day("2025-01-01", 0, 100).write.partitionBy("dt").parquet(src)
    day("2025-01-02", 100, 250).write.mode("append").partitionBy("dt").parquet(src)

    # bootstrap: no rollup yet -> metadata diff finds both days
    stats = refresh_rollup(spark, src, roll, daily_counts)
    assert stats["partitions_refreshed"] == 2
    assert sorted(map(tuple, spark.read.parquet(roll).select("dt", "k", "n").collect())) == full_recompute()

    d1_file = glob.glob(os.path.join(roll, "dt=2025-01-01", "*.parquet"))[0]
    d1_mtime = os.path.getmtime(d1_file)

    # a new day arrives; caller passes the changed list
    day("2025-01-03", 250, 300).write.mode("append").partitionBy("dt").parquet(src)
    stats = refresh_rollup(spark, src, roll, daily_counts, changed_dts=["2025-01-03"])
    assert stats == {"partitions_refreshed": 1, "dts": ["2025-01-03"]}
    assert sorted(map(tuple, spark.read.parquet(roll).select("dt", "k", "n").collect())) == full_recompute()
    assert os.path.getmtime(d1_file) == d1_mtime  # day 1 untouched

    # late rows land IN an existing day -> that day recomputes in place
    day("2025-01-02", 300, 320).write.mode("append").partitionBy("dt").parquet(src)
    stats = refresh_rollup(spark, src, roll, daily_counts, changed_dts=["2025-01-02"])
    assert stats["dts"] == ["2025-01-02"]
    assert sorted(map(tuple, spark.read.parquet(roll).select("dt", "k", "n").collect())) == full_recompute()
    assert os.path.getmtime(d1_file) == d1_mtime

    # nothing changed -> no job, no-op
    assert refresh_rollup(spark, src, roll, daily_counts) == {
        "partitions_refreshed": 0,
        "dts": [],
    }
    # changed_dts pointing at a vanished day is ignored
    assert refresh_rollup(
        spark, src, roll, daily_counts, changed_dts=["2099-01-01"]
    ) == {"partitions_refreshed": 0, "dts": []}


def test_append_new_decisions_reports_touched_days(spark, wire, tmp_path):
    from dsacord_spark.sinks.parquet import append_new_decisions

    out = str(tmp_path / "lake_dts")
    valid, _ = split_quarantine(decisions_transform(wire))
    dts = append_new_decisions(spark, valid, out, return_dts=True)
    assert dts and all(len(d) == 10 or d == "unknown" for d in dts)
    # a replayed (full-overlap) batch appends no rows but still reports
    # the days it covers, so a rollup refresh wired to the return value
    # is healed by replay instead of left stale (crash-safety contract)
    n_before = spark.read.parquet(out).count()
    assert append_new_decisions(spark, valid, out, return_dts=True) == dts
    assert spark.read.parquet(out).count() == n_before


def test_rollup_sink_replay_recovers_from_crash_between_append_and_refresh(
    spark, wire, tmp_path
):
    """Crash-safety: if an epoch dies after the lake append but before
    the rollup refresh, replaying the same batch must still refresh the
    touched days (the refresh set comes from the batch, not from what
    the append wrote — a replayed append writes nothing)."""
    from pyspark.sql import functions as F

    from dsacord_spark.sinks.parquet import (
        append_new_decisions,
        lake_with_rollup_sink,
    )

    lake = str(tmp_path / "lake")
    roll = str(tmp_path / "rollup")
    valid, _ = split_quarantine(decisions_transform(wire))

    def daily_counts(df):
        return df.groupBy("dt").agg(F.count(F.lit(1)).alias("n_rows"))

    # simulated crash: lake append happened, refresh never ran
    append_new_decisions(spark, valid, lake)
    assert not (tmp_path / "rollup").exists()

    # replay the same epoch through the composed sink
    lake_with_rollup_sink(spark, lake, roll, daily_counts)(valid, 0)
    got = sorted(
        map(tuple, spark.read.parquet(roll).select("dt", "n_rows").collect())
    )
    want = sorted(
        map(
            tuple,
            daily_counts(spark.read.parquet(lake))
            .select("dt", "n_rows")
            .collect(),
        )
    )
    assert got and got == want


def test_append_return_dts_without_created_at(spark, tmp_path):
    """return_dts on a frame with no created_at (unpartitioned layout)
    answers [] instead of failing column resolution."""
    from dsacord_spark.sinks.parquet import append_new_decisions

    out = str(tmp_path / "flat")
    df = spark.range(5).select(
        F.concat(F.lit("u"), F.col("id")).alias("uuid"), F.col("id")
    )
    assert append_new_decisions(spark, df, out, return_dts=True) == []
    assert spark.read.parquet(out).count() == 5


def test_corrupt_archive_isolated_not_fatal(spark, tmp_path):
    """Reference parity (main.go:183-206): a corrupt/truncated archive is
    logged and skipped — the good archives in the same landing dir still
    extract, and the task does not fail."""
    landing = tmp_path / "landing"
    landing.mkdir()
    good = zip_bytes({"a.csv": 'uuid,category\n"u1","C"\n"u2","D"\n'})
    (landing / "good.zip").write_bytes(good)
    (landing / "bad.zip").write_bytes(b"PK\x03\x04 truncated garbage")
    # nested corruption: valid outer zip holding a broken inner .zip
    mixed = zip_bytes({
        "inner.zip": b"PK\x03\x04 also garbage",
        "b.csv": 'uuid,category\n"u3","E"\n',
    })
    (landing / "mixed.zip").write_bytes(mixed)

    rows = read_staged_zips(spark, str(landing)).collect()
    got = sorted(r["uuid"] for r in rows)
    # u1/u2 from the good archive survive; mixed.zip contributes whatever
    # precedes its corruption point (member order within a zip is
    # archive-defined, so b.csv may or may not precede the bad entry)
    assert {"u1", "u2"}.issubset(set(got))


def test_arrow_member_parse_matches_row_parser():
    """The Arrow fast path (_member_arrow_table) and the row parser
    (_parse_csv_rows) must produce identical wire tables for every CSV
    shape: normal, empty cells, header-subset, extra columns, quoted
    embedded newlines, CRLF, a UTF-8 BOM, blank lines, an empty file.
    Shapes the fast path rejects or routes away — ragged rows (first row
    included), invalid UTF-8, duplicate header names — must reach the
    row parser, whose values are pinned first."""
    from dsacord_spark.sources.zipsource import (
        _member_arrow_table,
        _parse_csv_rows,
    )

    c0, c1, c2 = CSV_COLUMNS[0], CSV_COLUMNS[1], CSV_COLUMNS[2]
    cases = {
        "normal": f'{c0},{c1}\n"a","b"\n"c","d"\n',
        "empty_cells": f'{c0},{c1}\n"a",""\n"",""\n',
        "subset_plus_extra": f'{c0},zzz_not_wire\n"a","ignored"\n',
        "quoted_newline": f'{c0},{c1}\n"a","line1\nline2"\n',
        "crlf": f"{c0},{c1}\r\na,b\r\nc,d\r\n",
        "bom": f"\ufeff{c0},{c1}\na,b\n",
        "blank_lines": f"{c0},{c1}\na,b\n\nc,d\n\n",
        "ragged_wide": f"{c0},{c1}\na,b,EXTRA,MORE\nc,d\n",
        "ragged_first_row": f"{c0},{c1}\na,b,EXTRA\nc,d\n",
        "ragged_blank_lines": f"{c0},{c1}\na,b\nc,d,EXTRA\n\ne,f\n",
        "dup_header": f"{c0},{c0},{c1}\nfirst,second,x\n",
        "empty_file": "",
        "header_only": f"{c0},{c1}\n",
    }
    raws = {name: text.encode() for name, text in cases.items()}
    raws["invalid_utf8"] = f"{c0},{c1}\na,b".encode() + b"\xff\n"

    def col(name, c):
        return _member_arrow_table(raws[name], "src").column(c).to_pylist()

    # ragged first row: no column shift, extra field ignored
    assert col("ragged_first_row", c0) == ["a", "c"]
    assert col("ragged_first_row", c1) == ["b", "d"]
    # blank records are skipped, never a phantom all-'' row
    assert col("ragged_blank_lines", c0) == ["a", "c", "e"]
    assert col("blank_lines", c0) == ["a", "c"]
    assert col("invalid_utf8", c1) == ["b\ufffd"]
    # the header map is last-wins over duplicate names, like the
    # reference's name->index map (utils.go:167-170)
    assert col("dup_header", c0) == ["second"]
    assert col("dup_header", c1) == ["x"]

    for name, raw in raws.items():
        t = _member_arrow_table(raw, "src")
        rows = _parse_csv_rows(raw, "src")
        if t is None:
            assert rows is None, name
            continue
        assert t.equals(rows), (name, t.to_pydict(), rows.to_pydict())
        # absent column -> '' (get-closure semantics), provenance stamped
        cols = t.to_pydict()
        assert cols[c2] == [""] * len(t), name
        assert cols["_source_file"] == ["src"] * len(t), name


def test_nested_zip_larger_than_spool_spills_not_oom(monkeypatch):
    """Q7 divergence, r7 verdict #3: an inner archive bigger than the
    spool threshold must roll over to disk (never a full in-memory copy)
    and still extract every member correctly."""
    import tempfile

    from dsacord_spark.sources import zipsource

    rolled = []

    class RecordingSpool(tempfile.SpooledTemporaryFile):
        def rollover(self):
            rolled.append(True)
            super().rollover()

    monkeypatch.setattr(zipsource, "INNER_SPOOL_BYTES", 1024)
    monkeypatch.setattr(
        zipsource.tempfile, "SpooledTemporaryFile", RecordingSpool
    )

    # inner zip ~> 200 KB stored (incompressible payload beats the 1 KiB spool)
    import os as _os

    big_csv = 'uuid,category\n"u-big","' + "x" * 100 + '"\n'
    inner = zip_bytes({
        "big.csv": big_csv,
        "noise.bin": _os.urandom(200_000),  # incompressible bulk
    })

    members = list(
        zipsource._iter_csv_members(zip_bytes({"inner.zip": inner}), "day.zip")
    )
    assert rolled, "inner archive above the spool cap must spill to disk"
    names = [m for m, _ in members]
    assert "day.zip!inner.zip!big.csv" in names
    got = dict(members)["day.zip!inner.zip!big.csv"]
    assert got == big_csv.encode()
