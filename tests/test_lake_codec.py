"""The decisions lake's file format: every data file the lake writers
produce (both branches of write_decisions_parquet, append_new_decisions,
compact_partitions) holds zstd column chunks whatever the session codec,
the rows read back unchanged through Spark and through DuckDB, a
compacted file keeps the write's entity_id order, and the bucketed uuid
index keeps the session codec."""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dsacord_spark.sinks.parquet import (
    append_new_decisions,
    compact_partitions,
    write_decisions_parquet,
)


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _codecs(files: list[str]) -> set[str]:
    """Compression of every column chunk, read from the parquet footers."""
    out = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                out.add(md.row_group(rg).column(c).compression)
    return out


def _rows(ids, day: str):
    t0 = datetime.fromisoformat(day)
    return [
        (
            f"u-{i}",
            f"e-{i % 7}",
            f"statement {i}: the content was removed for violating terms " * 4,
            t0 + timedelta(minutes=i),
        )
        for i in ids
    ]


def _frame(spark, rows):
    return spark.createDataFrame(
        rows,
        "uuid string, entity_id string, decision_facts string, "
        "created_at timestamp",
    )


def _spark_rows(spark, path: str) -> list[tuple]:
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select(
            "uuid", "entity_id", "decision_facts",
            F.unix_millis("created_at"),
        )
        .collect()
    )


def _duckdb_rows(path: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return sorted(
            con.execute(
                "SELECT uuid, entity_id, decision_facts, epoch_ms(created_at)"
                f" FROM read_parquet({_data_files(path)!r})"
            ).fetchall()
        )
    finally:
        con.close()


def _expected(rows) -> list[tuple]:
    return sorted(
        (u, e, f, int(t.timestamp() * 1000))
        for u, e, f, t in rows
    )


def test_write_decisions_parquet_writes_zstd_both_branches(spark, tmp_path):
    rows = _rows(range(60), "2025-01-01") + _rows(range(60, 90), "2025-01-02")
    for partition_by_date in (True, False):
        out = str(tmp_path / f"lake-{partition_by_date}")
        write_decisions_parquet(
            _frame(spark, rows), out, partition_by_date=partition_by_date,
            mode="overwrite",
        )
        files = _data_files(out)
        assert files
        assert any("dt=" in f for f in files) == partition_by_date
        assert _codecs(files) == {"ZSTD"}
        assert _spark_rows(spark, out) == _expected(rows)
        assert _duckdb_rows(out) == _expected(rows)


def test_append_writes_zstd_and_uuid_index_keeps_session_codec(
    spark, tmp_path
):
    out = str(tmp_path / "lake")
    idx = "t_lake_codec_uuidx"
    first = _rows(range(40), "2025-01-01")
    second = _rows(range(30, 70), "2025-01-02")
    try:
        # empty lake (bootstraps the index), then the anti-join branch
        append_new_decisions(
            spark, _frame(spark, first), out, uuid_index_table=idx
        )
        append_new_decisions(
            spark, _frame(spark, second), out, uuid_index_table=idx
        )
        assert _codecs(_data_files(out)) == {"ZSTD"}
        want = _expected(first + [r for r in second if r[0] not in
                                  {u for u, *_ in first}])
        assert len(want) == 70
        assert _spark_rows(spark, out) == want
        assert _duckdb_rows(out) == want

        session_codec = spark.conf.get(
            "spark.sql.parquet.compression.codec"
        ).upper()
        assert session_codec != "ZSTD"
        index_files = [
            f.removeprefix("file:") for f in spark.table(idx).inputFiles()
        ]
        assert index_files
        assert _codecs(index_files) == {session_codec}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


def test_compaction_keeps_zstd(spark, tmp_path):
    out = str(tmp_path / "lake")
    rows = []
    for part in range(4):  # four appends -> several files per day
        batch = _rows(range(part * 25, part * 25 + 25), "2025-01-01")
        append_new_decisions(spark, _frame(spark, batch), out)
        rows += batch
    day_files = _data_files(os.path.join(out, "dt=2025-01-01"))
    assert len(day_files) > 1
    stats = compact_partitions(spark, out, target_file_bytes=1 << 30)
    assert stats["partitions_compacted"] == 1 and stats["files_after"] == 1
    files = _data_files(out)
    assert len(files) == 1
    assert _codecs(files) == {"ZSTD"}
    # the rewrite keeps the write's entity_id order inside each file
    for f in files:
        entity_ids = pq.read_table(f, columns=["entity_id"]).column(0).to_pylist()
        assert entity_ids == sorted(entity_ids)
    assert _spark_rows(spark, out) == _expected(rows)
    assert _duckdb_rows(out) == _expected(rows)
