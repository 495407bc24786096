"""The decisions lake's file layout: `write_decisions_parquet` lands each
day as the fewest files its size needs. A batch of several days on
local[4] writes one file per day, with adaptive execution on or off; a
one-day batch keeps several writer tasks; a day above AQE's advisory
partition size is split over several files; an append adds one file per
day it touches."""

from __future__ import annotations

import glob
import os
from collections import Counter

from pyspark.sql import functions as F

from dsacord_spark.sinks.parquet import append_new_decisions, write_decisions_parquet
from tests.test_lake_codec import _duckdb_rows, _spark_rows

# 2025-01-01 12:00 UTC: noon keeps every row on its day in any session zone
_NOON = 1735732800


def _days_frame(spark, n_days: int, rows_per_day: int, first_id: int = 0,
                partitions: int = 4):
    """Rows spread evenly over `n_days` days, generated in the JVM; the
    facts column is a hash, so the shuffle does not compress it away."""
    return spark.range(
        first_id, first_id + n_days * rows_per_day, numPartitions=partitions
    ).select(
        F.concat(F.lit("u-"), F.col("id").cast("string")).alias("uuid"),
        F.concat(F.lit("e-"), (F.col("id") * 7919 % 101).cast("string"))
        .alias("entity_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("decision_facts"),
        F.timestamp_seconds(
            F.lit(_NOON) + (F.col("id") % n_days) * 86400 + F.col("id") % 3600
        ).alias("created_at"),
    )


def _files_per_day(path: str) -> Counter:
    return Counter(
        os.path.basename(os.path.dirname(f))
        for f in glob.glob(os.path.join(path, "dt=*", "*.parquet"))
    )


def test_several_days_write_one_file_per_day(spark, tmp_path):
    out = str(tmp_path / "lake")
    write_decisions_parquet(
        _days_frame(spark, 6, 10_000), out, mode="overwrite", days=6
    )
    files = _files_per_day(out)
    assert len(files) == 6
    assert set(files.values()) == {1}


def test_one_day_keeps_several_writers(spark, tmp_path):
    out = str(tmp_path / "lake")
    write_decisions_parquet(
        _days_frame(spark, 1, 60_000), out, mode="overwrite", days=1
    )
    files = _files_per_day(out)
    assert len(files) == 1
    assert sum(files.values()) > 1


def test_day_above_advisory_size_is_split(spark, tmp_path):
    out = str(tmp_path / "lake")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        write_decisions_parquet(
            _days_frame(spark, 6, 5000, partitions=8), out, mode="overwrite",
            days=6,
        )
    finally:
        spark.conf.set(key, prev)
    files = _files_per_day(out)
    assert len(files) == 6
    assert max(files.values()) > 1
    rows = _spark_rows(spark, out)
    assert len(rows) == 30_000
    assert _duckdb_rows(out) == rows


def test_one_file_per_day_without_adaptive_execution(spark, tmp_path):
    out = str(tmp_path / "lake")
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        write_decisions_parquet(
            _days_frame(spark, 6, 10_000), out, mode="overwrite", days=6
        )
    finally:
        spark.conf.set(key, prev)
    files = _files_per_day(out)
    assert len(files) == 6
    assert set(files.values()) == {1}


def test_append_adds_one_file_per_touched_day(spark, tmp_path):
    out = str(tmp_path / "lake")
    append_new_decisions(spark, _days_frame(spark, 6, 10_000), out, days=6)
    before = _files_per_day(out)
    assert set(before.values()) == {1}
    # new uuids on the first four days only
    append_new_decisions(
        spark, _days_frame(spark, 4, 10_000, first_id=10**6), out, days=4
    )
    after = _files_per_day(out)
    touched = sorted(before)[:4]
    assert sorted(d for d in after if after[d] != before[d]) == touched
    assert all(after[d] == before[d] + 1 for d in touched)


def _day_rows(day: str, rows: int) -> list[dict]:
    """`rows` valid rows created on `day`, with ~600 B of hashed text each
    so the write's shuffle is too big to coalesce."""
    import hashlib

    from tests.wire_dumps import FULL_ROW

    return [
        dict(
            FULL_ROW,
            uuid=f"{day}-{i}",
            created_at=f"{day} 12:00:00",
            decision_facts="".join(
                hashlib.sha256(f"{day}/{i}/{k}".encode()).hexdigest()
                for k in range(10)
            ),
        )
        for i in range(rows)
    ]


def test_rebuild_sizes_the_write_by_every_staged_day(spark, tmp_path):
    """A rebuild rewrites the lake from every dump in the landing dir, not
    only the days of its own run: one file per day after a one-day
    rebuild over six staged days."""
    from datetime import date

    from dsacord_spark.config import Config
    from dsacord_spark.pipeline import run_backfill
    from tests.test_pipeline import _Resp
    from tests.wire_dumps import dump_zip

    days = [f"2025-01-0{d}" for d in range(1, 7)]
    served = {day: dump_zip(_day_rows(day, 1500), nested=True) for day in days}

    def opener(url):
        return _Resp(next(z for day, z in served.items() if day in url))

    landing = str(tmp_path / "landing")
    run_backfill(
        spark,
        Config(date_from=date(2025, 1, 1), date_to=date(2025, 1, 6),
               landing_dir=landing),
        opener=opener,
    )
    m = run_backfill(
        spark,
        Config(date_from=date(2025, 1, 6), date_to=date(2025, 1, 6),
               landing_dir=landing),
        opener=opener,
        rebuild=True,
    )
    assert m.rows_written == 6 * 1500
    files = _files_per_day(os.path.join(landing, "decisions"))
    assert sorted(files) == [f"dt={day}" for day in days]
    assert set(files.values()) == {1}
