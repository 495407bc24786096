"""Round-11 pins for the r10 ADVICE fixes: the Hamming probe's
pre-aggregate self-exclusion (cross-hash evidence survives), the
rebuild path dropping a stale uuid index, the heal append honoring the
existing index's bucket spec, compact_bucketed_table's rename-aside
swap, and the fast literal-IN filter."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.index_tables import HAMMING_SUFFIXES, drop_index_tables


def test_probe_exclude_self_keeps_cross_hash_evidence(spark):
    """r10 ADVICE: a batch doc that is its own best (MIN-id) match at
    Hamming 0 but ALSO matches a genuine different-hash stranger within
    radius must report the stranger — the r10 post-filter cleared the
    whole row. Construct: doc 5 in the index under its own hash (own id
    IS the hash's min member), index doc 7 two bits away."""
    from dsacord_spark.operators.dedup import (
        build_hamming_index,
        incremental_hamming_matches,
        probe_hamming_index,
    )

    h5 = 0b1111000011110000
    h7 = h5 ^ 0b11  # hamming 2 from h5
    index = spark.createDataFrame(
        [(5, h5), (7, h7)], "doc long, simhash long"
    )
    batch = spark.createDataFrame([(5, h5)], "doc long, simhash long")
    t = "t_r11_xh"
    try:
        build_hamming_index(index, "doc", "simhash", t,
                            n_bands=4, hash_bits=16, buckets=2)
        for name, out in (
            ("idx", probe_hamming_index(
                spark, t, batch, "doc", "simhash", radius=3,
                exclude_self=True)),
            ("mem", incremental_hamming_matches(
                index, batch, "doc", "simhash", n_bands=4, radius=3,
                hash_bits=16, exclude_self=True)),
        ):
            row = out.collect()[0]
            assert row["is_dup"] is True, (name, row)
            assert row["match_id"] == 7, (name, row)
            assert row["best_hamming"] == 2, (name, row)
        # and with a SMALLER-id stranger the reported match is still the
        # stranger, not the self pair
        index2 = spark.createDataFrame(
            [(5, h5), (3, h7)], "doc long, simhash long"
        )
        build_hamming_index(index2, "doc", "simhash", t,
                            n_bands=4, hash_bits=16, buckets=2)
        row = probe_hamming_index(
            spark, t, batch, "doc", "simhash", radius=3, exclude_self=True
        ).collect()[0]
        assert (row["is_dup"], row["match_id"], row["best_hamming"]) == (
            True, 3, 2)
    finally:
        spark.catalog.clearCache()
        drop_index_tables(spark, t, HAMMING_SUFFIXES)


def test_rebuild_drops_stale_uuid_index(spark, tmp_path):
    """r10 ADVICE (medium): a full rebuild overwrites the decisions lake
    — a uuid index built from the PREVIOUS lake would retain phantom
    keys and silently anti-join valid new rows away on the next daily
    append. The rebuild must drop the index; the next append's bootstrap
    rebuilds it from the new lake."""
    from dsacord_spark.sinks.parquet import (
        append_new_decisions,
        describe_bucket_spec,
    )

    out = str(tmp_path / "decisions")
    idx = "t_r11_uuididx"

    def _mk(uuids):
        return spark.createDataFrame(
            [(u, "2024-03-0%d 10:00:00" % (i + 1)) for i, u in
             enumerate(uuids)],
            "uuid string, created_at string",
        ).withColumn("created_at", F.to_timestamp("created_at"))

    try:
        # day 1: append u1/u2 through the indexed path (bootstraps idx)
        append_new_decisions(spark, _mk(["u1", "u2"]), out,
                             uuid_index_table=idx)
        assert sorted(
            r[0] for r in spark.table(idx).collect()) == ["u1", "u2"]
        # rebuild shrinks the lake to u1 only (e.g. changed quarantine
        # rules). Simulate pipeline.run_backfill's rebuild sink: static
        # overwrite + the r11 index drop.
        _mk(["u1"]).withColumn(
            "dt", F.date_format("created_at", "yyyy-MM-dd")
        ).write.partitionBy("dt").mode("overwrite").parquet(out)
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
        # next daily append carries u2 again — it must LAND (the stale
        # index would have anti-joined it away)
        append_new_decisions(spark, _mk(["u2"]), out,
                             uuid_index_table=idx)
        lake_uuids = sorted(
            r[0] for r in spark.read.parquet(out).select("uuid").collect()
        )
        assert lake_uuids == ["u1", "u2"], lake_uuids
        # the bootstrap rebuilt the index from the new lake
        assert sorted(
            r[0] for r in spark.table(idx).collect()) == ["u1", "u2"]
        # and the heal append honors the EXISTING table's bucket count
        # even when the caller restates a different one (r10 ADVICE)
        n0 = describe_bucket_spec(spark, idx)["n_buckets"]
        append_new_decisions(spark, _mk(["u3"]), out,
                             uuid_index_table=idx,
                             uuid_index_buckets=n0 + 7)
        assert describe_bucket_spec(spark, idx)["n_buckets"] == n0
        assert sorted(r[0] for r in spark.table(idx).collect()) == [
            "u1", "u2", "u3"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


def test_run_backfill_rebuild_heals_shrunken_lake_index(spark, tmp_path):
    """Pipeline-level wiring of the rebuild-drops-index contract, end to
    end through run_backfill: ingest two days with a uuid index, remove
    one day's staged ZIP, rebuild (the lake shrinks), then re-ingest the
    removed day — its row must LAND. Before r11 the rebuild kept the
    stale index, whose phantom key silently anti-joined the replayed row
    away (permanent row loss — the r10 ADVICE medium)."""
    import os
    import shutil
    from datetime import date

    from dsacord_spark.config import Config
    from dsacord_spark.pipeline import run_backfill
    from tests.test_pipeline import _Resp
    from tests.wire_dumps import day_zip

    landing = str(tmp_path / "landing")
    idx = "t_r11_plidx"

    def opener(url):
        for dt in ("2025-01-01", "2025-01-02"):
            if dt in url:
                return _Resp(day_zip(f"row-{dt}", f"{dt} 00:00:00"))
        raise AssertionError(f"unexpected url {url}")

    def cfg(d_from, d_to):
        return Config(date_from=d_from, date_to=d_to,
                      landing_dir=landing, uuid_index_table=idx)

    try:
        m = run_backfill(
            spark, cfg(date(2025, 1, 1), date(2025, 1, 2)), opener=opener
        )
        assert m.rows_written == 2
        assert spark.catalog.tableExists(idx)
        # day 2's dump disappears (e.g. upstream retraction); rebuild
        staged = [f for f in os.listdir(landing)
                  if "2025-01-02" in f and f != "decisions"]
        assert staged, os.listdir(landing)
        for f in staged:
            p = os.path.join(landing, f)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        m = run_backfill(
            spark, cfg(date(2025, 1, 1), date(2025, 1, 1)),
            opener=opener, rebuild=True,
        )
        assert m.rows_written == 1  # the shrunken lake
        assert not spark.catalog.tableExists(idx)  # index dropped
        # day 2 returns as a NEW daily run: its row must land again
        m = run_backfill(
            spark, cfg(date(2025, 1, 2), date(2025, 1, 2)), opener=opener
        )
        assert m.rows_written == 1, (
            "stale uuid index anti-joined the replayed day away"
        )
        lake = spark.read.parquet(landing + "/decisions")
        assert sorted(r[0] for r in lake.select("uuid").collect()) == [
            "row-2025-01-01", "row-2025-01-02"]
        # and the bootstrap rebuilt the index from the new lake
        assert sorted(r[0] for r in spark.table(idx).collect()) == [
            "row-2025-01-01", "row-2025-01-02"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


def test_compact_bucketed_table_swaps_rename_aside(spark):
    """r10 ADVICE: the swap must never pass through a dropped-table
    state with the data only in __compact. Pin the observable contract:
    compaction works, preserves contents/spec, and leaves no __old or
    __compact residue."""
    from dsacord_spark.sinks.parquet import (
        compact_bucketed_table,
        describe_bucket_spec,
    )

    t = "t_r11_compact"
    try:
        for i in range(3):  # three appends -> multi-file buckets
            (
                spark.range(i * 10, i * 10 + 10)
                .withColumn("k", F.col("id") % 4)
                .write.format("parquet").mode(
                    "overwrite" if i == 0 else "append")
                .bucketBy(4, "k").sortBy("k")
                .saveAsTable(t)
            )
        before = sorted(map(tuple, spark.table(t).collect()))
        spec0 = describe_bucket_spec(spark, t)
        stats = compact_bucketed_table(spark, t)
        assert stats["files_after"] <= stats["n_buckets"]
        assert sorted(map(tuple, spark.table(t).collect())) == before
        assert describe_bucket_spec(spark, t) == spec0
        assert not spark.catalog.tableExists(f"{t}__old")
        assert not spark.catalog.tableExists(f"{t}__compact")
    finally:
        for s in ("", "__old", "__compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{s}")


def test_in_literals_matches_isin(spark):
    """The r11 fast literal-IN (one parsed SQL expression instead of a
    per-literal py4j crossing) must be value-identical to Column.isin
    on the int fast path, fall back for non-ints, and reject everything
    on an empty list (SQL's IN () is a parse error, not false)."""
    from dsacord_spark.operators.dedup import _in_literals

    df = spark.range(1000).withColumn("k", F.col("id") * 3 - 500)
    vals = [-500, -2, 0, 1, 997, 998, 10**12, -(10**12)]
    got = sorted(r[0] for r in df.filter(_in_literals("k", vals)).collect())
    want = sorted(
        r[0] for r in df.filter(F.col("k").isin(vals)).collect())
    assert got == want and got  # non-trivial match set
    assert df.filter(_in_literals("k", [])).count() == 0
    sdf = df.withColumn("s", F.col("id").cast("string"))
    got_s = sorted(
        r["s"] for r in sdf.filter(_in_literals("s", ["7", "9"])).collect())
    assert got_s == ["7", "9"]  # non-int fallback path


def test_in_literals_isin_parity_property(spark):
    """Hypothesis pin for the fast literal-IN: for ANY list of int64
    values (boundaries included), the parsed-SQL form selects exactly
    the rows Column.isin selects. One shared frame, many filter pairs —
    the property is pure plan semantics, so examples stay cheap."""
    from hypothesis import given, settings, strategies as st

    from dsacord_spark.operators.dedup import _in_literals

    i64 = st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1)
    df = spark.createDataFrame(
        [(v,) for v in (-(2 ** 63), -1, 0, 1, 7, 63, 2 ** 62,
                        2 ** 63 - 1)],
        "k long",
    ).cache()
    df.count()

    @settings(max_examples=25, deadline=None)
    @given(st.lists(i64 | st.sampled_from(
        [-(2 ** 63), 2 ** 63 - 1, 0, 7]), max_size=12))
    def check(vals):
        got = sorted(
            r[0] for r in df.filter(_in_literals("k", vals)).collect())
        want = sorted(
            r[0] for r in df.filter(
                F.col("k").isin(vals) if vals else F.lit(False)
            ).collect())
        assert got == want, (vals, got, want)

    try:
        check()
    finally:
        df.unpersist()
