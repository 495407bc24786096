"""Layout of the persisted probe indexes: bucket counts derived from the
build input (sinks/parquet.index_bucket_count), one file per bucket for
writes of unshuffled input (sinks/parquet.bucket_clustered), compaction
that grows a count and never shrinks it, and the curate loop's bounded
file count."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dsacord_spark.sinks.parquet import (
    bucket_clustered,
    compact_bucketed_table,
    describe_bucket_spec,
    index_bucket_count,
    table_files,
)
from tests.index_tables import MINHASH_SUFFIXES, drop_index_tables


def _text(i: int) -> str:
    # 24 words drawn from 5,000: two docs share no 3-gram, so the only
    # near-duplicates are the planted copies
    r = random.Random(i)
    return " ".join(f"w{r.randrange(5000)}" for _ in range(24))


def _docs_parquet(spark, path, ids):
    spark.createDataFrame(
        [(i, _text(i)) for i in ids], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def _n_buckets(spark, table: str) -> int:
    return describe_bucket_spec(spark, table)["n_buckets"]


def test_small_parquet_input_builds_one_bucket(spark, tmp_path):
    from dsacord_spark.operators.dedup import (
        build_hamming_index, build_minhash_index, build_shingle_index,
    )

    docs = _docs_parquet(spark, tmp_path / "docs", range(40))
    assert index_bucket_count(spark, docs) == 1
    try:
        build_minhash_index(docs, "doc_id", "text", "t_lay_mh")
        build_hamming_index(
            docs.select("doc_id", F.xxhash64("text").alias("h")),
            "doc_id", "h", "t_lay_ham",
        )
        build_shingle_index(docs, "doc_id", "text", 3, "t_lay_sh")
        for t in ("t_lay_mh_bands", "t_lay_mh_shingles", "t_lay_ham_bands",
                  "t_lay_ham_summary", "t_lay_sh"):
            assert _n_buckets(spark, t) == 1, t
        # the input is 4 parquet files, one per writer task: the shingle
        # write still lands one file per bucket
        assert len(docs.inputFiles()) == 4
        assert table_files(spark, "t_lay_sh")[0] == 1
        build_shingle_index(docs, "doc_id", "text", 3, "t_lay_sh", buckets=4)
        assert table_files(spark, "t_lay_sh")[0] == 4
    finally:
        drop_index_tables(spark, "t_lay_mh", MINHASH_SUFFIXES)
        drop_index_tables(spark, "t_lay_ham", ("summary", "bands", "meta"))
        spark.sql("DROP TABLE IF EXISTS t_lay_sh")


def test_explicit_bucket_count_is_kept(spark, tmp_path):
    from dsacord_spark.curate import update_corpus_index
    from dsacord_spark.operators.dedup import build_minhash_index

    docs = _docs_parquet(spark, tmp_path / "docs", range(40))
    try:
        build_minhash_index(docs, "doc_id", "text", "t_lay_exp", buckets=3)
        update_corpus_index(
            _docs_parquet(spark, tmp_path / "delta", range(100, 110)),
            "minhash", "t_lay_exp",
        )
        for s in ("bands", "shingles"):
            assert _n_buckets(spark, f"t_lay_exp_{s}") == 3, s
    finally:
        drop_index_tables(spark, "t_lay_exp", MINHASH_SUFFIXES)


def test_rdd_backed_input_keeps_sixteen_buckets(spark):
    from dsacord_spark.operators.dedup import build_minhash_index

    docs = spark.sparkContext.parallelize(
        [(i, _text(i)) for i in range(20)]
    ).toDF("doc_id long, text string")
    assert index_bucket_count(spark, docs) == 16
    try:
        build_minhash_index(docs, "doc_id", "text", "t_lay_rdd")
        assert _n_buckets(spark, "t_lay_rdd_bands") == 16
    finally:
        drop_index_tables(spark, "t_lay_rdd", MINHASH_SUFFIXES)


def test_bucket_count_rule_clamps_to_spark_limits(spark):
    max_buckets = int(spark.conf.get("spark.sql.sources.bucketing.maxBuckets"))
    assert index_bucket_count(spark, 0) == 1
    assert index_bucket_count(spark, 128 << 20) == 1
    assert index_bucket_count(spark, (128 << 20) + 1) == 2
    assert index_bucket_count(spark, 10_000, target_file_bytes=1_000) == 10
    assert index_bucket_count(spark, 1 << 62, target_file_bytes=1) == max_buckets


def test_compaction_grows_the_count_and_never_shrinks_it(spark, tmp_path):
    docs = _docs_parquet(spark, tmp_path / "docs", range(400))
    rows = docs.select("doc_id", F.xxhash64("text").alias("h"))
    try:
        # a count below what the data needs at a small target grows
        rows.write.format("parquet").bucketBy(2, "h").sortBy("h") \
            .saveAsTable("t_lay_grow")
        size = table_files(spark, "t_lay_grow")[1]
        target = size // 5
        want = index_bucket_count(spark, size, target)
        assert want > 2
        st = compact_bucketed_table(spark, "t_lay_grow", target_file_bytes=target)
        assert st["n_buckets"] == _n_buckets(spark, "t_lay_grow") == want
        assert st["files_after"] <= st["n_buckets"]
        grown = st["n_buckets"]
        # the default 128 MiB target would give 1: never shrink
        st = compact_bucketed_table(spark, "t_lay_grow")
        assert st["n_buckets"] == _n_buckets(spark, "t_lay_grow") == grown
        # an explicit count above what the data needs is kept
        rows.write.format("parquet").bucketBy(8, "h").sortBy("h") \
            .saveAsTable("t_lay_keep")
        st = compact_bucketed_table(spark, "t_lay_keep")
        assert st["n_buckets"] == _n_buckets(spark, "t_lay_keep") == 8
        assert sorted(r["doc_id"] for r in spark.table("t_lay_grow").collect()) \
            == list(range(400))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_lay_grow")
        spark.sql("DROP TABLE IF EXISTS t_lay_keep")


def _curate_loop(spark, tmp_path, table, n_batches, check_files):
    """The daily loop of perfbench's curate_daily at toy size: label each
    batch against the index, then append the kept docs. Returns every
    batch's labels."""
    from dsacord_spark.curate import (
        build_corpus_index, dedup_incremental, update_corpus_index,
    )

    corpus = _docs_parquet(spark, tmp_path / f"{table}_corpus", range(30))
    build_corpus_index(corpus, "minhash", table)
    labels = []
    for b in range(n_batches):
        base = 1000 + 100 * b
        # fresh docs, one exact copy of a corpus doc and one of the
        # previous batch's first doc
        batch = spark.createDataFrame(
            [(base + i, _text(base + i)) for i in range(6)]
            + [(base + 50, _text(b)), (base + 51, _text(base - 100))],
            "doc_id long, text string",
        )
        labeled = dedup_incremental(batch, method="minhash", index_table=table)
        got = sorted(
            (r["doc_id"], r["kept"], r["index_match_id"])
            for r in labeled.select("doc_id", "kept", "index_match_id").collect()
        )
        labels.append(got)
        kept = spark.createDataFrame(
            [(d, _text(d)) for d, k, _ in got if k], "doc_id long, text string"
        )
        update_corpus_index(kept, "minhash", table)
        if check_files:
            n = _n_buckets(spark, f"{table}_bands")
            for s in ("bands", "shingles"):
                assert table_files(spark, f"{table}_{s}")[0] <= 8 * n, (b, s)
    return labels


def test_curate_loop_keeps_index_files_bounded(spark, tmp_path, monkeypatch):
    import dsacord_spark.curate as curate

    try:
        compacted = _curate_loop(spark, tmp_path, "t_lay_loop", 10, True)
        assert _n_buckets(spark, "t_lay_loop_bands") == 1
        # 1 file from the build + 10 appends: compacted once, after the
        # 8th append, then 2 more appends
        assert table_files(spark, "t_lay_loop_shingles")[0] == 3
        monkeypatch.setattr(curate, "_COMPACT_FILES_PER_BUCKET", 1 << 30)
        never = _curate_loop(spark, tmp_path, "t_lay_loop_nc", 10, False)
        assert table_files(spark, "t_lay_loop_nc_shingles")[0] == 11
        assert compacted == never
        # the planted copies were caught: corpus copy and carried copy
        for got in compacted[1:]:
            assert sum(1 for _, k, m in got if not k and m is not None) == 2
    finally:
        drop_index_tables(spark, "t_lay_loop", MINHASH_SUFFIXES)
        drop_index_tables(spark, "t_lay_loop_nc", MINHASH_SUFFIXES)


def test_append_skips_compaction_refused_by_a_stream_lease(
    spark, tmp_path, monkeypatch
):
    import dsacord_spark.curate as curate
    from dsacord_spark import leases
    from dsacord_spark.operators.dedup import build_minhash_index

    monkeypatch.setattr(curate, "_COMPACT_FILES_PER_BUCKET", 1)
    t = "t_lay_lease"
    try:
        build_minhash_index(
            _docs_parquet(spark, tmp_path / "docs", range(20)),
            "doc_id", "text", t,
        )
        with leases.stream_lease(t):
            # a mid-batch stream refuses the compaction; the append lands
            assert curate.update_corpus_index(
                _docs_parquet(spark, tmp_path / "d1", range(100, 104)),
                "minhash", t,
            ) == 4
        assert table_files(spark, f"{t}_shingles")[0] == 2
        # the next append, with no stream, compacts
        curate.update_corpus_index(
            _docs_parquet(spark, tmp_path / "d2", range(200, 204)),
            "minhash", t,
        )
        assert table_files(spark, f"{t}_shingles")[0] == 1
        assert spark.table(f"{t}_shingles").count() == 28
    finally:
        drop_index_tables(spark, t, MINHASH_SUFFIXES)


def test_driver_url_list_matches_url_table(spark):
    from datetime import date

    from dsacord_spark.config import Config
    from dsacord_spark.sources.urlgen import day_urls, url_table

    cfg = Config(date_from=date(2025, 1, 30), date_to=date(2025, 2, 2))
    want = sorted(
        (r["dt"], r["url"])
        for r in url_table(spark, cfg.date_from, cfg.date_to, 2).collect()
    )
    assert day_urls(cfg.days()) == want


@pytest.mark.parametrize("explicit", [None, 3])
def test_uuid_index_bootstrap_bucket_count(spark, tmp_path, explicit):
    from dsacord_spark.sinks.parquet import append_new_decisions

    rows = spark.createDataFrame(
        [(f"u-{i}", "2025-01-0%d 10:00:00" % (1 + i % 3)) for i in range(40)],
        "uuid string, created_at string",
    ).withColumn("created_at", F.to_timestamp("created_at"))
    lake, idx = str(tmp_path / "lake"), "t_lay_uuid"
    n = explicit or 1
    try:
        append_new_decisions(spark, rows.limit(10), lake)
        append_new_decisions(
            spark, rows.limit(30), lake, uuid_index_table=idx,
            uuid_index_buckets=explicit,
        )
        assert _n_buckets(spark, idx) == n
        assert spark.table(idx).count() == 30
        # the bootstrap reads a lake of 3 day partitions: one file per
        # bucket all the same, and each heal append adds at most one more
        assert table_files(spark, idx)[0] == n
        append_new_decisions(spark, rows, lake, uuid_index_table=idx)
        assert spark.table(idx).count() == 40
        assert table_files(spark, idx)[0] <= 2 * n
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


@pytest.mark.parametrize("n", [1, 3])
def test_bucket_clustered_keeps_input_already_hashed_on_the_key(spark, n):
    rows = spark.range(0, 100, 1, 4).withColumn("k", F.col("id") % 7)
    hashed = rows.repartition(n, "k")
    plan = bucket_clustered(hashed, n, "k")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # unshuffled input is hash-partitioned on the key at the bucket count
    clustered = bucket_clustered(rows, n, "k")
    assert clustered.rdd.getNumPartitions() == n
    by_part = clustered.rdd.glom().map(lambda p: sorted({r.k for r in p})).collect()
    assert sum(map(len, by_part)) == 7
