"""K5 — parquet sink (absent in the reference; used by the oracle tests
and as the lake-format landing of the typed `decisions` table).

Partitioned by dump date (`dt`) so downstream scans prune by day — the
Spark formulation of the reference's one-day-one-unit layout
(SURVEY §4.3). At 100 TB, day-partitioned parquet with ~128 MB files is
the layout every query in the catalog assumes.

Each day lands as the fewest files its size needs, by one rule every
lake write shares (`cluster_by_day`): rows are rebalanced by day, AQE
keeps a small day in one writer task and splits a day above its
advisory partition size (64 MiB of shuffle) over several, and a batch
of fewer days than cores salts each day over ceil(2 * cores / days)
hash keys so that every core writes. A fixed 8-way salt over the
shuffle partitions spread every day over every writer task: the
benchmark's 6-day backfill (18.7k rows of ~1.1 KB of CSV each,
local[4]) landed as 19 files of ~960 rows, whose
footers alone took 12.2 B per row and whose small column chunks
compressed worse. At one file per day the lake holds a median 251.5 B
per row instead of 277.8 (-9.5%, 10 seeds); on one seed the footers
went from 12.2 to 3.8 B per row, decision_facts from 108.6 to 100.6 and
the two explanation columns from 65.4 to 61.5.

Every file that holds decision rows is zstd-compressed (`LAKE_CODEC`,
at Spark's default zstd level 3): the lake write, the anti-join append
and the compaction rewrite all set it, so a compacted partition keeps
the codec it was written with. At 100 TB bytes at rest are both the
storage bill and the scan I/O of every query over the lake. With the
19-file layout the benchmark's lake held a median 445.8 B per row with
snappy, the session default, and 277.6 B with zstd (-37.7%, 10 seeds
per codec). One same-process write of 18,213 such rows gave snappy
446.0, zstd level 1 300.7, level 3 277.7 and level 6 270.1 B per row,
level 6 at +25% write time, so level 3 is the knee. The bucketed index
tables (the uuid index here, the MinHash/Hamming probe indexes in
operators/dedup.py) stay on the session codec: on the curate MinHash
index zstd saved only 1.4% (870.7 -> 858.7 B/doc; hash columns do not
compress) while a 10-batch curate A/B read a median 5.15 s with snappy
against 5.90 s with zstd.

The index tables the program builds for its own probes (the uuid index,
the MinHash/Hamming probe indexes, the shingle index, the IVF id index)
are sized from their data by `index_bucket_count`: one bucket per
`TARGET_FILE_BYTES` of build input, the same 128 MiB that
`compact_partitions` splits a day into. A fixed 16 buckets made the
benchmark's 500-doc MinHash index (237,333 B of corpus parquet, which
the rule sizes at 1 bucket) 32 files from birth and 128 files / 1.34 MB
after three appends; at 1 bucket it is 8 files, and the index holds a
median 753 B per indexed doc instead of 865 (-12.9% over 11 seeds,
local[4] on 4 CPUs). Compaction grows
the count as the index grows (`compact_bucketed_table`). The TPC-H
tables of `write_bucketed` keep their explicit count: equal counts are
what co-locates their joins.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dsacord_spark.hadoopfs import hadoop_path_exists
from dsacord_spark.session import local_frame

# parquet codec of every file holding decision rows (module docstring)
LAKE_CODEC = "zstd"

# column every lake file is sorted by inside its day (write_decisions_parquet)
LAKE_SORT_COL = "entity_id"

# size of one file of a compacted lake partition, and of one bucket of a
# persisted index (index_bucket_count)
TARGET_FILE_BYTES = 128 << 20

# bucket count of an index whose input size the optimizer does not know
_UNKNOWN_SIZE_BUCKETS = 16
_LONG_MAX = (1 << 63) - 1


def index_bucket_count(
    spark: SparkSession,
    data: DataFrame | int,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Bucket count of a persisted probe index, derived from its data:
    ceil(bytes / `target_file_bytes`), clamped to [1,
    spark.sql.sources.bucketing.maxBuckets].

    `data` is either the build's input frame, whose bytes are the
    optimizer's sizeInBytes estimate (a parquet read reports its file
    bytes exactly: the benchmark's 500-doc corpus reads 237,333 B, so 1
    bucket), or a byte count (a table's on-disk bytes, at compaction).
    An estimate the optimizer does not know (an RDD-backed frame reports
    Long.MaxValue) gives 16 buckets, the count every index had before it
    was derived. The estimate is driver-side planning only, no job."""
    if isinstance(data, DataFrame):
        size = int(data._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        n = _UNKNOWN_SIZE_BUCKETS if size >= _LONG_MAX else -(-size // target_file_bytes)
    else:
        n = -(-int(data) // target_file_bytes)
    max_buckets = int(spark.conf.get("spark.sql.sources.bucketing.maxBuckets"))
    return max(1, min(max_buckets, n))


def bucket_clustered(df: DataFrame, n_buckets: int, key: str) -> DataFrame:
    """`df` with each bucket's rows in one partition, so that
    `bucketBy(n_buckets, key)` writes one file per bucket. A bucketed
    write lands one file per writer task per bucket that task holds: a
    40-doc input stored as 4 parquet files gave a 1-bucket shingle table
    of 4 files. Spark's bucket id is the same pmod(murmur3) as hash
    partitioning, so a hash repartition on `key` at the bucket count puts
    bucket b in partition b. Input that already arrives that way keeps
    its plan: EnsureRequirements drops a repartition whose child is
    hash-partitioned on `key` at that count (the uuid index heal's
    sort-merge anti-join against the bucketed index), and a one-bucket
    write keeps input that is already one partition, which Spark would
    otherwise gather again."""
    if n_buckets == 1:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()  # the wrapper reports no partitioning
        if plan.outputPartitioning().numPartitions() == 1:
            return df
    return df.repartition(n_buckets, key)


def cluster_by_day(df: DataFrame, days: int | None = None) -> DataFrame:
    """`df` with its `dt` column, clustered so that each writer task holds
    whole day slices and each slice is sorted by (dt, `LAKE_SORT_COL`):
    the frame `write_decisions_parquet` hands to the dynamic-partition
    writer. `days` is the number of days the batch holds. A batch of
    fewer days than cores (defaultParallelism) salts each day over fan =
    ceil(2 * cores / days) hash keys, pmod(hash(uuid), fan), so that every
    core still writes (one writer per day made an sf0.1 write on 32 cores
    take 40.6 s against 14.4 s unclustered). The keys hash onto the
    writer tasks with collisions, hence twice the cores: with
    ceil(cores / days) keys a one-day 30k-row backfill on local[4] landed
    on 3 tasks, one of them holding half the rows, and ran slower than a
    fixed 8-key salt in 4 of 4 separate-process pairs. A batch of at
    least as many days as cores, or without a day count, has a fan of 1.

    With adaptive execution on, the clustering is a rebalance on (dt,
    salt): AQE keeps a small day in one task (one file) and splits a day
    above spark.sql.adaptive.advisoryPartitionSizeInBytes (64 MiB of
    shuffle) over several tasks. Spark drops the rebalance hint when AQE
    is off, so there the same keys go through a plain repartition.
    Sorting inside each task by dt first gives the dynamic writer
    contiguous day runs; the salt stays out of the sort key, since a task
    writes one file per day across all its salt groups."""
    df = df.withColumn(
        "dt", F.coalesce(F.date_format("created_at", "yyyy-MM-dd"), F.lit("unknown"))
    )
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    fan = -(-2 * cores // days) if days and days < cores else 1
    keys = ["dt"]
    if fan > 1:
        df = df.withColumn("__salt", F.pmod(F.hash("uuid"), F.lit(fan)))
        keys.append("__salt")
    if spark.conf.get("spark.sql.adaptive.enabled").lower() == "true":
        df = df.hint("rebalance", *keys)
    else:
        df = df.repartition(*keys)
    if fan > 1:
        df = df.drop("__salt")
    if LAKE_SORT_COL in df.columns:
        df = df.sortWithinPartitions("dt", LAKE_SORT_COL)
    return df


def write_decisions_parquet(
    df: DataFrame,
    path: str,
    partition_by_date: bool = True,
    mode: str = "append",
    days: int | None = None,
) -> None:
    """Day-partitioned parquet lake write: each day lands as the fewest
    files its size needs (`cluster_by_day`; `days` is the batch's day
    count). On the benchmark's 6-day, 18.7k-row backfill on local[4]
    that is one file per day: 6 files where a fixed 8-way salt over the
    shuffle partitions wrote 19.

    Rows inside each file are sorted by `LAKE_SORT_COL` (entity_id) — the
    lake formulation of the reference's secondary index on EntityID
    (types.go:63 `gorm:"index"`): sorted files give tight per-row-group
    min/max statistics, so an entity_id point lookup skips whole row
    groups instead of scanning every file of the day. It is a local sort
    per task, no extra shuffle; measured cost ~20% on the e2e ingest, the
    analog of the b-tree maintenance the reference pays per insert.

    Files are written with `LAKE_CODEC` (zstd level 3) whatever the
    session codec; the measurements, and why the index tables keep the
    session codec, are in the module docstring."""
    if partition_by_date and "created_at" in df.columns:
        writer = cluster_by_day(df, days).write.partitionBy("dt")
    else:
        writer = df.write
    writer.mode(mode).option("compression", LAKE_CODEC).parquet(path)


def append_new_decisions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str = "uuid",
    return_dts: bool = False,
    observation=None,
    uuid_index_table: str | None = None,
    uuid_index_buckets: int | None = None,
    days: int | None = None,
    **write_kwargs,
) -> list[str] | None:
    """Append only rows whose key is not already in the lake — the lake
    formulation of the reference's optimistic duplicate handling (insert
    only rows whose uuid is not present; main.go:194-204, K3 strategy
    'error'/skip). The probe reads a single column off the existing lake
    (column pruning: uuid only, every other column never leaves parquet)
    and plans as a left-anti join; at scale Spark's runtime bloom filter
    prunes the batch side before the shuffle. First write to an empty
    lake skips the probe entirely.

    `uuid_index_table` (r10, r9 verdict item 3) bounds that probe: the
    full-lake uuid scan is correct but grows with LAKE AGE, not batch
    size — at 100 TB a daily ~15 GB batch would pay a multi-TB uuid read.
    When set, this call maintains a key-bucketed, key-sorted index table
    next to the lake (healed after each lake write from the touched day
    partitions: every key those partitions hold that the index lacks is
    appended — idempotent, day-sized, converges even after a crash) and
    serves the anti-join from TWO bounded reads instead:
      1. the index table — bucketed by the key, so the anti-join consumes
         it with NO Exchange on the index side (plan-pinned);
      2. the lake's partitions for THIS batch's own dt values only
         (partition-pruned, day-sized, uuid column only) — the
         crash-window guard: a run that died after the lake append but
         before the index append leaves the index stale for exactly the
         rows it appended, and a replayed batch covers the same dt
         partitions, so the day probe catches them and the replay stays
         exact (same healing shape as the rollup refresh).
    Steady-state probe cost = index scan (key column only, co-located)
    + O(day), never O(lake). Adoption on an existing lake without an
    index pays one full-lake uuid scan to bootstrap the index, then
    never again. Requires the day-partitioned layout for the crash
    guard; an unpartitioned lake falls back to the full probe. The
    bootstrap buckets the index by `uuid_index_buckets`, or, when None,
    by `index_bucket_count` of the lake's uuid column; appends keep the
    count the catalog holds.

    `return_dts=True` additionally returns the distinct day-partition
    values this batch COVERS (computed pre-anti-join, so a replayed
    batch still reports its days — required for refresh_rollup to heal
    a crash between append and refresh; see inline note). Only
    meaningful for the day-partitioned layout: without a created_at
    column (or with partition_by_date=False) no dt partitions are
    written, so the answer is [].

    `observation` (a pyspark Observation) is attached to the
    POST-anti-join frame, so the write action populates it with the
    count of rows actually appended — replayed rows the probe skipped do
    not count (run_backfill's exact rows_written, Q2/O5, at zero extra
    passes).

    `days` is the batch's day count, which sizes the lake write's fan
    (`cluster_by_day`); when this call collects the batch's day list
    anyway (`return_dts` or an index), the list's length is used."""
    batch = df
    lake_exists = hadoop_path_exists(spark, path)
    partitioned = (
        write_kwargs.get("partition_by_date", True) and "created_at" in df.columns
    )
    # dts come from the PRE-anti-join batch, matching lake_with_rollup_sink's
    # crash-safety contract: a replayed/duplicate batch still returns the
    # days it covers, so a crash between a completed append and the rollup
    # refresh is healed by the replay (the refresh is idempotent per day).
    # Post-anti-join the same replay would return [] and leave the rollup
    # stale. The batch is the small incoming side; scanning it once more
    # for its distinct-day list is cheaper than persisting the join. The
    # same pre-append day list drives the uuid-index crash-window probe.
    dts: list[str] | None = None
    if partitioned and (return_dts or uuid_index_table is not None):
        dts = [
            r["dt"]
            for r in batch.select(
                F.coalesce(
                    F.date_format("created_at", "yyyy-MM-dd"), F.lit("unknown")
                ).alias("dt")
            )
            .distinct()
            .collect()
        ]
    # an index table without its lake is an orphan (the lake was deleted
    # or moved): trusting it would anti-join future batches against keys
    # whose rows no longer exist — treat it as absent so the bootstrap
    # path below rebuilds it from the (new) lake after this write
    index_ready = (
        uuid_index_table is not None
        and lake_exists
        and spark.catalog.tableExists(uuid_index_table)
    )
    if lake_exists:
        lake = spark.read.parquet(path)
        if index_ready and partitioned and "dt" in lake.columns:
            # bounded probe: index (co-located, no Exchange on its side)
            # + this batch's own day partitions (crash-window guard)
            df = df.join(
                spark.table(uuid_index_table).select(key), key, "left_anti"
            )
            if dts:
                df = df.join(
                    lake.filter(F.col("dt").isin(dts)).select(key),
                    key,
                    "left_anti",
                )
        else:
            df = df.join(lake.select(key), key, "left_anti")
    if observation is not None:
        df = df.observe(observation, F.count(F.lit(1)).alias("n"))
    write_decisions_parquet(
        df, path, mode="append", days=len(dts) if dts else days, **write_kwargs
    )
    if uuid_index_table is not None and partitioned:
        # Index maintenance AFTER the lake write, healed FROM the lake:
        # append every key present in this batch's day partitions that
        # the index lacks. NOT "append the anti-joined batch frame" —
        # the lake write invalidates any cached plan that reads the lake
        # path (CacheManager.recacheByPath), so that frame would lazily
        # re-evaluate against the post-write lake and anti-join its own
        # rows away. The heal formulation is also strictly stronger:
        # idempotent (appends only what is missing), day-sized (the
        # partition-pruned read the probe already pays), and it
        # back-fills keys a PREVIOUS crashed run left stale in these
        # same partitions — the index converges to the lake instead of
        # drifting from it.
        if not index_ready:
            # bootstrap: index over the ENTIRE post-append lake (one
            # full uuid scan, paid once at adoption)
            keys = spark.read.parquet(path).select(key)
            n_buckets = uuid_index_buckets or index_bucket_count(spark, keys)
            (
                bucket_clustered(keys, n_buckets, key)
                .write.format("parquet").mode("overwrite")
                .bucketBy(n_buckets, key).sortBy(key)
                .saveAsTable(uuid_index_table)
            )
        elif dts:
            day_keys = (
                spark.read.parquet(path)
                .filter(F.col("dt").isin(dts))
                .select(key)
            )
            missing = day_keys.join(
                spark.table(uuid_index_table).select(key), key, "left_anti"
            )
            # bucket count is a property of the EXISTING table, never
            # the caller's parameter: a run invoked with a different
            # uuid_index_buckets would otherwise fail the append after
            # doing the probe work (r10 ADVICE; same rule as
            # build_hamming_index / compact_bucketed_table)
            n_buckets = describe_bucket_spec(spark, uuid_index_table)[
                "n_buckets"
            ]
            (
                bucket_clustered(missing, n_buckets, key)
                .write.format("parquet").mode("append")
                .bucketBy(n_buckets, key).sortBy(key)
                .saveAsTable(uuid_index_table)
            )
    if not return_dts or not partitioned:
        return [] if return_dts else None
    return sorted(dts or [])


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str = "dt",
    target_file_bytes: int = TARGET_FILE_BYTES,
    force: bool = False,
) -> dict:
    """Small-file compaction for a `{partition_col}=...` parquet lake —
    the maintenance op every incremental day-partitioned sink needs at
    scale (each micro-batch/backfill append adds files; scan cost grows
    with file count, not data size).

    Planning is a driver-side metadata pass over the partition listing
    (Hadoop FileSystem API, no data read). Data movement is ONE narrow
    job: read only the fragmented partitions, salt each to its own
    target file count, and dynamic-partition-overwrite them in place —
    healthy partitions are never read or rewritten. Returns a stats
    dict; no-op (no job at all) when nothing is fragmented.

    The rewrite holds the cross-process filesystem maintenance marker
    (leases.fs_maintenance_marker, r12): a second driver compacting the
    same lake refuses with the holder's diagnostics instead of both
    overwriting the same partitions; `force=True` takes a marker over
    (e.g. after a crashed compactor, before its staleness window)."""
    from dsacord_spark import leases

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    with leases.fs_maintenance_marker(
        spark, path, "compact_partitions", force=force
    ):
        return _compact_partitions_locked(
            spark, path, partition_col, target_file_bytes, jvm, fs, hpath
        )


def _compact_partitions_locked(
    spark, path, partition_col, target_file_bytes, jvm, fs, hpath
) -> dict:
    plan: dict[str, int] = {}
    files_before = 0
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith(partition_col + "="):
            continue
        files = [
            f
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        ]
        size = sum(f.getLen() for f in files)
        n_target = max(1, math.ceil(size / target_file_bytes))
        if len(files) > n_target:
            plan[name.split("=", 1)[1]] = n_target
            files_before += len(files)
    if not plan:
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    # per-partition target file counts as a broadcastable local relation
    targets = local_frame(spark, sorted(plan.items()), StructType([
        StructField("__pv", StringType()), StructField("__n_files", IntegerType()),
    ]))
    df = spark.read.parquet(path).filter(
        F.col(partition_col).isin(list(plan))
    )
    data_cols = [c for c in df.columns if c != partition_col]
    salted = (
        df.join(F.broadcast(targets), df[partition_col] == targets["__pv"])
        .withColumn(
            "__salt",
            F.pmod(F.hash(F.struct(*data_cols)), F.col("__n_files")),
        )
        .repartition(partition_col, "__salt")
        .drop("__pv", "__n_files", "__salt")
    )
    if LAKE_SORT_COL in data_cols:
        # a compacted file keeps the write's order (write_decisions_parquet)
        salted = salted.sortWithinPartitions(partition_col, LAKE_SORT_COL)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            salted.write.mode("overwrite").partitionBy(partition_col)
            .option("compression", LAKE_CODEC).parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    files_after = 0
    for v in plan:
        part_dir = jvm.org.apache.hadoop.fs.Path(path, f"{partition_col}={v}")
        files_after += sum(
            1
            for f in fs.listStatus(part_dir)
            if f.getPath().getName().endswith(".parquet")
        )
    return {
        "partitions_compacted": len(plan),
        "files_before": files_before,
        "files_after": files_after,
    }


def refresh_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    agg_fn,
    changed_dts: list[str] | None = None,
    partition_col: str = "dt",
) -> dict:
    """Incremental maintenance of a derived day-partitioned rollup table
    (the materialized-view refresh every daily-dump pipeline needs: the
    reference's unit of arrival is one day, SURVEY §1.1, so a day is also
    the natural unit of recomputation).

    `agg_fn(df) -> DataFrame` must be a per-day-decomposable aggregation
    that keeps `partition_col` in its output (counts, sums, min/max per
    day — anything where day X's rollup depends only on day X's rows).
    Refresh recomputes ONLY the changed partitions — from `changed_dts`
    when the caller knows what it appended, else the metadata-only diff
    of source vs rollup partition listings (new days) — reading just
    those source partitions (partition pruning) and
    dynamic-partition-overwriting just those rollup partitions. Healthy
    days are never read nor rewritten; a full recompute is the
    degenerate call with every dt listed. No-op returns without
    launching a job.
    """
    jvm = spark._jvm

    def _list_parts(p: str) -> set[str]:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        # each path resolves its own FileSystem — source and rollup may
        # live on different schemes/buckets
        pfs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
        if not pfs.exists(hp):
            return set()
        return {
            st.getPath().getName().split("=", 1)[1]
            for st in pfs.listStatus(hp)
            if st.isDirectory()
            and st.getPath().getName().startswith(partition_col + "=")
        }

    src_parts = _list_parts(source_path)
    if changed_dts is None:
        changed = sorted(src_parts - _list_parts(rollup_path))
    else:
        # intersect with reality: a dt the caller appended but that no
        # longer exists in the source contributes nothing
        changed = sorted(set(changed_dts) & src_parts)
    if not changed:
        return {"partitions_refreshed": 0, "dts": []}

    src = spark.read.parquet(source_path).filter(
        F.col(partition_col).isin(changed)
    )
    out = agg_fn(src)
    assert partition_col in out.columns, (
        f"agg_fn must keep {partition_col} for partition-wise refresh"
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out.write.mode("overwrite").partitionBy(partition_col).parquet(rollup_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {"partitions_refreshed": len(changed), "dts": changed}


def lake_with_rollup_sink(
    spark: SparkSession,
    lake_path: str,
    rollup_path: str,
    agg_fn,
    key: str = "uuid",
    **write_kwargs,
):
    """Composed epoch sink: append-only-new rows to the day-partitioned
    lake, then incrementally refresh the derived rollup for exactly the
    day partitions this epoch touched — continuous aggregation over the
    reference's daily-dump arrival model, with no full recompute and no
    full rescan anywhere in the loop.

    Returns a `(batch_df, epoch_id) -> None` callable for
    start_decisions_stream / foreachBatch.

    Crash-safe under checkpoint replay: the refresh set is the batch's
    OWN day list, computed BEFORE the append — not the list of days the
    append actually wrote. A replayed epoch's rows anti-join to nothing
    (the lake append no-ops), but the replay still recomputes the same
    day partitions, so a crash between the append and the refresh can
    never leave the rollup permanently stale; the recompute itself is
    idempotent (full per-day overwrite from the lake)."""

    def sink(batch_df: DataFrame, _epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            dts = [
                r["dt"]
                for r in batch_df.select(
                    F.coalesce(
                        F.date_format("created_at", "yyyy-MM-dd"), F.lit("unknown")
                    ).alias("dt")
                )
                .distinct()
                .collect()
            ]
            append_new_decisions(
                spark, batch_df, lake_path, key=key, days=len(dts), **write_kwargs
            )
        finally:
            batch_df.unpersist()
        if dts:
            refresh_rollup(spark, lake_path, rollup_path, agg_fn, changed_dts=dts)

    return sink


def _catalog_table(spark: SparkSession, table_name: str):
    """The session catalog's CatalogTable for `table_name`: a metadata
    lookup (~3 ms), where a DESCRIBE FORMATTED statement took ~40-60 ms."""
    state = spark._jsparkSession.sessionState()
    return state.catalog().getTableMetadata(
        state.sqlParser().parseTableIdentifier(table_name)
    )


def table_location(spark: SparkSession, table_name: str) -> str:
    """A catalog table's storage location URI (metadata only)."""
    return _catalog_table(spark, table_name).location().toString()


def table_files(spark: SparkSession, table_name: str) -> tuple[int, int]:
    """(data files, their bytes) directly under a catalog table's
    location: one directory listing, no data read. Hidden files
    (`_SUCCESS`, checksum `.crc` files) do not count. Sized for the
    unpartitioned bucketed index tables; a missing location is (0, 0)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(table_location(spark, table_name))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return 0, 0
    files = [
        st for st in fs.listStatus(path)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    return len(files), sum(st.getLen() for st in files)


def describe_bucket_spec(spark: SparkSession, table_name: str) -> dict:
    """Read a bucketed table's layout contract back from the catalog:
    {'n_buckets', 'bucket_cols', 'sort_cols'}. Raises if the table is
    not bucketed — callers use this to compact or append
    WITHOUT restating the spec (a drifted restatement would silently
    produce a mixed-layout table)."""
    spec = _catalog_table(spark, table_name).bucketSpec()
    if spec.isEmpty():
        raise ValueError(f"{table_name} is not a bucketed table")
    spec = spec.get()

    def _cols(seq) -> list[str]:
        return [seq.apply(i) for i in range(seq.size())]

    return {
        "n_buckets": int(spec.numBuckets()),
        "bucket_cols": _cols(spec.bucketColumnNames()),
        "sort_cols": _cols(spec.sortColumnNames()),
    }


def compact_bucketed_table(
    spark: SparkSession,
    table_name: str,
    min_buckets: int = 1,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """Rewrite a bucketed table so every bucket lands in exactly ONE
    file (r9 verdict item 4 / PLANS.md backlog). Append-maintained
    bucketed tables accumulate one file per bucket PER APPEND; Spark
    keeps the bucketed-join co-location regardless, but drops the
    written sort order as soon as a bucket spans several files — so the
    probe-side sort-merge joins pay a per-partition Sort forever. After
    compaction (plus spark.sql.legacy.bucketedTableScan.outputOrdering=
    true) the scan reports its sortBy order and the SMJ consumes the
    bucket files directly, no Sort, at any corpus size.

    The rewrite has max(current count, index_bucket_count of the
    table's on-disk bytes at `target_file_bytes`, `min_buckets`)
    buckets: an index gains buckets as it grows and never drops below a
    count someone chose. compact_index passes `min_buckets` so the
    tables of one index keep one count.

    Mechanics: repartition by the bucket columns into exactly n_buckets
    partitions — repartition's HashPartitioning is the same
    pmod(Murmur3, n) as DataFrameWriter.bucketBy, so each task holds
    exactly one bucket's rows and the bucketed write emits one file per
    bucket — then swap via a temp table (saveAsTable cannot overwrite a
    table it reads). The bucket and sort columns are read from the
    catalog, never restated. Returns {'files_before', 'files_after',
    'n_buckets'}."""
    spec = describe_bucket_spec(spark, table_name)
    before, size = table_files(spark, table_name)
    n_buckets = max(
        spec["n_buckets"],
        index_bucket_count(spark, size, target_file_bytes),
        min_buckets,
    )
    tmp = f"{table_name}__compact"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    # Force the BUCKETED scan for the rewrite. The repartition-by-bucket-
    # columns is elided because the bucketed scan already satisfies that
    # partitioning — but DisableUnnecessaryBucketedScan (which only looks
    # for joins/aggregates, not writes) then downgrades the scan to a
    # plain file scan, leaving each task with arbitrary files and the
    # writer emitting one file per (task, bucket) pair instead of one
    # per bucket (observed: 16 -> 9 files instead of 4). With
    # autoBucketedScan disabled the scan partitions ARE the buckets and
    # the write lands exactly one file in each.
    prev = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
    )
    try:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        w = (
            spark.table(table_name)
            .repartition(n_buckets, *spec["bucket_cols"])
            .write.format("parquet").mode("overwrite")
            .bucketBy(n_buckets, *spec["bucket_cols"])
        )
        if spec["sort_cols"]:
            w = w.sortBy(*spec["sort_cols"])
        w.saveAsTable(tmp)
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev
        )
    # Swap rename-aside-first, never drop-then-rename (r10 ADVICE): a
    # driver death between DROP and RENAME would leave the table MISSING
    # (data stranded in __compact) and every probe failing until a
    # manual rename. Renaming the original to __old first shrinks the
    # no-table window to the single metadata op between the two renames;
    # recovery from a crash there is `ALTER TABLE <t>__compact RENAME TO
    # <t>` (or __old to roll back) — both generations persist until the
    # final DROP.
    old = f"{table_name}__old"
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE {old}")
    return {
        "files_before": before,
        "files_after": table_files(spark, table_name)[0],
        "n_buckets": n_buckets,
    }


def morton_code(cols: list, bits: int = 16):
    """Z-order (Morton) interleaving of 2+ normalized integer columns as
    a pure Column expression (stays inside whole-stage codegen). Inputs
    must already be scaled to [0, 2^bits); use `zorder_write` for the
    end-to-end path that handles normalization."""
    n = len(cols)
    out = F.lit(0).cast("long")
    for bit in range(bits):
        for ci, c in enumerate(cols):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * n + ci,
                )
            )
    return out


def zorder_write(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write `df` clustered on the Z-order (space-filling) curve of
    `zorder_cols`: each column is min-max normalized to `bits` bits, the
    Morton interleave is computed in one codegen stage, and the frame is
    range-partitioned + sorted on it, so every output file covers a
    small HYPER-RECTANGLE of the key space rather than a stripe of one
    column. Parquet footer min/max on EVERY z-ordered column then prune
    files for point/range predicates on ANY of them — the multi-column
    data-skipping a single-column sort cannot give (sorting on col A
    leaves col B's per-file ranges full-width).

    This is the plain-parquet equivalent of Delta/Iceberg OPTIMIZE
    ZORDER BY. Cost: one extra agg job for the min/max bounds + one
    range shuffle; at 100 TB run it per partition (dt=...) during
    compaction rather than globally. Skipping effectiveness is
    regression-pinned by tests/test_scale_plans.py against footer
    statistics."""
    bounds = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in zorder_cols],
        *[F.max(c).alias(f"__max_{c}") for c in zorder_cols],
    ).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for c in zorder_cols:
        lo, hi = bounds[f"__min_{c}"], bounds[f"__max_{c}"]
        span = max(1, int(hi) - int(lo))
        scaled.append(
            ((F.col(c).cast("long") - F.lit(int(lo))) * top / span).cast("long")
        )
    with_z = df.withColumn("__z", morton_code(scaled, bits=bits))
    (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed lake table: hash-bucket `df` by `bucket_cols` into
    `n_buckets` files per partition via DataFrameWriter.bucketBy +
    saveAsTable. Two tables bucketed the same way join WITHOUT any
    Exchange — the bucketed scan reports HashPartitioning(n_buckets), so
    SortMergeJoin consumes both sides in place. `sort_cols` pre-sorts
    the bucket FILES at write time; note Spark still plans a defensive
    Sort above the scan by default (a bucket split across several files
    would need a merge) — the Sort is elided too only with ONE file per
    bucket and spark.sql.legacy.bucketedTableScan.outputOrdering=true
    (both behaviors plan-pinned in tests/test_sink.py). This is the
    storage layout that makes the TPC-H join chains exchange-free at
    100 TB (plans/composite.py documents the claim). Bucket count is a
    layout contract: co-locating joins requires equal n_buckets on both
    tables, so changing it is a rewrite, not a config flip."""
    w = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
