"""K5 — parquet sink (absent in the reference; used by the oracle tests
and as the lake-format landing of the typed `decisions` table).

Partitioned by dump date (`dt`) so downstream scans prune by day — the
Spark formulation of the reference's one-day-one-unit layout
(SURVEY §4.3). At 100 TB, day-partitioned parquet with ~128 MB files is
the layout every query in the catalog assumes.

Every file that holds decision rows is zstd-compressed (`LAKE_CODEC`,
at Spark's default zstd level 3): the lake write, the anti-join append
and the compaction rewrite all set it, so a compacted partition keeps
the codec it was written with. At 100 TB bytes at rest are both the
storage bill and the scan I/O of every query over the lake. On
generated dump rows of ~1.1 KB of CSV each (the benchmark's
ingest_backfill, 10 seeds per codec) the lake holds a median 445.8 B
per row with snappy, the session default, and 277.6 B with zstd
(-37.7%). One same-process write of 18,213 such rows gave snappy 446.0,
zstd level 1 300.7, level 3 277.7 and level 6 270.1 B per row, level 6
at +25% write time, so level 3 is the knee. The bucketed index
tables (the uuid index here, the MinHash/Hamming probe indexes in
operators/dedup.py) stay on the session codec: on the curate MinHash
index zstd saved only 1.4% (870.7 -> 858.7 B/doc; hash columns do not
compress) while a 10-batch curate A/B read a median 5.15 s with snappy
against 5.90 s with zstd.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dsacord_spark.hadoopfs import hadoop_path_exists
from dsacord_spark.session import local_frame

# parquet codec of every file holding decision rows (module docstring)
LAKE_CODEC = "zstd"


def write_decisions_parquet(
    df: DataFrame,
    path: str,
    partition_by_date: bool = True,
    mode: str = "append",
    writers_per_day: int = 8,
    cluster_within_files_by: str | None = "entity_id",
) -> None:
    """Day-partitioned parquet lake write.

    `cluster_within_files_by` sorts rows inside each output file by that
    column — the lake formulation of the reference's secondary index on
    EntityID (types.go:63 `gorm:"index"`): sorted files give tight
    per-row-group min/max statistics, so an entity_id point lookup skips
    whole row groups instead of scanning every file of the day. Measured
    cost ~20% on the e2e ingest (local sort, no extra shuffle) — the
    analog of the b-tree maintenance the reference pays per insert.

    Files are written with `LAKE_CODEC` (zstd level 3) whatever the
    session codec: 278 B per row against snappy's 446 B on ~1.1 KB CSV
    rows (-38%), for +7% backfill time per batch; the measurements and
    why the index tables keep the session codec are in the module
    docstring."""
    writer = df.write.mode(mode)
    if partition_by_date and "created_at" in df.columns:
        df = df.withColumn(
            "dt", F.coalesce(F.date_format("created_at", "yyyy-MM-dd"), F.lit("unknown"))
        )
        # Cluster rows by (dt, salt) before the dynamic-partition write.
        # No clustering -> every task holding every day emits tasks x days
        # fragments (the classic small-files problem). Clustering by dt
        # alone -> at most one writer task per day, which serializes the
        # write when days < cores (measured 40.6s vs 14.4s unclustered at
        # sf0.1/32 cores). The salt caps files at writers_per_day per day
        # while keeping every core writing (14.1s, 8 files/day). At 100 TB
        # raise writers_per_day (or let maxRecordsPerFile split) so one
        # hot day never bottlenecks on salt-many writers.
        df = df.withColumn("__salt", F.pmod(F.hash("uuid"), F.lit(writers_per_day)))
        df = df.repartition("dt", "__salt").drop("__salt")
        if cluster_within_files_by and cluster_within_files_by in df.columns:
            # local per-task sort, no extra shuffle. dt leads so the
            # dynamic writer sees contiguous partition runs; the salt must
            # NOT be in the sort key — a task emits one file per day dir
            # across all its salt groups, so salt-major order would leave
            # the file only piecewise sorted
            df = df.sortWithinPartitions("dt", cluster_within_files_by)
        writer = df.write.mode(mode).partitionBy("dt")
    writer.option("compression", LAKE_CODEC).parquet(path)


def append_new_decisions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str = "uuid",
    return_dts: bool = False,
    observation=None,
    uuid_index_table: str | None = None,
    uuid_index_buckets: int = 16,
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
    guard; an unpartitioned lake falls back to the full probe.

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
    passes)."""
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
    write_decisions_parquet(df, path, mode="append", **write_kwargs)
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
            (
                spark.read.parquet(path).select(key)
                .write.format("parquet").mode("overwrite")
                .bucketBy(uuid_index_buckets, key).sortBy(key)
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
                missing.write.format("parquet").mode("append")
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
    target_file_bytes: int = 128 << 20,
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
            append_new_decisions(spark, batch_df, lake_path, key=key, **write_kwargs)
        finally:
            batch_df.unpersist()
        if dts:
            refresh_rollup(spark, lake_path, rollup_path, agg_fn, changed_dts=dts)

    return sink


def describe_bucket_spec(spark: SparkSession, table_name: str) -> dict:
    """Read a bucketed table's layout contract back from the catalog
    (DESCRIBE FORMATTED): {'n_buckets', 'bucket_cols', 'sort_cols'}.
    Raises if the table is not bucketed — callers use this to compact or
    append WITHOUT restating the spec (a drifted restatement would
    silently produce a mixed-layout table)."""
    rows = {
        r["col_name"].strip(): (r["data_type"] or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
    }

    def _cols(v: str) -> list[str]:
        return [
            c.strip().strip("`")
            for c in v.strip("[]").split(",")
            if c.strip()
        ]

    if "Num Buckets" not in rows:
        raise ValueError(f"{table_name} is not a bucketed table")
    return {
        "n_buckets": int(rows["Num Buckets"]),
        "bucket_cols": _cols(rows.get("Bucket Columns", "")),
        "sort_cols": _cols(rows.get("Sort Columns", "")),
    }


def compact_bucketed_table(spark: SparkSession, table_name: str) -> dict:
    """Rewrite a bucketed table so every bucket lands in exactly ONE
    file (r9 verdict item 4 / PLANS.md backlog). Append-maintained
    bucketed tables accumulate one file per bucket PER APPEND; Spark
    keeps the bucketed-join co-location regardless, but drops the
    written sort order as soon as a bucket spans several files — so the
    probe-side sort-merge joins pay a per-partition Sort forever. After
    compaction (plus spark.sql.legacy.bucketedTableScan.outputOrdering=
    true) the scan reports its sortBy order and the SMJ consumes the
    bucket files directly, no Sort, at any corpus size.

    Mechanics: repartition by the bucket columns into exactly n_buckets
    partitions — repartition's HashPartitioning is the same
    pmod(Murmur3, n) as DataFrameWriter.bucketBy, so each task holds
    exactly one bucket's rows and the bucketed write emits one file per
    bucket — then swap via a temp table (saveAsTable cannot overwrite a
    table it reads). The spec (bucket count/columns/sort columns) is
    read from the catalog, never restated. Returns {'files_before',
    'files_after', 'n_buckets'}."""
    spec = describe_bucket_spec(spark, table_name)

    def _n_files(t: str) -> int:
        try:
            return len(spark.table(t).inputFiles())
        except Exception:
            return -1

    before = _n_files(table_name)
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
            .repartition(spec["n_buckets"], *spec["bucket_cols"])
            .write.format("parquet").mode("overwrite")
            .bucketBy(spec["n_buckets"], *spec["bucket_cols"])
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
        "files_after": _n_files(table_name),
        "n_buckets": spec["n_buckets"],
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
