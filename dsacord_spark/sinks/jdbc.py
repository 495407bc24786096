"""K1-K4 — the Postgres sink with the reference's duplicate-strategy
triple (/root/reference/utils.go:88-119, main.go:194-204).

Strategies (config.DUP_STRATEGIES):
- error:              plain batched INSERT; duplicate key surfaces as an
                      error (reference default path, utils.go:107)
- upsert-on-conflict: optimistic INSERT, and iff a unique violation
                      (SQLSTATE 23505) occurs, retry the whole unit as an
                      upsert (--overwriteDuplicates, main.go:194-204)
- always-upsert:      INSERT ... ON CONFLICT (uuid) DO UPDATE SET ... on
                      every batch (--skipCheckingDuplicates,
                      utils.go:99-104) — idempotent, the streaming default

Spark's JDBC writer has no upsert mode, so upserts run through
`foreachBatch`/`foreachPartition` with a DB-API connection per partition
(psycopg if installed — not bundled in this container, hence the gated
import and an injectable connection factory; tests use sqlite/fakes).

Scale notes: sink parallelism is capped by `num_partitions` (the
reference advises <= 5 workers against Postgres, main.go:54); batch size
1000 matches utils.go:89; within a batch rows are deduped on the upsert
key first (keep-latest) so ON CONFLICT never sees the same key twice in
one statement (Postgres would reject it) — this also encodes the
epoch-level dedup required for exactly-once streaming replay.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window as W, functions as F

from dsacord_spark.schema import DECISIONS_SCHEMA, SINK_INDEX_COLUMNS, UPSERT_KEY

_SPARK_TO_PG = {
    "string": "text",
    "boolean": "boolean",
    "timestamp": "timestamp",
    "array<string>": "text[]",
}


def pg_type(spark_type: str) -> str:
    return _SPARK_TO_PG.get(spark_type, spark_type)


def create_table_ddl(table: str = "decisions") -> list[str]:
    """K4 — AutoMigrate equivalent (main.go:95-97): CREATE TABLE IF NOT
    EXISTS + the EntityID index (types.go:63)."""
    cols = ",\n  ".join(
        f"{f.name} {pg_type(f.dataType.simpleString())}"
        + (" PRIMARY KEY" if f.name == UPSERT_KEY else "")
        for f in DECISIONS_SCHEMA.fields
    )
    stmts = [f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n)"]
    for ix in SINK_INDEX_COLUMNS:
        stmts.append(
            f"CREATE INDEX IF NOT EXISTS idx_{table}_{ix} ON {table} ({ix})"
        )
    return stmts


def insert_sql(table: str, columns: list[str]) -> str:
    ph = ", ".join(["%s"] * len(columns))
    return f"INSERT INTO {table} ({', '.join(columns)}) VALUES ({ph})"


def upsert_sql(table: str, columns: list[str], key: str = UPSERT_KEY) -> str:
    """K2 — gorm clause.OnConflict{UpdateAll: true} equivalent
    (utils.go:100-104)."""
    ph = ", ".join(["%s"] * len(columns))
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c != key
    )
    return (
        f"INSERT INTO {table} ({', '.join(columns)}) VALUES ({ph}) "
        f"ON CONFLICT ({key}) DO UPDATE SET {updates}"
    )


def table_size_sql(table: str = "decisions") -> str:
    """A2 — end-of-run size probe (main.go:162-165)."""
    return f"SELECT pg_size_pretty(pg_total_relation_size('{table}'))"


def dedup_batch(df: DataFrame, key: str = UPSERT_KEY) -> DataFrame:
    """Within-batch keep-latest on the upsert key (ON CONFLICT requires
    each key at most once per statement; order: latest created_at wins,
    mirroring UpdateAll's last-write semantics). Ties go to the later
    `_source_file` (the reference upserts files in order, so the last
    one wins), then to the remaining columns, so the survivor depends
    only on the set of input rows: never on shuffle arrival order, which
    a task retry can change."""
    ties = [c for c in df.columns if c not in (key, "created_at", "_source_file")]
    order = [F.col("created_at").desc_nulls_last()]
    if "_source_file" in df.columns:
        order.append(F.col("_source_file").desc_nulls_last())
    w = W.partitionBy(key).orderBy(*order, *(F.col(c).asc_nulls_first() for c in ties))
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def is_unique_violation(exc: Exception) -> bool:
    """The reference sniffs 'SQLSTATE 23505' in the error text
    (main.go:196); DB-API exceptions expose pgcode/sqlstate attrs too."""
    code = getattr(exc, "sqlstate", None) or getattr(exc, "pgcode", None)
    if code == "23505":
        return True
    return "23505" in str(exc) or "UNIQUE constraint failed" in str(exc)


def write_batch(
    df: DataFrame,
    connection_factory: Callable,
    table: str = "decisions",
    strategy: str = "error",
    batch_size: int = 1000,
    num_partitions: int = 5,
) -> None:
    """K1/K3 — partition-parallel batched write with strategy handling.

    One DB transaction per partition (the reference's one-txn-per-ZIP,
    utils.go:91, mapped to Spark's unit of parallelism), executemany in
    `batch_size` chunks (utils.go:89,92-97)."""
    if strategy not in ("error", "upsert-on-conflict", "always-upsert"):
        raise ValueError(f"unknown strategy {strategy!r}")
    deduped = dedup_batch(df) if strategy != "error" else df
    cols = [c for c in deduped.columns if not c.startswith("_source")]
    ins, ups = insert_sql(table, cols), upsert_sql(table, cols)

    def run_batches(cur, sql: str, all_rows: list[tuple]) -> None:
        for i in range(0, len(all_rows), batch_size):
            chunk = all_rows[i : i + batch_size]
            if chunk:
                cur.executemany(sql, chunk)

    def write_partition(rows) -> None:
        conn = connection_factory()
        try:
            cur = conn.cursor()
            all_rows = [tuple(row[c] for c in cols) for row in rows]
            try:
                run_batches(cur, ups if strategy == "always-upsert" else ins, all_rows)
                conn.commit()
            except Exception as exc:
                conn.rollback()
                if strategy == "upsert-on-conflict" and is_unique_violation(exc):
                    # K3: retry the whole unit as an upsert (main.go:198-204)
                    run_batches(cur, ups, all_rows)
                    conn.commit()
                else:
                    raise
        finally:
            conn.close()

    deduped.coalesce(num_partitions).foreachPartition(write_partition)


def pg_connection_factory(
    dsn: str | None = None,
    socket_dir: str | None = None,
    port: int = 5432,
    user: str = "postgres",
    dbname: str = "postgres",
) -> Callable:
    """Best-available Postgres connection factory for `write_batch`:
    psycopg (production) when importable, else the bundled pure-Python
    wire client (sinks/pgwire.py — trust-auth unix socket only). The
    returned zero-arg callable is what write_batch ships to executors,
    so it must be picklable: it closes over plain strings only."""
    if dsn is None and socket_dir is None:
        raise ValueError(
            "pg_connection_factory needs a dsn or a socket_dir — failing "
            "fast here beats a per-task 'could not translate host \"None\"' "
            "on every executor"
        )
    try:  # pragma: no cover - psycopg not in this container
        import psycopg

        conn_str = dsn or f"host={socket_dir} port={port} user={user} dbname={dbname}"

        def _psycopg_factory():
            return psycopg.connect(conn_str, autocommit=False)

        return _psycopg_factory
    except ImportError:
        if socket_dir is None:
            raise ValueError(
                "pgwire fallback needs socket_dir (unix-socket trust auth)"
            )

        def _pgwire_factory(
            _dir=socket_dir, _port=port, _user=user, _db=dbname
        ):
            from dsacord_spark.sinks.pgwire import connect

            return connect(_dir, port=_port, user=_user, dbname=_db)

        return _pgwire_factory


def jdbc_append(df: DataFrame, url: str, table: str, properties: dict) -> None:
    """K1 via Spark's native JDBC writer (no upsert): append with
    batchsize 1000 — used when strategy='error' and a JVM driver exists."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", 1000)
        .options(**properties)
        .mode("append")
        .save()
    )
