"""LIVE-Postgres integration for the K1-K4 sink (VERDICT round-1 task 6):
boots a real scratch Postgres cluster (initdb + pg_ctl, trust auth over a
unix socket) and round-trips the reference's duplicate-strategy triple
(/root/reference/utils.go:88-119, main.go:194-204) through `write_batch`,
including the optimistic insert -> SQLSTATE 23505 -> whole-unit upsert
retry, `ON CONFLICT (uuid) DO UPDATE SET`, and real text[] array binding
(quirk Q1 divergence: elements with commas/braces survive).

Skips cleanly when Postgres binaries or a runnable service user are
unavailable. The client is sinks/pgwire.py (pure-Python wire protocol)
because this container has neither psycopg nor a JDBC driver jar.
"""

from __future__ import annotations

import datetime
import shutil
import subprocess
import tempfile

import pytest

from dsacord_spark.sinks import jdbc
from dsacord_spark.sinks.jdbc import (
    create_table_ddl,
    pg_connection_factory,
    table_size_sql,
    write_batch,
)

pytestmark = pytest.mark.postgres


def _pg_bin(name: str) -> str | None:
    return shutil.which(name, path="/usr/local/bin:/usr/bin:/usr/lib/postgresql/15/bin")


def _runuser_ok() -> bool:
    return shutil.which("runuser") is not None and subprocess.run(
        ["runuser", "-u", "postgres", "--", "true"], capture_output=True, cwd="/"
    ).returncode == 0


@pytest.fixture(scope="module")
def pg_socket_dir():
    initdb, pg_ctl = _pg_bin("initdb"), _pg_bin("pg_ctl")
    if not (initdb and pg_ctl):
        pytest.skip("postgres binaries not installed")
    if not _runuser_ok():
        pytest.skip("no unprivileged user to run postgres as")
    work = tempfile.mkdtemp(prefix="dsacord-pg-")
    subprocess.run(["chown", "postgres:postgres", work], check=True)

    def as_pg(*cmd, **kw):
        return subprocess.run(
            ["runuser", "-u", "postgres", "--", *cmd],
            capture_output=True, text=True, cwd="/", **kw,
        )

    r = as_pg(initdb, "-D", f"{work}/data", "-A", "trust", "-U", "postgres")
    if r.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    r = as_pg(
        pg_ctl, "-D", f"{work}/data", "-w", "-t", "60",
        "-o", f"-c listen_addresses='' -c unix_socket_directories={work}",
        "-l", f"{work}/log", "start",
    )
    if r.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-300:]}")
    try:
        yield work
    finally:
        as_pg(pg_ctl, "-D", f"{work}/data", "-m", "immediate", "stop")
        shutil.rmtree(work, ignore_errors=True)


@pytest.fixture()
def factory(pg_socket_dir):
    return pg_connection_factory(socket_dir=pg_socket_dir)


@pytest.fixture()
def fresh_table(factory):
    """decisions table created via the K4 DDL, dropped after each test."""
    conn = factory()
    cur = conn.cursor()
    cur.execute("DROP TABLE IF EXISTS decisions")
    for stmt in create_table_ddl("decisions"):
        cur.execute(stmt)
    conn.commit()
    conn.close()
    yield "decisions"


def _scalar(factory, sql: str):
    conn = factory()
    try:
        return conn.cursor().execute(sql).fetchone()
    finally:
        conn.rollback()
        conn.close()


def _decisions_df(spark, rows):
    """Rows: (uuid, entity_id, decision_visibility, created_at)."""
    from dsacord_spark.schema import DECISIONS_SCHEMA

    full = []
    for uuid, entity_id, vis, created in rows:
        d = {f.name: None for f in DECISIONS_SCHEMA.fields}
        d.update(
            uuid=uuid, entity_id=entity_id, decision_visibility=vis,
            created_at=created,
        )
        full.append(d)
    return spark.createDataFrame(full, DECISIONS_SCHEMA)


T0 = datetime.datetime(2025, 1, 1, 12, 0, 0)
T1 = datetime.datetime(2025, 1, 2, 12, 0, 0)


class TestLiveSink:
    def test_ddl_and_plain_insert(self, spark, factory, fresh_table):
        df = _decisions_df(spark, [("a", "e1", ["V1"], T0), ("b", "e2", None, T0)])
        write_batch(df, factory, strategy="error", num_partitions=2)
        assert _scalar(factory, "SELECT count(*) FROM decisions") == ("2",)

    def test_error_strategy_raises_on_duplicate(self, spark, factory, fresh_table):
        df = _decisions_df(spark, [("a", "e1", None, T0)])
        write_batch(df, factory, strategy="error")
        with pytest.raises(Exception, match="23505"):
            write_batch(df, factory, strategy="error")

    def test_upsert_on_conflict_retries_whole_unit(self, spark, factory, fresh_table):
        """K3 semantics (main.go:194-204): optimistic insert hits a real
        SQLSTATE 23505, the whole unit re-runs as an upsert, latest wins."""
        write_batch(
            _decisions_df(spark, [("a", "old", None, T0)]),
            factory, strategy="error",
        )
        batch = _decisions_df(
            spark, [("a", "new", None, T1), ("b", "fresh", None, T1)]
        )
        write_batch(batch, factory, strategy="upsert-on-conflict",
                    num_partitions=1)
        assert _scalar(factory, "SELECT count(*) FROM decisions") == ("2",)
        assert _scalar(
            factory, "SELECT entity_id FROM decisions WHERE uuid = 'a'"
        ) == ("new",)

    def test_always_upsert_idempotent_replay(self, spark, factory, fresh_table):
        batch = _decisions_df(spark, [("a", "e1", None, T0), ("b", "e2", None, T0)])
        write_batch(batch, factory, strategy="always-upsert")
        write_batch(batch, factory, strategy="always-upsert")  # replay
        assert _scalar(factory, "SELECT count(*) FROM decisions") == ("2",)

    def test_within_batch_dedup_keeps_latest(self, spark, factory, fresh_table):
        """ON CONFLICT rejects the same key twice in one statement; the
        sink dedups per batch keeping max(created_at) (UpdateAll
        last-write semantics, utils.go:100-104)."""
        batch = _decisions_df(
            spark, [("a", "first", None, T0), ("a", "second", None, T1)]
        )
        write_batch(batch, factory, strategy="always-upsert", num_partitions=1)
        assert _scalar(
            factory, "SELECT entity_id FROM decisions WHERE uuid = 'a'"
        ) == ("second",)

    def test_text_array_binding_quirk_q1(self, spark, factory, fresh_table):
        """Real array binding: elements containing commas and braces
        round-trip intact — the documented divergence from the
        reference's brace-join encoding (types.go:69-74) that corrupts
        exactly these values."""
        vis = ["HAS,COMMA", "HAS{BRACE}", "it's quoted"]
        write_batch(
            _decisions_df(spark, [("a", "e1", vis, T0)]),
            factory, strategy="always-upsert",
        )
        got = _scalar(
            factory,
            "SELECT decision_visibility[1] || '|' || decision_visibility[2]"
            " || '|' || decision_visibility[3] FROM decisions",
        )
        assert got == ("HAS,COMMA|HAS{BRACE}|it's quoted",)
        n = _scalar(
            factory,
            "SELECT array_length(decision_visibility, 1) FROM decisions",
        )
        assert n == ("3",)

    def test_table_size_probe(self, factory, fresh_table):
        """A2 — the end-of-run pg_total_relation_size probe
        (main.go:162-165) against a live server."""
        (size,) = _scalar(factory, table_size_sql("decisions"))
        assert size and ("bytes" in size or "kB" in size or "MB" in size)

    def test_batch_size_chunking(self, spark, factory, fresh_table):
        """2500 rows through 1000-row executemany chunks (utils.go:89)."""
        rows = [(f"u{i}", f"e{i}", None, T0) for i in range(2500)]
        write_batch(_decisions_df(spark, rows), factory,
                    strategy="error", num_partitions=2)
        assert _scalar(factory, "SELECT count(*) FROM decisions") == ("2500",)


class TestWireTransactions:
    def test_statement_after_rollback_is_transactional(self, factory, fresh_table):
        """DB-API contract regression: after a rollback, the next
        statement on the SAME cursor must open a new transaction — if it
        autocommitted, the uncommitted row below would survive close()
        (this is exactly the path the upsert-on-conflict retry takes)."""
        conn = factory()
        cur = conn.cursor()
        cur.execute("INSERT INTO decisions (uuid) VALUES ('t1')")
        conn.rollback()
        cur.executemany(
            "INSERT INTO decisions (uuid) VALUES (%s)", [("t2",), ("t3",)]
        )
        conn.close()  # no commit: the rows must vanish with the txn
        assert _scalar(factory, "SELECT count(*) FROM decisions") == ("0",)

    def test_commit_after_rollback_persists(self, factory, fresh_table):
        conn = factory()
        cur = conn.cursor()
        cur.execute("INSERT INTO decisions (uuid) VALUES ('a')")
        conn.rollback()
        cur.execute("INSERT INTO decisions (uuid) VALUES ('b')")
        conn.commit()
        conn.close()
        assert _scalar(
            factory, "SELECT string_agg(uuid, ',') FROM decisions"
        ) == ("b",)


class TestLiteralRoundTrip:
    def test_fuzzed_values_round_trip(self, factory, fresh_table):
        """Adversarial literal encoding against the REAL server: strings
        with quotes/backslashes/braces/newlines/unicode and arrays
        thereof must come back byte-identical through quote_literal
        interpolation (deterministic corpus, not hypothesis, so the
        round-trip is reproducible in CI)."""
        corpus = [
            "plain",
            "it's got 'quotes'",
            "back\\slash and \\n literal",
            "{brace,comma}",
            "line\nbreak\ttab",
            "ünïcødé ∑ 中文",
            "''double''",
            " %s placeholder-lookalike ",
            "",
        ]
        conn = factory()
        cur = conn.cursor()
        for i, s in enumerate(corpus):
            cur.execute(
                "INSERT INTO decisions (uuid, entity_id, decision_visibility)"
                " VALUES (%s, %s, %s)",
                (f"u{i}", s, [s, s + "2"]),
            )
        conn.commit()
        for i, s in enumerate(corpus):
            got = cur.execute(
                "SELECT entity_id, decision_visibility[1],"
                " decision_visibility[2] FROM decisions WHERE uuid = %s",
                (f"u{i}",),
            ).fetchone()
            assert got == (s, s, s + "2"), (s, got)
        conn.close()


class TestStreamingToLivePostgres:
    def test_full_reference_pipeline_stream_to_postgres(
        self, spark, factory, fresh_table, tmp_path
    ):
        """The COMPLETE reference job on Spark against a real server:
        landing dump ZIPs -> readStream -> typed transform (F1-F5) ->
        quarantine split -> epoch keep-latest dedup -> foreachBatch
        always-upsert into live Postgres — including a late re-dump of
        the same day that replays through the idempotent upsert
        (README.md:27-28,60-63 semantics)."""
        from dsacord_spark.sinks.jdbc import write_batch
        from dsacord_spark.streaming.pipeline import start_decisions_stream
        from tests.wire_dumps import dump_zip, stage_zip

        landing = tmp_path / "landing"
        stage_zip(landing, "2025-01-01", "d1.zip", dump_zip([
            {"uuid": "s1", "created_at": "2025-01-01 00:00:00",
             "category": "CAT_A",
             "decision_visibility": '["DECISION_VISIBILITY_CONTENT_REMOVED"]',
             "automated_detection": "Yes"},
            {"uuid": "s1", "created_at": "2025-01-01 12:00:00",
             "category": "CAT_B"},            # same epoch: keep-latest
            {"uuid": "", "created_at": "2025-01-01 00:00:00"},  # quarantined
            {"uuid": "s2", "created_at": "2025-01-01 00:00:00",
             "automated_detection": "No"},
        ]))

        def sink(batch_df, _epoch):
            write_batch(batch_df, factory, strategy="always-upsert",
                        num_partitions=2)

        ckpt = str(tmp_path / "ckpt")
        q = start_decisions_stream(
            spark, str(tmp_path / "landing"), ckpt, sink, available_now=True
        )
        q.awaitTermination(180)
        assert _scalar(factory, "SELECT count(*) FROM decisions") == ("2",)
        assert _scalar(
            factory, "SELECT category FROM decisions WHERE uuid = 's1'"
        ) == ("CAT_B",)
        assert _scalar(
            factory,
            "SELECT decision_visibility[1] FROM decisions WHERE uuid = 's1'",
        ) == (None,)  # later epoch-winning row had no visibility value
        assert _scalar(
            factory, "SELECT automated_detection FROM decisions WHERE uuid = 's2'"
        ) == ("f",)  # parseBool 'No' -> false, round-tripped as boolean

        # late re-dump: the same uuid redelivered with newer data replays
        # through checkpoint resume + idempotent upsert
        stage_zip(landing, "2025-01-01", "d1-redump.zip", dump_zip([
            {"uuid": "s2", "created_at": "2025-01-02 00:00:00",
             "category": "CAT_LATE"},
            {"uuid": "s3", "created_at": "2025-01-02 00:00:00"},
        ]))
        q2 = start_decisions_stream(
            spark, str(tmp_path / "landing"), ckpt, sink, available_now=True
        )
        q2.awaitTermination(180)
        assert _scalar(factory, "SELECT count(*) FROM decisions") == ("3",)
        assert _scalar(
            factory, "SELECT category FROM decisions WHERE uuid = 's2'"
        ) == ("CAT_LATE",)
