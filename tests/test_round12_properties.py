"""Round-12 pins: the r11 ADVICE fixes (annctl stats null-cosine
weighted mean, _in_literals int64 gate, side-effect-free zero-batch
drain) and the IVF lease integration's registry semantics. The IVF id
side-index itself is pinned in tests/test_ivf_lifecycle.py."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def test_in_literals_int64_gate(spark):
    """r11 ADVICE: an int outside int64 must NOT take the bare-literal
    SQL fast path (it would parse as DECIMAL and silently change the
    comparison's coercion); the isin fallback errors loudly instead.
    Boundary values stay on the fast path."""
    from dsacord_spark.operators.dedup import _in_literals

    df = spark.createDataFrame(
        [(1,), (5,), (2**63 - 1,), (-(2**63),)], "c long"
    )
    got = df.filter(
        _in_literals("c", [1, 2**63 - 1, -(2**63)])
    ).count()
    assert got == 3  # boundary longs still served by the parsed-SQL path
    with pytest.raises(Exception, match="9223372036854775808"):
        df.filter(_in_literals("c", [1, 2**63])).count()
    # bool is an int subclass but type(v) is not int -> isin fallback,
    # whose analyzer rejects the type mix loudly (never a silently
    # rendered bare literal)
    with pytest.raises(Exception, match="DATATYPE_MISMATCH"):
        df.filter(_in_literals("c", [True])).count()


def test_shape_empty_drain_prefers_side_effect_free_path(spark):
    """r11 ADVICE: a zero-micro-batch drain must not run the per-batch
    transform's side effects. Pin the dispatch: drain_transform wins
    over batch_transform; without it the 2-arg contract still holds."""
    from dsacord_spark.streaming import pipeline as sp

    effects: list[str] = []

    def batch_t(b, batch_id):
        effects.append(f"batch:{batch_id}")
        return b

    out = sp._shape_empty_drain(
        spark, "doc_id long, h long", batch_t, True,
        lambda b: b.select("doc_id"),
    )
    assert out.columns == ["doc_id"] and out.count() == 0
    assert effects == [], "per-batch side effects ran on the drain"
    out = sp._shape_empty_drain(
        spark, "doc_id long, h long", batch_t, True, None
    )
    assert out.count() == 0 and effects == ["batch:0"]


def test_annctl_stats_survives_null_mean_cos(spark, tmp_path, capsys):
    """r11 ADVICE (medium): a cell whose members are all zero-norm
    vectors is legal input — cosine is NULL via try_divide, so the cell
    reports n_vecs>0 with mean_cos=None. `annctl stats` must weight the
    summary mean over the SCORED cells only (divided by their n_vecs,
    not the grand total) instead of dying with a TypeError."""
    from dsacord_spark.annctl import main
    from dsacord_spark.operators.similarity import _hadoop_write_text

    path = str(tmp_path / "nullcos")
    spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),
            (3, [0.0, 0.0], 1), (4, [0.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, cell long",
    ).write.partitionBy("cell").parquet(path)
    _hadoop_write_text(
        spark, f"{path}/_ivf_centroids.json",
        json.dumps({
            "n_cells": 2, "id_col": "vec_id", "vec_col": "embedding",
            "centroids": [[0, [1.0, 0.0]], [1, [0.0, 0.0]]],
        }),
    )
    assert main(["stats", "--index", path]) == 0
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    per_cell = {d["cell"]: d for d in lines if "cell" in d}
    assert per_cell[1]["n_vecs"] == 2 and per_cell[1]["mean_cos"] is None
    summary = lines[-1]
    assert summary["n_vecs"] == 4 and summary["empty_cells"] == 0
    # weighted over cell 0's two scored vectors only: cos == 1.0
    assert summary["mean_cos"] == pytest.approx(1.0, abs=1e-6)


def test_ivf_lease_names_normalize_trailing_slash():
    """`a/b` and `a/b/` must coordinate as ONE index in the lease
    registry — otherwise a query on one spelling wouldn't block a
    retrain on the other."""
    from dsacord_spark import leases
    from dsacord_spark.operators.similarity import _ivf_lease_name

    name = _ivf_lease_name("/tmp/ivf_x/")
    assert name == _ivf_lease_name("/tmp/ivf_x")
    with leases.stream_lease(name):
        with pytest.raises(leases._MaintenanceBlocked):
            with leases.maintenance_lease(_ivf_lease_name("/tmp/ivf_x")):
                pass


_SECOND_DRIVER = """
import sys
from dsacord_spark.session import get_spark
from dsacord_spark import leases
spark = get_spark(app_name="second-driver", master="local[1]",
                  shuffle_partitions=1)
try:
    with leases.fs_maintenance_marker(spark, sys.argv[1], "compact"):
        print("CLAIMED")
except leases.MaintenanceMarkerHeld as exc:
    print("REFUSED", exc)
"""


def test_fs_marker_blocks_second_driver(spark, tmp_path):
    """r12 verdict item 4, the two-session pin: while THIS driver holds
    the filesystem maintenance marker, a genuinely separate driver
    process attempting the same maintenance refuses with the holder's
    diagnostics; once released, the second driver claims cleanly."""
    import os
    import subprocess
    import sys

    from dsacord_spark import leases

    base = str(tmp_path / "guarded")
    os.makedirs(base)

    def second_driver():
        r = subprocess.run(
            [sys.executable, "-c", _SECOND_DRIVER, base],
            capture_output=True, text=True, timeout=300,
            cwd=str(tmp_path), env=dict(os.environ, PYTHONPATH="/root/repo"),
        )
        assert r.returncode == 0, r.stderr[-500:]
        return r.stdout

    with leases.fs_maintenance_marker(spark, base, "compact_index(t)"):
        out = second_driver()
        assert "REFUSED" in out and "compact_index(t)" in out
        assert str(os.getpid()) in out  # holder diagnostics, not a bare no
    assert "CLAIMED" in second_driver()  # cleared on success


def test_fs_marker_crash_takeover_and_compact_integration(spark, sf_dir,
                                                          tmp_path):
    """The marker's lifecycle through the real compactor: compact_index
    refuses while another driver's FRESH marker exists, takes over a
    STALE one (the crashed-driver recovery path), and always deletes
    its own marker on exit."""
    import json
    import os
    import time

    from dsacord_spark import leases
    from dsacord_spark.operators.dedup import (
        _table_location,
        build_hamming_index,
        compact_index,
    )

    t = "t_r12_marker_compact"
    try:
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", F.xxhash64("text").alias("h"))
            .limit(60)
        )
        build_hamming_index(docs, "doc_id", "h", t)
        loc = _table_location(spark, f"{t}_summary")
        # the catalog reports a file: URI; the local-FS assertions below
        # need the bare path
        marker = leases._marker_path(loc).removeprefix("file:")

        with leases.fs_maintenance_marker(spark, loc, "other-driver"):
            with pytest.raises(leases.MaintenanceMarkerHeld,
                               match="other-driver"):
                compact_index(spark, t)
        assert not os.path.exists(marker)  # refusal left no residue

        # a crashed driver's stale claim: staleness is judged from the
        # file's mtime (the holder's heartbeat refreshes it while
        # alive), so age the FILE, not just the payload
        with open(marker, "w") as fh:
            json.dump({"op": "died-mid-rewrite", "pid": 1, "host": "x",
                       "epoch_s": time.time() - 7200}, fh)
        os.utime(marker, (time.time() - 7200, time.time() - 7200))
        stats = compact_index(spark, t)  # default staleness 3600s
        assert stats and not os.path.exists(marker)
        # an UNREADABLE but fresh marker (half-written payload) is a
        # live claim, never "1970, stale" (r12 review)
        with open(marker, "w") as fh:
            fh.write("")
        with pytest.raises(leases.MaintenanceMarkerHeld):
            compact_index(spark, t)
        os.remove(marker)
    finally:
        for suffix in ("_summary", "_bands", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")


def test_fs_marker_guards_ivf_lifecycle(spark, sf_dir, tmp_path):
    """build/append/retrain refuse while another driver's marker is
    fresh on the lake path — and leave the lake untouched."""
    from dsacord_spark import leases
    from dsacord_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        retrain_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 250), path, n_cells=4)
    n0 = spark.read.parquet(path).count()
    with leases.fs_maintenance_marker(spark, path, "other-driver"):
        with pytest.raises(leases.MaintenanceMarkerHeld):
            append_ivf_index(
                spark, path, emb.filter(F.col("vec_id") >= 250))
        with pytest.raises(leases.MaintenanceMarkerHeld):
            retrain_ivf_index(spark, path)
        with pytest.raises(leases.MaintenanceMarkerHeld):
            build_ivf_index(emb, path, n_cells=4)
    assert spark.read.parquet(path).count() == n0
    # released: the daily op proceeds
    assert append_ivf_index(
        spark, path, emb.filter(F.col("vec_id") >= 250)
    ) == emb.filter(F.col("vec_id") >= 250).count()


def test_pruned_minhash_probe_three_tiers_value_identical(
    spark, sf_dir, monkeypatch
):
    """r11 verdict item 5 follow-through: the pruned probe's three
    tiers — pairs fit (local cand), pairs overflow but distinct ids fit
    (the near-dup-burst regime the r11 shape served), both overflow
    (full shingle scan) — must all return exactly the unpruned result.
    The limit is shrunk to force each tier on a small fixture."""
    from dsacord_spark.operators import dedup

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
    )
    t = "t_r12_tiers"
    try:
        dedup.build_minhash_index(docs, "doc_id", "text", t)
        # replayed batch fully contained in the index: every doc pairs
        # with at least itself -> plenty of candidate pairs
        batch = docs.limit(40)
        want = sorted(map(tuple, dedup.probe_minhash_index(
            spark, t, batch, "doc_id", "text", prune=False,
        ).collect()))
        n_pairs_ok = sorted(map(tuple, dedup.probe_minhash_index(
            spark, t, batch, "doc_id", "text", prune=True,
        ).collect()))
        assert n_pairs_ok == want  # tier 1: pairs fit
        with monkeypatch.context() as m:
            m.setattr(dedup, "_PROBE_PRUNE_LIMIT", 41)
            # 40 batch docs pair with themselves (+ near-dups) -> pairs
            # can exceed 41 only if near-dups exist; distinct ids <= 80.
            # Either way the result must not change.
            tier2 = sorted(map(tuple, dedup.probe_minhash_index(
                spark, t, batch, "doc_id", "text", prune=True,
            ).collect()))
            assert tier2 == want
            m.setattr(dedup, "_PROBE_PRUNE_LIMIT", 1)
            tier3 = sorted(map(tuple, dedup.probe_minhash_index(
                spark, t, batch, "doc_id", "text", prune=True,
            ).collect()))
            assert tier3 == want  # tier 3: everything overflows
    finally:
        for suffix in ("_bands", "_shingles", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")


def test_fs_marker_heartbeat_keeps_long_ops_unusurpable(spark, tmp_path):
    """A legitimately long-running rewrite must never be usurped: the
    holder's heartbeat refreshes the marker's mtime every
    stale_after_s/4, so a competitor that arrives AFTER the staleness
    window has elapsed since the claim still sees a fresh file and
    refuses. (Without the heartbeat, any op longer than stale_after_s
    lost its marker mid-rewrite — r12 review.)"""
    import os
    import time

    from dsacord_spark import leases

    base = str(tmp_path / "longop")
    os.makedirs(base)
    with leases.fs_maintenance_marker(spark, base, "slow-retrain",
                                      stale_after_s=8.0):
        time.sleep(12)  # well past the claim's own staleness window
        with pytest.raises(leases.MaintenanceMarkerHeld,
                           match="slow-retrain"):
            with leases.fs_maintenance_marker(spark, base, "usurper",
                                              stale_after_s=8.0):
                pass
    # released cleanly after the long op
    with leases.fs_maintenance_marker(spark, base, "next",
                                      stale_after_s=8.0):
        pass


def test_simhash_signatures_matches_python_reference(spark):
    """r12 perf reformulation (explode + map-side-combined per-bit
    aggregate, operators/dedup.py): the signature VALUES are the
    operator's contract — pin them against an independent pure-Python
    replica of the spec (distinct whitespace tokens, 60-bit md5-prefix
    hash, per-bit majority 2*nset > n, empty docs dropped), so any
    future re-plan must keep results identical. Also pin the plan
    shape the optimization bought: one partial/final HashAggregate
    pair (map-side combine), no interpreted higher-order filter()."""
    import hashlib

    from dsacord_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_signatures,
    )

    rows = [
        ("a", "the quick brown fox the quick"),  # dup tokens -> distinct
        ("b", "  lorem   ipsum\tdolor \n sit  "),  # ragged whitespace
        ("c", ""),  # empty -> dropped
        ("d", "   \t "),  # whitespace-only -> dropped
        ("e", "solo"),  # single token
        ("f", "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    sig = simhash_signatures(df, "doc_id", "text")
    got = {r["doc"]: r["simhash"] for r in sig.collect()}

    def ref(text: str) -> int | None:
        toks = {t for t in text.strip().split() if t}
        if not toks:
            return None
        hv = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for t in toks
        ]
        out = 0
        for bit in range(SIMHASH_BITS):
            if 2 * sum((h >> bit) & 1 for h in hv) > len(hv):
                out |= 1 << bit
        return out

    expect = {
        doc: ref(text) for doc, text in rows if ref(text) is not None
    }
    assert got == expect

    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, (
        "expected a partial/final HashAggregate pair (map-side combine)"
    )
    # the tokenizer's single whitespace filter() is fine (it appears in
    # the pre- and post-AQE plan prints); the retired formulation had 60
    # per-bit filter(hs, ...) lambdas
    assert plan.count("lambdafunction") < SIMHASH_BITS / 2, (
        "interpreted higher-order per-bit filter() is back in the plan"
    )


def test_scan_fanout_is_per_entry_size_gated(spark, sf_dir, monkeypatch):
    """r12 scan fan-out (plans/registry.py:_fanout_small): testdata
    tables are single-row-group parquet (unsplittable -> 1-task scan
    stages), so allowlisted entries hash-repartition right after the
    read. Pin every gate: fires ONLY inside an allowlisted registered
    entry, ONLY between the byte gates, honors the env kill switch,
    uses deterministic hash partitioning (SPARK-38388), and register()
    restores the active-entry bracket after the build."""
    from dsacord_spark.plans import registry
    from dsacord_spark.plans.catalog import specs

    emb_path = f"{sf_dir}/embeddings.parquet"  # ~190 KiB: inside gates
    dim_path = f"{sf_dir}/nation.parquet"  # < 64 KiB floor
    cores = spark.sparkContext.defaultParallelism
    raw = spark.read.parquet(emb_path)
    base_parts = raw.rdd.getNumPartitions()

    def parts(df):
        return df.rdd.getNumPartitions()

    # outside any registered entry: never fans out
    assert registry._ACTIVE_ENTRY.get() is None
    assert parts(registry._fanout_small(raw, spark, emb_path)) == base_parts

    tok = registry._ACTIVE_ENTRY.set("dedup_embedding_blocked")
    try:
        fanned = registry._fanout_small(raw, spark, emb_path)
        assert parts(fanned) == cores
        plan = fanned._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" in plan  # deterministic under retry
        # dimension tables below the floor stay single-task
        dim = spark.read.parquet(dim_path)
        assert parts(registry._fanout_small(dim, spark, dim_path)) == parts(
            spark.read.parquet(dim_path)
        )
        # env kill switch
        monkeypatch.setenv("SPARK_GRAFT_SCAN_FANOUT", "0")
        assert parts(registry._fanout_small(raw, spark, emb_path)) == base_parts
        monkeypatch.delenv("SPARK_GRAFT_SCAN_FANOUT")
        # above the max gate (scale-adaptive: big inputs split naturally)
        monkeypatch.setattr(registry, "_FANOUT_MAX_BYTES", 1024)
        assert parts(registry._fanout_small(raw, spark, emb_path)) == base_parts
        monkeypatch.setattr(registry, "_FANOUT_MAX_BYTES", 256 << 20)
    finally:
        registry._ACTIVE_ENTRY.reset(tok)

    # a non-allowlisted entry never fans out
    tok = registry._ACTIVE_ENTRY.set("dedup_exact")
    try:
        assert parts(registry._fanout_small(raw, spark, emb_path)) == base_parts
    finally:
        registry._ACTIVE_ENTRY.reset(tok)

    # end-to-end through the registry bracket: the allowlisted entry's
    # built plan carries the repartition exchange, and the bracket is
    # restored afterwards
    df = specs()["dedup_embedding_blocked"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan
    assert registry._ACTIVE_ENTRY.get() is None
