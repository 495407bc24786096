"""Round-9 pins: the persisted MinHash index (the Jaccard twin of
build_hamming_index — r8 verdict ask #1), multi-delta append stress for
the Hamming index (ask #7), and the curate CLI's --build-index /
--index-table path (the streaming probes served from the persisted
index, ask #6, are pinned in tests/test_streaming.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.index_tables import (
    HAMMING_SUFFIXES,
    MINHASH_SUFFIXES,
    drop_index_tables,
)


def test_persisted_minhash_index_matches_inmemory_probe(spark, sf_dir):
    """build_minhash_index -> probe_minhash_index must equal the
    in-memory incremental_minhash_matches on the real corpus (shared
    _minhash_probe_tail; index side served from the pre-computed
    band/shingle-set tables), including the bucket_cap-admitted
    variant, and probe parameters must come from the meta table."""
    from dsacord_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_matches,
        probe_minhash_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = d.filter(F.col("doc_id") % 10 == 0)
    index = d.filter(F.col("doc_id") % 10 != 0)
    try:
        build_minhash_index(
            index, "doc_id", "text", "t_mh_idx",
            n=3, n_perm=32, bands=8, buckets=4,
        )
        for cap in (None, 2):
            got = sorted(map(tuple, probe_minhash_index(
                spark, "t_mh_idx", batch, "doc_id", "text",
                threshold=0.5, bucket_cap=cap,
            ).collect()))
            want = sorted(map(tuple, incremental_minhash_matches(
                index, batch, "doc_id", "text",
                n=3, n_perm=32, bands=8, threshold=0.5, bucket_cap=cap,
            ).collect()))
            assert got == want and len(got) > 0, f"cap={cap}"
        assert any(r[1] for r in got), "corpus has dups; none matched"
    finally:
        drop_index_tables(spark, "t_mh_idx", MINHASH_SUFFIXES)


def test_minhash_index_build_validations(spark):
    from dsacord_spark.operators.dedup import build_minhash_index

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="tile"):
        build_minhash_index(docs, "doc_id", "text", "t_mh_bad", bands=7)
    with pytest.raises(ValueError, match="overwrite/append"):
        build_minhash_index(docs, "doc_id", "text", "t_mh_bad",
                            mode="merge")


def test_minhash_index_append_mode_extends_index(spark):
    """mode='append' over a DELTA of new doc ids must make the appended
    index equal a fresh overwrite build over the union, and an append
    with drifted shingle/permutation/band parameters must raise against
    the meta row."""
    from dsacord_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    base = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "an entirely different document about spark engines")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(200, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy cat"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "nothing like anything indexed here at all truly")],
        "doc_id long, text string",
    )
    try:
        build_minhash_index(base, "doc_id", "text", "t_mh_app",
                            n=3, n_perm=32, bands=8, buckets=2)
        build_minhash_index(delta, "doc_id", "text", "t_mh_app",
                            n=3, n_perm=32, bands=8, buckets=2,
                            mode="append")
        build_minhash_index(base.union(delta), "doc_id", "text",
                            "t_mh_fresh", n=3, n_perm=32, bands=8,
                            buckets=2)
        got = sorted(map(tuple, probe_minhash_index(
            spark, "t_mh_app", batch, "doc_id", "text", threshold=0.5,
        ).collect()))
        want = sorted(map(tuple, probe_minhash_index(
            spark, "t_mh_fresh", batch, "doc_id", "text", threshold=0.5,
        ).collect()))
        assert got == want
        # doc 1's best_jaccard of 1.0 can only come from the APPENDED
        # delta doc 200 (the base docs differ); match_id stays the MIN
        # matching index id (100, the near-match base doc)
        by_id = {r[0]: r for r in got}
        assert by_id[1][1] is True and by_id[1][2] == 100
        assert by_id[1][3] == pytest.approx(1.0)
        assert by_id[2][1] is True and by_id[2][2] == 100
        assert by_id[3][1] is False
        with pytest.raises(ValueError, match="does not match"):
            build_minhash_index(delta, "doc_id", "text", "t_mh_app",
                                n=3, n_perm=32, bands=4, buckets=2,
                                mode="append")
        with pytest.raises(ValueError, match="does not match"):
            build_minhash_index(delta, "doc_id", "text", "t_mh_app",
                                n=2, n_perm=32, bands=8, buckets=2,
                                mode="append")
    finally:
        drop_index_tables(spark, "t_mh_app", MINHASH_SUFFIXES)
        drop_index_tables(spark, "t_mh_fresh", MINHASH_SUFFIXES)


def test_hamming_index_multi_delta_append_equals_fresh_build(spark, sf_dir):
    """r8 verdict ask #7: THREE successive appends — with hashes
    overlapping across deltas — must equal a fresh overwrite build over
    the union (per-hash MIN is monotone under union, duplicate band rows
    collapse in the candidate distinct), and a bucket_cap-admitted probe
    over the appended index must equal the same probe over the fresh
    one. Run over the real corpus's signatures so the overlap is the
    natural duplicate structure, plus a synthetic overlapping delta."""
    from dsacord_spark.operators.dedup import (
        SIMHASH_BITS,
        build_hamming_index,
        probe_hamming_index,
        simhash_signatures,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = simhash_signatures(d, "doc_id", "text").persist()
    try:
        batch = sig.filter(F.col("doc") % 10 == 0)
        corpus = sig.filter(F.col("doc") % 10 != 0)
        # three deltas by doc-id residue — near-dup corpora share
        # SIGNATURES across deltas (the overlapping-hash case: MIN of
        # per-build mins must equal the global min)
        deltas = [corpus.filter(F.col("doc") % 3 == r) for r in range(3)]
        build_hamming_index(deltas[0], "doc", "simhash", "t_ham_md",
                            n_bands=4, hash_bits=SIMHASH_BITS, buckets=2)
        for delta in deltas[1:]:
            build_hamming_index(delta, "doc", "simhash", "t_ham_md",
                                n_bands=4, hash_bits=SIMHASH_BITS,
                                buckets=2, mode="append")
        # a fourth delta that re-appends an already-indexed hash under a
        # LARGER member id — must not displace the existing min
        relabeled = deltas[0].limit(5).withColumn(
            "doc", F.col("doc") + F.lit(10_000_000)
        )
        build_hamming_index(relabeled, "doc", "simhash", "t_ham_md",
                            n_bands=4, hash_bits=SIMHASH_BITS,
                            buckets=2, mode="append")
        build_hamming_index(corpus.union(relabeled), "doc", "simhash",
                            "t_ham_fresh", n_bands=4,
                            hash_bits=SIMHASH_BITS, buckets=2)
        for cap in (None, 2):
            got = sorted(map(tuple, probe_hamming_index(
                spark, "t_ham_md", batch, "doc", "simhash",
                radius=3, bucket_cap=cap,
            ).collect()))
            want = sorted(map(tuple, probe_hamming_index(
                spark, "t_ham_fresh", batch, "doc", "simhash",
                radius=3, bucket_cap=cap,
            ).collect()))
            assert got == want and len(got) > 0, f"cap={cap}"
        assert any(r[1] for r in got)
    finally:
        sig.unpersist()
        drop_index_tables(spark, "t_ham_md", HAMMING_SUFFIXES)
        drop_index_tables(spark, "t_ham_fresh", HAMMING_SUFFIXES)


def test_curate_cli_build_index_then_index_table(spark, sf_dir, tmp_path,
                                                 capsys):
    """`curate --build-index T` then `curate --index-table T` must label
    the batch exactly like the in-memory `--index CORPUS.parquet` path,
    for both methods — the CLI form of the build-once/probe-daily
    production loop."""
    import json

    from dsacord_spark.curate import main

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch_p = str(tmp_path / "batch.parquet")
    corpus_p = str(tmp_path / "corpus.parquet")
    d.filter(F.col("doc_id") % 10 == 0).write.parquet(batch_p)
    d.filter(F.col("doc_id") % 10 != 0).write.parquet(corpus_p)
    for method in ("simhash", "minhash"):
        tname = f"t_cli_idx_{method}"
        try:
            assert main(["--input", corpus_p, "--method", method,
                         "--build-index", tname]) == 0
            built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            assert built["built_index"] == tname and built["docs"] > 0
            out_t = str(tmp_path / f"kept_table_{method}")
            assert main(["--input", batch_p, "--output", out_t,
                         "--method", method, "--index-table", tname]) == 0
            rep_t = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            out_d = str(tmp_path / f"kept_docs_{method}")
            assert main(["--input", batch_p, "--output", out_d,
                         "--method", method, "--index", corpus_p]) == 0
            rep_d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            for k in ("docs_in", "docs_kept", "docs_dropped",
                      "dropped_vs_index", "dropped_within_batch"):
                assert rep_t[k] == rep_d[k], (method, k, rep_t, rep_d)
            kept_t = sorted(
                r["doc_id"]
                for r in spark.read.parquet(out_t).select("doc_id").collect()
            )
            kept_d = sorted(
                r["doc_id"]
                for r in spark.read.parquet(out_d).select("doc_id").collect()
            )
            assert kept_t == kept_d and len(kept_t) > 0
            assert rep_t["dropped_vs_index"] > 0  # corpus dups really hit
        finally:
            spark.catalog.clearCache()
            drop_index_tables(
                spark, tname,
                HAMMING_SUFFIXES if method == "simhash"
                else MINHASH_SUFFIXES,
            )


def test_dedup_incremental_rejects_ambiguous_index_args(spark):
    from dsacord_spark.curate import dedup_incremental

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exactly one"):
        dedup_incremental(docs)
    with pytest.raises(ValueError, match="exactly one"):
        dedup_incremental(docs, index_docs=docs, index_table="t")


def test_curate_update_index_closes_the_daily_loop(spark, tmp_path, capsys):
    """`--index-table T --update-index` must append the batch's KEPT
    docs to the persisted index so the NEXT batch's duplicates of them
    are dropped vs the index — the full daily production loop (build
    once -> probe batch -> append survivors). Without the update,
    batch 2's copy of a batch-1 doc would sail through."""
    import json

    from dsacord_spark.curate import main

    corpus = [
        (1, "alpha bravo charlie delta echo foxtrot golf hotel"),
        (2, "completely different corpus text about parquet lakes here"),
    ]
    batch1 = [
        # new doc, kept; its twin arrives in batch 2
        (100, "the unique pangram about clever zebras jumping nightly"),
        # exact copy of corpus doc 1: dropped vs the ORIGINAL index
        # under BOTH methods (a one-word edit on a short doc moves the
        # SimHash far beyond radius 3 — near-dup distances are covered
        # by the operator tests; this test pins the LOOP)
        (101, "alpha bravo charlie delta echo foxtrot golf hotel"),
    ]
    batch2 = [
        # exact copy of batch 1's kept doc — only the UPDATED index
        # knows it
        (200, "the unique pangram about clever zebras jumping nightly"),
    ]
    paths = {}
    for name, rows in (("corpus", corpus), ("b1", batch1), ("b2", batch2)):
        p = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(p)
        paths[name] = p

    for method in ("minhash", "simhash"):
        tname = f"t_loop_{method}"
        try:
            assert main(["--input", paths["corpus"], "--method", method,
                         "--build-index", tname]) == 0
            capsys.readouterr()
            out1 = str(tmp_path / f"kept1_{method}")
            assert main(["--input", paths["b1"], "--output", out1,
                         "--method", method, "--index-table", tname,
                         "--update-index"]) == 0
            rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            assert rep1["dropped_vs_index"] == 1  # doc 101 vs corpus
            assert rep1["index_updated"] == tname
            assert rep1["index_appended_docs"] == 1  # doc 100
            out2 = str(tmp_path / f"kept2_{method}")
            assert main(["--input", paths["b2"], "--output", out2,
                         "--method", method, "--index-table", tname]) == 0
            rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            # doc 200 duplicates batch 1's KEPT doc 100 — only the
            # updated index can drop it
            assert rep2["dropped_vs_index"] == 1 and rep2["docs_kept"] == 0
        finally:
            spark.catalog.clearCache()
            drop_index_tables(
                spark, tname,
                HAMMING_SUFFIXES if method == "simhash"
                else MINHASH_SUFFIXES,
            )


def test_curate_update_index_requires_index_table(tmp_path, capsys):
    import pytest

    from dsacord_spark.curate import main

    with pytest.raises(SystemExit):
        main(["--input", "x.parquet", "--output", "y",
              "--method", "minhash", "--update-index"])
    assert "requires --index-table" in capsys.readouterr().err


def test_curate_cli_build_index_append_mode(spark, tmp_path, capsys):
    """`--build-index T --build-index-mode append` extends an existing
    index with a delta from the CLI: a batch probed afterwards matches
    docs from BOTH builds."""
    import json

    from dsacord_spark.curate import main
    from dsacord_spark.operators.dedup import probe_minhash_index

    base = [(1, "alpha bravo charlie delta echo foxtrot golf hotel")]
    delta = [(2, "completely different corpus text about parquet lakes here")]
    batch = [(10, "alpha bravo charlie delta echo foxtrot golf hotel"),
             (11, "completely different corpus text about parquet lakes here"),
             (12, "matches nothing in either build of the index truly")]
    paths = {}
    for name, rows in (("base", base), ("delta", delta)):
        p = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(p)
        paths[name] = p
    try:
        assert main(["--input", paths["base"], "--method", "minhash",
                     "--build-index", "t_cli_app"]) == 0
        assert main(["--input", paths["delta"], "--method", "minhash",
                     "--build-index", "t_cli_app",
                     "--build-index-mode", "append"]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["mode"] == "append" and rep["docs"] == 1
        got = {
            r["doc_id"]: (r["is_dup"], r["match_id"])
            for r in probe_minhash_index(
                spark, "t_cli_app",
                spark.createDataFrame(batch, "doc_id long, text string"),
                "doc_id", "text", threshold=0.5,
            ).collect()
        }
        assert got == {10: (True, 1), 11: (True, 2), 12: (False, None)}
    finally:
        spark.catalog.clearCache()
        drop_index_tables(spark, "t_cli_app", MINHASH_SUFFIXES)


def test_probe_rejects_wrong_index_family(spark):
    """Probing a table set built for the OTHER index family must raise a
    named error, not a cryptic missing-field failure."""
    from dsacord_spark.operators.dedup import (
        build_hamming_index,
        build_minhash_index,
        probe_hamming_index,
        probe_minhash_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo")], "doc_id long, text string"
    )
    hashes = spark.createDataFrame([(1, 0x0F)], "id long, h long")
    try:
        build_minhash_index(docs, "doc_id", "text", "t_fam_mh", buckets=2)
        build_hamming_index(hashes, "id", "h", "t_fam_ham", buckets=2)
        with pytest.raises(ValueError, match="not a Hamming index"):
            probe_hamming_index(spark, "t_fam_mh", hashes, "id", "h")
        with pytest.raises(ValueError, match="not a MinHash index"):
            probe_minhash_index(spark, "t_fam_ham", docs, "doc_id", "text")
    finally:
        drop_index_tables(spark, "t_fam_mh", MINHASH_SUFFIXES)
        drop_index_tables(spark, "t_fam_ham", HAMMING_SUFFIXES)


def test_persisted_minhash_index_hypothesis_random_docs(spark):
    """Generative pin for the flagship r9 feature: for random small
    word-documents (biased toward shared phrases), build+probe through
    the persisted tables must equal the in-memory probe. The two paths
    share candidate construction but DIFFER in index materialization
    (bucketed tables vs session frames) and verify arithmetic (array
    form vs the oracle-mirrored row form) — equality pins both. Few
    examples: each builds and drops a table set."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from dsacord_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_matches,
        probe_minhash_index,
    )

    words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
    doc = st.lists(
        st.sampled_from(words), min_size=4, max_size=10
    ).map(" ".join)

    @settings(max_examples=3, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(
        st.lists(doc, min_size=1, max_size=3),
        st.lists(doc, min_size=1, max_size=4),
    )
    def run(batch_texts, index_texts):
        batch = spark.createDataFrame(
            [(i, t) for i, t in enumerate(batch_texts)],
            "doc_id long, text string",
        )
        index = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(index_texts)],
            "doc_id long, text string",
        )
        try:
            build_minhash_index(index, "doc_id", "text", "t_mh_hyp",
                                buckets=2)
            got = sorted(map(tuple, probe_minhash_index(
                spark, "t_mh_hyp", batch, "doc_id", "text", threshold=0.5,
            ).collect()))
            want = sorted(map(tuple, incremental_minhash_matches(
                index, batch, "doc_id", "text", threshold=0.5,
            ).collect()))
            assert got == want
        finally:
            spark.catalog.clearCache()
            drop_index_tables(spark, "t_mh_hyp", MINHASH_SUFFIXES)

    run()
