"""CLI parity (main.go:43-57): flag names, strategy triple mapping, and a
full `main()` run against a fake HTTP transport through the parquet sink."""

from __future__ import annotations

from datetime import date

import pytest

from dsacord_spark.__main__ import main, parse_args


def test_parse_args_reference_flags():
    cfg, a = parse_args(
        [
            "--dbhost", "db.example", "--dbport", "5433",
            "--dbuser", "u", "--dbpassword", "pw", "--dbname", "dsa",
            "--from", "2025-01-01", "--to", "2025-01-03",
            "--workers", "5", "--overwriteDuplicates",
        ]
    )
    assert cfg.date_from == date(2025, 1, 1) and cfg.date_to == date(2025, 1, 3)
    assert cfg.workers == 5
    assert cfg.dup_strategy == "upsert-on-conflict"
    assert (cfg.db_host, cfg.db_port, cfg.db_name) == ("db.example", 5433, "dsa")
    assert cfg.jdbc_url == "jdbc:postgresql://db.example:5433/dsa"


def test_parse_args_strategy_triple():
    base = ["--from", "2025-01-01", "--to", "2025-01-01"]
    assert parse_args(base)[0].dup_strategy == "error"
    assert parse_args(base + ["--overwriteDuplicates"])[0].dup_strategy == (
        "upsert-on-conflict"
    )
    # skipCheckingDuplicates wins even when both are set (utils.go:99)
    assert parse_args(
        base + ["--overwriteDuplicates", "--skipCheckingDuplicates"]
    )[0].dup_strategy == "always-upsert"


def test_parse_args_env_fallbacks(monkeypatch):
    monkeypatch.setenv("DB_HOST", "envhost")
    monkeypatch.setenv("DB_USER", "envuser")
    cfg, _ = parse_args(["--from", "2025-01-01", "--to", "2025-01-01"])
    assert cfg.db_host == "envhost" and cfg.db_user == "envuser"


def test_main_parquet_sink_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """`python -m dsacord_spark --sink parquet` over a faked transport:
    same serving setup as test_pipeline, driven through the real CLI."""
    import dsacord_spark.sources.stager as stager
    from tests.test_pipeline import _Resp
    from tests.wire_dumps import day_zip

    served = {"2025-01-01": day_zip("cli-row", copies=2)}

    def opener(url):
        import urllib.error

        for dt, data in served.items():
            if dt in url:
                return _Resp(data)
        raise urllib.error.HTTPError(url, 403, "forbidden", None, None)

    monkeypatch.setattr(stager, "_default_opener", opener, raising=False)
    # stage_range takes opener as kwarg default — patch its default path
    orig = stager.stage_range

    def patched(urls, landing_dir, **kw):
        kw.setdefault("opener", opener)
        return orig(urls, landing_dir, **kw)

    monkeypatch.setattr("dsacord_spark.pipeline.stage_range", patched)

    rc = main(
        [
            "--from", "2025-01-01", "--to", "2025-01-02",
            "--landing-dir", str(tmp_path / "landing"),
        ]
    )
    out = capsys.readouterr().out
    assert "Inserted 1 rows" in out
    assert rc == 1  # the 403 day surfaces as a day error -> nonzero exit
    back = spark.read.parquet(str(tmp_path / "landing" / "decisions"))
    assert [r["uuid"] for r in back.collect()] == ["cli-row"]


class TestCurateCli:
    def test_curate_end_to_end(self, spark, sf_dir, tmp_path):
        """The curation CLI over the synthetic documents: kept output is
        one canonical per cluster, the report line parses, and the
        dropped audit trail matches docs_in - docs_kept."""
        import json as _json

        from dsacord_spark.curate import main as curate_main

        out = str(tmp_path / "kept")
        dropped = str(tmp_path / "dropped")
        import contextlib
        import io as _io

        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = curate_main([
                "--input", f"{sf_dir}/documents.parquet",
                "--output", out,
                "--method", "minhash",
                "--threshold", "0.5",
                "--report-dropped", dropped,
                "--master", "local[4]",
            ])
        assert rc == 0
        report = _json.loads(buf.getvalue().strip().splitlines()[-1])
        assert report["docs_in"] == report["docs_kept"] + report["docs_dropped"]
        assert report["docs_dropped"] > 0  # the corpus is near-dup heavy
        kept = spark.read.parquet(out)
        assert kept.count() == report["docs_kept"]
        # exactly one kept doc per cluster
        assert kept.groupBy("cluster_id").count().filter("count > 1").count() == 0
        assert spark.read.parquet(dropped).count() == report["docs_dropped"]

    def test_curate_simhash_with_scale_knobs(self, spark, sf_dir, tmp_path):
        """r6 verdict #5: the banded-joiner scale knobs are CLI flags —
        --method simhash with --bands/--radius/--bucket-cap plumbed
        through to simhash_pairs/banded_hash_pairs. A generous cap must
        not change this small corpus's dedup outcome (every bucket is
        far below the cap), proving the flag reaches the admission path
        without distorting results where it shouldn't bind."""
        import contextlib
        import io as _io
        import json as _json

        from dsacord_spark.curate import main as curate_main

        out = str(tmp_path / "kept-simhash")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = curate_main([
                "--input", f"{sf_dir}/documents.parquet",
                "--output", out,
                "--method", "simhash",
                "--bands", "4",
                "--radius", "3",
                "--bucket-cap", "100000",
                "--master", "local[4]",
            ])
        assert rc == 0
        report = _json.loads(buf.getvalue().strip().splitlines()[-1])
        assert report["method"] == "simhash"
        assert report["docs_in"] == report["docs_kept"] + report["docs_dropped"]
        assert report["docs_dropped"] > 0  # near-dup heavy corpus
        kept = spark.read.parquet(out)
        assert kept.count() == report["docs_kept"]

    def test_dedup_corpus_minhash_knobs_reach_joiner(self, spark):
        """--bands/--bucket-cap reach minhash_lsh_pairs: 60 identical
        docs with bucket_cap=5 keep exactly C(5,2) verified pairs'
        worth of clustering evidence — 5 docs land in one cluster, the
        55 evicted ones become singletons (bounded recall is the
        documented trade); uncapped, all 60 collapse to one cluster."""
        from pyspark.sql import functions as F

        from dsacord_spark.curate import dedup_corpus

        docs = spark.createDataFrame(
            [(i, "the very same boilerplate text body for every doc")
             for i in range(60)],
            "doc_id long, text string",
        )
        capped = dedup_corpus(docs, method="minhash", bands=8, bucket_cap=5)
        kept_capped = capped.filter(F.col("kept")).count()
        assert kept_capped == 60 - 5 + 1
        uncapped = dedup_corpus(docs, method="minhash", bands=8)
        assert uncapped.filter(F.col("kept")).count() == 1

    def test_curate_preflight_reports_hot_bucket(self, spark, tmp_path):
        """--preflight prints the band-bucket load histogram (the
        --bucket-cap sizing report) and exits WITHOUT deduping: a
        40-identical-doc boilerplate corpus must surface a size-40
        bucket in every minhash band, a summary line with the exact
        C(40,2)-per-band candidate cost, and no output directory."""
        import contextlib
        import io as _io
        import json as _json

        from dsacord_spark.curate import main as curate_main

        src = str(tmp_path / "boiler.parquet")
        spark.createDataFrame(
            [(i, "the very same boilerplate text body") for i in range(40)],
            "doc_id long, text string",
        ).write.parquet(src)
        out = str(tmp_path / "never-written")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = curate_main([
                "--input", src, "--output", out,
                "--method", "minhash", "--preflight",
                "--master", "local[4]",
            ])
        assert rc == 0
        lines = [_json.loads(x) for x in buf.getvalue().strip().splitlines()]
        summary = lines[-1]
        assert summary["preflight"] == "minhash"
        assert summary["max_bucket_size"] == 40
        # identical docs share every band: 8 bands x C(40,2) each
        assert summary["total_cand_pairs"] == 8 * 40 * 39 / 2
        hot = [x for x in lines[:-1] if x["bucket_size"] == 40]
        assert len(hot) == 8 and all(x["n_buckets"] == 1 for x in hot)
        import os

        assert not os.path.exists(out)  # preflight never dedups/writes

    def test_dedup_corpus_simhash_matches_pair_route(self, spark, sf_dir):
        """r7: the CLI's simhash route now goes straight to cluster
        assignments (O(n)) instead of the member-pair list — the
        labeling must equal the historical pairs -> components route on
        the synthetic corpus, and a 60-identical-doc boilerplate
        cluster must dedup to one kept doc without a C(60,2) pair
        stage."""
        from pyspark.sql import functions as F

        from dsacord_spark.curate import dedup_corpus
        from dsacord_spark.operators.dedup import (
            duplicate_components, simhash_pairs,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = {
            (r["doc_id"], r["cluster_id"], r["kept"])
            for r in dedup_corpus(docs, method="simhash").collect()
        }
        pairs = simhash_pairs(docs, "doc_id", "text", max_hamming=3,
                              n_bands=4)
        comp = {r["doc_id"]: r["cluster_id"]
                for r in duplicate_components(pairs).collect()}
        lens = {r["doc_id"]: r["n_chars"] for r in
                docs.select("doc_id", "n_chars").collect()}
        # expected kept flag: longest text per cluster, id breaks ties
        clusters: dict = {}
        for d in lens:
            clusters.setdefault(comp.get(d, d), []).append(d)
        exp = set()
        for cid, members in clusters.items():
            best = min(members, key=lambda d: (-lens[d], d))
            for d in members:
                exp.add((d, cid, d == best))
        assert got == exp
        spark.catalog.clearCache()  # release the route's signature persist

        boiler = spark.createDataFrame(
            [(i, "the very same boilerplate text body") for i in range(60)],
            "doc_id long, text string",
        )
        out = dedup_corpus(boiler, method="simhash")
        assert out.filter(F.col("kept")).count() == 1
        assert out.count() == 60
        spark.catalog.clearCache()

    def test_dedup_corpus_exact_method(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dsacord_spark.curate import dedup_corpus

        docs = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "unique text here")],
            "doc_id long, text string",
        )
        lab = dedup_corpus(docs, method="exact")
        kept = sorted(r["doc_id"] for r in lab.filter(F.col("kept")).collect())
        assert kept == [1, 3]


class TestCurateJsonl:
    def test_curate_jsonl_output(self, spark, sf_dir, tmp_path):
        """--format jsonl routes the kept docs through the sharded JSONL
        exporter; counts match the report line."""
        import contextlib
        import io as _io
        import json as _json

        from dsacord_spark.curate import main as curate_main

        out = str(tmp_path / "kept-jsonl")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = curate_main([
                "--input", f"{sf_dir}/documents.parquet",
                "--output", out,
                "--method", "exact",
                "--format", "jsonl",
                "--master", "local[4]",
            ])
        assert rc == 0
        report = _json.loads(buf.getvalue().strip().splitlines()[-1])
        back = spark.read.json(out)
        assert back.count() == report["docs_kept"]
        assert "doc_id" in back.columns and "text" in back.columns


def test_curate_warns_on_method_irrelevant_flags(capsys, monkeypatch, tmp_path):
    """ADVICE r7: a knob explicitly set for a method it cannot influence
    must warn (to stderr) instead of being silently ignored. Exercised
    through argument handling only — the parquet read fails fast after
    the warnings, which is all this test needs."""
    from dsacord_spark.curate import main as curate_main

    def run(args):
        try:
            curate_main(args)
        except Exception:
            pass  # missing input parquet — warnings already emitted
        return capsys.readouterr().err

    base = ["--input", str(tmp_path / "missing.parquet"),
            "--output", str(tmp_path / "out"), "--master", "local[2]"]
    err = run(base + ["--method", "minhash", "--radius", "2"])
    assert "--radius has no effect with --method minhash" in err
    err = run(base + ["--method", "simhash", "--threshold", "0.7",
                      "--ngram", "5"])
    assert "--threshold has no effect with --method simhash" in err
    assert "--ngram has no effect with --method simhash" in err
    err = run(base + ["--method", "exact", "--bands", "8",
                      "--bucket-cap", "10"])
    assert "--bands has no effect with --method exact" in err
    assert "--bucket-cap has no effect with --method exact" in err
    # preflight: load is banding-only — radius/threshold/bucket-cap warn
    err = run(base + ["--method", "simhash", "--preflight", "--radius", "3",
                      "--bucket-cap", "10"])
    assert "--radius has no effect on --preflight" in err
    assert "--bucket-cap has no effect on --preflight" in err
    # relevant flags stay silent
    err = run(base + ["--method", "minhash", "--threshold", "0.6",
                      "--bands", "8", "--bucket-cap", "10", "--ngram", "4"])
    assert "has no effect" not in err


def test_curate_incremental_index_mode(spark, tmp_path, capsys):
    """--index (r8): batch docs are deduped within the batch AND dropped
    on an index match; the report splits the two reasons and the
    dropped audit trail carries (reason, index_match_id)."""
    import json as _json

    from dsacord_spark.curate import main as curate_main

    index_rows = [
        (100, "the quick brown fox jumps over the lazy dog " * 3),
        (101, "completely unrelated corpus text about spark engines " * 3),
    ]
    batch_rows = [
        # exact copy of index doc 100 -> index_match
        (1, index_rows[0][1]),
        # twins (identical DISTINCT-token set -> identical simhash;
        # doc 3 longer, so it wins the keep) and unseen by the index
        (2, "fresh new content never indexed before alpha beta " * 3),
        (3, "fresh new content never indexed before alpha beta " * 3
            + " alpha beta beta"),
        # genuinely new singleton
        (4, "a genuinely novel document with its own words entirely " * 3),
    ]
    spark.createDataFrame(index_rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "index")
    )
    spark.createDataFrame(batch_rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "batch")
    )
    rc = curate_main([
        "--input", str(tmp_path / "batch"),
        "--index", str(tmp_path / "index"),
        "--output", str(tmp_path / "kept"),
        "--method", "simhash",
        "--report-dropped", str(tmp_path / "dropped"),
        "--master", "local[4]",
    ])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["docs_in"] == 4
    assert report["dropped_vs_index"] == 1          # doc 1
    assert report["dropped_within_batch"] == 1      # doc 2 loses to 3
    assert report["docs_kept"] == 2                 # docs 3 and 4
    kept_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    )
    assert kept_ids == [3, 4]
    dropped = {
        r["doc_id"]: (r["reason"], r["index_match_id"])
        for r in spark.read.parquet(str(tmp_path / "dropped")).collect()
    }
    assert dropped[1] == ("index_match", 100)
    assert dropped[2] == ("within_batch", None)


def test_curate_index_requires_banded_method(tmp_path, capsys):
    import pytest as _pytest

    from dsacord_spark.curate import main as curate_main

    with _pytest.raises(SystemExit):
        curate_main([
            "--input", str(tmp_path / "b"), "--index", str(tmp_path / "i"),
            "--output", str(tmp_path / "o"), "--method", "exact",
        ])
    assert "requires --method simhash or minhash" in capsys.readouterr().err


def test_curate_incremental_minhash_mode(spark, tmp_path, capsys):
    """--index with --method minhash (r8): Jaccard-semantics probe —
    exact index copies and high-overlap variants drop vs index, novel
    docs survive."""
    import json as _json

    from dsacord_spark.curate import main as curate_main

    base = "the quick brown fox jumps over the lazy dog and then naps " * 3
    index_rows = [(100, base)]
    batch_rows = [
        (1, base),                               # exact copy -> index match
        (2, "entirely different content about spark shuffles " * 4),  # novel
    ]
    spark.createDataFrame(index_rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "idx")
    )
    spark.createDataFrame(batch_rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "bat")
    )
    rc = curate_main([
        "--input", str(tmp_path / "bat"),
        "--index", str(tmp_path / "idx"),
        "--output", str(tmp_path / "kept"),
        "--method", "minhash",
        "--threshold", "0.5",
        "--master", "local[4]",
    ])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["method"] == "minhash"
    assert report["dropped_vs_index"] == 1 and report["docs_kept"] == 1
    kept = [r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()]
    assert kept == [2]
