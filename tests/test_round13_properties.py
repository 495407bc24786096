"""Round-13 optimization pins.

Each test pins a property an r13 optimization could have silently
changed: the parse_array_field simple-shape fast path (cell-exact
Jackson parity), the single-pass RFM melt (exact ntile equivalence vs
the built-in window form), the minhash LSH bands persist (one signature
aggregate in the plan, unchanged pair values), the simhash
duplicate-id merge precondition (r12 ADVICE), and the bench cleaner
settle helper.
"""

from __future__ import annotations

import re

from pyspark.sql import Window as W, functions as F

# ---------------------------------------------------------------------------
# parse_array_field: the r13 regexp fast path must be cell-exact with the
# Jackson path on EVERY shape, fast-pathed or not.
# ---------------------------------------------------------------------------

_ARRAY_BATTERY = [
    "", "[]", '["A"]', '["A","B"]', '[ "A" , "B" ]', '\t["A"]', '["A"] ',
    ' ["A"] ', '[""]', '["",""]', '["a,b"]', '["a]b"]', '["a[b"]',
    '["a\\"b"]', '["a\\\\b"]', '["\\u0041"]', '["a\tb"]', '["a\nb"]',
    '["a\x01b"]', '[1,2]', '[true]', '[null]', '["A",2]', '[["a"]]',
    '["A"', '"A"]', 'plain', 'NL,DE', '[not json]', '["A" "B"]',
    '["A",]', '[,"A"]', '[  ]', '[\t]', '[\r\n]', '["héllo"]', '["日本"]',
    '["A","B","C","D","E"]', 'x["A"]', '["A"]x', '[ ]', "null", "[n]",
    '["\x7f"]', '["a b c"]', '["STATEMENT_CATEGORY_1"]',
    '["DECISION_VISIBILITY_CONTENT_REMOVED","DECISION_VISIBILITY_X"]',
]


def test_parse_array_fast_path_matches_jackson(spark):
    """The simple-shape gate may only admit cells whose regexp extraction
    equals Jackson's parse exactly; everything else must fall through to
    the r12 from_json path. Reference = the r12 formulation itself."""
    from dsacord_spark.functions.parsing import parse_array_field

    def r12_form(c):
        c = F.col(c)
        parsed = F.from_json(c, "array<string>")
        return F.when(
            c == F.lit(""), F.lit(None).cast("array<string>")
        ).otherwise(
            F.when(
                c.rlike("^[ \t\r\n]*\\["), F.coalesce(parsed, F.array(c))
            ).otherwise(F.array(c))
        )

    df = spark.createDataFrame([(c,) for c in _ARRAY_BATTERY], "v string")
    rows = df.select(
        "v", r12_form("v").alias("ref"), parse_array_field("v").alias("got")
    ).collect()
    bad = [(r["v"], r["ref"], r["got"]) for r in rows if r["ref"] != r["got"]]
    assert not bad, f"fast-path divergence: {bad}"


# ---------------------------------------------------------------------------
# orders_rfm_segments melt: the single-rank-pass formulation must produce
# exactly the three built-in ntile(5) scores (unpartitioned-window form)
# on a frame with ties in every dimension.
# ---------------------------------------------------------------------------


def test_rfm_melt_matches_builtin_ntile(spark):
    import random

    rnd = random.Random(13)
    rows = [
        (
            k,
            rnd.randrange(0, 20),            # recency_days (ties)
            rnd.randrange(1, 6),             # frequency (many ties)
            float(rnd.randrange(0, 50)) / 2, # monetary-as-double (ties)
        )
        for k in range(137)
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, recency_days int, frequency long, md double"
    )

    ref = df.select(
        "o_custkey",
        F.ntile(5)
        .over(W.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc()))
        .alias("r_score"),
        F.ntile(5)
        .over(W.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc()))
        .alias("f_score"),
        F.ntile(5)
        .over(W.orderBy(F.col("md").desc(), F.col("o_custkey").asc()))
        .alias("m_score"),
    )

    # the melt shape orders_rfm_segments uses (plans/reports.py)
    from dsacord_spark.plans.distrib import _global_rank, _ntile_bucket

    n_tot = df.agg(F.count(F.lit(1)).alias("n_cust"))
    melted = df.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("dim"),
                    F.col("recency_days").cast("double").alias("sk"),
                ),
                F.struct(
                    F.lit(1).alias("dim"),
                    (-F.col("frequency").cast("double")).alias("sk"),
                ),
                F.struct(
                    F.lit(2).alias("dim"), (-F.col("md")).alias("sk")
                ),
            )
        ).alias("d"),
    ).select("o_custkey", F.col("d.dim").alias("dim"), F.col("d.sk").alias("sk"))
    ranked = _global_rank(
        melted,
        [F.col("dim").asc(), F.col("sk").asc(), F.col("o_custkey").asc()],
        "gr",
        parts=7,  # deliberately not a divisor of the row count
    )
    scored = ranked.crossJoin(F.broadcast(n_tot)).withColumn(
        "score",
        _ntile_bucket(
            F.col("gr") - F.col("dim").cast("bigint") * F.col("n_cust"),
            F.col("n_cust"),
            5,
        ),
    )
    got = scored.groupBy("o_custkey").agg(
        F.max(F.when(F.col("dim") == 0, F.col("score"))).alias("r_score"),
        F.max(F.when(F.col("dim") == 1, F.col("score"))).alias("f_score"),
        F.max(F.when(F.col("dim") == 2, F.col("score"))).alias("m_score"),
    )

    ref_rows = {r["o_custkey"]: (r["r_score"], r["f_score"], r["m_score"])
                for r in ref.collect()}
    got_rows = {r["o_custkey"]: (r["r_score"], r["f_score"], r["m_score"])
                for r in got.collect()}
    assert got_rows == ref_rows
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# minhash_lsh_pairs: the r13 bands persist must leave the pair VALUES
# unchanged and put exactly one signature aggregate in the plan (the
# r12-verdict 2x re-execution is what the persist removes).
# ---------------------------------------------------------------------------


def _signature_aggregates(plan, seen: set) -> int:
    """Count the MinHash signature aggregates (final-mode min() over the
    permutation hashes) that a plan evaluates: live Aggregate nodes, plus
    those inside each distinct cached relation counted once — a cached
    relation read by both join branches is computed once. Walks through
    adaptive plans and their query stages, which hide their subtrees
    from children()."""
    name = plan.nodeName()
    if name == "InMemoryRelation":
        key = plan.cachedPlan().toString()
        if key in seen:
            return 0
        seen.add(key)
        return _signature_aggregates(plan.cachedPlan(), seen)
    if name == "InMemoryTableScan":
        return _signature_aggregates(plan.relation(), seen)
    if name == "AdaptiveSparkPlan":
        return _signature_aggregates(plan.executedPlan(), seen)
    if name.endswith("QueryStage"):
        return _signature_aggregates(plan.plan(), seen)
    n = int(
        "Aggregate" in name
        and re.search(r"(?<!\w)min\(", plan.simpleString(1000)) is not None
    )
    children = plan.children()
    return n + sum(
        _signature_aggregates(children.apply(i), seen)
        for i in range(children.size())
    )


def test_minhash_lsh_bands_persisted_single_signature(spark):
    from dsacord_spark.operators.dedup import minhash_lsh_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different text with no shared shingles at all"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = minhash_lsh_pairs(df, "doc_id", "text", n=3, n_perm=32,
                              bands=8, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # 1 and 4 are identical docs; 2 shares most shingles with both
    assert (1, 4) in got and (1, 2) in got
    plan = pairs._jdf.queryExecution().optimizedPlan()
    # both band branches must read the SAME cached bands relation: the
    # signature aggregate is evaluated once, not once per branch
    assert _signature_aggregates(plan, set()) == 1
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# simhash_signatures duplicate-id precondition (r12 ADVICE): rows sharing
# an id merge into ONE signature over the token union — pinned so the
# documented behavior cannot drift silently.
# ---------------------------------------------------------------------------


def test_simhash_duplicate_ids_merge(spark):
    import hashlib

    from dsacord_spark.operators.dedup import SIMHASH_BITS, simhash_signatures

    rows = [
        ("a", "alpha beta gamma"),
        ("a", "delta epsilon"),  # duplicate id: merged into one signature
        ("b", "solo"),
        (None, "left side"),
        (None, "right side"),   # NULL ids also collapse into one group
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc"]: r["simhash"]
           for r in simhash_signatures(df, "doc_id", "text").collect()}

    def ref(*texts: str) -> int:
        # merged-id semantics: DISTINCT per row, then CONCATENATED
        # across the id's rows (a token shared by two merged rows
        # counts twice — multiset union, exactly what explode-then-
        # groupBy computes)
        hv = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for text in texts
            for t in {x for x in text.strip().split() if x}
        ]
        out = 0
        for bit in range(SIMHASH_BITS):
            if 2 * sum((h >> bit) & 1 for h in hv) > len(hv):
                out |= 1 << bit
        return out

    assert len(got) == 3  # a (merged), b, NULL (merged)
    assert got["a"] == ref("alpha beta gamma", "delta epsilon")
    assert got["b"] == ref("solo")
    assert got[None] == ref("left side", "right side")


# ---------------------------------------------------------------------------
# bench._cleaner_settle: terminates promptly on a quiescent session and
# tolerates API drift (never raises).
# ---------------------------------------------------------------------------


def test_cleaner_settle_returns_quickly(spark):
    import sys
    import time
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import _cleaner_settle

    t0 = time.monotonic()
    _cleaner_settle(spark, timeout_s=5.0)
    # a quiescent session's file count is stable after one poll tick
    assert time.monotonic() - t0 < 5.5


# ---------------------------------------------------------------------------
# r13 driver-side plan-build fix: the simhash/minhash signature and band
# builders now assemble their per-bit/per-permutation expression lists as
# SQL strings (one py4j call) instead of hundreds of Column-API calls.
# These tests pin the new forms against the HISTORICAL Column-API forms,
# built inline, on a frame with ties, empty docs and multi-token docs —
# any parse/coercion divergence (literal typing, CASE vs when, concat_ws
# int rendering) shows up as a value mismatch here before the oracle.
# ---------------------------------------------------------------------------


def _docs_frame(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta"),
        (3, ""),              # empty: must emit NO signature row
        (4, "zeta"),
        (5, "alpha beta gamma delta"),  # exact dup of doc 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_sql_form_matches_column_form(spark):
    from dsacord_spark.functions.hashing import md5_long
    from dsacord_spark.functions.text import tokens
    from dsacord_spark.operators.dedup import SIMHASH_BITS, simhash_signatures

    d = _docs_frame(spark)
    got = {r["doc"]: r["simhash"]
           for r in simhash_signatures(d, "doc_id", "text").collect()}

    # historical Column-API form, verbatim (pre-r13)
    tok = d.select(F.col("doc_id").alias("doc"),
                   F.explode(F.array_distinct(tokens("text"))).alias("__t"))
    hashed = tok.select("doc", md5_long(F.col("__t")).alias("__h"))
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = hashed.groupBy("doc").agg(*aggs)
    sim = None
    for b in range(SIMHASH_BITS):
        t = F.when(F.col(f"__b{b}") * 2 > F.col("__n"),
                   F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = t if sim is None else sim + t
    ref = {r["doc"]: r["simhash"]
           for r in g.select("doc", sim.alias("simhash")).collect()}

    assert got == ref and 3 not in got and got[1] == got[5]


def test_minhash_sql_form_matches_column_form(spark):
    from dsacord_spark.functions.hashing import _perm_constants
    from dsacord_spark.operators.dedup import (
        _minhash_sig_from_ngr, _shingle_index, minhash_bands,
    )

    d = _docs_frame(spark)
    n_perm, bands = 32, 8
    ngr = _shingle_index(d, "doc_id", "text", 2)
    sig = _minhash_sig_from_ngr(ngr, n_perm)
    got = {r["doc"]: tuple(r[f"m{i}"] for i in range(n_perm))
           for r in sig.collect()}

    # historical Column-API form, verbatim (pre-r13)
    h = ngr.withColumn("h", F.col("hg") % F.lit(2_147_483_647))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(2_147_483_647)).alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_constants(n_perm))
    ]
    ref_sig = h.groupBy("doc").agg(*aggs)
    ref = {r["doc"]: tuple(r[f"m{i}"] for i in range(n_perm))
           for r in ref_sig.collect()}
    assert got == ref and got  # non-empty

    # band rows: new SQL-array form vs historical struct-array form
    from dsacord_spark.functions.hashing import md5_long
    got_b = {tuple(r) for r in minhash_bands(sig, n_perm, bands).collect()}
    rpb = n_perm // bands
    structs = [
        F.struct(
            F.lit(j).alias("band_idx"),
            md5_long(F.concat_ws(
                ",", F.lit(j),
                *[F.col(f"m{j * rpb + r}") for r in range(rpb)],
            )).alias("band_hash"),
        )
        for j in range(bands)
    ]
    ref_b = {tuple(r) for r in ref_sig.select(
        F.col("doc"), F.explode(F.array(*structs)).alias("b")
    ).select("doc", "b.band_idx", "b.band_hash").collect()}
    assert got_b == ref_b and got_b


def test_minhash_band_sql_pinned(spark):
    """minhash_bands parses one SQL string whose md5 part comes from
    md5_long_spark_sql. The rendered string is pinned byte-for-byte so
    the band plan cannot drift, and the renderer must agree with the
    md5_long Column form on values."""
    from dsacord_spark.functions.hashing import md5_long, md5_long_spark_sql
    from dsacord_spark.operators.dedup import _minhash_band_structs_sql

    assert _minhash_band_structs_sql(4, 2) == (
        "array("
        "struct(0 AS band_idx, CAST(CONV(SUBSTR(MD5(concat_ws(',', 0, m0, m1"
        ")), 1, 15), 16, 10) AS BIGINT) AS band_hash), "
        "struct(1 AS band_idx, CAST(CONV(SUBSTR(MD5(concat_ws(',', 1, m2, m3"
        ")), 1, 15), 16, 10) AS BIGINT) AS band_hash))"
    )
    df = spark.createDataFrame([("",), ("a",), ("0,1,2",), ("日本",)], "s string")
    rows = df.select(
        md5_long(F.col("s")).alias("col"),
        F.expr(md5_long_spark_sql("s")).alias("sql"),
    ).collect()
    assert all(r["col"] == r["sql"] for r in rows)
