"""Deduplication operators for large-scale text pipelines.

Five families, all expressed as DataFrame transformations (no Python in
the hot path, so every stage is Catalyst-optimized and shuffle-explicit):

- exact:        hash groupBy on content (or md5 fingerprint)
- keep-latest:  window row_number per key — the reference's upsert
                UpdateAll semantics (/root/reference/utils.go:100-104)
- n-gram Jaccard: exact pairwise similarity restricted to pairs sharing
                a shingle (inverted-index join, never a cross join)
- MinHash-LSH:  signature -> banded buckets -> candidate pairs -> exact
                verify. The scale path: candidate generation cost is
                O(docs x bands), independent of pair count.
- SimHash:      60-bit signature, banded (pigeonhole: hamming <= bands-1
                has guaranteed recall), then exact hamming filter.

All hashes derive from md5 (functions/hashing.py) so a SQL oracle can
reproduce results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql.types import StructField, StructType

from dsacord_spark.functions.hashing import (
    SCRAMBLE_MOD1 as _BAND_SCRAMBLE_MOD1,
    SCRAMBLE_MOD2 as _BAND_SCRAMBLE_MOD2,
    SCRAMBLE_MULT as _BAND_SCRAMBLE_MULT,
    _perm_constants,
    md5_long,
    md5_long_spark_sql,
    perm_hash,
)
from dsacord_spark.functions.text import tokens, word_ngrams
from dsacord_spark.session import local_frame

# Cap on driver-side IN-lists the persisted-index probes push into the
# corpus-side scans (band keys / matched hashes / candidate doc ids).
# Below the cap, bucket pruning + row-group skipping make those scans
# batch-sized; above it the probe falls back to the full bucketed scan
# (a probe this wide is candidate-dominated anyway, and a 100k-literal
# filter would bloat the plan more than it saves).
_PROBE_PRUNE_LIMIT = 20_000

# Auto-prune threshold: prune=None (the default) enables scan pruning
# only when the index's on-disk tables exceed this size. The pruning
# machinery has a FIXED cost while its savings scale with index size;
# below the threshold a full columnar scan of a bucketed single-column
# table is simply cheaper than the machinery. r10 measured the fixed
# cost at ~5-12s (dominated by Column.isin crossing py4j once per
# literal — 1.3s at 791 longs, 17s at 20k) and set 10 GiB; r11 replaced
# every probe IN with one parsed SQL expression (_in_literals, 5-8x
# cheaper at every size measured) and re-measured the pruned-over-
# unpruned delta at 1.2-2.3s (probe_scale_rehearsal.py: simhash 1.68s /
# 1.15s at corpus x1/x100, minhash 2.25s / 1.86s at x1/x10), so the
# crossover — where the avoided corpus-side scan outweighs the fixed
# machinery, both ~linear in bytes — moves down proportionally: 2 GiB.
# The residual fixed cost is job-wave serialization (two driver
# collects + a localCheckpoint turn one pipelined execution into
# three), not literal handling. Caveat pinned by the rehearsal: its
# x100 replica corpus inflates CANDIDATES linearly (every batch doc
# near-matches every replica), which serializes badly in pruned mode
# (minhash x100 pruned 10-13s vs 1.8-3.6s unpruned) — a fixture
# artifact, not a size effect (real daily batches match O(1) corpus
# docs each); the threshold is sized for the real shape. Explicit
# prune=True/False overrides the heuristic either way.
_PRUNE_AUTO_MIN_BYTES = 2 << 30


def _in_literals(col_name: str, vals: list) -> Column:
    """Literal IN filter for the probe pushdowns, built as ONE parsed
    SQL expression when every value is an int. Column.isin(*vals)
    crosses py4j once PER literal — measured 1.3s at 791 longs and 17s
    at 20k, ALL driver-side Python/py4j overhead before any planning;
    the SQL parser takes the whole list in a single call at 5-8x less
    (r11, closing the r10 verdict's prune-fixed-cost item). The parsed
    expression analyzes to the same In/InSet, so semantics, parquet
    pushdown, and single-column bucket pruning are byte-identical.
    Non-int values (e.g. string doc ids from external callers) fall
    back to isin — correctness first, the fast path is for the engine's
    own long hashes/band keys/ids. Ints outside int64 also fall back
    (r11 ADVICE): a bare literal past +-2^63 parses as DECIMAL, which
    would silently change the comparison's type coercion versus isin
    (which errors on the unrepresentable long) — unreachable from the
    engine's own 64-bit hashes, but this is a general helper. Empty
    lists reject everything (In over an empty list is NOT false in
    SQL)."""
    if not vals:
        return F.lit(False)
    if all(type(v) is int and -(2**63) <= v < 2**63 for v in vals):
        return F.expr(
            "`%s` IN (%s)" % (col_name, ",".join(map(str, vals)))
        )
    return F.col(col_name).isin(vals)


def _table_location(spark, table_name: str) -> str | None:
    """A catalog table's storage location (DESCRIBE FORMATTED —
    metadata-only)."""
    return next(
        (r["data_type"] for r in
         spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
         if r["col_name"].strip() == "Location"),
        None,
    )


def _table_location_bytes(spark, table_name: str) -> int:
    """Total on-disk bytes of a catalog table's location (one
    FileSystem.getContentSummary call — metadata-only, no data read)."""
    loc = _table_location(spark, table_name)
    if not loc:
        return 0
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(loc)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        return int(fs.getContentSummary(path).getLength())
    except Exception:
        return 0


def exact_duplicate_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup via hash groupBy: one row per duplicated content value,
    keeping the smallest id as canonical. Scale: single shuffle on the
    content hash; map-side partial aggregation."""
    return (
        df.groupBy(F.col(content_col).alias("content"))
        .agg(
            F.min(F.col(id_col)).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("canonical_id", "n_copies")
    )


def keep_latest(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Keep one row per key, latest by `order` — upsert UpdateAll shape."""
    w = W.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _exploded_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, ng) pairs — distinct word n-grams per doc (inverted index)."""
    return df.select(
        F.col(id_col).alias("doc"), F.explode(word_ngrams(text_col, n)).alias("ng")
    )


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, hg): the inverted shingle index with 60-bit hashed shingles,
    unpersisted (see _shingle_index / build_shingle_index for the two
    materialization forms).

    The token array is materialized in its own projection BEFORE the
    per-offset transform: inlining tokens() inside slice() makes Catalyst
    re-evaluate the regexp split once per offset (~6x slower measured)."""
    tk = df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("t"))
    offsets = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("t")) - F.lit(n - 1), F.lit(1))
    )
    ngrams = F.array_distinct(
        F.transform(offsets, lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, n)))
    )
    return (
        tk.select("doc", F.explode(ngrams).alias("ng"))
        .select("doc", md5_long(F.col("ng")).alias("hg"))
    )


def _shingle_index(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """The session-cache form of the shingle index: persisted — it is
    reused 2-3x per pair query (sizes + both join sides), and joining on
    a long beats joining on the shingle string ~2x. At 100 TB use
    build_shingle_index instead (write once, bucketed by hg)."""
    return _shingle_frame(df, id_col, text_col, n).persist()


def build_shingle_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    table_name: str,
    path: str | None = None,
    buckets: int = 16,
) -> None:
    """Materialize the shingle index as an hg-bucketed, hg-sorted table —
    the write-once production form of _shingle_index's session cache.

    Every consumer in the dedup/decontamination/overlap family joins this
    index to itself (or to a probe set) ON hg; with both sides read from
    the same bucketed table the sort-merge join reads co-located,
    pre-sorted buckets: ZERO Exchange below the join, at any corpus size.
    Build once per corpus snapshot, amortize across every pair query."""
    writer = (
        _shingle_frame(df, id_col, text_col, n)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "hg")
        .sortBy("hg")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def jaccard_pairs_from_index(
    spark, table_name: str, threshold: float = 0.5
) -> DataFrame:
    """EXACT n-gram Jaccard pairs served from a materialized shingle
    index (build_shingle_index): identical output to the naive route of
    ngram_jaccard_pairs, but the hg self-join is bucket-co-located —
    no shuffle of the index on either side."""
    return _ngram_jaccard_naive(spark.table(table_name), threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs at >= threshold, via prefix filtering
    (the All-Pairs family, Bayardo et al., WWW'07): only each doc's
    RAREST |x| - ceil(t*|x|) + 1 shingles (canonical order: global doc
    frequency asc, hash asc) enter the candidate join — any pair with
    J >= t must share a prefix shingle, so no qualifying pair is lost —
    then candidates are verified exactly with an array intersection over
    the full shingle sets. Results are identical to the naive full
    inverted-index join; the SQL oracle keeps the naive formulation (two
    independent algorithms, one answer).

    Scale: the naive index join costs sum over shingles of df^2, which a
    handful of stop-shingle-grade trigrams turns quadratic; the prefix
    join only expands rare shingles, so candidates track the true
    duplicate density. Verification shuffles per-doc shingle ARRAYS on
    the candidate keys — bounded by candidate count, not corpus^2. The
    routing is ADAPTIVE because the machinery isn't free (df ranking +
    window + array verify ≈ 3.7s vs the naive join's 2.5s on the benign
    5k-doc corpus): one cheap aggregate over the persisted index
    estimates the naive join's expansion sum(df^2); when it exceeds
    30x the index size the naive join is heading quadratic and the
    prefix path wins, otherwise naive is cheaper. Both branches are
    exact, so the route never changes the answer. The MinHash variant
    below stays the preferred path when even exact verification is too
    much."""
    ngr = _shingle_index(df, id_col, text_col, n)
    dfreq = ngr.groupBy("hg").agg(F.count(F.lit(1)).alias("dfreq"))
    stats = dfreq.agg(
        F.sum(F.col("dfreq") * F.col("dfreq")).alias("exp2"),
        F.sum("dfreq").alias("nrows"),
    ).collect()[0]
    blowup = (stats["exp2"] or 0) / max(1, stats["nrows"] or 0)
    if blowup <= 30:
        return _ngram_jaccard_naive(ngr, threshold)
    return _ngram_jaccard_prefix(ngr, dfreq, threshold)


def _ngram_jaccard_naive(ngr: DataFrame, threshold: float) -> DataFrame:
    """Full inverted-index join + per-pair intersection counts — cheapest
    when no shingle is stop-word-grade common."""
    sizes = ngr.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a, b = ngr.alias("a"), ngr.alias("b")
    inter = (
        a.join(b, (F.col("a.hg") == F.col("b.hg")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ngram_jaccard_prefix(
    ngr: DataFrame, dfreq: DataFrame, threshold: float
) -> DataFrame:
    """Prefix-filtered candidates + exact array-intersection verify."""
    arrays = ngr.groupBy("doc").agg(
        F.sort_array(F.collect_set("hg")).alias("set"),
        F.count(F.lit(1)).alias("sz"),
    )
    wdoc = W.partitionBy("doc").orderBy(F.col("dfreq").asc(), F.col("hg").asc())
    prefix = (
        ngr.join(dfreq, "hg")
        .withColumn("rnk", F.row_number().over(wdoc))
        .join(arrays.select("doc", "sz"), "doc")
        .filter(
            # ceil over a float product can overshoot an exact integer
            # (0.07*100 = 7.000000000000001 -> ceil 8), which would make
            # the prefix one shingle too SHORT and silently drop
            # candidates at exactly the threshold; the epsilon only ever
            # lengthens the prefix (extra candidates are verified away)
            F.col("rnk")
            <= F.col("sz")
            - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
            + 1
        )
        .select("doc", "hg")
    )
    pa, pb = prefix.alias("a"), prefix.alias("b")
    cand = (
        pa.join(
            pb,
            (F.col("a.hg") == F.col("b.hg")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    aa = arrays.select(
        F.col("doc").alias("doc_a"), F.col("set").alias("set_a"),
        F.col("sz").alias("sz_a"),
    )
    ab = arrays.select(
        F.col("doc").alias("doc_b"), F.col("set").alias("set_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_sig_from_ngr(ngr: DataFrame, n_perm: int) -> DataFrame:
    """MinHash signature rows (doc, m0..m{n_perm-1}) from an existing
    (doc, hg) shingle frame — THE one signature definition; the df-facing
    minhash_signatures and build_minhash_index (which reuses its already-
    computed shingle frame instead of shingling twice) both call it."""
    ngr = ngr.withColumn("h", F.col("hg") % F.lit(2_147_483_647))
    # All n_perm permutation mins in ONE SQL expression string (array of
    # aggregates), unpacked back to the m{i} schema in one selectExpr —
    # r13 driver-side cost fix (guide §7.3): 2 py4j calls instead of
    # ~8 * n_perm, ~99 -> ~15 ms per plan build. The per-permutation
    # arithmetic string `min((a * h + b) % 2147483647)` parses to the
    # identical Catalyst expression as the historical Column form
    # (INT literal * BIGINT h promotes to BIGINT on both paths), so
    # signatures — and the oracle lockstep via _perm_min_sql — are
    # bit-identical (r13 form-equivalence test).
    mins = ", ".join(
        f"min(({a} * h + {b}) % 2147483647)"
        for a, b in _perm_constants(n_perm)
    )
    g = ngr.groupBy("doc").agg(F.expr(f"array({mins})").alias("__ms"))
    return g.selectExpr(
        "doc", *[f"__ms[{i}] AS m{i}" for i in range(n_perm)]
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, n_perm: int = 32
) -> DataFrame:
    """One row per doc with columns m0..m{n_perm-1}: MinHash signature over
    word n-grams. One shuffle (groupBy doc) with map-side partial mins."""
    # the md5 lives in the shared shingle index — computed once per
    # shingle, not once per (shingle x permutation)
    return _minhash_sig_from_ngr(
        _shingle_index(df, id_col, text_col, n), n_perm
    )


def minhash_bands(sig: DataFrame, n_perm: int, bands: int) -> DataFrame:
    """(doc, band_idx, band_hash) rows from a minhash_signatures frame:
    each band hashes its `n_perm // bands` signature rows (md5, prefixed
    with the band index so equal row-slices in different bands cannot
    collide). THE one banding definition — minhash_lsh_pairs and the
    reports-layer calibration / bucket-load entries all call it, and the
    oracle SQL mirrors it via _minhash_band_rows_sql interpolation
    (plans/reports.py); a second copy would silently break lockstep."""
    return sig.select(
        F.col("doc"),
        F.explode(F.expr(_minhash_band_structs_sql(n_perm, bands))).alias("b"),
    ).select("doc", "b.band_idx", "b.band_hash")


def _minhash_band_structs_sql(n_perm: int, bands: int) -> str:
    """The band-struct array of minhash_bands as ONE SQL expression
    string (r13 driver-side cost fix, guide §7.3 — ~1 py4j call instead
    of ~12 per band). Each struct is the md5_long of the same
    concat_ws(',', band_idx, m...) the historical Column form built:
    integer args to concat_ws implicitly render to the same decimal
    strings on both paths, so band hashes — and the
    _minhash_band_rows_sql oracle lockstep — are bit-identical."""
    rows_per_band = n_perm // bands
    band_structs = ", ".join(
        f"struct({j} AS band_idx, "
        + md5_long_spark_sql(
            "concat_ws(',', "
            + ", ".join(
                [str(j)]
                + [f"m{j * rows_per_band + r}" for r in range(rows_per_band)]
            )
            + ")"
        )
        + " AS band_hash)"
        for j in range(bands)
    )
    return f"array({band_structs})"


def _jaccard_verify(
    cand: DataFrame,
    a_col: str,
    b_col: str,
    ngr_a: DataFrame,
    ngr_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard over a candidate-pair frame: intersection
    count via the hg equi-join, sizes per side, inter/(sz_a+sz_b-inter),
    filter >= threshold. THE row-form verify definition (the minhash
    lockstep rule) — minhash_lsh_pairs (self-dedup: ngr_a is ngr_b) and
    incremental_minhash_matches (batch vs index) both call it, and the
    oracle SQL mirrors this exact expression; a second copy would let
    the two engines' Jaccard arithmetic drift. probe_minhash_index uses
    the array-form twin (_jaccard_verify_arrays — same arithmetic, one
    single-key join per side so the doc-bucketed index co-locates),
    equality-pinned against this one. Returns (a_col, b_col, jaccard)."""
    na = ngr_a.select(F.col("doc").alias(a_col), F.col("hg").alias("__hg_a"))
    nb = ngr_b.select(F.col("doc").alias("__b2"), F.col("hg").alias("__hg_b"))
    inter = (
        cand.join(na, a_col)
        .join(
            nb,
            (F.col(b_col) == F.col("__b2"))
            & (F.col("__hg_a") == F.col("__hg_b")),
        )
        .groupBy(a_col, b_col)
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = ngr_a.groupBy("doc").agg(F.count(F.lit(1)).alias("sz_a")) \
        .withColumnRenamed("doc", a_col)
    sb = ngr_b.groupBy("doc").agg(F.count(F.lit(1)).alias("sz_b")) \
        .withColumnRenamed("doc", b_col)
    return (
        inter.join(sa, a_col)
        .join(sb, b_col)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a_col, b_col, "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact Jaccard verification.

    signature -> `bands` band-hashes per doc -> join docs sharing a band
    (candidate pairs) -> compute true n-gram Jaccard for candidates only
    -> filter >= threshold. With 32 perms / 8 bands / 4 rows the S-curve
    midpoint is ~0.59; candidates are verified exactly, so precision is 1
    and only recall depends on LSH parameters.

    `bucket_cap` (default None = off, exact LSH recall) bounds a
    pathological (band_idx, band_hash) bucket the way banded_hash_pairs'
    cap does: each bucket admits at most `bucket_cap` docs in
    deterministic scrambled order (xxhash64 of the doc id folded through
    the canonical scramble triple — pmod first, ids can hash negative),
    so a boilerplate band shared by U docs costs min(U, cap)^2/2
    candidates instead of U^2/2. Bounded-recall trade for the
    multi-billion-doc regime; dedup_minhash_bucket_load is the
    pre-flight report that says whether it's needed and at what value.
    Production-path knob: the DuckDB oracle mirrors the uncapped join
    only, so catalog entries keep the default."""
    sig = minhash_signatures(df, id_col, text_col, n, n_perm)
    bands_df = minhash_bands(sig, n_perm, bands)
    if bucket_cap is not None:
        # key = xxhash64(doc): doc ids are arbitrary-typed and possibly
        # ordered; hashing first makes the admitted sample independent
        # of id assignment (the shared helper pmod-folds the sign away)
        bands_df = _capped_bucket_admission(
            bands_df, ["band_idx", "band_hash"],
            F.xxhash64(F.col("doc")), F.col("doc"), bucket_cap,
        )

    # The bands frame is persisted: the candidate self-join consumes it
    # on BOTH sides and Spark does no CSE across self-join branches, so
    # unpersisted the whole signature subtree (the 32-permutation
    # aggregate over every shingle — a full-corpus pass at scale)
    # re-executed twice (r12 verdict item 2). With the persist the plan
    # holds ONE signature aggregate materialized into one
    # InMemoryRelation; released at the bench/harness family boundary
    # like every catalog persist. r13 A/B (same-session interleaved
    # min-of-3, sf0.1): self-join 2.20s, grouped collect_list pair
    # generation 2.33s (the extra exchange + object agg loses to the
    # broadcast self-join locally), self-join + bands persist 1.92s —
    # the persist form is both the fastest and the structurally correct
    # one at scale (signature computed once).
    bands_df = bands_df.persist()
    a, b = bands_df.alias("a"), bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )

    # Exact verify on candidates only (reuses the persisted shingle
    # index; shared definition — see _jaccard_verify).
    ngr = _shingle_index(df, id_col, text_col, n)
    return _jaccard_verify(cand, "doc_a", "doc_b", ngr, ngr, threshold)


SIMHASH_BITS = 60  # md5_long yields 60-bit hashes


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash over distinct tokens: bit b of the signature is set
    iff sum over tokens of (+1 if bit b of token-hash else -1) > 0 —
    equivalently iff 2 * |{token hashes with bit b set}| > n_tokens.

    r12 formulation (guide §4.1/§2.3, measured): explode the distinct
    tokens, hash each ONCE in its own projection (md5 must not be
    inlined into 60 bit-extract expressions — the round-1 slice()
    lesson), then ONE map-side-combined groupBy(doc) with 60 codegen'd
    `sum((h >> b) & 1)` columns plus a count. The r4 higher-order
    formulation (60 interpreted `filter(hs, ...)` passes, each
    materializing a filtered array per row) was zero-shuffle but ran
    OUTSIDE whole-stage codegen: measured 58 executor-core-seconds for
    5,000 docs (curate_keep_selection profile); this form computes the
    identical per-bit counts in codegen. The shuffle it introduces is
    the per-DOC partial-aggregate rows (61 longs/doc, combined map-side
    — exploded rows of one doc sit in one scan task), i.e. the same
    order of bytes as the operator's own output, not n_docs x n_tokens:
    the r4 docstring's objection was to the pre-combiner explode
    shuffle, which partial aggregation removes. Empty docs are dropped
    (explode emits no rows), matching the r4 filter(size>0) semantics;
    md5-colliding distinct tokens still count twice on both forms.

    PRECONDITION (r12 ADVICE): `id_col` values must be unique (one row
    per doc). The groupBy(doc) merges rows sharing an id — and ALL NULL
    ids — into one signature over the CONCATENATION of their per-row
    distinct token sets (a token shared by two merged rows counts
    twice), where the historical per-row form emitted one signature per
    row.
    Every catalog caller feeds a primary-key id; a caller with possible
    duplicate ids (e.g. re-delivered streaming batches) must
    dropDuplicates(id) upstream. Pinned by
    tests/test_round13_properties.py::test_simhash_duplicate_ids_merge."""
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(text_col))).alias("__t"),
    )
    hashed = tok.select("doc", md5_long(F.col("__t")).alias("__h"))
    # The 60 bit-count sums and the 60-term signature fold are built as
    # TWO SQL expression strings instead of ~800 per-Column py4j calls
    # (r13, guide §7.3 driver-side cost: 320 -> ~35 ms per plan build,
    # measured — this helper is built by ~19 catalog entries, and on a
    # cluster driver that plan churn serializes). The parsed expressions
    # are the SAME Catalyst operators as the historical Column-API form
    # (shiftright / & / sum; CASE WHEN over the per-bit sums with
    # BIGINT-cast power-of-two literals, left-associative +), so the
    # values — and the codegen'd aggregate — are bit-identical; pinned
    # by test_simhash_signatures_matches_python_reference and the
    # r13 form-equivalence test.
    sums = ", ".join(
        f"sum(shiftright(__h, {bit}) & 1)" for bit in range(SIMHASH_BITS)
    )
    g = hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("__n"),
        F.expr(f"array({sums})").alias("__bs"),
    )
    terms = " + ".join(
        f"(CASE WHEN __bs[{bit}] * 2 > __n THEN CAST({1 << bit} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for bit in range(SIMHASH_BITS)
    )
    return g.select("doc", F.expr(terms).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Banded candidate generation: split the 60-bit signature into n_bands
    chunks; any pair within max_hamming differs in <= max_hamming bits, so
    with n_bands > max_hamming at least one chunk is identical (pigeonhole)
    -> recall is exactly 1 and the result equals the brute-force O(n^2)
    scan the oracle runs at small SF. `bucket_cap` passes through to
    banded_hash_pairs' per-band-bucket admission (bounded recall at
    saturated band values — production knob, None for oracle parity)."""
    # persisted for the same reason as _shingle_index: the banded
    # self-join reads the signature frame on BOTH sides, and Spark does
    # no CSE across self-join branches — unpersisted, the 60-bit
    # signature expression (the dominant cost) evaluates twice.
    # Candidate generation + exact verify delegate to the generalized
    # banded joiner below (one copy of the band-split / equi-join /
    # bit_count / filter-before-distinct pipeline — review finding);
    # shiftrightunsigned == shiftright for the nonnegative 60-bit
    # signature, so the band values are bit-identical to the historical
    # in-line formulation.
    sig = simhash_signatures(df, id_col, text_col).persist()
    return (
        banded_hamming_pairs(
            sig, "doc", "simhash", n_bands, max_hamming,
            hash_bits=SIMHASH_BITS, bucket_cap=bucket_cap,
        )
        .withColumnRenamed("media_id_a", "doc_a")
        .withColumnRenamed("media_id_b", "doc_b")
    )


def duplicate_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected duplicate-pair edge list
    (doc_a, doc_b) -> one row per node: (doc_id, cluster_id) where
    cluster_id is the smallest doc id in the node's component. This is the
    step that turns pairwise near-dup evidence into dedup decisions (keep
    one canonical doc per cluster).

    The route is picked from the measured edge count. Up to 200k
    symmetric edges (twice the pair count), union-find on the driver
    over the pairs as given. Above that, min-label
    propagation to a fixpoint — each round every node takes the min of
    its own label and its neighbors' labels (one shuffle join + one
    partial-aggregated groupBy per round), converging in O(component
    diameter) rounds. Near-dup components are dense and shallow (they
    come from banded/bucketed candidate generation), so the diameter is
    small in practice and propagation is the cheapest loop (one join per
    round; measured 2-4x faster than star contraction on shallow graphs
    above the cap); `localCheckpoint` truncates the lineage each round so
    the plan stays flat. At 100 TB the same loop runs with the edge list
    bucketed by src. When the 30-round diameter budget runs out anyway —
    an adversarial chain graph where each doc is a near-dup of only the
    next — the loop falls back to large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014), which
    contracts components in O(log n) rounds regardless of diameter, so a
    1M-link chain costs ~20 rounds instead of an impossible 1M."""
    # persist the directed edges: the input is the whole pair-generation
    # pipeline (measured ~2x the query without this persist), and the
    # count below, the collect or the symmetric union re-read it.
    # Union-find needs one orientation per pair; only the distributed
    # loop reads both, so only that route builds the symmetric list.
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).persist()
    # The edge list is usually orders of magnitude smaller than the corpus
    # (it only holds near-dup evidence), but the session's shuffle
    # partitioning is sized for the corpus — at 32+ partitions each tiny
    # per-round join pays full scheduling fan-out. Size the loop's shuffle
    # from the measured symmetric edge count instead (~500k
    # edges/partition; the count also materializes the persist).
    spark = pairs.sparkSession
    n_edges = 2 * edges.count()
    # Small-graph shortcut: near-dup edge lists from bucketed candidate
    # generation are tiny relative to the corpus (they hold only actual
    # duplicate evidence). Below the threshold, union-find on the driver
    # beats any distributed loop — one collect replaces d rounds of
    # join+agg+checkpoint (measured 2-3s saved at a 256-edge graph, and
    # the gap grows with diameter). The cap is sized for the DRIVER's
    # collect cost (200k symmetric edges: 100k Row objects, tens of MB
    # incl. the JVM buffer), not for "still feels small" — the
    # distributed loop handles everything larger.
    if n_edges <= 200_000:
        try:
            return _driver_union_find(spark, edges)
        finally:
            edges.unpersist()
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(1, min(int(prev_parts), n_edges // 500_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        return _distributed_components(sym)
    finally:
        sym.unpersist()
        edges.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _distributed_components(sym: DataFrame) -> DataFrame:
    """The distributed loop: propagation first (cheapest on the dense/
    shallow graphs banded candidates produce), large-star/small-star when
    the propagation budget runs out."""
    try:
        return _propagate_min_labels(sym, max_iter=30)
    except RuntimeError:
        # diameter exceeded the propagation budget: an adversarial
        # chain-like graph. sym is still persisted (the propagation
        # loop no longer unpersists — see its docstring), so the
        # star loop restarts from the materialized edge list, not
        # the whole pair-generation pipeline.
        return _large_small_star(sym)


def _driver_union_find(spark, edges: DataFrame) -> DataFrame:
    """Exact connected components on the driver (path-compressed
    union-find) over an edge list in either orientation (one direction
    per pair suffices); output labels are the component-min doc id,
    identical to the propagation fixpoint. The result is a local
    relation, so downstream joins read it in the JVM."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    # one parallel collect — the caller guarantees the edge bound, and
    # toLocalIterator would fetch the 32 shuffle partitions serially
    for row in edges.collect():
        a, b = row["src"], row["dst"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {n: find(n) for n in parent}
    comp_min: dict = {}
    for n, r in roots.items():
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    rows = [(n, comp_min[roots[n]]) for n in sorted(roots)]
    id_type = edges.schema["src"].dataType
    return local_frame(spark, rows, StructType([
        StructField("doc_id", id_type), StructField("cluster_id", id_type),
    ]))


def _propagate_min_labels(sym: DataFrame, max_iter: int) -> DataFrame:
    """O(diameter) min-label propagation; raises RuntimeError at the
    round budget. Does NOT unpersist `sym` — duplicate_components owns
    that lifetime (on budget exhaustion the star fallback re-reads the
    still-materialized edge list instead of recomputing the pair
    pipeline)."""
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node2"))
            .agg(F.min("lab").alias("nlab"))
        )
        # carry the previous label through the propagation join so the
        # convergence probe is a local filter on the checkpointed frame,
        # not a second join per round
        new = (
            labels.join(nbr, labels["node"] == nbr["node2"], "left")
            .select(
                F.col("node"),
                F.col("lab").alias("old_lab"),
                F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias(
                    "lab"
                ),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("lab") < F.col("old_lab")).limit(1).count()
        labels = new.drop("old_lab")
        if changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
            )
    raise RuntimeError(f"connected components did not converge in {max_iter} rounds")


def _large_small_star(sym: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., MR-friendly CC): proven O(log^2 n)
    rounds for this alternating two-phase variant on ANY graph shape
    (O(log n) is what we observe in practice — the 120-node and
    210k-edge chain fixtures converge in a handful of rounds) — the
    fallback duplicate_components uses when min-label propagation's
    O(diameter) budget runs out on an adversarial chain. Output
    contract is identical: one (doc_id, cluster_id) row per node,
    cluster_id = component-min id.

    Per round (all plain shuffle joins/aggregates, map-side combined):
      large-star: every node u points its STRICTLY LARGER neighbors at
        m = min(u, N(u)) — long tails collapse toward small labels;
      small-star: with edges oriented (larger u, smaller v), every u
        points its smaller neighbors AND ITSELF at its min neighbor.
    The edge set monotonically contracts toward a forest of stars
    centered on each component's minimum; the fixpoint test is edge-set
    equality (cheap: both sides are distinct canonical-orientation
    sets). max_iter=50 is a safety net sized to the observed O(log n)
    behavior with ample slack, not a tuning knob; under the proven
    O(log^2 n) bound a pathological graph could in principle exhaust it,
    so a max_iter hit means "investigate" (raise and look), not
    "logic bug by definition"."""
    # node set snapshot BEFORE dropping self-loops: a node whose only
    # edge is (x, x) must still label itself, matching the propagate /
    # union-find paths (r7 review finding)
    nodes = sym.select(F.col("src").alias("doc_id")).distinct().localCheckpoint()
    edges = (
        sym.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    for _ in range(max_iter):
        # large-star over the symmetric neighbor view
        nbrs = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            # (v, m): v > u >= m, so the canonical orientation is direct
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the canonical (u > v) orientation
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
            .localCheckpoint()
        )
        n_new = small.count()
        if n_new == n_edges and small.exceptAll(edges).limit(1).count() == 0:
            edges = small
            break
        edges, n_edges = small, n_new
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds"
        )
    # fixpoint is a star forest: every edge is (member, component-min);
    # the left join re-attaches nodes whose only edges were self-loops
    labels = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).union(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
        .distinct()
    )
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


# The per-bucket-cap admission scramble folds the hash through the
# canonical modular-multiply triple imported from functions/hashing.py
# (the copresence playbook, plans/reports.py events_user_copresence_topk;
# one definition so the copies cannot drift — r6 review finding).


def _capped_bucket_admission(
    bands_df: DataFrame,
    bucket_cols: list[str],
    key: Column,
    tiebreak: Column,
    cap: int,
) -> DataFrame:
    """Admit at most `cap` rows per bucket (the `bucket_cols` tuple) in
    deterministic scrambled order — THE one admission definition, shared
    by banded_hash_pairs (key = the hash itself) and minhash_lsh_pairs
    (key = xxhash64 of the doc id); a second copy of the
    scramble+window+filter pipeline would drift exactly the way the r6
    band-construction copies did (r7 review finding).

    `key` is folded with pmod FIRST: Spark % keeps the dividend's sign,
    and uniform 64-bit keys are ~half negative — a signed scramble would
    sort every MSB-set key before every MSB-clear one and evict across
    the sign boundary systematically instead of sampling (r6 review).
    The row_number admission does NOT funnel a hot bucket through one
    task: Spark 4 plans the `_rn <= cap` filter as a PARTIAL
    WindowGroupLimit before the exchange, so each map task forwards at
    most cap rows per bucket (plan-pinned in tests/test_multimodal.py
    and tests/test_round7_properties.py)."""
    scramble = (
        F.pmod(key, F.lit(_BAND_SCRAMBLE_MOD1)) * _BAND_SCRAMBLE_MULT
    ) % _BAND_SCRAMBLE_MOD2
    adm = W.partitionBy(*bucket_cols).orderBy(scramble.asc(), tiebreak.asc())
    return (
        bands_df.withColumn("_rn", F.row_number().over(adm))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def _band_rows(
    uniq: DataFrame, hash_col: str, n_bands: int, hash_bits: int
) -> DataFrame:
    """(_h, band_no, band_val) rows: each `hash_bits`-bit hash split into
    `n_bands` equal bit-slices. THE one band-split definition for the
    Hamming-banded family — banded_hash_pairs joins on it and
    banded_bucket_load histograms it; a second copy would let the
    diagnostic silently drift from the join it exists to predict (the
    minhash_bands lockstep rule). shiftrightunsigned keeps the top band
    of a NEGATIVE 64-bit hash from smearing sign bits across the mask."""
    if hash_bits % n_bands != 0:
        # a real raise, not an assert: `python -O` strips asserts and a
        # non-tiling split silently loses the top hash bits (r7 review)
        raise ValueError(
            f"n_bands={n_bands} must tile hash_bits={hash_bits} exactly"
        )
    width = hash_bits // n_bands
    mask = (1 << width) - 1
    h = F.col(hash_col)
    return uniq.select(
        h.alias("_h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(h, width * i).bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band_no", "band_val"),
    )


def _with_band_key(
    bands_df: DataFrame, n_bands: int, hash_bits: int
) -> DataFrame:
    """Add the SINGLE combined band key to a _band_rows frame:
    band_key = band_no * 2^width + band_val (width = hash_bits /
    n_bands; band_val < 2^width by construction, so the encoding is
    injective — joining on band_key is exactly joining on the
    (band_no, band_val) pair). One key instead of two is what lets the
    persisted Hamming index's band table be bucketed by a single column,
    which Spark needs both for a shuffle-free bucketed join (the
    bucketing must cover ALL join keys) and for bucket pruning on the
    probe's pushed IN-filter. THE one key definition — the in-memory
    probe derives it here and build_hamming_index stores the same
    expression, so the two sides can never drift."""
    width = hash_bits // n_bands
    return bands_df.withColumn(
        "band_key",
        (F.col("band_no").cast("long") * F.lit(1 << width))
        + F.col("band_val"),
    )


def banded_bucket_load(
    uniq: DataFrame, hash_col: str, n_bands: int, hash_bits: int
) -> DataFrame:
    """Band-bucket occupancy histogram for the Hamming-banded joiner —
    the pre-flight diagnostic that tells an operator what `bucket_cap`
    to set BEFORE running banded_hash_pairs: per (band_no, bucket-size
    class), how many buckets exist and what candidate-pair cost
    (n_buckets x C(sz,2)) the equi-join would pay for them. `uniq` is
    the same one-row-per-DISTINCT-hash frame the joiner takes, and the
    band split is the joiner's own (_band_rows), so the histogram
    predicts exactly the join it profiles. Scale: two strictly-reducing
    aggregates, no joins, O(size classes) output.

    Columns: band_no int, bucket_size bigint, n_buckets bigint,
    n_hashes bigint, cand_pairs double. cand_pairs rides DECIMAL(38,0)
    with a true decimal `/ 2` (sz*(sz-1) is always even, so the halving
    is exact; Spark's `div` would wrap past 2^63 — the
    dedup_minhash_bucket_load hazard, live-verified r6)."""
    return bucket_load_from_bands(
        _band_rows(uniq, hash_col, n_bands, hash_bits),
        "band_no", "band_val",
    )


def bucket_load_from_bands(
    bands: DataFrame, band_no_col: str, band_val_col: str
) -> DataFrame:
    """The size-class histogram half of banded_bucket_load, factored so
    the curate CLI pre-flight can profile MINHASH band rows
    ((band_idx, band_hash) from minhash_bands) with the same report
    shape and the same DECIMAL-exact pair-cost arithmetic. One row per
    (band, bucket-size class)."""
    bucket = bands.groupBy(
        F.col(band_no_col).alias("band_no"),
        F.col(band_val_col).alias("band_val"),
    ).agg(F.count(F.lit(1)).alias("sz"))
    return bucket.groupBy("band_no", "sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        (F.col("sz") * F.count(F.lit(1))).cast("bigint").alias("n_hashes"),
        F.expr(
            "CAST(CAST(count(1) AS DECIMAL(38,0))"
            " * (CAST(sz AS DECIMAL(38,0)) * (sz - 1) / 2) AS DOUBLE)"
        ).alias("cand_pairs"),
    ).select(
        F.col("band_no").cast("int").alias("band_no"),
        F.col("sz").cast("bigint").alias("bucket_size"),
        "n_buckets",
        "n_hashes",
        "cand_pairs",
    )


def banded_hash_pairs(
    uniq: DataFrame,
    hash_col: str,
    n_bands: int,
    radius: int,
    hash_bits: int,
    bucket_cap: int | None = None,
) -> DataFrame:
    """HASH-level banded-LSH pairs: `uniq` must carry one row per
    DISTINCT hash value. Split each `hash_bits`-bit hash into `n_bands`
    equal bands, equi-join hashes sharing any band, verify candidates
    with exact JVM-side bit_count(xor), keep hamming <= radius. With
    radius <= n_bands - 1 the pigeonhole argument makes recall exactly 1.
    Output: (_ha, _hb, hamming) with _ha < _hb as signed longs — each
    qualifying hash pair exactly once (filter before distinct; the
    distinct runs over hash pairs, never member pairs).

    `bucket_cap` (default None = off, exact recall) bounds a pathological
    band bucket: each (band_no, band_val) bucket admits at most
    `bucket_cap` hashes, in deterministic scrambled order, so a bucket
    with U distinct hashes costs min(U, cap)^2/2 candidate pairs instead
    of U^2/2. A pair is missed when EVERY band bucket the two hashes
    share evicts at least one of them (a pair survives only via a shared
    bucket that admits BOTH) — a bounded-recall trade the
    multi-billion-item regime needs when band values saturate. The
    row_number admission itself does NOT funnel the hot bucket through
    one task: Spark 4 plans the `_rn <= cap` filter as a PARTIAL
    WindowGroupLimit before the exchange, so each map task forwards at
    most cap rows per bucket and the final per-bucket task sees
    cap x #map-partitions rows, not U (plan-pinned in
    test_banded_pairs_bucket_cap_bounds_candidates)."""
    if n_bands <= radius:
        # a real raise, not an assert (`python -O` would strip it and
        # silently break the exact-recall contract — r7 review)
        raise ValueError(
            f"pigeonhole recall needs n_bands > radius "
            f"(got n_bands={n_bands}, radius={radius})"
        )
    bands = _band_rows(uniq, hash_col, n_bands, hash_bits)
    if bucket_cap is not None:
        bands = _capped_bucket_admission(
            bands, ["band_no", "band_val"], F.col("_h"), F.col("_h"),
            bucket_cap,
        )
    # The self-join stays (r13 A/B, same-session interleaved min-of-3
    # at sf0.1 over the simhash shape: self-join 1.55s, grouped
    # collect_list pair generation 1.63s, self-join + bands persist
    # 1.58s — parity): unlike the minhash banding, the upstream here is
    # a distinct-HASH frame whose expensive ancestor (the signature
    # aggregate) is already persisted at every call site
    # (simhash_pairs, the multimodal fingerprint entries), so the
    # duplicated subtree is only the cheap md5/bit-slice banding.
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._h") < F.col("b._h")),
        )
        .select(
            F.col("a._h").alias("_ha"),
            F.col("b._h").alias("_hb"),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h")))
            .cast("int")
            .alias("hamming"),
        )
        # filter BEFORE distinct (the simhash_pairs rule): the banded
        # join emits each qualifying pair up to n_bands times, so
        # dropping far pairs first shrinks the distinct's shuffle input
        .filter(F.col("hamming") <= radius)
        .distinct()
    )


def banded_hamming_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int = 4,
    radius: int = 3,
    hash_bits: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded-LSH near-dup pairs over an arbitrary `hash_bits`-bit hash
    column — the 64-bit generalization of simhash_pairs' candidate
    machinery, shared by the multimodal perceptual-hash dedup entries
    (image dHash, audio envelope hash, video frame hash). Returns the
    same pair set as the brute-force O(n^2) scan whenever
    radius <= n_bands - 1 and `bucket_cap` is off (pigeonhole recall).

    DUPLICATE-SAFE (r5 verdict #1): identical hashes are grouped to one
    representative BEFORE the banded self-join — exact-dup clusters (the
    common case dedup exists for: K byte-identical media items) need no
    Hamming work, so the banded join's input is the DISTINCT-hash set and
    a K-identical cluster contributes 1 row, not K rows in one band
    bucket (K^2/2 join rows before). The three stages:

      1. within-group expansion: members sharing a hash pair up at
         hamming 0 via a plain equi-join on the full hash — one shuffle,
         no banding, no bit_count, output == inherent answer size;
      2. banded_hash_pairs over distinct hashes (optionally capped per
         band bucket — see that docstring);
      3. cross-group expansion: each qualifying hash pair joins back to
         its member lists on both sides.

    PRECONDITION: `hashed` must carry one row per media id (unique ids;
    every current caller computes one hash per item). The final result
    then needs NO distinct: hash-level pairs are distinct and expansion
    emits each member pair once; within-group (same hash) and
    cross-group (different hashes) are disjoint by construction. A
    duplicated input row would duplicate its output pairs — the
    pre-grouping design trades the old terminal member-level distinct
    (a shuffle of the full pair set) for this documented contract.
    `hashed` should be persisted by the caller when the hash is
    kernel-computed (stages 1-3 all read it and Spark does no CSE across
    self-join branches). Output: (media_id_a, media_id_b, hamming int)
    with media_id_a < media_id_b."""
    members = hashed.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    )
    # stage 1: exact-dup clusters — plain hash equi-join, hamming 0
    ma, mb = members.alias("ma"), members.alias("mb")
    same = ma.join(
        mb,
        (F.col("ma._h") == F.col("mb._h"))
        & (F.col("ma._id") < F.col("mb._id")),
    ).select(
        F.col("ma._id").alias("media_id_a"),
        F.col("mb._id").alias("media_id_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    # stage 2: banded LSH over DISTINCT hashes only
    uniq = members.select("_h").distinct()
    hpairs = banded_hash_pairs(
        uniq, "_h", n_bands, radius, hash_bits, bucket_cap
    )
    # stage 3: expand hash pairs to member pairs (two equi-joins; the
    # hash-pair side is the small near-dup evidence set). _ha < _hb does
    # not order member ids, so re-order with least/greatest.
    cross = (
        hpairs.join(
            members.select(
                F.col("_id").alias("_id_a"), F.col("_h").alias("_ha")
            ),
            "_ha",
        )
        .join(
            members.select(
                F.col("_id").alias("_id_b"), F.col("_h").alias("_hb")
            ),
            "_hb",
        )
        .select(
            F.least("_id_a", "_id_b").alias("media_id_a"),
            F.greatest("_id_a", "_id_b").alias("media_id_b"),
            F.col("hamming"),
        )
    )
    return same.unionByName(cross)


def hash_cluster_assignments(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int = 4,
    radius: int = 3,
    hash_bits: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """CLUSTER-MODE output for fingerprint dedup: one row PER ITEM —
    (media_id, cluster_id, canonical_id) — instead of the C(K,2)
    member-pair list banded_hamming_pairs emits for a K-identical
    cluster. At web scale this is the consumable product: a 10M-member
    viral-meme cluster is 5x10^13 pair rows (unwritable) but 10M
    assignment rows here. cluster_id is the component label and
    canonical_id the member to keep; under the min-id canonical policy
    both equal the smallest member id of the Hamming-<=radius component
    (they coincide by construction but name different CONCEPTS — keep
    both so a different canonical policy can diverge without a schema
    change). Singletons label themselves. Output is exactly one row per
    input id: O(n), never O(pairs).

    Pipeline — no member-pair materialization anywhere:
      1. DISTINCT hashes -> banded_hash_pairs: HASH-level near-dup
         pairs (bounded by distinct-hash candidates, same knobs as the
         pair path: n_bands/radius/hash_bits/bucket_cap);
      2. duplicate_components over those HASH pairs (its edge-count
         route: driver union-find, or distributed propagation with the
         large-star/small-star fallback) — components of the
         hash graph expand to exactly the member-level components,
         because every hash node carries >= 1 member and equal-hash
         members share a node;
      3. per-hash min member (one map-side-combined groupBy), component
         labels and canonical ids computed entirely on HASH-sized
         frames (hashes in no near-dup pair keep themselves as label),
         then ONE join stamps the hash->canonical map onto the member
         table — the only full-member shuffle in the pipeline; the map
         is one row per distinct hash, so AQE broadcasts it when it
         fits, and a viral cluster's members never funnel through one
         window task.

    Same precondition as banded_hamming_pairs: one row per item id,
    `hashed` persisted by the caller when the hash is kernel-computed
    (stages re-read it). Ref parity: the reference dedups exact rows via
    upsert (/root/reference/utils.go:100-104); this is the near-dup
    generalization a media corpus needs."""
    members = hashed.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    )
    # per-hash min member FIRST (map-side combined: the shuffle carries
    # ~one partial per distinct hash per task, not n member rows); all
    # label/canonical algebra then runs on hash-sized frames, and the
    # full member table is shuffled exactly ONCE (the final stamp join).
    # The earlier formulation aggregated and joined the (member, label)
    # frame on both sides — Spark plans no ReusedExchange across those
    # branches, so members paid three shuffles and the label join
    # subtree evaluated twice (r7 review finding, plan-verified).
    hmin = members.groupBy("_h").agg(F.min("_id").alias("_hm"))
    uniq = hmin.select("_h")
    hpairs = banded_hash_pairs(uniq, "_h", n_bands, radius, hash_bits, bucket_cap)
    hcomp = duplicate_components(
        hpairs.select(F.col("_ha").alias("doc_a"), F.col("_hb").alias("doc_b"))
    ).select(F.col("doc_id").alias("_h"), F.col("cluster_id").alias("_hlab"))
    hlab = hmin.join(hcomp, "_h", "left").select(
        "_h", "_hm", F.coalesce(F.col("_hlab"), F.col("_h")).alias("_hlab")
    )
    canon = hlab.groupBy("_hlab").agg(F.min("_hm").alias("canonical_id"))
    hmap = hlab.select("_h", "_hlab").join(canon, "_hlab").select(
        "_h", "canonical_id"
    )
    return members.join(hmap, "_h").select(
        F.col("_id").alias("media_id"),
        F.col("canonical_id").alias("cluster_id"),
        "canonical_id",
    )


def incremental_hamming_matches(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int = 4,
    radius: int = 3,
    hash_bits: int = 64,
    bucket_cap: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """INCREMENTAL dedup probe: match a NEW batch against an EXISTING
    corpus index without re-banding the corpus against itself — the
    daily-ingest shape (today's crawl vs the accumulated lake). For each
    batch item: does any index item sit within Hamming `radius`, and if
    so which (smallest index id) at what best distance.

    Scale design — every heavy frame is HASH-sized, mirroring
    hash_cluster_assignments:
      1. per-index-hash MIN member id (one corpus pass, map-side
         combined; at production scale this tiny (hash, min_id) table —
         and its band rows — would be PERSISTED with the lake and only
         APPENDED to, so a daily probe never rescans the corpus);
      2. band the DISTINCT batch hashes and the DISTINCT index hashes
         with the joiner's own split (_band_rows — the lockstep rule)
         and equi-join batch x index band rows: candidates are bounded
         by shared-band hash pairs, never |batch| x |index|; identical
         hashes share every band, so hamming-0 matches need no separate
         stage; `bucket_cap` admission applies per side if a band value
         saturates;
      3. verify with exact bit_count(xor) <= radius, reduce per batch
         hash (min hamming, min index-member id) — still hash-sized;
      4. ONE member-level join stamps every batch row (left: misses
         keep is_dup = false).

    Output: one row per batch item — (id_col, is_dup boolean,
    match_id nullable, best_hamming nullable int). Deterministic:
    match_id = MIN index id over all within-radius matches,
    best_hamming = MIN hamming (independent aggregates).

    `exclude_self=True` removes the batch's OWN ids from the index side
    before probing (a member-level anti-join — exact, regardless of
    shared hashes), so re-probing a batch whose docs were already
    appended to the corpus does not report every doc as a duplicate of
    itself. This is the retry-idempotence guard the daily curate loop
    runs on (curate.dedup_incremental; r9 verdict item 1); default False
    keeps the historical probe-any-overlap semantics."""
    if exclude_self:
        index = index.join(
            batch.select(F.col(id_col)).distinct(), id_col, "left_anti"
        )
    i_members = index.select(
        F.col(id_col).alias("_iid"), F.col(hash_col).alias("_ih")
    )
    # 1. hash-sized index summary
    idx_min = i_members.groupBy("_ih").agg(F.min("_iid").alias("_i_min"))
    ib = _band_rows(idx_min.select(F.col("_ih").alias("_h")),
                    "_h", n_bands, hash_bits)
    return _hamming_probe_tail(
        batch, id_col, hash_col, idx_min, ib,
        n_bands, radius, hash_bits, bucket_cap,
    )


def _hamming_probe_tail(
    batch: DataFrame,
    id_col: str,
    hash_col: str,
    idx_min: DataFrame,
    ib: DataFrame,
    n_bands: int,
    radius: int,
    hash_bits: int,
    bucket_cap: int | None,
    corpus_prune_limit: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Steps 2-4 of the incremental Hamming probe, shared by the
    in-memory path (incremental_hamming_matches) and the persisted-index
    path (probe_hamming_index) so banding/verify/reduce semantics live
    in exactly one place. `idx_min` is the (_ih, _i_min) per-hash index
    summary; `ib` its band rows (_h, band_no, band_val). The pigeonhole
    guard lives HERE so every caller — in-memory, persisted-index, or
    future — inherits it (an invalid combination silently returns false
    negatives otherwise: a pair differing by one bit per band shares no
    band)."""
    if n_bands <= radius:
        raise ValueError(
            f"pigeonhole recall needs n_bands > radius "
            f"(got n_bands={n_bands}, radius={radius})"
        )
    b_members = batch.select(
        F.col(id_col).alias("_bid"), F.col(hash_col).alias("_bh")
    )
    # 2. banded batch x index candidate hash pairs. The equi-join runs
    # on the SINGLE combined band_key (= band_no * 2^width + band_val,
    # injective — _band_key) rather than the (band_no, band_val) pair:
    # identical join semantics, but a single key is what lets the
    # persisted index co-partition WITHOUT an Exchange (Spark requires
    # the bucketing to cover ALL join keys for a shuffle-free join) and
    # what makes single-column bucket pruning possible on the probe's
    # IN-filter. The persisted band table stores band_key directly; the
    # in-memory path derives it from _band_rows in lockstep.
    bb = _with_band_key(
        _band_rows(b_members.select(F.col("_bh").alias("_h")).distinct(),
                   "_h", n_bands, hash_bits),
        n_bands, hash_bits,
    )
    if "band_key" not in ib.columns:
        ib = _with_band_key(ib, n_bands, hash_bits)
    if bucket_cap is not None:
        # band_key <-> (band_no, band_val) is a bijection, so admission
        # groups and ordering are IDENTICAL to the historical two-column
        # partitioning
        bb = _capped_bucket_admission(
            bb, ["band_key"], F.col("_h"), F.col("_h"), bucket_cap
        )
        ib = _capped_bucket_admission(
            ib, ["band_key"], F.col("_h"), F.col("_h"), bucket_cap
        )
    cand = (
        bb.select(F.col("_h").alias("_bh"), "band_key")
        .join(
            ib.select(F.col("_h").alias("_ih"), "band_key"),
            ["band_key"],
        )
        .select("_bh", "_ih")
        .distinct()
    )
    # 3. exact verify + hash-level reduce
    verified = cand.withColumn(
        "_ham",
        F.bit_count(F.col("_bh").bitwiseXOR(F.col("_ih"))).cast("int"),
    ).filter(F.col("_ham") <= radius)
    if corpus_prune_limit is not None:
        # persisted-index path (r10): the verify needs NO table at all
        # (the banded hashes ARE the values — bit_count runs on the
        # candidate pair), so the summary join only fetches min ids for
        # the few hashes that actually matched within radius. Collect
        # that tiny set and push it into the bucketed summary scan as an
        # IN-filter: bucket pruning + row-group skipping make the
        # summary read match-sized instead of corpus-sized. Falls back
        # to the full bucketed scan above the limit (a probe matching
        # >limit distinct index hashes is already candidate-dominated).
        # Value-identical: summary rows for unmatched hashes cannot
        # survive the inner join. localCheckpoint (lazy) runs the
        # band+verify subplan ONCE for both the hit-list collect and the
        # final join; blocks are batch-sized and ContextCleaner-reclaimed
        # (no session-lifetime cache entry).
        verified = verified.localCheckpoint(eager=False)
        hits = verified.select("_ih").distinct().take(corpus_prune_limit + 1)
        if len(hits) <= corpus_prune_limit:
            vals = [r[0] for r in hits]
            idx_min = idx_min.filter(
                _in_literals("_ih", vals)
            )
    if exclude_self:
        # per-DOC reduce over NON-SELF evidence (r10 ADVICE): the
        # historical post-filter cleared the whole output row when the
        # reduced match was (own id, Hamming 0), which also erased a
        # genuine different-hash within-radius match whose min id lost
        # the MIN to the doc's own id. Dropping the (own id, Hamming 0)
        # PAIRS before the aggregates keeps other-doc evidence alive.
        # Cost shape: the member stamp join is the same one step 4 pays;
        # only the aggregate moves after it, keyed per doc — batch-sized
        # (per-doc fan-out = matched index hashes within radius, a
        # radius-bounded handful), never corpus-sized. The residual
        # same-hash-second-member miss (the summary stores only the MIN
        # member per hash) remains — callers probing arbitrary
        # overlapping corpora use the member-level
        # incremental_hamming_matches(exclude_self=True).
        pairs = b_members.join(
            verified.join(idx_min, "_ih"), "_bh"
        ).filter(
            ~((F.col("_i_min") == F.col("_bid")) & (F.col("_ham") == 0))
        )
        best_per_doc = pairs.groupBy("_bid").agg(
            F.min("_ham").alias("best_hamming"),
            F.min("_i_min").alias("match_id"),
        )
        return (
            b_members.select("_bid").join(best_per_doc, "_bid", "left")
            .select(
                F.col("_bid").alias(id_col),
                F.col("match_id").isNotNull().alias("is_dup"),
                "match_id",
                "best_hamming",
            )
        )
    best_per_hash = (
        verified.join(idx_min, "_ih")
        .groupBy("_bh")
        .agg(
            F.min("_ham").alias("best_hamming"),
            F.min("_i_min").alias("match_id"),
        )
    )
    # 4. one member stamp
    return (
        b_members.join(best_per_hash, "_bh", "left")
        .select(
            F.col("_bid").alias(id_col),
            F.col("match_id").isNotNull().alias("is_dup"),
            "match_id",
            "best_hamming",
        )
    )


def build_hamming_index(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    table_name: str,
    n_bands: int = 4,
    hash_bits: int = 64,
    buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize the incremental Hamming probe's index as write-once
    tables — the production form the probe docstrings reference (the
    corpus is hashed ONCE when it lands in the lake; daily probes read
    the summary instead of re-hashing the corpus):

      <table>_summary : per-DISTINCT-hash MIN member id, bucketed AND
                        sorted by the hash so the verify join reads
                        co-located buckets;
      <table>_bands   : the summary's band rows as (_h, band_key),
                        bucketed and sorted by the SINGLE combined
                        band_key (r10, _with_band_key: band_no * 2^width
                        + band_val, injective) — the probe's equi-join
                        runs on band_key alone, so the bucketed scan
                        co-locates it with zero corpus-side Exchange
                        (Spark requires the bucketing to cover ALL join
                        keys), and the single bucket column is what lets
                        Spark do genuine BUCKET PRUNING when the probe
                        pushes the batch's band keys in as an IN-filter
                        (probe_hamming_index prune=True): only the
                        bucket files holding the batch's band values are
                        read at all, which removes the corpus-linear
                        band scan the r9 100x rehearsal measured;
      <table>_meta    : one row (n_bands, hash_bits) — probe_hamming_index
                        validates against it so a parameter drift between
                        build and probe raises instead of silently
                        missing pairs.

    Append-only maintenance: re-run with mode='append' over the DELTA
    only — summary/band rows for the new items append to the same
    tables. Correctness under append: the probe's per-hash reduce takes
    MIN over ALL summary rows joining a hash, and MIN of per-build mins
    equals the global min (the canonical-min policy is monotone under
    union); duplicate band rows across builds collapse in the
    candidate distinct. Band parameters are validated against the
    existing meta row on append (a drift would corrupt the banding),
    and the meta table is left untouched."""
    if hash_bits % n_bands != 0:
        raise ValueError(
            f"n_bands={n_bands} must tile hash_bits={hash_bits} exactly"
        )
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite/append, not {mode!r}")
    spark = hashed.sparkSession
    if mode == "append":
        meta = _read_index_meta(
            spark, table_name, ("n_bands", "hash_bits"), "Hamming"
        )
        if (int(meta["n_bands"]), int(meta["hash_bits"])) != (
            n_bands, hash_bits,
        ):
            raise ValueError(
                f"append with n_bands={n_bands}/hash_bits={hash_bits} "
                f"does not match the existing index "
                f"({meta['n_bands']}/{meta['hash_bits']})"
            )
        # bucket count is a property of the EXISTING table, not a knob:
        # read it back so an append can never collide with the layout
        # (Spark rejects a mismatched bucketBy append, but only after
        # doing the work — and a caller's default would do exactly that
        # on any index built with a non-default count)
        from dsacord_spark.sinks.parquet import describe_bucket_spec

        buckets = describe_bucket_spec(
            spark, f"{table_name}_bands"
        )["n_buckets"]
    if mode == "overwrite":
        # crash-consistency (r9 ADVICE): drop ALL THREE tables up front
        # and write meta LAST, so an overwrite build that dies mid-way
        # leaves a set with NO meta — every probe then raises a
        # rebuild-me diagnostic (_read_index_meta) instead of silently
        # probing a mixed-generation index (stale meta mis-bands the
        # batch; bands/summary from different generations silently miss)
        for s in ("summary", "bands", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {table_name}_{s}")
    members = hashed.select(
        F.col(id_col).alias("_iid"), F.col(hash_col).alias("_ih")
    )
    idx_min = members.groupBy("_ih").agg(F.min("_iid").alias("_i_min"))
    # bands BEFORE summary: update_corpus_index's retry guard anti-joins
    # the batch against the SUMMARY's ids, so an append that crashes
    # between the two writes must leave the summary the incomplete one —
    # the retry is then not filtered out and re-appends both (duplicate
    # band rows collapse in the probe's candidate distinct; duplicate
    # summary rows are absorbed by the per-hash MIN). The reverse order
    # would filter the retry on the already-written summary and leave
    # the delta's band rows missing forever (a silent recall hole).
    bands = _with_band_key(
        _band_rows(
            idx_min.select(F.col("_ih").alias("_h")), "_h", n_bands,
            hash_bits,
        ),
        n_bands, hash_bits,
    ).select("_h", "band_key")
    (
        bands.write.format("parquet").mode(mode)
        .bucketBy(buckets, "band_key").sortBy("band_key")
        .saveAsTable(f"{table_name}_bands")
    )
    (
        idx_min.write.format("parquet").mode(mode)
        .bucketBy(buckets, "_ih").sortBy("_ih")
        .saveAsTable(f"{table_name}_summary")
    )
    if mode == "overwrite":
        spark.createDataFrame(
            [(n_bands, hash_bits)], "n_bands int, hash_bits int"
        ).write.format("parquet").mode("overwrite").saveAsTable(
            f"{table_name}_meta"
        )


def probe_hamming_index(
    spark,
    table_name: str,
    batch: DataFrame,
    id_col: str,
    hash_col: str,
    radius: int = 3,
    bucket_cap: int | None = None,
    exclude_self: bool = False,
    prune: bool | None = None,
) -> DataFrame:
    """incremental_hamming_matches served from a build_hamming_index
    table set: identical output (shared _hamming_probe_tail), but the
    index side is the PRE-HASHED summary/band tables — a daily probe
    never rescans or re-hashes the corpus, and the band equi-join reads
    the bucketed band table in place. Band parameters come from the
    index's own meta table (a drift between build and probe raises).

    `prune` pushes the batch's own band keys into the index band-table
    scan as an IN-filter: a daily batch touches a tiny subset of band
    buckets, the band table is bucketed by the single band_key, and
    Spark's bucket pruning then skips every bucket file that holds none
    of the batch's keys (SelectedBucketsCount in the plan) — the band
    scan becomes ~batch-sized instead of corpus-sized, and the summary
    join is likewise IN-filtered down to the hashes that actually
    matched. Default None = AUTO: prune only when the index exceeds
    _PRUNE_AUTO_MIN_BYTES, because the machinery has a fixed ~10s cost
    (driver collects + thousand-literal plan compile) that loses to a
    plain columnar scan on small indexes (measured crossover —
    scripts/probe_scale_rehearsal.py). Value-identical either way:
    a band row whose key no batch hash carries can never equi-join,
    and capped admission ranks within a band bucket, which the filter
    keeps or drops whole.

    `exclude_self=True` drops (own id, Hamming 0) evidence PAIRS before
    the match reduce — the retry-idempotence guard for the daily loop (a
    replayed batch whose kept docs were already appended must not drop
    them all as self-duplicates). Since r11 the exclusion is
    pre-aggregate (the probe tail reduces per doc over non-self pairs),
    so a doc that matches both ITSELF and a genuine different-hash
    within-radius stranger reports the stranger even when the doc's own
    id would have won the MIN (the r10 post-filter cleared that row
    entirely — r10 ADVICE). The index stores a per-hash MIN-id summary,
    not members, so the one remaining miss is own-id-min hiding a SECOND
    same-hash member (unreachable under the daily loop's append
    contract: update_corpus_index appends only kept docs, at most one
    per Hamming cluster, disjoint from the prior corpus) — use the
    member-level incremental_hamming_matches(exclude_self=True) when
    probing arbitrary overlapping corpora."""
    return _hamming_index_prober(spark, table_name, prune)(
        batch, id_col, hash_col, radius, bucket_cap, exclude_self
    )


def _hamming_index_prober(spark, table_name: str, prune: bool | None = None):
    """probe_hamming_index in two steps. This call is the once-per-index
    step: it reads the meta row and makes the auto-prune decision from
    the tables' bytes. It returns the per-batch step, which builds the
    probe plan and resolves the index tables at each call, so an append
    made between calls is seen. A stream probe runs the first step once
    and the second per micro-batch."""
    meta = _read_index_meta(
        spark, table_name, ("n_bands", "hash_bits"), "Hamming"
    )
    n_bands, hash_bits = int(meta["n_bands"]), int(meta["hash_bits"])
    if prune is None:
        prune = (
            _table_location_bytes(spark, f"{table_name}_bands")
            + _table_location_bytes(spark, f"{table_name}_summary")
        ) >= _PRUNE_AUTO_MIN_BYTES

    def probe(batch: DataFrame, id_col: str, hash_col: str, radius: int,
              bucket_cap: int | None, exclude_self: bool = False):
        ib = spark.table(f"{table_name}_bands")
        if prune:
            rows = _with_band_key(
                _band_rows(
                    batch.select(F.col(hash_col).alias("_h")).distinct(),
                    "_h", n_bands, hash_bits,
                ),
                n_bands, hash_bits,
            ).select("band_key").distinct().take(_PROBE_PRUNE_LIMIT + 1)
            if len(rows) <= _PROBE_PRUNE_LIMIT:
                vals = [r[0] for r in rows]
                # empty batch: no band can match (isin() rejects empty)
                ib = ib.filter(
                    _in_literals("band_key", vals)
                )
        return _hamming_probe_tail(
            batch, id_col, hash_col,
            spark.table(f"{table_name}_summary"),
            ib,
            n_bands, radius, hash_bits, bucket_cap,
            corpus_prune_limit=_PROBE_PRUNE_LIMIT if prune else None,
            exclude_self=exclude_self,
        )

    return probe


def _read_index_meta(spark, table_name: str, expected: tuple, kind: str):
    """Read and shape-check a persisted index's meta row: probing a
    table set built for the OTHER index family would otherwise die on a
    cryptic missing-field error (a Hamming meta carries
    n_bands/hash_bits, a MinHash meta n/n_perm/bands). A MISSING or
    EMPTY meta table raises the same diagnostic-shaped error instead of
    an opaque AnalysisException/AttributeError (r9 ADVICE): the builders
    drop all three tables first and write meta LAST, so 'meta absent' is
    precisely 'a build crashed mid-write — rebuild with
    mode=overwrite', never a silently-mixed-generation index."""
    try:
        meta = spark.table(f"{table_name}_meta").first()
    except Exception as exc:
        raise ValueError(
            f"{table_name} has no readable _meta table — either it was "
            f"never built, or an overwrite build crashed before its "
            f"final meta write; rebuild with mode='overwrite' "
            f"({type(exc).__name__}: {exc})"
        ) from exc
    if meta is None:
        raise ValueError(
            f"{table_name}_meta is empty — the index build did not "
            f"complete; rebuild with mode='overwrite'"
        )
    missing = [c for c in expected if c not in meta.asDict()]
    if missing:
        raise ValueError(
            f"{table_name} is not a {kind} index (meta row lacks "
            f"{missing}; found columns {sorted(meta.asDict())}) — "
            f"it was probably built for the other method"
        )
    return meta


def incremental_minhash_matches(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """INCREMENTAL near-dup probe, Jaccard edition: match a NEW batch of
    documents against an EXISTING corpus at n-gram Jaccard >= threshold
    without re-banding the corpus against itself — the MinHash twin of
    incremental_hamming_matches (daily crawl vs accumulated lake, fuzzy
    text semantics instead of a fixed Hamming radius).

    Pipeline (same hash-sized discipline as the Hamming probe):
      1. MinHash signatures per side (the signature builder's internal
         shingle index persists; the verify stage's plan-identical
         re-derivation is served from that same cache entry);
      2. band each side with minhash_bands (THE one banding definition)
         and equi-join batch x index band rows — candidates bounded by
         shared band buckets, never |batch| x |index|; `bucket_cap`
         admission per side for saturated buckets;
      3. exact Jaccard verify on candidates only (shingle-hash
         intersection over the two shingle indexes — LSH precision is 1,
         only recall depends on band parameters);
      4. reduce per batch doc (min matching index id, max Jaccard,
         independent aggregates) and stamp every batch row.

    Output: one row per batch doc — (id_col, is_dup boolean,
    match_id nullable, best_jaccard nullable double rounded 6dp)."""
    b_sig = minhash_signatures(batch, id_col, text_col, n, n_perm)
    i_sig = minhash_signatures(index, id_col, text_col, n, n_perm)
    bb = minhash_bands(b_sig, n_perm, bands)
    ib = minhash_bands(i_sig, n_perm, bands)
    bngr = _shingle_index(batch, id_col, text_col, n)
    ingr = _shingle_index(index, id_col, text_col, n)
    return _minhash_probe_tail(
        batch, id_col, bb, ib, threshold, bucket_cap,
        verify=lambda cand: _jaccard_verify(
            cand, "bdoc", "idoc", bngr, ingr, threshold
        ),
        exclude_self=exclude_self,
    )


def _minhash_probe_tail(
    batch: DataFrame,
    id_col: str,
    bb: DataFrame,
    ib: DataFrame,
    threshold: float,
    bucket_cap: int | None,
    verify,
    exclude_self: bool = False,
) -> DataFrame:
    """Candidate-join / verify / reduce / stamp stages of the incremental
    MinHash probe, shared by the in-memory path
    (incremental_minhash_matches) and the persisted-index path
    (probe_minhash_index) so banding admission, candidate generation and
    the per-doc reduce live in exactly one place — the Jaccard twin of
    _hamming_probe_tail. `bb`/`ib` are the batch/index band rows
    (doc, band_idx, band_hash); `verify(cand) -> (bdoc, idoc, jaccard)`
    supplies the exact-Jaccard check over the candidate pairs — the
    row-form _jaccard_verify for the in-memory path, the array-form
    _jaccard_verify_arrays for the persisted one (two formulations of
    ONE arithmetic, equality pinned in tests/test_round9_properties.py).

    `exclude_self=True` drops candidate pairs where the index doc IS the
    batch doc (bdoc == idoc) before the verify — exact at the member
    level for both paths, because the index side of the candidate join
    carries real per-doc band rows (unlike the Hamming index's min-id
    summary). This is the retry-idempotence guard for the daily curate
    loop: a replayed batch whose kept docs were appended to the index
    must not match every doc to itself at Jaccard 1.0."""
    # the candidate equi-join and capped admission key on band_hash
    # ALONE (r10): minhash_bands md5-prefixes each band's slice with its
    # band index, so band_hash already determines band_idx — the single
    # key gives identical buckets and pairs (modulo 64-bit md5
    # collisions, which the exact-Jaccard verify absorbs), and is what
    # lets the persisted index's band_hash-bucketed table serve the join
    # with zero Exchange AND bucket-prune on the probe's IN-filter
    # (Spark needs the bucketing to cover ALL join keys).
    if bucket_cap is not None:
        bb = _capped_bucket_admission(
            bb, ["band_hash"],
            F.xxhash64(F.col("doc")), F.col("doc"), bucket_cap,
        )
        ib = _capped_bucket_admission(
            ib, ["band_hash"],
            F.xxhash64(F.col("doc")), F.col("doc"), bucket_cap,
        )
    cand = (
        bb.select(F.col("doc").alias("bdoc"), "band_hash")
        .join(
            ib.select(F.col("doc").alias("idoc"), "band_hash"),
            ["band_hash"],
        )
        .select("bdoc", "idoc")
        .distinct()
    )
    if exclude_self:
        # before the verify, so self pairs pay no intersection join
        cand = cand.filter(F.col("bdoc") != F.col("idoc"))
    # reuse across multiple consumers is the VERIFY's concern now: the
    # persisted-probe path's verify checkpoints cand itself before its
    # bounded collects and rebuilds it as a local relation when the
    # pairs fit (probe_minhash_index), so the tail no longer forces a
    # materialization every pruned probe (r11 verdict item 5)
    jac = verify(cand)
    best = jac.groupBy("bdoc").agg(
        F.min("idoc").alias("match_id"),
        F.round(F.max("jaccard"), 6).alias("best_jaccard"),
    )
    return (
        batch.select(F.col(id_col).alias("bdoc"))
        .join(best, "bdoc", "left")
        .select(
            F.col("bdoc").alias(id_col),
            F.col("match_id").isNotNull().alias("is_dup"),
            "match_id",
            "best_jaccard",
        )
    )


def _doc_shingle_arrays(ngr: DataFrame) -> DataFrame:
    """(doc, hgs sorted array<long>, sz) from a (doc, hg) shingle frame —
    the per-doc set form the persisted index stores so the verify join
    needs only the single equi-key `doc` (which the doc-bucketed table
    layout satisfies with ZERO shuffle of the corpus side; the row-form
    (doc, hg) join keys can't be served by any single-column bucketing
    — r9 plan audit: the shingle table was re-shuffled on every probe).
    sz is the row count, identical to the row-form size aggregate
    (shingle rows are distinct per doc by construction)."""
    return ngr.groupBy("doc").agg(
        F.sort_array(F.collect_set("hg")).alias("hgs"),
        F.count(F.lit(1)).alias("sz"),
    )


def _jaccard_verify_arrays(
    cand: DataFrame,
    a_col: str,
    b_col: str,
    arr_a: DataFrame,
    arr_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from per-doc shingle
    ARRAYS (_doc_shingle_arrays frames): intersection via
    array_intersect, same inter/(sz_a+sz_b-inter) arithmetic as the
    row-form _jaccard_verify (the prefix-filter verifier uses the same
    array form — _ngram_jaccard_prefix). Each side is ONE single-key doc
    equi-join, so a doc-bucketed corpus side co-locates with no
    Exchange. Returns (a_col, b_col, jaccard)."""
    aa = arr_a.select(
        F.col("doc").alias(a_col), F.col("hgs").alias("__set_a"),
        F.col("sz").alias("sz_a"),
    )
    ab = arr_b.select(
        F.col("doc").alias(b_col), F.col("hgs").alias("__set_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cand.join(aa, a_col)
        .join(ab, b_col)
        .withColumn(
            "inter", F.size(F.array_intersect("__set_a", "__set_b"))
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a_col, b_col, "jaccard")
    )


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table_name: str,
    n: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize the incremental MinHash probe's index as write-once
    tables — the Jaccard twin of build_hamming_index (r8 verdict ask #1:
    the daily fuzzy-text probe is the production dedup shape, and the
    in-memory path re-shingles and re-hashes the whole corpus per run):

      <table>_bands    : per-doc MinHash band rows (doc, band_idx,
                         band_hash), bucketed and sorted by band_hash
                         ALONE (r10) — band_hash already encodes its
                         band_idx (minhash_bands prefixes the slice with
                         the band index before hashing), so single-
                         column bucketing still co-locates the two-key
                         candidate equi-join with zero corpus Exchange,
                         and gives Spark genuine BUCKET PRUNING when
                         probe_minhash_index (prune=True) pushes the
                         batch's band hashes in as an IN-filter: only
                         the bucket files holding the batch's band
                         values are read at all;
      <table>_shingles : per-doc shingle SETS (doc, hgs sorted
                         array<long>, sz), bucketed by doc — the
                         exact-Jaccard verify is then ONE single-key doc
                         equi-join per side, which the bucketing
                         co-locates with zero corpus shuffle
                         (plan-pinned; the row-form (doc, hg) layout's
                         two-key verify join defeats any single-column
                         bucketing and re-shuffled the corpus every
                         probe — r9 plan audit);
      <table>_meta     : one row (n, n_perm, bands) —
                         probe_minhash_index reads its parameters from
                         here, and a drift between build and probe (or
                         between builds on append) raises instead of
                         silently missing pairs.

    The shingle frame is computed ONCE and persisted for the build's
    two writes (signature bands and doc sets both derive from it); the
    signature/band construction is the shared definition
    (_minhash_sig_from_ngr / minhash_bands — the minhash lockstep rule).

    Append-only maintenance: re-run with mode='append' over the DELTA
    only. Both data tables are PER-DOC rows, so the append contract
    is disjoint doc ids (a doc lands in the lake once — the daily-ingest
    shape); re-appending an existing doc id would double its shingle
    rows and corrupt sizes and intersections, unlike the Hamming index's
    per-hash MIN summary (monotone under union). Band parameters are
    validated against the existing meta row on append; the meta table is
    left untouched.

    Ref parity: the reference dedups exact rows via upsert against a
    persistent table (/root/reference/utils.go:99-104); this is the
    persistent-index generalization for fuzzy text at lake scale."""
    if n_perm % bands != 0:
        raise ValueError(f"bands={bands} must tile n_perm={n_perm} exactly")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite/append, not {mode!r}")
    spark = df.sparkSession
    if mode == "append":
        meta = _read_index_meta(
            spark, table_name, ("n", "n_perm", "bands"), "MinHash"
        )
        if (int(meta["n"]), int(meta["n_perm"]), int(meta["bands"])) != (
            n, n_perm, bands,
        ):
            raise ValueError(
                f"append with n={n}/n_perm={n_perm}/bands={bands} does "
                f"not match the existing index "
                f"({meta['n']}/{meta['n_perm']}/{meta['bands']})"
            )
        # bucket count comes from the existing table, never the caller
        # (same rationale as build_hamming_index)
        from dsacord_spark.sinks.parquet import describe_bucket_spec

        buckets = describe_bucket_spec(
            spark, f"{table_name}_bands"
        )["n_buckets"]
    if mode == "overwrite":
        # crash-consistency (r9 ADVICE): drop-first + meta-LAST, so a
        # build that dies mid-way leaves no meta and every probe raises
        # a rebuild-me diagnostic (_read_index_meta) instead of reading
        # a mixed-generation index. For APPEND the write order is bands
        # then shingles, matched to update_corpus_index's retry guard
        # (anti-join on the SHINGLES doc ids): a crash between the two
        # appends leaves shingles the incomplete table, so a retried
        # append is not filtered out and re-appends both — duplicate
        # band rows collapse in the probe's candidate distinct, and the
        # shingles land exactly once.
        for s in ("bands", "shingles", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {table_name}_{s}")
    ngr = _shingle_frame(df, id_col, text_col, n).persist()
    try:
        (
            minhash_bands(_minhash_sig_from_ngr(ngr, n_perm), n_perm, bands)
            .write.format("parquet").mode(mode)
            .bucketBy(buckets, "band_hash").sortBy("band_hash", "band_idx")
            .saveAsTable(f"{table_name}_bands")
        )
        (
            _doc_shingle_arrays(ngr)
            .write.format("parquet").mode(mode)
            .bucketBy(buckets, "doc").sortBy("doc")
            .saveAsTable(f"{table_name}_shingles")
        )
    finally:
        ngr.unpersist()
    if mode == "overwrite":
        spark.createDataFrame(
            [(n, n_perm, bands)], "n int, n_perm int, bands int"
        ).write.format("parquet").mode("overwrite").saveAsTable(
            f"{table_name}_meta"
        )


def compact_index(spark, table_name: str, force: bool = False) -> dict:
    """Compact every bucketed table of a persisted probe index to ONE
    file per bucket (sinks/parquet.compact_bucketed_table), whichever
    family it is (Hamming: summary+bands; MinHash: bands+shingles; the
    one-row meta table is not bucketed and needs none). Daily appends
    add one file per bucket per day; after compaction — with
    spark.sql.legacy.bucketedTableScan.outputOrdering=true — the probes'
    sort-merge joins consume the sorted bucket files with NO per-
    partition Sort (plan-pinned in tests/test_round10_properties.py).
    Run it on the maintenance cadence, like the lake's
    compact_partitions.

    Interlock with streaming probes (r10 verdict item 4): a live
    stream_probe_* re-reads these tables every micro-batch, and a
    rewrite racing an in-flight probe plan can delete files that plan
    still references. While any stream in THIS process holds a lease on the
    index and is mid-batch, this call raises instead of rewriting.
    The supported mid-stream pattern is to compact from the stream's
    own `on_batch_start` hook — a batch boundary, where no probe plan
    is in flight, the lease is marked non-blocking, and the rewrite
    completes synchronously before the next batch's plan is built
    (pinned in tests/test_round11_properties.py). `force=True`
    overrides the check.

    Cross-PROCESS coordination (r12 verdict item 4): in-process leases
    cannot see a SECOND DRIVER compacting the same warehouse, so the
    rewrite additionally holds a filesystem maintenance marker beside
    the index's storage location (leases.fs_maintenance_marker): a
    concurrent compactor in another driver refuses with the holder's
    op/pid/host, a marker left by a CRASHED driver is taken over after
    its staleness window (the rename-aside swap keeps the data
    recoverable either way), and the marker is deleted on every exit —
    success or raise. `force=True` also takes the marker over."""
    from dsacord_spark import leases
    from dsacord_spark.sinks.parquet import compact_bucketed_table

    try:
        # the maintenance lease is held for the WHOLE rewrite and is
        # acquired atomically with the mid-batch check under the one
        # registry lock (r11 review: a check-then-rewrite gap let a
        # stream start between them); a stream attempting to start
        # while it is held is rejected by leases.stream_lease
        with leases.maintenance_lease(table_name, force=force):
            existing = [
                s for s in ("summary", "bands", "shingles")
                if spark.catalog.tableExists(f"{table_name}_{s}")
            ]
            if not existing:
                raise ValueError(
                    f"{table_name} has no index tables to compact — "
                    f"build it first (build_hamming_index / "
                    f"build_minhash_index)"
                )
            loc = _table_location(spark, f"{table_name}_{existing[0]}")
            if loc is None:
                # a metastore that reports no Location row cannot be
                # marker-coordinated; better a clear refusal than
                # _marker_path(None) dying on AttributeError
                raise ValueError(
                    f"{table_name}_{existing[0]} reports no storage "
                    f"Location — cannot place the cross-process "
                    f"maintenance marker; compact this index from a "
                    f"catalog that exposes table locations"
                )
            with leases.fs_maintenance_marker(
                spark, loc, f"compact_index({table_name})", force=force,
            ):
                stats = {
                    s: compact_bucketed_table(spark, f"{table_name}_{s}")
                    for s in existing
                }
    except leases._MaintenanceBlocked as blocked:
        raise RuntimeError(
            f"compact_index({table_name!r}) refused: "
            f"{blocked.n_blocking} live streaming probe(s) hold a lease "
            f"on this index and are mid-batch — a rewrite could delete "
            f"files an in-flight probe plan still reads. Compact from "
            f"the stream's on_batch_start hook (a safe batch boundary), "
            f"wait for the stream to drain, or pass force=True if you "
            f"know the readers are external."
        ) from None
    return stats


def probe_minhash_index(
    spark,
    table_name: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
    exclude_self: bool = False,
    prune: bool | None = None,
) -> DataFrame:
    """incremental_minhash_matches served from a build_minhash_index
    table set: identical output (shared _minhash_probe_tail), but the
    index side is the PRE-COMPUTED band/shingle-set tables — a daily
    probe shingles and hashes only the batch, never the corpus; the
    candidate equi-join and the verify's intersection join read the
    bucketed band/shingle tables in place (one columnar scan each, no
    re-shingling, no re-hashing, and no shuffle of the corpus side —
    the doc-bucketed layout co-locates the join; plan-pinned). Shingle
    width,
    permutation count and band count come from the index's own meta
    table (the build-time parameters are part of the index; a drifting
    probe parameter cannot silently change the banding).

    `exclude_self=True` drops self pairs (bdoc == idoc) at the candidate
    stage — exact at the member level (the index band/shingle tables are
    per-doc rows, unlike the Hamming summary), making a replayed daily
    batch probe cleanly against an index that already contains its own
    kept docs (retry idempotence, r9 verdict item 1).

    `prune` makes the whole probe ~batch-sized instead of corpus-sized
    by pushing runtime IN-filters into BOTH corpus-side scans: (a) the
    batch's band hashes into the band-table scan — the table is
    bucketed by band_hash alone, so Spark prunes whole bucket files
    that hold none of the batch's values (SelectedBucketsCount in the
    plan); (b) the candidate doc ids into the doc-bucketed shingle-set
    scan, once the pruned band join has produced them. Costs two small
    driver collects (|batch| x bands band hashes; the candidate PAIRS —
    which also become the final plan's local cand relation, r12), each
    guarded by _PROBE_PRUNE_LIMIT with fallback to the full bucketed
    scan. Default None = AUTO: prune only when the index exceeds
    _PRUNE_AUTO_MIN_BYTES — the machinery's fixed cost (two job waves
    of driver collects + thousand-literal plan compile; the r11
    checkpoint materialization is gone) loses to a plain columnar scan
    on small indexes (measured crossover —
    scripts/probe_scale_rehearsal.py). Value-identical either way: a
    band row whose hash the batch never produces cannot equi-join, a
    non-candidate doc cannot survive the verify's inner join, and
    capped admission ranks within a band bucket, which the filter keeps
    or drops whole."""
    return _minhash_index_prober(spark, table_name, prune)(
        batch, id_col, text_col, threshold, bucket_cap, exclude_self
    )[0]


def _minhash_index_prober(spark, table_name: str, prune: bool | None = None):
    """probe_minhash_index in two steps, as _hamming_index_prober: this
    call reads the meta row and makes the auto-prune decision once; the
    returned per-batch step builds the plan over the index tables as
    they are at each call. The step returns (matches, bngr): bngr is
    the persisted batch shingle frame the plan reads, for a caller that
    releases it once the matches are written."""
    meta = _read_index_meta(
        spark, table_name, ("n", "n_perm", "bands"), "MinHash"
    )
    n, n_perm, bands = int(meta["n"]), int(meta["n_perm"]), int(meta["bands"])
    if prune is None:
        prune = (
            _table_location_bytes(spark, f"{table_name}_bands")
            + _table_location_bytes(spark, f"{table_name}_shingles")
        ) >= _PRUNE_AUTO_MIN_BYTES

    def probe(batch: DataFrame, id_col: str, text_col: str,
              threshold: float, bucket_cap: int | None,
              exclude_self: bool = False):
        # the batch shingle frame serves both the signature aggregate
        # and the verify's batch-side arrays (_shingle_index persists it,
        # so the plan-identical reads share one cache entry)
        bngr = _shingle_index(batch, id_col, text_col, n)
        b_sig = _minhash_sig_from_ngr(bngr, n_perm)
        bb = minhash_bands(b_sig, n_perm, bands)
        ib = spark.table(f"{table_name}_bands")
        if prune:
            # bb feeds both the band-hash collect here and the candidate
            # join; checkpoint so the signature aggregate runs once
            bb = bb.localCheckpoint(eager=False)
            rows = bb.select("band_hash").distinct().take(
                _PROBE_PRUNE_LIMIT + 1
            )
            if len(rows) <= _PROBE_PRUNE_LIMIT:
                vals = [r[0] for r in rows]
                ib = ib.filter(
                    _in_literals("band_hash", vals)
                )

        def verify(cand: DataFrame) -> DataFrame:
            ab = spark.table(f"{table_name}_shingles")
            if prune:
                # the verify's corpus side is the shingle-set table —
                # the other corpus-sized scan. The one bounded collect
                # returns the candidate PAIRS (r12, r11 verdict item 5):
                # the doc ids for the shingle IN-filter derive
                # driver-side from the pairs, and cand is rebuilt as a
                # LOCAL relation, so the final wave plans entirely
                # against literals — no block-manager traffic between
                # the waves. When the PAIR count overflows but the
                # DISTINCT ids still fit (a batch of near-dups crowding
                # one index cluster — the r11 shape), fall back to the
                # id-only collect over the checkpointed cand: the
                # shingle scan stays pruned and the band join still ran
                # once (the lazy checkpoint below is materialized by
                # whichever collect runs first and reused by the verify
                # join). Only when ids overflow too does the probe take
                # the full bucketed shingle scan — candidate-dominated
                # by then. Value-identical in all three tiers
                # (non-candidate docs cannot survive the verify's inner
                # join).
                cand = cand.localCheckpoint(eager=False)
                pairs = cand.take(_PROBE_PRUNE_LIMIT + 1)
                if len(pairs) <= _PROBE_PRUNE_LIMIT:
                    ids = sorted({r["idoc"] for r in pairs})
                    cand = local_frame(spark, pairs, cand.schema)
                    ab = ab.filter(_in_literals("doc", ids))
                else:
                    ids = cand.select("idoc").distinct().take(
                        _PROBE_PRUNE_LIMIT + 1
                    )
                    if len(ids) <= _PROBE_PRUNE_LIMIT:
                        ab = ab.filter(
                            _in_literals("doc", [r[0] for r in ids])
                        )
            return _jaccard_verify_arrays(
                cand, "bdoc", "idoc", _doc_shingle_arrays(bngr), ab,
                threshold,
            )

        return _minhash_probe_tail(
            batch,
            id_col,
            bb,
            ib,
            threshold,
            bucket_cap,
            verify=verify,
            exclude_self=exclude_self,
        ), bngr

    return probe
