"""Connected-components equivalence: the driver union-find shortcut and
the distributed min-label-propagation loop must produce identical
(doc_id, cluster_id) labelings — both against each other and against the
catalog's recursive-CTE oracle (covered by the sweep). Chains exercise
multi-round convergence; the threshold routing is pinned so neither path
silently disappears."""

from __future__ import annotations

from pyspark.sql import functions as F

from dsacord_spark.operators.dedup import (
    _driver_union_find,
    _propagate_min_labels,
    duplicate_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long").withColumn(
        "jaccard", F.lit(1.0)
    )


PAIRS = [
    # a 6-node chain (diameter forces several propagation rounds)
    (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
    # a triangle
    (10, 11), (11, 12), (10, 12),
    # an isolated pair
    (20, 21),
]
EXPECTED = {
    1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
    10: 10, 11: 10, 12: 10,
    20: 20, 21: 20,
}


def _sym(spark):
    e = _edges(spark, PAIRS).select("doc_a", "doc_b")
    return e.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        e.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )


def test_union_find_labels(spark):
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in _driver_union_find(spark, _sym(spark)).collect()
    }
    assert got == EXPECTED


def test_propagation_loop_matches_union_find(spark):
    sym = _sym(spark).persist()
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in _propagate_min_labels(sym, max_iter=30).collect()
    }
    assert got == EXPECTED
    # _propagate_min_labels no longer unpersists on success (the star
    # fallback re-reads the materialized edges) — callers own the frame
    sym.unpersist()


def test_duplicate_components_takes_small_path(spark, monkeypatch):
    """Below the small-graph edge threshold duplicate_components routes to
    the driver union-find (same labels, no distributed loop)."""
    from dsacord_spark.operators import dedup

    calls = []
    union_find = dedup._driver_union_find

    def spy(spark_, sym):
        calls.append(sym)
        return union_find(spark_, sym)

    def no_loop(sym):
        raise AssertionError("distributed loop taken below the edge cap")

    monkeypatch.setattr(dedup, "_driver_union_find", spy)
    monkeypatch.setattr(dedup, "_distributed_components", no_loop)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_components(_edges(spark, PAIRS)).collect()
    }
    assert len(calls) == 1
    assert got == EXPECTED


def _chain_sym(spark, n: int):
    """Symmetric edge frame for the 1-2-3-...-n chain — the adversarial
    O(diameter) graph for label propagation."""
    e = spark.range(1, n).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()


def test_propagation_budget_fails_on_chain(spark):
    """A 120-node chain has diameter 119: min-label propagation moves the
    component minimum one hop per round, so the 30-round budget MUST
    exhaust (failing loudly was the historical contract)."""
    import pytest

    sym = _chain_sym(spark, 120)
    with pytest.raises(RuntimeError, match="did not converge"):
        _propagate_min_labels(sym, max_iter=30)
    sym.unpersist()


def test_large_small_star_chain_in_log_rounds(spark):
    """The r6-verdict ask, property-pinned: the SAME 120-node chain the
    propagation budget cannot finish converges under large-star/
    small-star within an O(log n) budget (12 rounds for n=120,
    log2 = 6.9 — propagation would need 119) with the identical
    component-min labeling."""
    from dsacord_spark.operators.dedup import _large_small_star

    sym = _chain_sym(spark, 120)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in _large_small_star(sym, max_iter=12).collect()
    }
    assert got == {i: 1 for i in range(1, 121)}
    sym.unpersist()


def test_auto_algorithm_falls_back_to_star(spark):
    """The distributed loop: propagation exhausts its budget on the chain,
    and the star fallback still returns the exact labeling."""
    from dsacord_spark.operators.dedup import _distributed_components

    sym = _chain_sym(spark, 120)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in _distributed_components(sym).collect()
    }
    assert got == {i: 1 for i in range(1, 121)}
    sym.unpersist()


def test_star_matches_union_find_on_random_graphs(spark):
    """Star contraction vs the exact driver union-find on seeded random
    multigraphs (self-loops included — the star loop must drop them)."""
    import random

    from dsacord_spark.operators.dedup import _large_small_star

    for seed in (1, 17, 99):
        rng = random.Random(seed)
        pairs = [
            (rng.randrange(150), rng.randrange(150)) for _ in range(120)
        ]
        e = spark.createDataFrame(pairs, "src long, dst long")
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).filter(F.col("src") != F.col("dst")).persist()
        uf = {
            r["doc_id"]: r["cluster_id"]
            for r in _driver_union_find(spark, sym).collect()
        }
        st = {
            r["doc_id"]: r["cluster_id"]
            for r in _large_small_star(sym).collect()
        }
        assert st == uf, f"seed {seed}"
        sym.unpersist()


def test_star_keeps_self_loop_only_nodes(spark):
    """A node whose only edge is (x, x) must still label itself under
    the star path, matching propagate/union-find (r7 review finding)."""
    from dsacord_spark.operators.dedup import _large_small_star

    e = spark.createDataFrame(
        [(1, 2), (7, 7)], "src long, dst long"
    )
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    got = {r["doc_id"]: r["cluster_id"]
           for r in _large_small_star(sym).collect()}
    assert got == {1: 1, 2: 1, 7: 7}
    sym.unpersist()


def test_star_string_ids_preserved(spark):
    """greatest/least order strings lexicographically — the star loop
    must keep non-numeric id types intact like the other two paths."""
    from dsacord_spark.operators.dedup import _large_small_star

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    out = _large_small_star(sym)
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    sym.unpersist()


def test_string_ids_preserved(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_a string, doc_b string"
    ).withColumn("jaccard", F.lit(1.0))
    out = duplicate_components(e)
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_prefix_and_naive_jaccard_agree(spark):
    """The adaptive router picks between two EXACT algorithms; pin that
    they produce identical pair sets on a corpus with common-shingle
    blowup (which routes to the prefix path) by comparing against the
    naive formulation run directly."""
    from pyspark.sql import functions as F

    from dsacord_spark.operators.dedup import (
        _ngram_jaccard_naive,
        _ngram_jaccard_prefix,
        _shingle_index,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta "),
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )
    ngr = _shingle_index(docs, "doc_id", "text", 3)
    dfreq = ngr.groupBy("hg").agg(F.count(F.lit(1)).alias("dfreq"))
    naive = sorted(map(tuple, _ngram_jaccard_naive(ngr, 0.9).collect()))
    prefix = sorted(map(tuple, _ngram_jaccard_prefix(ngr, dfreq, 0.9).collect()))
    assert naive == prefix
    assert naive, "corpus should contain duplicate groups"
    ngr.unpersist()


def test_compression_ratio_deterministic(spark, sf_dir):
    """zlib kernel determinism within one build: two runs, identical
    rounded stats (the structural catalog oracle can't see the raw
    ratio values — the golden + this pin do)."""
    from dsacord_spark.plans.curation import (
        text_compression_ratio, text_compression_ratio_stats,
    )

    a = sorted(map(tuple, text_compression_ratio_stats(spark, sf_dir).collect()))
    b = sorted(map(tuple, text_compression_ratio_stats(spark, sf_dir).collect()))
    assert a == b
    assert all(0.0 < r[2] <= 1.5 for r in a)  # mean_ratio sane
    # and the registered entry's structural boolean holds on real data
    entry = text_compression_ratio(spark, sf_dir).collect()
    assert entry and all(r["ratio_sane"] for r in entry)


def test_keep_canonical_covers_corpus_once(spark, sf_dir):
    """Every document appears exactly once; exactly one kept doc per
    cluster; canonical is the longest (ties: lowest id)."""
    from dsacord_spark.plans.composite import dedup_keep_canonical

    rows = dedup_keep_canonical(spark, sf_dir).collect()
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs))
    per_cluster: dict = {}
    for r in rows:
        per_cluster.setdefault(r["cluster_id"], []).append(r["kept"])
    assert all(sum(ks) == 1 for ks in per_cluster.values())


def test_small_route_result_is_local_relation(spark):
    """The driver union-find result is rebuilt as a local relation
    (LocalTableScan), not a pickled Python RDD that every downstream
    action re-runs through Python workers."""
    out = duplicate_components(_edges(spark, PAIRS))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == EXPECTED
