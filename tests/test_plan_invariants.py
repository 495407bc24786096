"""Automated enforcement of the PLANS.md physical-plan invariants.

PLANS.md documents, per audit, that the catalog contains no
CartesianProduct and no undeclared Python-eval nodes. Docs drift; this
test sweeps `explain(formatted)` for EVERY catalog entry (no execution —
plan compilation only) and asserts the invariants mechanically:

1. No `CartesianProduct` anywhere (unbounded NxM is never acceptable;
   broadcast nested-loop against declared-tiny sides is).
2. Python/Arrow eval nodes appear ONLY in entries that declare a Python
   kernel (multimodal decoders, the UDX surface, vectorized
   similarity/ANN kernels, streaming stateful entries) — everything else
   must stay fully JVM-side for whole-stage codegen.
3. Every entry's plan must contain at least one parquet scan of the
   sf_dir (guards against an entry silently computing from literals).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from dsacord_spark.plans.catalog import specs

# Entries DECLARED to run a Python kernel (Arrow-batched; the slow path
# used only where built-ins cannot express the semantics).
_PYTHON_KERNEL_OK = {
    # multimodal decode / transform (binary media needs Python)
    "multimodal_decode_meta",
    "multimodal_audio_meta",
    "multimodal_video_meta",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_binary_stats",
    "multimodal_phash_dedup",  # pixel decode + dHash kernel
    "multimodal_phash_clusters",  # same dHash kernel, cluster-mode output
    "multimodal_audio_fingerprint_dedup",  # PCM decode + envelope hash
    "multimodal_video_fingerprint_dedup",  # AVI demux + frame hash
    "text_compression_ratio",  # zlib kernel
    # UDX surface (the POINT of these entries is the Python UDF API)
    "udtf_sentence_split",
    "udaf_grouped_median",
    "grouped_map_percentile",
    # vectorized numpy block kernels
    "knn_label_accuracy",
    "ann_ivf_topk_blas",
    "ann_ivf_kmeans_topk",
    "embed_dim_redundancy_topk",  # per-task int64 Gramian (mapInArrow)
    # streaming stateful (applyInPandasWithState sessionizer)
    "session_stateful",
}

# Streaming entries execute through run_bounded_stream/sessionize_bounded
# (they stage data and run a real stream when CALLED); their "plan" is a
# driver-side recipe, not a single compilable query — explain() would
# trigger execution. Audit them by module instead.
_STREAMING_PREFIX = ("stream_", "session_stateful")


def _plans(spark, sf_dir):
    # an entry's plan reads the frames that earlier entries persisted:
    # start from an empty cache so that earlier test modules do not
    # change what the plans show
    spark.catalog.clearCache()
    out = {}
    for name, spec in specs().items():
        if name.startswith(_STREAMING_PREFIX[0]) or name in (
            "session_stateful",
        ):
            continue
        df = spec.fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        qe = df._jdf.queryExecution()
        out[name] = {
            "df": df,
            "fmt": buf.getvalue(),
            "simple": qe.executedPlan().toString(),
            "logical": _logical_tree(spark, qe.optimizedPlan()),
            "schema": df.schema,
        }
    return out


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir):
    return _plans(spark, sf_dir)


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [
        n for n, p in all_plans.items() if "CartesianProduct" in p["fmt"]
    ]
    assert not offenders, offenders


def test_python_nodes_only_where_declared(all_plans):
    pat = re.compile(
        r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"
        r"|AggregateInPandas|PythonMapInArrow"
    )
    offenders = {
        n: sorted(set(pat.findall(p["fmt"])))
        for n, p in all_plans.items()
        if pat.search(p["fmt"]) and n not in _PYTHON_KERNEL_OK
    }
    assert not offenders, (
        f"undeclared Python eval nodes: {offenders} — either push the "
        "logic into built-in functions or add the entry to "
        "_PYTHON_KERNEL_OK with a justification"
    )


# Entries whose final plan legitimately contains no parquet scan:
# s1_url_generation materializes a date-range sequence (the reference's
# URL generator takes no table input — main.go:146-154); dedup_components
# returns the materialized component table (iterative label propagation /
# union-find runs at call time, the result is a local checkpoint).
_NO_SCAN_OK = {"s1_url_generation", "dedup_components"}


def test_every_plan_scans_input(all_plans):
    no_scan = [
        n
        for n, p in all_plans.items()
        if "Scan parquet" not in p["fmt"]
        and "BatchScan" not in p["fmt"]
        and n not in _NO_SCAN_OK
    ]
    assert not no_scan, no_scan


def test_no_nested_columns_in_catalog_outputs(all_plans):
    """Driver-canonicalizer contract: catalog outputs hold SCALAR cells
    only. The round-4 harness crashed (`unhashable type: 'list'`) when
    multimodal_decode_meta/audio_meta exposed raw array<float> feature
    columns — pandas sort_values can't canonicalize object-of-list
    Series. Arrays/maps stay internal (decode_* keeps typed vectors);
    registered entries must flatten them (e.g. _feature_str's 6dp
    rendering)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {
        n: [f.name for f in p["schema"].fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]
        for n, p in all_plans.items()
        if any(isinstance(f.dataType, (ArrayType, MapType, StructType))
               for f in p["schema"].fields)
    }
    assert not offenders, (
        f"nested driver-visible columns: {offenders} — serialize to a "
        "deterministic string (see plans/advanced.py::_feature_str)"
    )


# --- invariant 4: single-partition funnels must be bounded -----------------
#
# An `Exchange SinglePartition` moves EVERYTHING in its subtree through
# one task — fine when what flows is already reduced (a keyless
# aggregate's partials, a LIMIT, a broadcast-declared-tiny side), fatal
# when raw table rows flow through it (the round-3 verdict's
# events_user_copresence_topk / ltv-decile findings: an unpartitioned
# window or rank over an unreduced frame is the plan shape that dies
# first at 100x). Mechanically: on every root-to-scan path BELOW a
# SinglePartition exchange there must be at least one REDUCING node —
# an Aggregate, a Limit/TakeOrdered, or a BroadcastExchange.

# ReusedExchange only counts when it reuses a BroadcastExchange — a
# reused SHUFFLE exchange reduces nothing (same rule as _STRONG_BOUND)
_REDUCING = re.compile(
    r"^(HashAggregate|SortAggregate|ObjectHashAggregate|LocalLimit"
    r"|GlobalLimit|TakeOrderedAndProject|CollectLimit|BroadcastExchange"
    r"|LocalTableScan|Range\b)"
    r"|^ReusedExchange\b.*BroadcastExchange"
)
_SCAN = re.compile(r"^(BatchScan|FileScan|Scan parquet|InMemoryTableScan)")


def _tree(simple: str):
    """Parse executedPlan().toString() indentation into (depth, name) and
    children adjacency. Each tree level is 3 chars of prefix."""
    nodes = []
    for ln in simple.splitlines():
        m = re.match(r"^([ :+\-|]*?)(\*?)\s*([A-Za-z].*)$", ln)
        if not m or not m.group(3):
            continue
        depth = len(m.group(1)) // 3
        name = m.group(3).lstrip("* ")
        nodes.append((depth, name))
    children: dict[int, list[int]] = {i: [] for i in range(len(nodes))}
    stack: list[int] = []
    for i, (d, _) in enumerate(nodes):
        while stack and nodes[stack[-1]][0] >= d:
            stack.pop()
        if stack:
            children[stack[-1]].append(i)
        stack.append(i)
    return nodes, children


def _unbounded_scan_paths(nodes, children, root: int) -> bool:
    """True if some path root->leaf hits a scan with no reducing node."""

    def walk(i: int) -> bool:
        name = nodes[i][1]
        if _REDUCING.match(name):
            return False  # this branch is bounded from here down
        if _SCAN.match(name):
            return True
        return any(walk(c) for c in children[i])

    return any(walk(c) for c in children[root])


# --- invariant 5: self-joins must be bounded or declared -------------------
#
# The r5 verdict's manual audit caught an unbounded self-join shape (the
# perceptual-hash joiner's duplicate-hash hot bucket) that no mechanical
# invariant guarded. This gate turns that audit into CI: any join whose
# BOTH sides carry rows of the SAME base relation with no strong bound
# (limit / broadcast hint / keyless agg / local rows) on the path is a
# raw-by-raw self-join and MUST carry an entry here declaring why its
# output is bounded. New entries with an undeclared self-join fail this
# test.
#
# The gate reads the OPTIMIZED LOGICAL plan. The physical plan it read
# before made broadcast-vs-shuffle choices from size estimates, so its
# verdict moved with the host and the data (r10, r11 and r12 each
# flipped an entry; a 4-CPU host then planned
# dedup_incremental_probe_selfsafe's member stamp as a sort-merge join
# and failed the gate on nothing that had changed). The logical plan is
# settled before that choice: only an explicit broadcast hint counts as
# a bound, and test_self_join_verdict_ignores_broadcast_threshold pins
# the verdict across autoBroadcastJoinThreshold values. Joins inside a
# cached frame's plan and inside subqueries are checked as well (the
# physical plan's text printed both).

# logical nodes that bound the rows below them: limits, driver-local
# rows and generated ranges (a keyless Aggregate, one row, is checked
# in _raw_relations). A KEYED aggregate is not a bound on purpose: a
# distinct or groupBy reduces but does not bound, and the r5 hot-bucket
# finding lived exactly behind a distinct.
_BOUNDING_NODES = {
    "GlobalLimit", "LocalLimit", "Tail", "LocalRelation", "Range",
    "OneRowRelation",
}
# join types whose output rows come from the left side only, at most one
# per left row: never a raw-by-raw product, and their right side's rows
# do not flow upward
_NON_MULTIPLYING_JOIN = re.compile(r"^(LeftSemi|LeftAnti|ExistenceJoin)")


def _logical_tree(spark, plan) -> dict:
    """A JVM logical plan as nested dicts: node name, children, and what
    the gate needs per kind (a join's type, broadcast hints and
    condition; whether an aggregate is keyless; the identity of a base
    relation: parquet root paths, the cache builder of a cached frame,
    the RDD of a checkpointed one). The plans of a node's subqueries and
    of a cached frame are kept apart from its children ("subs"): their
    joins are checked, but their rows do not flow up as the node's."""
    name = plan.nodeName()
    kids = plan.children()
    subs = plan.subqueries()
    node = {
        "name": name,
        "kids": [_logical_tree(spark, kids.apply(i)) for i in range(kids.size())],
        "subs": [_logical_tree(spark, subs.apply(i)) for i in range(subs.size())],
    }
    if name == "Join":
        hint = plan.hint().toString()
        node["type"] = plan.joinType().toString()
        node["broadcast"] = [
            f"{side}Hint=(strategy=broadcast" in hint for side in ("left", "right")
        ]
        node["cond"] = plan.condition().toString()
    elif name == "Aggregate":
        node["keyless"] = plan.groupingExpressions().isEmpty()
    elif name == "LogicalRelation":
        node["rel"] = "files:" + plan.relation().location().rootPaths().mkString(",")
    elif name == "InMemoryRelation":
        builder = plan.cacheBuilder()
        node["rel"] = f"cache:{spark._jvm.System.identityHashCode(builder)}"
        # AQE plans a cached frame that holds an exchange, a subquery or a
        # scan of an adaptive cached frame, and keeps its query execution,
        # whose optimized plan is the frame's. A frame it left alone holds
        # none of these, so no join but a CartesianProduct.
        cached = builder.cachedPlan()
        if cached.nodeName() == "AdaptiveSparkPlan":
            optimized = cached.context().qe().optimizedPlan()
            node["subs"].append(_logical_tree(spark, optimized))
    elif name == "LogicalRDD":
        node["rel"] = f"rdd:{plan.rdd().id()}"
    return node


def _raw_relations(node) -> set:
    """Base relations whose rows reach `node` with no strong bound on the
    way (a broadcast-hinted join side is bounded by its author)."""
    if node["name"] in _BOUNDING_NODES or node.get("keyless"):
        return set()
    if "rel" in node:
        return {node["rel"]}
    kids = node["kids"]
    if node["name"] == "Join":
        if _NON_MULTIPLYING_JOIN.match(node["type"]):
            kids = kids[:1]
        kids = [k for k, hinted in zip(kids, node["broadcast"]) if not hinted]
    return set().union(*map(_raw_relations, kids))


def _self_joins(node) -> list[str]:
    """Every multiplying join at or below `node`, inside subqueries and
    cached frames too, whose two sides both carry raw rows of one base
    relation, as sorted unique 'type condition on relations'."""
    found = set()
    if node["name"] == "Join" and not _NON_MULTIPLYING_JOIN.match(node["type"]):
        left, right = (
            set() if hinted else _raw_relations(k)
            for k, hinted in zip(node["kids"], node["broadcast"])
        )
        if left & right:
            found.add(f"{node['type']} {node['cond']} on {sorted(left & right)}")
    for k in node["kids"] + node["subs"]:
        found.update(_self_joins(k))
    return sorted(found)


# Each declaration below is (the number of flagged joins the detector
# finds in the entry, why their output is bounded). The count makes a
# declaration cover exactly the joins it was written for: an entry that
# gains or loses a flagged join fails until its declaration is
# revisited.
#
# Bounds shared by several entries: most self-joins in the catalog are
# one of these shapes, which the logical plan alone cannot prove (it
# does not know that a grouped side is unique on the join key).
_KEYED_LOOKUP = (
    "keyed lookup: one side is grouped (or made distinct) on exactly the "
    "join key, one row per key, so the join emits at most one row per "
    "row of the other side"
)
_QUERY_SET = (
    "query set: the 5-row query frame (embeddings with vec_id < 5) meets "
    "the corpus, |queries| x |corpus| at most, reduced to top-k per query"
)
_INVERTED_INDEX = (
    "inverted index: candidate pairs come from the shingle-hash equi-join "
    "with doc_a < doc_b (ngram_jaccard_pairs switches to the prefix-"
    "filtered join when sum(df^2) exceeds 30x the index), then per-doc "
    "size stamps, one row per doc"
)
_MINHASH_BANDED = (
    "banded+verified: candidates come from the MinHash band equi-join "
    "(bounded by shared band buckets, never |docs|^2) + distinct; the "
    "shingle joins only expand those candidates for the exact-Jaccard "
    "verify, then per-doc size stamps"
)
_HAMMING_BANDED = (
    "duplicate-safe banded: the band self-join runs over DISTINCT hashes "
    "(pigeonhole bands, radius filter); the same-hash equi-join and the "
    "member expansion emit exactly the answer's member pairs"
)
_LABEL_STAMP = (
    "label stamp: members join a one-row-per-hash (or per-cluster) map, "
    "fan-out exactly 1; the hash-level candidate stage is the banded "
    "joiner over DISTINCT hashes"
)

_SELF_JOIN_BOUNDS = {
    "ann_bruteforce_topk": (1, _QUERY_SET),
    "ann_ivf_kmeans_topk": (
        1,
        _QUERY_SET + " (the brute-force best-cosine reference the IVF "
        "answer is checked against)",
    ),
    "ann_lsh_topk": (
        1,
        "query set x probed buckets: each of the 5 queries meets only the "
        "vectors in its own and its 4 Hamming-1 hyperplane buckets",
    ),
    "basket_part_pairs_topk": (
        1,
        "bounded basket: distinct (order, part) rows self-joined on the "
        "order with part_a < part_b; per-order multiplicity = lines per "
        "order (at most 7 in TPC-H), so at most 21 pairs per order",
    ),
    "corpus_novelty_curve": (1, _KEYED_LOOKUP + " (per-bucket counts)"),
    "corpus_vocab_growth": (
        1,
        _KEYED_LOOKUP + " (per-doc token counts left-joined to per-doc "
        "first-seen counts, inside the frame the global cumsum persists)",
    ),
    "curate_keep_selection": (3, _KEYED_LOOKUP + " (the per-cluster keep choice)"),
    "customer_balance_iqr_outliers": (
        1,
        _KEYED_LOOKUP + " (both sides are per-market-segment aggregates)",
    ),
    "decontaminate_bloom": (
        2,
        _KEYED_LOOKUP + " (distinct test hashes, per-doc counts)",
    ),
    "decontaminate_train_test": (1, _KEYED_LOOKUP + " (per-doc counts)"),
    "dedup_chunk_exact": (2, _KEYED_LOOKUP + " (per-chunk-hash and per-doc counts)"),
    "dedup_embedding_blocked": (
        1,
        "blocked: pairs only within one label block (id_a < id_b) and the "
        "cosine threshold filters inside the join; cost is the sum of "
        "squared block sizes, never an unblocked cross join",
    ),
    "dedup_incremental_minhash": (4, _MINHASH_BANDED + " (batch x index)"),
    "dedup_incremental_minhash_selfsafe": (
        4,
        _MINHASH_BANDED + " (batch x index; the bdoc <> idoc filter only "
        "removes pairs)",
    ),
    "dedup_incremental_probe": (
        3,
        _HAMMING_BANDED + " (batch x index); the member stamp joins one "
        "best match per batch hash",
    ),
    "dedup_incremental_probe_selfsafe": (
        3,
        _HAMMING_BANDED + " (batch x index); the member stamp joins one "
        "best match per batch hash",
    ),
    "dedup_jaccard_band_histogram": (3, _INVERTED_INDEX),
    "dedup_minhash_calibration": (7, _MINHASH_BANDED),
    "dedup_minhash_lsh": (4, _MINHASH_BANDED),
    "dedup_ngram_jaccard": (3, _INVERTED_INDEX),
    "dedup_simhash": (4, _HAMMING_BANDED),
    "dedup_simhash_clusters": (2, _LABEL_STAMP),
    "events_funnel_windowed": (3, _KEYED_LOOKUP + " (per-user first view / click)"),
    "events_hourly_gapfill": (
        1,
        _KEYED_LOOKUP + " (the hourly aggregate is unique on (event_type, "
        "hour) under the spine)",
    ),
    "events_retention_cohort": (1, _KEYED_LOOKUP + " (per-user first active day)"),
    "events_rolling_7d_active": (
        1,
        "band join: each distinct user-day meets at most the 7 spine days "
        "of its trailing window (the spine is the distinct days)",
    ),
    "events_type_cooccurrence_lift": (
        1,
        "bounded dimension: distinct (user, event_type) rows self-joined "
        "on the user with type_a < type_b; per-user multiplicity = "
        "#event types, a small fixed dimension",
    ),
    "events_user_copresence_topk": (
        1,
        "per-bucket cap: at most _COPRESENCE_CAP users per hour are "
        "admitted (scrambled row_number) before the hour self-join, so an "
        "hour contributes at most cap^2/2 pairs",
    ),
    "multimodal_audio_fingerprint_dedup": (4, _HAMMING_BANDED),
    "multimodal_phash_clusters": (2, _LABEL_STAMP),
    "multimodal_phash_dedup": (4, _HAMMING_BANDED),
    "multimodal_video_fingerprint_dedup": (4, _HAMMING_BANDED),
    "orders_forecast_eval": (
        1,
        _KEYED_LOOKUP + " (daily totals joined to themselves shifted by 7 "
        "days)",
    ),
    "orders_repeat_retention": (
        2,
        _KEYED_LOOKUP + " (per-customer first and second order)",
    ),
    "q17_small_qty_revenue": (1, _KEYED_LOOKUP + " (per-part average quantity)"),
    "source_overlap_matrix": (
        4,
        _INVERTED_INDEX + "; the source stamps join one documents row per "
        "doc id",
    ),
    "source_vocab_tv_distance": (
        3,
        "bounded-dimension: per-(source,token) counts self-joined on "
        "token with source_a < source_b; per-token multiplicity = "
        "#sources (a small dimension), so fan-out per token is "
        "#sources^2/2, linear in distinct tokens",
    ),
    "text_bigram_lm_fluency": (1, _KEYED_LOOKUP + " (bigram and unigram counts)"),
    "text_boilerplate_coverage": (
        2,
        _KEYED_LOOKUP + " (distinct boilerplate hashes, per-doc sizes)",
    ),
    "text_compression_ratio": (
        1,
        _KEYED_LOOKUP + " (both sides are per-language aggregates)",
    ),
    "text_containment_pairs": (3, _INVERTED_INDEX),
    "text_sentence_dedup": (
        2,
        _KEYED_LOOKUP + " (per-sentence-hash and per-doc counts)",
    ),
    "text_tfidf_topk": (1, _KEYED_LOOKUP + " (per-token document frequency)"),
}


def test_self_joins_are_bounded_or_declared(all_plans, sf_dir):
    # an entry's logical plan can still depend on its data (a route
    # picked from a count at call time), so the registry is calibrated
    # at the canonical SF only (conftest's SPARK_GRAFT_SF_SMALL knob can
    # point the suite elsewhere)
    if sf_dir != "/root/testdata/sf0.001":
        pytest.skip("self-join gate is calibrated at the canonical sf0.001")
    detected = {
        name: joins
        for name, p in all_plans.items()
        if (joins := _self_joins(p["logical"]))
    }
    undeclared = {n: j for n, j in detected.items() if n not in _SELF_JOIN_BOUNDS}
    assert not undeclared, (
        f"undeclared raw-by-raw self-joins: {undeclared} — bound "
        "the join (broadcast hint / limit / banded+grouped / per-bucket "
        "cap) or add a _SELF_JOIN_BOUNDS declaration explaining why its "
        "output is bounded"
    )
    # stale declarations rot the registry's audit value: at the default
    # test SF the detected set is deterministic, so require equality
    stale = set(_SELF_JOIN_BOUNDS) - set(detected)
    assert not stale, f"stale _SELF_JOIN_BOUNDS declarations: {sorted(stale)}"
    miscounted = {
        n: (_SELF_JOIN_BOUNDS[n][0], j)
        for n, j in detected.items()
        if len(j) != _SELF_JOIN_BOUNDS[n][0]
    }
    assert not miscounted, (
        f"flagged self-joins differ from the declared count (declared, "
        f"found): {miscounted} — check that each join is bounded, then "
        "update the count"
    )


# expression ids (and lambda variable counters), cache and checkpoint
# identities differ between two builds of one entry; the joins do not
_BUILD_IDS = re.compile(r"(_\d+)?#\d+L?|(?<=cache:)\d+|(?<=rdd:)\d+")


def _build_free(joins: list[str]) -> list[str]:
    return sorted({_BUILD_IDS.sub("#", j) for j in joins})


def test_self_join_verdict_ignores_broadcast_threshold(all_plans, spark, sf_dir):
    """Every entry built anew, from an empty cache as in `_plans`, with
    autoBroadcastJoinThreshold at -1 (never broadcast by size) and at
    100 MB has the self-joins it has at the default. Built anew, not
    re-optimized: an entry may pick its route from the data when it is
    called."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    expected = {n: _build_free(_self_joins(p["logical"])) for n, p in all_plans.items()}
    moved = {}
    try:
        for threshold in ("-1", str(100 * 1024 * 1024)):
            spark.conf.set(key, threshold)
            spark.catalog.clearCache()
            for name, spec in specs().items():
                if name not in all_plans:
                    continue
                plan = spec.fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
                seen = _build_free(_self_joins(_logical_tree(spark, plan)))
                if seen != expected[name]:
                    moved[(name, threshold)] = (expected[name], seen)
    finally:
        spark.conf.set(key, default)
        spark.catalog.clearCache()
    assert not moved, f"self-join verdict moved with the broadcast threshold: {moved}"


def test_self_join_gate_reads_cached_frames_and_subqueries(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = docs.alias("a").join(docs.alias("b"), "source").persist()
    # a cached frame over a cached frame: the gate follows the nesting
    narrowed = pairs.where("length(source) > 0").persist()
    try:
        # the raw self-join is inside the cached frames only
        for cached in (pairs, narrowed):
            plan = cached.groupBy("source").count()._jdf.queryExecution().optimizedPlan()
            assert "InMemoryRelation" in plan.toString()
            assert _self_joins(_logical_tree(spark, plan))
    finally:
        narrowed.unpersist()
        pairs.unpersist()
    docs.createOrReplaceTempView("self_join_gate_docs")
    in_subquery = spark.sql(
        "SELECT (SELECT count(*) FROM self_join_gate_docs a "
        "JOIN self_join_gate_docs b ON a.source = b.source) AS n"
    )
    plan = in_subquery._jdf.queryExecution().optimizedPlan()
    assert _self_joins(_logical_tree(spark, plan))
    spark.catalog.dropTempView("self_join_gate_docs")


def test_single_partition_funnels_are_bounded(all_plans):
    offenders = {}
    for qname, p in all_plans.items():
        nodes, children = _tree(p["simple"])
        bad = [
            i
            for i, (_, name) in enumerate(nodes)
            if name.startswith("Exchange SinglePartition")
            and _unbounded_scan_paths(nodes, children, i)
        ]
        if bad:
            offenders[qname] = [nodes[i][1] for i in bad]
    assert not offenders, (
        f"raw-scan rows flow through a single-partition exchange in: "
        f"{sorted(offenders)} — reduce (aggregate/limit/broadcast) before "
        "any global funnel, or re-express with a distributed two-pass "
        "rank (plans/reports.py _global_rank)"
    )


def _exchanges(plan) -> list:
    """Every shuffle exchange of a physical plan, parents before children."""
    out = []
    if plan.getClass().getSimpleName() == "ShuffleExchangeExec":
        out.append(plan)
    children = plan.children()
    for i in range(children.size()):
        out += _exchanges(children.apply(i))
    return out


def test_backfill_lake_write_shuffles_twice(spark, tmp_path, monkeypatch):
    """run_backfill's lake write has exactly two exchanges below it: the
    dedup window's hash on uuid and one rebalance on dt (4 days on
    local[4]: the write's fan is 1, so no salt)."""
    from datetime import date

    from dsacord_spark.config import Config
    from dsacord_spark.pipeline import run_backfill
    from dsacord_spark.sinks import parquet
    from tests.test_pipeline import _Resp
    from tests.wire_dumps import day_zip

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    written = []
    cluster_by_day = parquet.cluster_by_day

    def capture(df, days=None):
        written.append(cluster_by_day(df, days))
        return written[-1]

    monkeypatch.setattr(parquet, "cluster_by_day", capture)
    cfg = Config(
        date_from=date(2025, 1, 1),
        date_to=date(2025, 1, 4),
        landing_dir=str(tmp_path / "landing"),
    )
    metrics = run_backfill(
        spark, cfg, opener=lambda url: _Resp(day_zip(url[-20:], copies=2))
    )
    assert metrics.rows_written == 4
    assert len(written) == 1
    plan = written[0]._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    exchanges = [
        (str(e.shuffleOrigin()), e.outputPartitioning().toString())
        for e in _exchanges(plan.executedPlan())
    ]
    assert len(exchanges) == 2, exchanges
    (write_origin, write_keys), (dedup_origin, dedup_keys) = exchanges
    assert write_origin == "REBALANCE_PARTITIONS_BY_COL"
    assert re.fullmatch(r"hashpartitioning\(dt#\d+, \d+\)", write_keys), write_keys
    assert dedup_origin == "ENSURE_REQUIREMENTS"
    assert re.fullmatch(r"hashpartitioning\(uuid#\d+, \d+\)", dedup_keys), dedup_keys
