"""Physical-plan invariants backing PLANS.md's scale claims — these pin
the *plan shape*, not row values, so a regression that silently
reintroduces a shuffle / full scan fails CI.

All assertions run on `explain("formatted")` text at sf0.001; plan shape
is scale-independent (that is the point of asserting it)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Pre-bucketing both join sides on the join key makes the sort-merge
    join read co-located buckets: ZERO Exchange nodes in the joined plan.
    At 100 TB this is the difference between re-shuffling both fact
    tables per query and a pure local merge per bucket."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    for name, df, key in [("t_li_b", li, "l_orderkey"), ("t_od_b", od, "o_orderkey")]:
        (
            df.write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(4, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path: the claim under test is that the
        # *shuffle* is gone, not that the dim side is broadcastable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_li_b").join(
            spark.table("t_od_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # same join over the unbucketed parquet DOES shuffle both sides
        unbucketed = li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        assert len(re.findall(r"\(\d+\)\s+Exchange", _plan(unbucketed))) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_od_b")


def test_parquet_scan_prunes_columns_and_pushes_filters(spark, sf_dir):
    """A filtered 2-column projection must reach the parquet scan as
    PushedFilters + a 2-field ReadSchema — reading all 11 lineitem
    columns for it would be a 5x I/O regression at scale."""
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(l_quantity,45" in m.group(1), plan
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and sorted(f.split(":")[0] for f in rs.group(1).split(",")) == [
        "l_orderkey",
        "l_quantity",
    ], plan


def test_parquet_aggregate_pushdown_serves_from_footer(spark, sf_dir):
    """Bare MIN/MAX/COUNT over a parquet table is answered from footer
    statistics (PushedAggregation on the DSv2 scan), not a row-group
    scan. (Timestamp min/max is not footer-servable in Spark; numeric
    columns are.) DSv2 parquet is an OPT-IN since the session default
    moved back to v1 (v2 loses dynamic partition pruning — see
    session.py and the DPP test below); this pins that the opt-in
    still delivers the pushdown."""
    v1_key = "spark.sql.sources.useV1SourceList"
    prev = spark.conf.get(v1_key)
    spark.conf.set(v1_key, "avro,csv,json,kafka,orc,text")
    try:
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
            F.min("l_quantity").alias("lo"),
            F.max("l_quantity").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        plan = _plan(df)
    finally:
        spark.conf.set(v1_key, prev)
    m = re.search(r"PushedAggregation: \[([^\]]*)\]", plan)
    assert m and "MIN(l_quantity)" in m.group(1) and "COUNT(*)" in m.group(1), plan


def test_q5_dimension_chain_broadcasts_single_exchange(spark, sf_dir):
    """The 6-table Q5-shaped join keeps every dimension hop a
    BroadcastHashJoin at test scale, leaving exactly ONE shuffle Exchange
    (the final 5-key aggregation). Pins the PLANS.md audit claim — a
    regression that forces a dim-side shuffle re-partitions the fact
    table once per hop. (BroadcastExchange nodes don't count: the
    formatted-plan regex matches only shuffle Exchange node lines.)"""
    from dsacord_spark.plans.catalog import queries

    plan = _plan(queries()["q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    shuffles = re.findall(r"\(\d+\)\s+Exchange", plan)
    assert len(shuffles) == 1, plan


def test_repetition_filters_are_shuffle_free_map_work(spark, sf_dir):
    """The per-document repetition gates (dup-word/top-word/dup-3gram)
    are higher-order array expressions: zero exchanges, no Python
    evaluator, and the scan reads only (doc_id, text). At 100 TB this
    family filters the corpus at scan speed — any Exchange here would
    mean a per-doc metric somehow shuffled the corpus."""
    from dsacord_spark.plans.catalog import queries

    plan = _plan(queries()["text_repetition_filters"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and sorted(f.split(":")[0] for f in rs.group(1).split(",")) == [
        "doc_id",
        "text",
    ], plan


def test_scalar_parse_pipeline_is_single_codegen_stage(spark, sf_dir):
    """The reference's parse functions (F1-F5) compile to one
    WholeStageCodegen span with zero exchanges — pure map-side JVM work."""
    from dsacord_spark.plans.catalog import queries

    plan = _plan(queries()["f4_f5_platform_uid"](spark, sf_dir))
    assert "Exchange" not in plan
    # formatted explain marks codegen-compiled operators with a `*` prefix
    assert re.search(r"\*\s*Project", plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q7_two_role_dimension_single_exchange(spark, sf_dir):
    """Q7 joins nation in two roles (supplier side, customer side); both
    roles plus the other dimensions must stay BroadcastHashJoin at test
    scale, with exactly ONE shuffle Exchange (the final 3-key agg)."""
    from dsacord_spark.plans.catalog import queries

    plan = _plan(queries()["q7_volume_shipping"](spark, sf_dir))
    bhj = re.findall(r"\(\d+\)\s+BroadcastHashJoin", plan)
    assert len(bhj) == 5, plan
    shuffles = re.findall(r"\(\d+\)\s+Exchange", plan)
    assert len(shuffles) == 1, plan


def test_histogram_is_single_partial_final_agg(spark, sf_dir):
    """The fixed-bin histogram must stay a map-side bin expression + one
    partial+final hash aggregate: one Exchange, no Sort, no Window (a
    regression to a two-pass min/max formulation would add a second
    scan/exchange)."""
    from dsacord_spark.plans.catalog import queries

    plan = _plan(queries()["price_histogram"](spark, sf_dir))
    shuffles = re.findall(r"\(\d+\)\s+Exchange", plan)
    assert len(shuffles) == 1, plan
    assert not re.findall(r"\(\d+\)\s+Sort", plan), plan
    assert len(re.findall(r"\(\d+\)\s+HashAggregate", plan)) == 2, plan


def test_gapfill_scans_events_once_per_branch_no_cartesian(spark, sf_dir):
    """Gap-fill generates the hour spine from a 1-row span aggregate
    (BroadcastNestedLoopJoin against one row is fine; a CartesianProduct
    of real tables is not) and must not re-scan raw events for the
    window: LOCF runs over the joined spine, not the base table."""
    from dsacord_spark.plans.catalog import queries

    plan = _plan(queries()["events_hourly_gapfill"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\)\s+Window", plan)) == 1, plan


def test_q6_pushdown_reaches_scan(spark, sf_dir):
    """Q6 is the pure-pushdown probe: all four range predicates reach
    PushedFilters and the scan reads exactly the four referenced columns."""
    from dsacord_spark.plans.tpch_rest import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, sf_dir))
    pushed = re.search(r"PushedFilters: \[([^\]]*)", plan).group(1)
    for frag in ("l_discount,0.02", "l_discount,0.06", "l_quantity,24.0"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    cols = {c.split(":")[0] for c in schema.split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_tpch_rest_no_cartesian_products(spark, sf_dir):
    """No query in the completed suite may plan a CartesianProduct or an
    unbounded (non-broadcast) nested loop."""
    import dsacord_spark.plans.tpch_rest as t

    for fn in (
        t.q2_min_cost_supplier, t.q4_priority_late_ship, t.q8_market_share,
        t.q9_product_profit, t.q11_important_parts, t.q12_ship_delay_priority,
        t.q13_customer_distribution, t.q14_promo_revenue, t.q15_top_supplier,
        t.q16_part_supplier_counts, t.q19_disjunctive_revenue,
        t.q20_heavy_small_part_suppliers, t.q21_latest_shipper,
        t.q22_idle_customers,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__


def test_q21_window_formulation_exchange_budget(spark, sf_dir):
    """The window formulation of Q21 holds the correlated-EXISTS cascade
    to <= 5 exchanges (a literal aggregate-and-rejoin translation planned
    16)."""
    from dsacord_spark.plans.tpch_rest import q21_latest_shipper

    plan = _plan(q21_latest_shipper(spark, sf_dir))
    n = len(re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan))
    assert n <= 5, n


def test_zorder_write_gives_multi_column_skipping(spark, sf_dir, tmp_path):
    """Z-order clustering must shrink BOTH columns' per-file ranges:
    a single-column sort leaves the second column's per-file min/max at
    nearly full width (no skipping), the Morton layout bounds both. The
    assertion reads real parquet footer statistics."""
    import pyarrow.parquet as pq

    from dsacord_spark.sinks.parquet import zorder_write

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    n_rows = li.count()

    sorted_dir, z_dir = str(tmp_path / "srt"), str(tmp_path / "zord")
    (
        li.repartitionByRange(16, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.parquet(sorted_dir)
    )
    zorder_write(li, z_dir, ["l_orderkey", "l_partkey"], n_files=16)

    def avg_range_fraction(d: str, col: str) -> float:
        import glob as _g

        spans, lo_all, hi_all = [], None, None
        metas = []
        for f in _g.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(col)
            lo = min(md.row_group(g).column(ci).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(ci).statistics.max
                     for g in range(md.num_row_groups))
            metas.append((lo, hi))
            lo_all = lo if lo_all is None else min(lo_all, lo)
            hi_all = hi if hi_all is None else max(hi_all, hi)
        width = max(1, hi_all - lo_all)
        return sum((hi - lo) / width for lo, hi in metas) / len(metas)

    # correctness: same multiset of rows
    assert spark.read.parquet(z_dir).count() == n_rows
    assert (
        spark.read.parquet(z_dir)
        .exceptAll(spark.read.parquet(sorted_dir))
        .count()
        == 0
    )
    # single-column sort: partkey per-file range ~ full width (>= 80%)
    assert avg_range_fraction(sorted_dir, "l_partkey") > 0.8
    # z-order: BOTH dims bounded — partkey range must at least halve,
    # orderkey range must stay far below full width
    z_part = avg_range_fraction(z_dir, "l_partkey")
    z_order_k = avg_range_fraction(z_dir, "l_orderkey")
    assert z_part < 0.5, z_part
    assert z_order_k < 0.5, z_order_k


def test_materialized_shingle_index_self_join_is_shuffle_free(
    spark, sf_dir, tmp_path
):
    """build_shingle_index writes the (doc, hg) index bucketed+sorted by
    hg; the pair self-join on hg then reads co-located buckets (zero
    Exchange below the join), and the pairs served from the index are
    identical to ngram_jaccard_pairs over the raw documents."""
    from dsacord_spark.operators.dedup import (
        build_shingle_index,
        jaccard_pairs_from_index,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build_shingle_index(
        d, "doc_id", "text", 3, "t_shingle_b", path=str(tmp_path / "shingle")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ngr = spark.table("t_shingle_b")
        a, b = ngr.alias("a"), ngr.alias("b")
        joined = a.join(
            b,
            (F.col("a.hg") == F.col("b.hg")) & (F.col("a.doc") < F.col("b.doc")),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # value parity with the session-cache route
        got = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs_from_index(spark, "t_shingle_b", 0.5).collect()
        }
        want = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).collect()
        }
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_shingle_b")


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """The packing plan shuffles ONCE (on shard, for the per-shard
    window); the per-(shard, bin) aggregation reuses that partitioning —
    a global-ordering formulation would show a singleton-partition
    window here instead."""
    from dsacord_spark.plans.catalog import specs

    plan = _plan(specs()["corpus_pack_sequences"].fn(spark, sf_dir))
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\)\s+Exchange", plan)) == 1, plan


def test_cms_joins_sketch_by_broadcast(spark, sf_dir):
    """The 4096-counter CMS table must broadcast onto the vocab stream —
    a sort-merge join here would shuffle the vocabulary on (i, b)."""
    from dsacord_spark.plans.catalog import specs

    plan = _plan(specs()["text_heavy_hitters_cms"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_probe_path_stays_mapside(spark, sf_dir):
    """decontaminate_bloom's k probe joins are broadcast-hash against
    the word table — a regression to the explode + hit-count form (or a
    sort-merge fallback) would add a shuffle of the k-times-wider
    candidate stream. The 5 remaining Exchanges are the index/verify
    aggregations, not the probe path."""
    from dsacord_spark.plans.catalog import specs

    plan = _plan(specs()["decontaminate_bloom"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    n_ex = len(re.findall(r"\(\d+\)\s+Exchange", plan))
    assert n_ex <= 5, f"probe path grew a shuffle: {n_ex} Exchanges"


def test_copresence_caps_and_takes_ordered_topk(spark, sf_dir):
    """events_user_copresence_topk's round-4 scale shape: the per-hour
    admission rank is a window PARTITIONED by hr (never global), and the
    top-50 lands as TakeOrderedAndProject — the full pair aggregate must
    not pass through an unpartitioned row_number window."""
    from dsacord_spark.plans.catalog import specs

    plan = _plan(specs()["events_user_copresence_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # the admission window is partitioned by hr
    assert re.search(r"PartitionSpec: \[hr", plan) or "partitionBy" not in plan
    # any SinglePartition exchange sits above the 50-row TakeOrdered head
    head = plan.split("TakeOrderedAndProject")[-1]
    assert "SinglePartition" not in head, plan


def test_distributed_rank_entries_have_no_global_window_over_input(
    spark, sf_dir
):
    """The _global_rank/_global_cumsum rewrites (LTV deciles, RFM,
    Gini, Pareto, vocab growth, concurrency sweep): every row_number /
    running-sum window in the plan is partitioned by the range-partition
    id (_pid); the only unpartitioned windows run over the parts-row
    offset frame, which sits above an aggregate."""
    from dsacord_spark.plans.catalog import specs

    for name in (
        "orders_ltv_deciles",
        "orders_rfm_segments",
        "orders_revenue_gini",
        "orders_pareto_customers",
        "corpus_vocab_growth",
        "events_concurrency_sweep",
    ):
        plan = _plan(specs()[name].fn(spark, sf_dir))
        # formatted explain prints one "Window" section per window node;
        # each full-frame window must carry the _pid partition spec
        specs_txt = re.findall(r"Arguments: \[[^\]]*windowspecdefinition\([^\)]*\)", plan)
        assert any("_pid" in s for s in specs_txt), (name, specs_txt)


def test_dynamic_partition_pruning_on_day_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning, demonstrated on the executed plan: a
    day-partitioned fact joined to a dimension filtered on a NON-join
    column gets a dynamicpruning PartitionFilter injected — at 100 TB
    the fact scan reads only the surviving day directories instead of
    the whole table. (Static pruning can't do this: the surviving days
    are only known after filtering the dim.)"""
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    spark.range(0, 20000).selectExpr("id AS v", "id % 20 AS day").write.partitionBy(
        "day"
    ).parquet(fact_path)
    # the dim join key must MATCH the inferred partition-column type
    # (int) — a cast around the partition column defeats pruning
    spark.range(0, 20).selectExpr(
        "CAST(id AS INT) AS day", "id % 5 AS grp"
    ).write.parquet(dim_path)
    f = spark.read.parquet(fact_path)
    d = spark.read.parquet(dim_path).filter("grp = 0")
    j = f.join(d, "day")
    assert j.count() == 4000  # 4 of 20 days survive, 1000 rows each
    plan = j._jdf.queryExecution().executedPlan().toString()
    # this is WHY the session default is v1 parquet: the v2 FileScan in
    # this build implements no runtime filtering, so the same query
    # under DSv2 shows no dynamicpruning anywhere (measured; see
    # session.py) and the fact scan reads all 20 day directories
    assert "dynamicpruningexpression" in plan.lower(), plan


def _parents_until_join(plan: str, table: str) -> list[str]:
    """Walk the formatted-plan tree upward from the named table's scan to
    its owning join, returning the node names in between (exclusive)."""
    tree = plan.split("\n\n")[0].splitlines()
    idx = next(
        i for i, ln in enumerate(tree)
        if f"Scan parquet spark_catalog.default.{table}" in ln
    )
    pos = tree[idx].index("+-")
    chain: list[str] = []
    for ln in reversed(tree[:idx]):
        if "+-" not in ln:
            continue
        p = ln.index("+-")
        if p < pos:
            pos = p
            name = ln[p + 2:].strip().split(" (")[0].lstrip("* ")
            if "Join" in name:
                return chain
            chain.append(name)
    raise AssertionError(f"no join above the {table} scan:\n{plan}")


def test_persisted_probe_indexes_never_shuffle_the_corpus(
    spark, sf_dir,
):
    _assert_probe_indexes_read_in_place(spark, sf_dir, buckets=4)


def test_derived_one_bucket_probe_indexes_never_shuffle_the_corpus(
    spark, sf_dir,
):
    """The same pin at the bucket count the builders derive for a small
    parquet corpus (one bucket): the batch side still shuffles into the
    index's layout, never the index side."""
    _assert_probe_indexes_read_in_place(spark, sf_dir, buckets=None)


def _assert_probe_indexes_read_in_place(spark, sf_dir, buckets):
    """The r9 persisted probe indexes exist so a daily probe pays
    batch-sized work against an in-place corpus: every index table must
    be read BUCKETED and feed its join with no Exchange between scan and
    join (only the small batch side shuffles into the bucket layout).
    Broadcast is force-disabled so the pin covers the at-scale SMJ
    shape, not the tiny-side broadcast AQE picks at sf0.001. This test
    exists because the first minhash layout (row-form (doc, hg) shingle
    table) PASSED value checks while re-shuffling the whole corpus per
    probe — the verify's two-key join defeated the doc bucketing; the
    array-form layout keeps verify joins single-key."""
    from dsacord_spark.operators.dedup import (
        SIMHASH_BITS,
        build_hamming_index,
        build_minhash_index,
        probe_hamming_index,
        probe_minhash_index,
        simhash_signatures,
    )
    from dsacord_spark.sinks.parquet import describe_bucket_spec

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = simhash_signatures(d, "doc_id", "text").persist()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        build_hamming_index(
            sig.filter(F.col("doc") % 10 != 0), "doc", "simhash",
            "t_plan_ham", n_bands=4, hash_bits=SIMHASH_BITS,
            buckets=buckets,
        )
        build_minhash_index(
            d.filter(F.col("doc_id") % 10 != 0), "doc_id", "text",
            "t_plan_mh", n=3, n_perm=32, bands=8, buckets=buckets,
        )
        want = buckets or 1
        for t in ("t_plan_ham_bands", "t_plan_ham_summary",
                  "t_plan_mh_bands", "t_plan_mh_shingles"):
            assert describe_bucket_spec(spark, t)["n_buckets"] == want, t
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # prune=False so the WHOLE join topology is visible in one
        # explain: the r10 pruning path materializes its candidate
        # subplan via localCheckpoint, which hides the band-table scan
        # from the final plan (the bucketed-join property pinned here is
        # identical on both paths; pruning's own plan evidence lives in
        # tests/test_round10_properties.py)
        p_ham = _plan(probe_hamming_index(
            spark, "t_plan_ham", sig.filter(F.col("doc") % 10 == 0),
            "doc", "simhash", radius=3, prune=False,
        ))
        p_mh = _plan(probe_minhash_index(
            spark, "t_plan_mh", d.filter(F.col("doc_id") % 10 == 0),
            "doc_id", "text", threshold=0.5, prune=False,
        ))
        for plan, tables in (
            (p_ham, ("t_plan_ham_bands", "t_plan_ham_summary")),
            (p_mh, ("t_plan_mh_bands", "t_plan_mh_shingles")),
        ):
            # every index-table scan is a bucketed read...
            n_scans = len(tables)
            assert plan.count("Bucketed: true") == n_scans, plan
            for t in tables:
                # ...feeding its join with no shuffle of the corpus side
                chain = _parents_until_join(plan, t)
                assert not any("Exchange" in c for c in chain), (t, chain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        sig.unpersist()
        for t in ("t_plan_ham_summary", "t_plan_ham_bands", "t_plan_ham_meta",
                  "t_plan_mh_bands", "t_plan_mh_shingles", "t_plan_mh_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
