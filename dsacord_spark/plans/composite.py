"""Composite / multi-stage operators: TPC-H-shaped multi-join analytics
(Q5, Q10, Q18 shapes), connected-components duplicate clustering, event
funnel analysis, and a deterministic per-group mode aggregate.

These fill out the upper end of SURVEY §2.4-2.5: join graphs of 4-6
tables where join ORDER and STRATEGY dominate cost at scale, plus the
iterative-algorithm surface (components) that pure SQL engines express
with recursion and Spark expresses as a converging join loop.

Determinism strategy matches plans/relational.py: money sums go through
DECIMAL(18,2), every top-k carries a unique tie-break key, timestamps
compared as integer microseconds on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from dsacord_spark.operators.dedup import duplicate_components, ngram_jaccard_pairs
from dsacord_spark.plans.analysis import _ngr_cte
from dsacord_spark.plans.registry import register, table

_D = "decimal(18,2)"


def _dec(c) -> F.Column:
    return (F.col(c) if isinstance(c, str) else c).cast(_D)


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: 6-table join graph with a cycle (customer and supplier
# must share a nation). Scale plan: region/nation broadcast everywhere;
# supplier is small relative to the facts so AQE picks broadcast at test
# scale but can fall back to shuffle join at 100 TB (no forced hint); the
# two fact-fact joins (lineitem-orders, then customer) shuffle on their
# join keys exactly once each; revenue aggregates partial+final on a
# 5-value key.
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    sql="""
    SELECT n_name,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-table cyclic join graph -> revenue per nation.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = table(spark, sf_dir, "nation")
    nr = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    revenue = _dec("l_extendedprice") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    return (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(
            c,
            (o["o_custkey"] == c["c_custkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue per customer, top 20. The
# returnflag filter reaches the lineitem parquet scan (pushdown); the
# top-k plans as TakeOrderedAndProject (no global sort).
# ---------------------------------------------------------------------------
@register(
    "q10_returned_item_topk",
    sql="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1995-10-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top-20.",
)
def q10_returned_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-quantity orders — an aggregate-driven semi-join
# (the HAVING subquery). Spark expresses the subquery as a first-class
# aggregation reused as the probe side; both the agg and the join shuffle
# on l_orderkey/o_orderkey, so with bucketed storage the whole query is
# shuffle-free.
# ---------------------------------------------------------------------------
@register(
    "q18_large_orders",
    sql="""
    SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS o_orderdate_str,
           sum_qty
    FROM (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    ) big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY sum_qty DESC, o_orderkey ASC
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: HAVING-subquery semi-join on aggregated quantity.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .withColumn("sum_qty", F.col("sum_qty").cast("double"))
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate_str"),
            "sum_qty",
        )
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Connected-components duplicate clustering: pairwise near-dup evidence
# (trigram-Jaccard >= 0.5, same edge set as dedup_ngram_jaccard) collapsed
# into clusters; cluster_id = min doc id of the component. Spark picks
# driver union-find or a distributed min-label-propagation loop by edge
# count (see operators/dedup.py::duplicate_components); the oracle
# computes the same fixpoint with a recursive CTE. This is the
# step a real pipeline runs between "find near-dup pairs" and "keep one
# canonical document per cluster".
# ---------------------------------------------------------------------------
@register(
    "dedup_components",
    sql=f"""
    WITH RECURSIVE {_ngr_cte(3).strip()},
    sizes AS (SELECT doc, count(*) AS sz FROM ngr GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM ngr a JOIN ngr b ON a.hg = b.hg AND a.doc < b.doc
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach(node, lab) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst)
    SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
    """,
    doc="Near-dup pairs -> connected components -> (doc_id, cluster_id).",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    return duplicate_components(pairs)


# ---------------------------------------------------------------------------
# Canonical selection: the DELIVERABLE of the dedup pipeline — one kept
# document per near-dup cluster (longest text wins, doc id breaks ties),
# singletons keep themselves. Output: every doc with its cluster and the
# kept flag, so downstream both filters (kept=true) and audits (what was
# dropped, and for which canonical). Scale: components as above, then one
# broadcast-sized join (cluster labels are |duplicates|, not |corpus|) and
# a per-cluster rank window over only the clustered docs.
# ---------------------------------------------------------------------------
@register(
    "dedup_keep_canonical",
    sql=f"""
    WITH RECURSIVE {_ngr_cte(3).strip()},
    sizes AS (SELECT doc, count(*) AS sz FROM ngr GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM ngr a JOIN ngr b ON a.hg = b.hg AND a.doc < b.doc
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach(node, lab) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
    comp AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
    ranked AS (
      SELECT doc_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM labeled)
    SELECT doc_id, cluster_id, rn = 1 AS kept FROM ranked
    """,
    doc="Dedup deliverable: every document labeled with its near-dup "
    "cluster (singletons label themselves) and a kept flag — longest "
    "text per cluster wins, doc id breaks ties.",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    comp = duplicate_components(pairs).withColumnRenamed(
        "cluster_id", "comp_cluster"
    )
    labeled = (
        d.select("doc_id", "n_chars")
        # no forced broadcast: the clustered-doc table grows with true
        # duplicate density (unbounded on dup-heavy corpora); AQE
        # broadcasts when it actually fits
        .join(comp, "doc_id", "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("comp_cluster"), F.col("doc_id"))
        )
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_id", (F.col("rn") == 1).alias("kept"))
    )


# ---------------------------------------------------------------------------
# Event funnel: how many users performed view -> click -> purchase in
# strict first-occurrence order. One shuffle (groupBy user), then a
# single-row conditional agg unpivoted to one row per stage. Timestamps
# compared as integer microseconds on both engines (ts_us = ns div 1000 =
# DuckDB's ns->us cast truncation).
# ---------------------------------------------------------------------------
@register(
    "events_funnel",
    sql="""
    WITH firsts AS (
      SELECT user_id,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) FILTER (WHERE event_type = 'view') AS t1,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) FILTER (WHERE event_type = 'click') AS t2,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) FILTER (WHERE event_type = 'purchase') AS t3
      FROM events GROUP BY user_id),
    c AS (
      SELECT COUNT(*) FILTER (WHERE t1 IS NOT NULL) AS n1,
             COUNT(*) FILTER (WHERE t2 > t1) AS n2,
             COUNT(*) FILTER (WHERE t2 > t1 AND t3 > t2) AS n3
      FROM firsts)
    SELECT 'view' AS stage, n1 AS n_users FROM c
    UNION ALL SELECT 'view>click', n2 FROM c
    UNION ALL SELECT 'view>click>purchase', n3 FROM c
    """,
    doc="3-stage funnel on first-occurrence event ordering per user.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")

    def first_ts(ev: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == ev, F.col("ts_us")))

    firsts = e.groupBy("user_id").agg(
        first_ts("view").alias("t1"),
        first_ts("click").alias("t2"),
        first_ts("purchase").alias("t3"),
    )
    c = firsts.agg(
        F.count(F.when(F.col("t1").isNotNull(), 1)).alias("n1"),
        F.count(F.when(F.col("t2") > F.col("t1"), 1)).alias("n2"),
        F.count(
            F.when((F.col("t2") > F.col("t1")) & (F.col("t3") > F.col("t2")), 1)
        ).alias("n3"),
    )
    return c.select(
        F.expr(
            "stack(3, 'view', n1, 'view>click', n2, 'view>click>purchase', n3)"
            " AS (stage, n_users)"
        )
    )


# ---------------------------------------------------------------------------
# Deterministic per-group mode: most frequent order priority per order
# status, ties broken by priority string ascending (native mode() is
# tie-nondeterministic on BOTH engines, so both sides use the same
# count -> rank formulation). Two shuffles: the count groupBy and the
# 3-partition ranking window.
# ---------------------------------------------------------------------------
@register(
    "agg_mode_per_group",
    sql="""
    WITH cnt AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT o_orderstatus, o_orderpriority, n,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY n DESC, o_orderpriority ASC) AS rk
      FROM cnt)
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_orders
    FROM r WHERE rk = 1
    """,
    doc="Deterministic mode per group (count -> rank, tie-broken).",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cnt = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape (volume shipping): the SAME dimension table joined in two
# roles — nation of the supplier and nation of the customer — with a
# symmetric pair predicate and a year breakdown. Both nation roles
# broadcast; the fact-side chain shuffles on its join keys only.
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    sql="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: one dimension in two roles (supplier nation vs "
    "customer nation), symmetric pair predicate, yearly revenue.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = _dec(F.col("l_extendedprice")) * (
        F.lit(1) - _dec(F.col("l_discount"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape (small-quantity-order revenue): a correlated per-group
# average subquery decorrelated into an aggregate joined back to the fact
# table on the group key. avg_qty is decimal-sum / count (deterministic);
# the 0.2 threshold comparison and final sum stay in decimal.
# Scale: both the per-part aggregate and the join shuffle on l_partkey —
# with partkey-bucketed storage the whole query is shuffle-free; the
# brand filter lands on the broadcast part dimension.
# ---------------------------------------------------------------------------
@register(
    "q17_small_qty_revenue",
    sql="""
    WITH pa AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa ON pa.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#2'
      AND CAST(l_quantity AS DOUBLE) < 0.2 * avg_qty
    """,
    doc="TPC-H Q17 shape: correlated per-part avg subquery decorrelated "
    "into an agg-join; revenue of below-average-quantity lineitems.",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    pa = l.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (
            F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(pa, l["l_partkey"] == F.col("pa_key"))
        .filter(F.col("l_quantity").cast("double") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2
            ).alias("avg_yearly")
        )
    )
