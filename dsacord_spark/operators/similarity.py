"""Similarity search over embedding columns (`array<float>`).

- brute-force top-k cosine: exact baseline; cross join bounded to a small
  query set. At 100 TB this is only viable query-side (k queries x N docs
  shards, each partition computes local top-k then the driver merges).
- LSH-bucketed ANN (random hyperplanes): the scale path — corpus and
  queries are bucketed by an h-bit signature, the join is bucket-equality
  (co-partitioned shuffle, no cross join), then exact cosine within
  buckets only.
- label-blocked near-dup: pairwise cosine restricted to a blocking key.

Hyperplanes are deterministic ±1 masks derived from md5 (so the SQL
oracle reproduces them); all accumulation is sequential left-to-right in
double precision (see functions/vectors.py) for cross-engine parity.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StructField, StructType,
)

from dsacord_spark import leases
from dsacord_spark.functions.vectors import cosine, dot, norm
from dsacord_spark.session import local_frame

# sidecar I/O shared with leases.py's maintenance markers (r12 review:
# two line-identical copies had started to drift); the old private
# names stay as aliases for the existing import sites
from dsacord_spark.hadoopfs import (
    hadoop_read_text as _hadoop_read_text,
    hadoop_write_text as _hadoop_write_text,
)


def _pair_cos(dot_col: F.Column, norm_a: F.Column, norm_b: F.Column) -> F.Column:
    """Cosine from a per-pair dot and PRE-COMPUTED per-vector norms.
    Bit-identical to functions.vectors.cosine (same expressions, same
    order) but the O(dim) norm work runs once per vector before the join
    instead of once per pair after it — a 3x per-pair saving that the
    projection boundary at the join protects from being inlined back."""
    return F.try_divide(dot_col, norm_a * norm_b)


def hyperplane_masks(n_planes: int, dim: int, seed: str = "dsacord-lsh") -> list[list[int]]:
    """Deterministic ±1 hyperplane masks: sign of bit (i-th) of
    md5(seed|plane|chunk). Pure data — the same lists are embedded in the
    oracle SQL."""
    masks = []
    for p in range(n_planes):
        bits: list[int] = []
        chunk = 0
        while len(bits) < dim:
            h = hashlib.md5(f"{seed}|{p}|{chunk}".encode()).digest()
            for byte in h:
                for k in range(8):
                    bits.append(1 if (byte >> k) & 1 else -1)
            chunk += 1
        masks.append(bits[:dim])
    return masks


def hyperplane_bucket(vec: Column, masks: list[list[int]]) -> Column:
    """Bucket id in [0, 2^n_planes): bit p set iff dot(vec, mask_p) > 0."""
    bucket = None
    for p, mask in enumerate(masks):
        dot_p = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(m)) for m in mask]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        term = F.when(dot_p > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding self).
    queries must have columns (q_id, q_vec)."""
    e_n = emb.withColumn("__en", norm(F.col(vec_col)))
    q_n = queries.withColumn("__qn", norm(F.col("q_vec")))
    pairs = q_n.crossJoin(e_n).filter(F.col("q_id") != F.col(id_col))
    scored = pairs.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(
            dot(F.col("q_vec"), F.col(vec_col)), F.col("__qn"), F.col("__en")
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def block_topk_cosine(
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: tuple[str, ...] = (),
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors via vectorized block dot products.

    The scale formulation of brute-force kNN: the query matrix (small by
    contract — it ships into every task) is closed over; each Arrow batch
    of the corpus computes an (n_batch x n_queries) score block with one
    fused multiply-add per dimension and keeps only its LOCAL top-k per
    query, so what leaves the operator is O(batches x queries x k) rows
    instead of the full pair matrix. The caller applies the global top-k
    window — under the same strict total order (cos DESC, id ASC) every
    true global top-k row is necessarily inside its batch's local top-k,
    so the merge is lossless.

    Bit-parity with the HOF/SQL formulation (functions/vectors.dot,
    DuckDB list_dot_product): inputs are widened to f64 first, every
    element product is a single f64 multiply, and accumulation is
    dimension-sequential — bit-identical to the sequential left-to-right
    fold both SQL engines evaluate. This is why the loop below runs one
    vectorized step PER DIMENSION rather than calling BLAS matmul (whose
    pairwise/SIMD summation order would drift by ulps and flip
    near-tie rankings between engines).

    Contrast with brute_force_topk above (the pure-Column formulation):
    interpreted HOF lambdas allocate a 64-element array per pair; this
    path is ~6x faster at sf0.1 and is the one to use when the query set
    grows past a handful.

    Degenerate (zero-norm) vectors: their cosine is NULL in the output
    (Arrow maps pandas NaN to SQL NULL) and they rank LAST under the
    global (cos DESC, id ASC) window — internally consistent between
    the local and global top-k, but a documented divergence from the
    HOF/SQL formulation, where the same pair scores NaN and NaN sorts
    FIRST under DESC. Filter zero-norm vectors upstream when exact
    HOF parity on degenerate inputs matters; the bit-parity guarantee
    above applies to finite-norm inputs.
    """
    import numpy as np
    import pandas as pd
    src0 = emb.select(id_col, vec_col, *payload_cols)
    empty_schema = StructType(
        [
            StructField("q_id", src0.schema[id_col].dataType, False),
            StructField("neighbor_id", src0.schema[id_col].dataType, False),
            StructField("cos", DoubleType(), True),
        ]
        + [StructField(c, src0.schema[c].dataType, True) for c in payload_cols]
    )
    if not queries:
        return emb.sparkSession.createDataFrame([], empty_schema)

    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = np.array([q[1] for q in queries], dtype=np.float64)
    m, d = q_mat.shape
    qn = np.zeros(m)
    for i in range(d):
        qn += q_mat[:, i] * q_mat[:, i]
    with np.errstate(divide="ignore", invalid="ignore"):
        q_unit = q_mat / np.sqrt(qn)[:, None]

    src = src0
    out_schema = empty_schema

    def local_topk(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xn = np.zeros(n)
            for i in range(d):
                xn += x[:, i] * x[:, i]
            with np.errstate(divide="ignore", invalid="ignore"):
                u = x / np.sqrt(xn)[:, None]
            scores = np.zeros((n, m))
            for i in range(d):
                scores += np.outer(u[:, i], q_unit[:, i])
            ids = pdf[id_col].to_numpy()
            out_q, out_idx = [], []
            for j in range(m):
                s = scores[:, j]
                sel = np.arange(n)
                if exclude_self:
                    sel = sel[ids != q_ids[j]]
                # strict (cos desc, id asc) order; lexsort's primary key
                # is the LAST one. NaN scores (zero-norm degenerate
                # vectors) sort LAST locally — deliberately consistent
                # with the global merge, where Arrow turns pandas NaN
                # into SQL NULL and desc ranks NULLs last (see the NaN
                # note in the operator docstring)
                neg = -s[sel]
                neg = np.where(np.isnan(neg), np.inf, neg)
                order = sel[np.lexsort((ids[sel], neg))][:k]
                out_q.append(np.full(len(order), q_ids[j], dtype=np.int64))
                out_idx.append(order)
            qcol = np.concatenate(out_q)
            idx = np.concatenate(out_idx)
            res = {
                "q_id": qcol,
                "neighbor_id": ids[idx],
                "cos": scores[idx, np.repeat(np.arange(m), [len(o) for o in out_idx])],
            }
            for c in payload_cols:
                res[c] = pdf[c].to_numpy()[idx]
            yield pd.DataFrame(res)

    return src.mapInPandas(local_topk, schema=out_schema)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    masks: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's hyperplane bucket(s).
    The bucket join is an equi-join (shuffle/broadcast by bucket id) — at
    scale the corpus is written bucketed so queries probe one partition.

    `multiprobe` additionally probes every bucket at Hamming distance 1
    from the query's bucket (flip each hyperplane bit): a near neighbor
    sitting just across one hyperplane is the dominant LSH failure mode,
    and single-probe recall collapses as planes are added (measured
    recall@10 0.10 single-probe vs 0.47 multi-probe on the sf0.001
    corpus, probing 5 of 16 buckets). Cost scales with (1 + n_planes) probes per query — still a
    bucket equi-join, never a cross join; each corpus vector lives in
    exactly one bucket so probes are disjoint and need no dedup."""
    emb_b = emb.withColumn(
        "bucket", hyperplane_bucket(F.col(vec_col), masks)
    ).withColumn("__en", norm(F.col(vec_col)))
    q_b = queries.withColumn(
        "bucket", hyperplane_bucket(F.col("q_vec"), masks)
    ).withColumn("__qn", norm(F.col("q_vec")))
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(len(masks))],
        )
        q_b = q_b.withColumn("bucket", F.explode(probes))
    pairs = q_b.join(emb_b, "bucket").filter(F.col("q_id") != F.col(id_col))
    scored = pairs.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(
            dot(F.col("q_vec"), F.col(vec_col)), F.col("__qn"), F.col("__en")
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def blocked_near_dup_pairs(
    emb: DataFrame,
    block_col: str = "label",
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs within a blocking key (equi-join on the
    block, never an unbounded cross join)."""
    a = emb.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("__na"),
    )
    b = emb.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "blk",
            "id_a",
            "id_b",
            F.round(
                _pair_cos(
                    dot(F.col("vec_a"), F.col("vec_b")),
                    F.col("__na"),
                    F.col("__nb"),
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer assigns every corpus
    vector to its nearest centroid cell; a query scores only the vectors
    in its `nprobe` nearest cells.

    Centroids here are the first `n_cells` vectors by id — deterministic
    so the DuckDB oracle reproduces the full index bit-for-bit; a
    production index swaps in k-means centroids (this is the 0-iteration
    degenerate case) without touching the dataflow. At scale: centroids
    broadcast (they are tiny), the corpus assignment is a broadcast
    cross join + per-vector-id top-1 window (one shuffle of corpus x
    n_cells scored rows), the probe join is an equi-join on cell id —
    the corpus is written partitioned/bucketed by cell so a query
    touches nprobe/n_cells of the data instead of all of it.

    A shuffle-free variant (collect centroids, inline them as literal
    arrays, pick the cell with a per-row array_sort) was measured 2.5x
    SLOWER here: the n_cells x dim literal expression tree falls out of
    whole-stage codegen into interpreted evaluation. The production
    assignment at corpus scale is `assign_cells_blas` (mapInPandas
    dgemm+argmax, see `ivf_topk_blas`): measured 4.5x faster than this
    crossJoin+window assignment at a 200k-vector corpus (0.82s vs 3.70s
    warm, local[32]) and the gap grows with corpus size; below ~10k
    vectors the JVM codegen path wins because Python worker startup
    dominates. This declarative formulation stays as the oracle-parity
    path (sequential-fold summation order matches the SQL twin)."""
    cent = (
        emb.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_n"),
        )
    )

    def nearest_cells(df: DataFrame, vid: str, vec: str, n: int) -> DataFrame:
        with_n = df.withColumn("__vn", norm(F.col(vec)))
        scored = with_n.crossJoin(F.broadcast(cent)).select(
            with_n["*"],
            "c_id",
            _pair_cos(dot(F.col(vec), F.col("c_vec")), F.col("__vn"), F.col("c_n"))
            .alias("c_cos"),
        )
        w = W.partitionBy(vid).orderBy(F.col("c_cos").desc(), F.col("c_id").asc())
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .drop("rn", "c_cos")
            .withColumnRenamed("c_id", "cell")
        )

    assigned = nearest_cells(emb, id_col, vec_col, 1).withColumnRenamed("__vn", "__en")
    probes = nearest_cells(queries, "q_id", "q_vec", nprobe).withColumnRenamed(
        "__vn", "__qn"
    )
    # probes is num_queries x nprobe rows — tiny by construction — while
    # the corpus assignment is the full dataset: broadcast the probe side
    # so the cell join never shuffles the corpus
    return _probe_score_topk(assigned, probes, k, id_col, vec_col)


def assign_cells_blas(
    df: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Vectorized (BLAS) centroid assignment for the IVF index — the
    production-scale variant the round-1 plan audit called for
    (`ivf_topk` docstring: 'revisit with a pandas UDF (vectorized BLAS
    argmax) rather than literal expressions').

    Centroids are tiny (n_cells x dim); they ship to every task inside
    the mapInPandas closure (same bytes a broadcast-hash build side would
    move) as one numpy matrix. Each Arrow batch computes ALL cosines with
    a single matrix multiply (numpy -> BLAS dgemm) and takes the
    per-vector argmax (nprobe=1) or top-nprobe via argsort — zero
    shuffles, zero joins: the declarative formulation pays a corpus x
    n_cells expansion through a row_number window, this one never
    materializes the scored pairs at all.

    Tie-breaking matches the declarative path (lowest centroid id wins):
    centroid_rows must be sorted by id; argmax/stable argsort take the
    first occurrence. Output: one row per input vector per probe —
    (id, vec, __vn l2-norm, cell, probe_rank 1..nprobe).

    Scale: at petabyte corpus size this is the assignment to use — cost
    is one streaming pass over the data (dgemm is memory-bound here),
    and the output can be written bucketed by `cell` so probe queries
    read nprobe/n_cells of the corpus.
    """
    import numpy as np
    import pandas as pd

    ids = np.array([int(c_id) for c_id, _ in centroid_rows], dtype=np.int64)
    assert (np.diff(ids) > 0).all(), "centroid_rows must be sorted by id"
    cmat = np.array([v for _, v in centroid_rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cunit = cmat / np.where(cnorm == 0, 1.0, cnorm)[:, None]
    n_probe = int(nprobe)

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            vmat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.linalg.norm(vmat, axis=1)
            cos = (vmat @ cunit.T) / np.where(vn == 0, 1.0, vn)[:, None]
            if n_probe == 1:
                sel = np.argmax(cos, axis=1)[:, None]
            else:
                sel = np.argsort(-cos, axis=1, kind="stable")[:, :n_probe]
            frames = []
            for r in range(sel.shape[1]):
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            vec_col: pdf[vec_col],
                            "__vn": vn,
                            "cell": ids[sel[:, r]],
                            "probe_rank": np.int32(r + 1),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} long, {vec_col} array<float>, __vn double, "
            "cell long, probe_rank int"
        ),
    )


def _probe_score_topk(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared IVF tail: broadcast the (tiny) probe set onto the cell-
    assigned corpus, exact-score the candidates, global top-k per query.
    Used by every IVF variant (declarative, BLAS, trained, persisted) so
    tie-breaking, self-exclusion, and rounding live in exactly one
    place."""
    cand = F.broadcast(probes).join(assigned, "cell").filter(
        F.col("q_id") != F.col(id_col)
    )
    scored = cand.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(
            dot(F.col("q_vec"), F.col(vec_col)), F.col("__qn"), F.col("__en")
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ivf_topk_blas(
    emb: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_topk` with the BLAS cell assignment on both sides: same
    centroids, same probe-join/score/top-k tail, but corpus and query
    cell assignment run through `assign_cells_blas` (no crossJoin, no
    per-vector window). Results match `ivf_topk` when no query sits on a
    near-tie between cells (float64 summation order differs: BLAS vs
    sequential fold — pinned equal on the synthetic corpus by test)."""
    centroid_rows = [
        (r[id_col], r[vec_col])
        for r in emb.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(id_col, vec_col)
        .collect()
    ]
    assigned = assign_cells_blas(
        emb, centroid_rows, id_col, vec_col, nprobe=1
    ).withColumnRenamed("__vn", "__en").drop("probe_rank")
    probes = (
        assign_cells_blas(queries, centroid_rows, "q_id", "q_vec", nprobe=nprobe)
        .withColumnRenamed("__vn", "__qn")
        .drop("probe_rank")
    )
    return _probe_score_topk(assigned, probes, k, id_col, vec_col)


def kmeans_centroids(
    emb: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic spherical k-means for the IVF coarse quantizer:
    Lloyd's iterations with BLAS assignment (one dgemm per Arrow batch)
    and PARTITION-PARTIAL centroid sums — each task emits one k x d sum
    matrix + counts (k rows, tiny), the driver merges them in
    partition-id order, so no n x d shuffle ever happens and the result
    is deterministic for a fixed input partitioning. Initialization is
    the first k vectors by id (the same seed the 0-iteration oracle
    index uses); empty cells keep their previous centroid.

    At 100 TB this is the standard design: assignment cost is one
    streaming pass per iteration (memory-bound dgemm), the reduction
    ships k*d*partitions floats to the driver — independent of corpus
    size. Returns [(cell_id 0..k-1, centroid)] for assign_cells_blas."""
    import numpy as np
    import pandas as pd

    first = (
        emb.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(vec_col)
        .collect()
    )
    if not first:
        return []
    # a corpus smaller than k simply trains fewer centroids (matching
    # ivf_topk_blas's limit(n_cells) behavior instead of an IndexError)
    k = min(k, len(first))
    cents = np.array([r[vec_col] for r in first], dtype=np.float64)
    d = cents.shape[1]

    for _ in range(iters):
        norms = np.linalg.norm(cents, axis=1)
        cunit = cents / np.where(norms == 0, 1.0, norms)[:, None]

        def partials(it, _cu=cunit, _k=k, _d=d):
            sums = np.zeros((_k, _d))
            counts = np.zeros(_k, dtype=np.int64)
            pid = -1
            for pdf in it:
                if not len(pdf):
                    continue
                pid = int(pdf["__pid"].iloc[0])
                vmat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
                )
                vn = np.linalg.norm(vmat, axis=1)
                cos = (vmat @ _cu.T) / np.where(vn == 0, 1.0, vn)[:, None]
                sel = np.argmax(cos, axis=1)
                for cell in range(_k):
                    mask = sel == cell
                    if mask.any():
                        sums[cell] += vmat[mask].sum(axis=0)
                        counts[cell] += int(mask.sum())
            if pid >= 0:
                yield pd.DataFrame(
                    {
                        "pid": pid,
                        "cell": np.arange(_k),
                        "cnt": counts,
                        "vsum": [row.tolist() for row in sums],
                    }
                )

        part_rows = (
            emb.select(
                F.spark_partition_id().alias("__pid"),
                F.col(vec_col).alias("__v"),
            )
            .mapInPandas(
                partials,
                schema="pid int, cell int, cnt long, vsum array<double>",
            )
            .collect()
        )
        sums = np.zeros((k, d))
        counts = np.zeros(k, dtype=np.int64)
        for r in sorted(part_rows, key=lambda r: (r["pid"], r["cell"])):
            sums[r["cell"]] += np.asarray(r["vsum"])
            counts[r["cell"]] += r["cnt"]
        for cell in range(k):
            if counts[cell] > 0:
                cents[cell] = sums[cell] / counts[cell]
    return [(i, cents[i].tolist()) for i in range(k)]


def ivf_topk_kmeans(
    emb: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_topk_blas` with trained (Lloyd's) centroids instead of the
    first-n seed — the full production IVF: better-balanced cells mean
    more uniform probe costs and higher recall at the same nprobe."""
    centroid_rows = kmeans_centroids(
        emb, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    assigned = assign_cells_blas(
        emb, centroid_rows, id_col, vec_col, nprobe=1
    ).withColumnRenamed("__vn", "__en").drop("probe_rank")
    probes = (
        assign_cells_blas(queries, centroid_rows, "q_id", "q_vec", nprobe=nprobe)
        .withColumnRenamed("__vn", "__qn")
        .drop("probe_rank")
    )
    return _probe_score_topk(assigned, probes, k, id_col, vec_col)




def _ivf_lease_name(path: str) -> str:
    """Registry key for an IVF lake's maintenance/stream leases — the
    normalized lake path, so `a/b/` and `a/b` coordinate as one index."""
    return path.rstrip("/")


def _q8(vec: Column) -> Column:
    """int8 scalar quantization of a unit-normalized vector:
    round(v_i/||v|| * 127) as tinyint (the SQ8 shape the in-memory
    `ann_quantized_rerank` entry oracles). Zero-norm vectors quantize
    to NULL (try_divide) and rank last in any quantized shortlist —
    consistent with their NULL exact cosine."""
    n = norm(vec)
    return F.transform(
        vec,
        lambda x: F.round(
            F.try_divide(x.cast("double") * 127.0, n), 0
        ).cast("tinyint"),
    )


def _q8_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two int8-quantized vectors (exact in
    long arithmetic — no float rounding in the coarse score)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _bootstrap_ivf_id_index(
    spark, path: str, id_col: str, table: str, buckets: int
) -> None:
    """(Re)build the IVF lake's id side-index from the lake's CURRENT
    contents: one column-pruned full-lake id scan, written as an
    id-bucketed id-sorted table so the daily append's retry anti-join
    consumes it with no Exchange on the index side (the uuid-index
    bootstrap shape, sinks/parquet.append_new_decisions)."""
    (
        spark.read.parquet(path).select(id_col)
        .write.format("parquet").mode("overwrite")
        .bucketBy(buckets, id_col).sortBy(id_col)
        .saveAsTable(table)
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_index_table: str | None = None,
    id_index_buckets: int = 16,
    force: bool = False,
    quantize: bool = False,
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index as a CELL-PARTITIONED parquet lake:
    trained centroids (kmeans_centroids), BLAS assignment, then
    `.write.partitionBy("cell")` — the layout that turns the catalog's
    in-memory cell join into PARTITION PRUNING at serve time: a probe
    query physically reads nprobe/n_cells of the corpus (directory-level
    skipping, before any row is touched). Centroids are persisted as
    JSON beside the data so the index is self-contained. This is the
    serving architecture the in-memory `ivf_topk*` operators simulate.

    `id_index_table` (r12, verdict item 1): name of a catalog table to
    maintain as the lake's id SIDE-INDEX — id-bucketed/id-sorted, the
    uuid-index pattern from sinks/parquet.append_new_decisions. When
    set, it is recorded in the sidecar metadata so `append_ivf_index`
    serves its retry anti-join from the index (bounded, co-located)
    instead of a full-lake id scan, and `retrain_ivf_index` rebuilds it
    with the lake. The whole build holds a maintenance lease on the
    lake path, so a concurrent `query_ivf_index` cannot plan over a
    half-overwritten directory (r11 ADVICE).

    `quantize=True` (r12) additionally stores an int8 `__q8` column
    (SQ8: round(v/||v||*127)) beside each vector, recorded in the
    sidecar. `query_ivf_index(shortlist=N)` then serves a two-phase
    probe — integer-dot shortlist over the 1-byte/dim column, exact
    rerank over only the shortlist's rows — so the scan-dominated
    serving path reads ~1/4 of the vector bytes. Rows inside each cell
    file are sorted by id (local sort, no extra shuffle) so the
    rerank's id IN-filter skips row groups via footer min/max stats."""
    import json
    import os

    spark = emb.sparkSession
    with leases.maintenance_lease(_ivf_lease_name(path)), \
            leases.fs_maintenance_marker(
                spark, path, "build_ivf_index", force=force):
        centroid_rows = kmeans_centroids(
            emb, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
        assigned = assign_cells_blas(
            emb, centroid_rows, id_col, vec_col, nprobe=1
        ).drop("probe_rank")
        if quantize:
            assigned = assigned.withColumn("__q8", _q8(F.col(vec_col)))
        # id-sorted rows within each cell file: local sort, no extra
        # shuffle; gives the quantized rerank's id IN-filter row-group
        # skipping and costs nothing for the plain path (the decisions
        # lake's cluster_within_files_by precedent)
        assigned.sortWithinPartitions("cell", id_col).write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(path)
        meta = {
            "n_cells": n_cells,
            "id_col": id_col,
            "vec_col": vec_col,
            "centroids": [
                (int(c), list(map(float, v))) for c, v in centroid_rows
            ],
        }
        if quantize:
            meta["quantized"] = True
        if id_index_table is not None:
            meta["id_index_table"] = id_index_table
            meta["id_index_buckets"] = int(id_index_buckets)
        _hadoop_write_text(
            spark, os.path.join(path, "_ivf_centroids.json"),
            json.dumps(meta),
        )
        if id_index_table is not None:
            # bootstrap AFTER the sidecar: a crash in between leaves a
            # sidecar naming a missing table, which the next append
            # detects and re-bootstraps (adoption path) — never a table
            # claiming ids a half-built lake lacks
            _bootstrap_ivf_id_index(
                spark, path, id_col, id_index_table, id_index_buckets
            )
    return centroid_rows


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 5,
    materialize: bool = True,
    shortlist: int | None = None,
) -> DataFrame:
    """Serve top-k ANN from a `build_ivf_index` lake: assign each query
    to its nprobe nearest cells (BLAS, centroids from the index's own
    metadata), then scan ONLY those cell partitions (`cell IN (...)`
    prunes at the directory level — verified by plan test) and run the
    same score/top-k tail as the in-memory operators. Results are
    identical to `ivf_topk_kmeans` built with the same parameters.

    The call holds a STREAM lease on the lake path (r12 verdict item 3):
    a maintenance rewrite (retrain's rename-aside swap) cannot start
    while a query is in flight, and a query started mid-rewrite is
    refused with a retry diagnostic instead of failing mid-scan when
    `__old` is deleted. `materialize=True` (default) makes the lease
    actually span plan AND execute: the result is computed inside the
    lease and returned as a local relation — sized for the SERVING
    shape (a query batch x k rows through the driver). For OFFLINE
    query frames (millions of rows), use `materialize=False` — the
    result stays a distributed plan the caller writes/consumes without
    a driver funnel — and wrap plan+execution in your own
    `leases.stream_lease` if a concurrent retrain is possible
    (stream_lease is re-entrant; annctl's query subcommand is the
    reference caller). With `materialize=False` and no caller lease,
    the lease covers planning only; rename-aside keeps a mid-swap read
    a retryable error, never corruption.

    `shortlist=N` (r12; requires a `build_ivf_index(quantize=True)`
    lake) serves the probe in two phases: an integer-dot COARSE pass
    over the probed cells reading only the int8 `__q8` column (~1/4
    the vector bytes — plan-pinned column pruning) keeps the top-N
    candidates per query, then an exact-cosine RERANK reads the full
    vectors of ONLY those candidates (id IN-filter over the build's
    id-sorted cell files — row-group skipping). Approximate by
    construction: a true neighbor quantized out of the shortlist is
    lost (recall pinned by test; N >= probed-corpus size degenerates
    to the exact result). The shortlist ids are collected between the
    phases — queries x N rows, bounded by the serving contract."""
    with leases.stream_lease(_ivf_lease_name(path)):
        meta = _read_ivf_meta(spark, path)
        centroid_rows = [(int(c), v) for c, v in meta["centroids"]]
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        if shortlist is not None and not meta.get("quantized"):
            raise ValueError(
                f"shortlist={shortlist} needs a quantized lake — "
                f"rebuild {path} with build_ivf_index(quantize=True)"
            )

        assigned = (
            assign_cells_blas(
                queries, centroid_rows, "q_id", "q_vec", nprobe=nprobe
            )
            .withColumnRenamed("__vn", "__qn")
            .drop("probe_rank")
        )
        if shortlist is not None:
            assigned = assigned.withColumn("__qq8", _q8(F.col("q_vec")))
        # The probe set is consumed twice (the cells list below and the
        # final probe join) and is broadcast by the probe tail
        # REGARDLESS — so materialize it to the driver ONCE and rebuild
        # it as a local relation: the assignment runs exactly once, the
        # collected rows are the same bytes the broadcast would ship,
        # and unlike the r10 localCheckpoint formulation nothing is left
        # in the block manager for the ContextCleaner to reclaim later
        # (the checkpoint block lingered for tens of seconds after the
        # result frame died, tripping the persistent-RDD census — r11
        # review of annctl).
        probe_rows = assigned.collect()
        probes = local_frame(spark, probe_rows, assigned.schema)
        cells = sorted({r["cell"] for r in probe_rows})
        cell_filter = (
            F.col("cell").isin(cells) if cells else F.lit(False)
        )
        if shortlist is None:
            corpus = (
                spark.read.parquet(path)
                .filter(cell_filter)
                .withColumnRenamed("__vn", "__en")
            )
            result = _probe_score_topk(corpus, probes, k, id_col, vec_col)
        else:
            result = _quantized_probe(
                spark, path, probes, cells, cell_filter,
                shortlist, k, id_col, vec_col,
            )
        if not materialize:
            return result
        rows = result.collect()
        return local_frame(spark, rows, result.schema)


def _quantized_probe(
    spark,
    path: str,
    probes: DataFrame,
    cells: list,
    cell_filter: Column,
    shortlist: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Two-phase SQ8 serving (see query_ivf_index): coarse integer-dot
    shortlist over the 1-byte/dim `__q8` column, exact-cosine rerank
    over only the shortlist rows. Ties in the coarse score break on
    neighbor id (ascending) — deterministic shortlists, same total
    order as the in-memory ann_quantized_rerank entry."""
    from dsacord_spark.operators.dedup import _in_literals

    coarse_scan = (
        spark.read.parquet(path)
        .filter(cell_filter)
        .select(id_col, "cell", "__q8")
    )
    swin = W.partitionBy("q_id").orderBy(
        F.col("__qdot").desc(), F.col(id_col).asc()
    )
    shortlisted = (
        F.broadcast(probes.select("q_id", "cell", "__qq8"))
        .join(coarse_scan, "cell")
        .filter(F.col("q_id") != F.col(id_col))
        .select(
            "q_id",
            F.col(id_col),
            _q8_dot(F.col("__qq8"), F.col("__q8")).alias("__qdot"),
        )
        .withColumn("__srn", F.row_number().over(swin))
        .filter(F.col("__srn") <= shortlist)
        .select("q_id", id_col)
    )
    # bounded by contract: |queries| x shortlist rows — the ids become
    # literals for the rerank's row-group-skipping scan and the pairs a
    # local relation (the pruned-probe pattern)
    pairs = shortlisted.collect()
    cand_ids = sorted({r[id_col] for r in pairs})
    rerank_scan = (
        spark.read.parquet(path)
        .filter(cell_filter)
        .filter(_in_literals(id_col, cand_ids))
        .select(id_col, vec_col, F.col("__vn").alias("__en"))
    )
    cand = (
        local_frame(spark, pairs, shortlisted.schema)
        .join(
            # probes carries one row per (q_id, probed cell); the
            # rerank needs each query ONCE
            F.broadcast(
                probes.select("q_id", "q_vec", "__qn")
                .dropDuplicates(["q_id"])
            ),
            "q_id",
        )
        .join(rerank_scan, id_col)
    )
    scored = cand.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(
            dot(F.col("q_vec"), F.col(vec_col)),
            F.col("__qn"), F.col("__en"),
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", "neighbor_id", "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def _read_ivf_meta(spark, path: str) -> dict:
    """Load an IVF lake's sidecar metadata with the same diagnostic
    shape as the dedup indexes' _read_index_meta: a missing sidecar is
    'never built or a build crashed before the final meta write —
    rebuild', never an opaque java.io stack."""
    import json
    import os

    try:
        return json.loads(
            _hadoop_read_text(
                spark, os.path.join(path, "_ivf_centroids.json")
            )
        )
    except Exception as exc:
        raise ValueError(
            f"{path} has no readable _ivf_centroids.json sidecar — "
            f"either no IVF index was built there, or a build crashed "
            f"before its final meta write; rebuild with build_ivf_index "
            f"({type(exc).__name__}: {exc})"
        ) from exc


def _ivf_recover_pending(
    spark, path: str, id_col: str, idx_table: str, marker: str, fs, jvm
) -> None:
    """Crash recovery for the indexed append's lake-write -> index-write
    window: the pending marker holds the (id, cell) rows a previous
    append INTENDED to write. For marker ids that made it into the lake
    (read pruned to the marker's own cells — crashed-batch-sized, never
    corpus-sized) but are missing from the index, append them to the
    index; ids absent from the lake died before the lake write and need
    nothing (their batch will simply be replayed). Idempotent — a crash
    mid-recovery reruns it. The marker is deleted only after the index
    converged."""
    from dsacord_spark.operators.dedup import _in_literals
    from dsacord_spark.sinks.parquet import describe_bucket_spec

    try:
        pending = spark.read.parquet(marker)
        cells = sorted(
            r["cell"] for r in pending.select("cell").distinct().collect()
        )
    except Exception:
        # an unreadable marker means the crash happened DURING the
        # marker write itself (only _temporary/ contents, no schema) —
        # which precedes the lake write by construction (recovery
        # deletes any prior marker before a new one is staged), so
        # there is nothing to recover: discard and let the batch replay
        # normally. Without this, a crash mid-marker-write bricked
        # every subsequent append on the same AnalysisException
        # (r12 review).
        fs.delete(jvm.org.apache.hadoop.fs.Path(marker), True)
        return
    if cells:
        in_lake = pending.select(id_col).join(
            spark.read.parquet(path)
            .filter(_in_literals("cell", [int(c) for c in cells]))
            .select(id_col),
            id_col,
            "left_semi",
        )
        missing = in_lake.join(
            spark.table(idx_table).select(id_col), id_col, "left_anti"
        )
        n_buckets = describe_bucket_spec(spark, idx_table)["n_buckets"]
        (
            missing.write.format("parquet").mode("append")
            .bucketBy(n_buckets, id_col).sortBy(id_col)
            .saveAsTable(idx_table)
        )
    fs.delete(jvm.org.apache.hadoop.fs.Path(marker), True)


def append_ivf_index(
    spark,
    path: str,
    new_emb: DataFrame,
    skip_existing: bool = True,
    force: bool = False,
) -> int:
    """Daily-append for the IVF lake — the ANN twin of the dedup
    indexes' update_corpus_index: new vectors are assigned to the
    EXISTING centroids (the index's own sidecar; an append never moves
    centroids, so every already-written cell partition stays valid and
    a probe's directory pruning is unchanged) and appended to their
    cell partitions. Centroids drifting away from the data they now
    summarize is the designed trade — measure with ivf_index_stats and
    re-train with retrain_ivf_index on the maintenance cadence. The
    whole append holds a maintenance lease on the lake path, so it
    cannot interleave with an in-flight query (r12 verdict item 3).

    `skip_existing=True` (default) makes a replayed batch append
    nothing — the retry-idempotence contract of append_new_decisions.
    Two probe tiers:

    - WITHOUT an id index (no `id_index_table` at build time): the
      batch anti-joins the lake's id column — column-pruned but
      corpus-linear, the r11 shape. Appended count comes from footer
      counts before/after (metadata-only; an Observation on the
      anti-joined frame hits the known AQE empty-relation assertion on
      zero-row appends).
    - WITH an id index (r12 verdict item 1 — the uuid-index pattern,
      sinks/parquet.append_new_decisions): the anti-join consumes the
      id-bucketed side table with no Exchange on the index side, and
      EVERY per-append cost is batch-sized — no full-lake scan, no
      footer passes (the count is the surviving batch's own count).
      The lake-write -> index-write crash window is closed by a
      PENDING MARKER, not by the decisions lake's partition heal: day
      partitions are batch-sized so a day-heal is O(day), but cell
      partitions are corpus/n_cells-sized and a diverse batch touches
      ALL cells, so a cell-heal would re-scan the corpus every append.
      Instead the surviving (id, cell) rows are staged to
      `_ivf_pending/` inside the lake dir (underscore-prefixed —
      invisible to lake scans) BEFORE the lake write and deleted after
      the index write; the next append replays any leftover marker
      first (_ivf_recover_pending: crashed-batch-sized, pruned to the
      marker's own cells). The surviving batch itself is
      localCheckpointed so the post-lake-write index append cannot
      re-evaluate against the just-written lake and anti-join its own
      rows away (the CacheManager.recacheByPath gotcha that shaped the
      decisions-lake heal); the blocks are released before returning.
      A sidecar that names a MISSING table (crashed build bootstrap,
      dropped table, adoption of a pre-r12 lake after a retrain wrote
      the name) is healed here: one full-lake bootstrap scan, paid
      once, then every later append is bounded.

    `skip_existing=False` raw-appends the batch but still maintains the
    id index (append only ids the index lacks — the index stays a SET
    so future idempotent appends keep their contract).

    Returns the number of rows actually appended."""
    meta = _read_ivf_meta(spark, path)
    centroid_rows = [(int(c), v) for c, v in meta["centroids"]]
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    idx_table = meta.get("id_index_table")
    with leases.maintenance_lease(_ivf_lease_name(path)), \
            leases.fs_maintenance_marker(
                spark, path, "append_ivf_index", force=force):
        if idx_table is None:
            batch = new_emb.select(id_col, vec_col)
            if skip_existing:
                batch = batch.join(
                    spark.read.parquet(path).select(id_col),
                    id_col, "left_anti",
                )
            before = spark.read.parquet(path).count()
            assigned = assign_cells_blas(
                batch, centroid_rows, id_col, vec_col, nprobe=1
            ).drop("probe_rank")
            if meta.get("quantized"):
                assigned = assigned.withColumn(
                    "__q8", _q8(F.col(vec_col))
                )
            assigned.sortWithinPartitions("cell", id_col).write.mode(
                "append"
            ).partitionBy("cell").parquet(path)
            return spark.read.parquet(path).count() - before

        import os

        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        marker = os.path.join(path, "_ivf_pending")
        if not spark.catalog.tableExists(idx_table):
            # adoption / crashed-bootstrap heal: one full-lake id scan,
            # after which any leftover marker is satisfied by definition
            # (the bootstrap read the post-crash lake)
            _bootstrap_ivf_id_index(
                spark, path, id_col,
                idx_table, int(meta.get("id_index_buckets", 16)),
            )
            fs.delete(jvm.org.apache.hadoop.fs.Path(marker), True)
        elif fs.exists(jvm.org.apache.hadoop.fs.Path(marker)):
            _ivf_recover_pending(
                spark, path, id_col, idx_table, marker, fs, jvm
            )

        batch = new_emb.select(id_col, vec_col)
        assigned = assign_cells_blas(
            batch, centroid_rows, id_col, vec_col, nprobe=1
        ).drop("probe_rank")
        if meta.get("quantized"):
            assigned = assigned.withColumn("__q8", _q8(F.col(vec_col)))
        if skip_existing:
            assigned = assigned.join(
                spark.table(idx_table).select(id_col), id_col, "left_anti"
            )
        survivors = assigned.localCheckpoint(eager=True)
        try:
            appended = survivors.count()
            if appended == 0:
                return 0
            survivors.select(id_col, "cell").write.mode(
                "overwrite"
            ).parquet(marker)
            survivors.sortWithinPartitions("cell", id_col).write.mode(
                "append"
            ).partitionBy("cell").parquet(path)
            to_index = survivors.select(id_col)
            if not skip_existing:
                # a raw append may carry ids the index already holds
                to_index = to_index.join(
                    spark.table(idx_table).select(id_col),
                    id_col, "left_anti",
                )
            from dsacord_spark.sinks.parquet import describe_bucket_spec

            n_buckets = describe_bucket_spec(spark, idx_table)["n_buckets"]
            (
                to_index.write.format("parquet").mode("append")
                .bucketBy(n_buckets, id_col).sortBy(id_col)
                .saveAsTable(idx_table)
            )
            fs.delete(jvm.org.apache.hadoop.fs.Path(marker), True)
            return appended
        finally:
            # a localCheckpoint is not in the CacheManager: unpersist
            # its backing RDD (the analyzed plan's LogicalRDD) now
            # rather than waiting for the async ContextCleaner
            survivors._jdf.queryExecution().analyzed().rdd().unpersist(
                False
            )


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Per-cell health report for an IVF lake — the drift/imbalance
    signal that decides when appends have outgrown the trained
    centroids: one row per cell with `n_vecs`, `mean_cos` and `min_cos`
    (cosine of each member to its OWN centroid; falling means the cell
    no longer summarizes its members), ordered by cell.

    Retrain heuristics this feeds (documented, not enforced — the
    thresholds are a deployment choice): imbalance max(n_vecs) /
    mean(n_vecs) creeping up means hot cells (probe cost concentrates);
    mean_cos trending down vs the post-(re)train baseline means drift
    (recall at fixed nprobe decays). Pure Column algebra over ONE lake
    scan — the centroid table is k rows broadcast onto the cell key,
    the cosine is JVM zip_with/aggregate, no Python in the plan."""
    meta = _read_ivf_meta(spark, path)
    vec_col = meta["vec_col"]
    cents = local_frame(
        spark,
        [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]],
        StructType([
            StructField("cell", LongType()),
            StructField("__cent", ArrayType(DoubleType())),
        ]),
    )
    lake = spark.read.parquet(path).select("cell", vec_col)
    occupied = (
        lake.join(F.broadcast(cents), "cell")
        .select("cell", cosine(vec_col, "__cent").alias("__cos"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("__cos"), 6).alias("mean_cos"),
            F.round(F.min("__cos"), 6).alias("min_cos"),
        )
    )
    # EVERY trained cell gets a row (r11 review): a cell k-means left
    # empty — or appends drained — would otherwise vanish from the
    # report, understating imbalance (max/mean over occupied cells
    # reads 'healthy' while half the quantizer is dead) and hiding the
    # disagreement with the sidecar's n_cells. Empty cells report
    # n_vecs=0 with null cosines.
    return (
        cents.select("cell")
        .join(occupied, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_vecs", F.lit(0)).alias("n_vecs"),
            "mean_cos",
            "min_cos",
        )
        .orderBy("cell")
    )


def retrain_ivf_index(
    spark,
    path: str,
    n_cells: int | None = None,
    iters: int = 3,
    force: bool = False,
) -> dict:
    """Re-train the IVF coarse quantizer from the lake's CURRENT
    contents and rewrite the index atomically — the maintenance op that
    closes the append loop (appends assign to frozen centroids;
    after enough drift the cells stop summarizing their members and
    fixed-nprobe recall decays).

    Mechanics: read the lake's (id, vec) columns, build a fresh index
    at `path + "__retrain"` (training + assignment read the OLD lake —
    distinct directories, no self-overwrite), then swap rename-aside
    exactly like compact_bucketed_table: old -> __old, __retrain ->
    live, drop __old. A driver death mid-swap never leaves the path
    empty-and-unrecoverable — both generations persist until the final
    delete, and recovery is one directory rename (the docstringed
    compact_bucketed_table story, applied to directories). `n_cells`
    defaults to the existing index's cell count. Returns {'n_vecs',
    'n_cells', 'cells_before'}.

    The whole op holds a maintenance lease on the lake path (r12
    verdict item 3 / r11 ADVICE): a query in flight blocks the retrain
    (its plan references files the swap deletes), and a query arriving
    mid-retrain is refused with a retry diagnostic — the same
    two-directional guard compact_index <-> the stream probes use. If
    the sidecar names an id side-index, the tmp build REBUILDS it
    (bootstrap-overwrite from the retrained rows — the drop-or-rebuild
    rule from the r10 rebuild's phantom-key fix; a retrain preserves
    the id set, so the rebuilt table is content-identical, but the rule
    is applied unconditionally so a future row-filtering retrain cannot
    silently leave phantom keys). Any leftover `_ivf_pending` append
    marker is satisfied by the rebuild and dropped with the old
    generation."""
    meta = _read_ivf_meta(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    idx_table = meta.get("id_index_table")
    k = int(n_cells if n_cells is not None else meta["n_cells"])
    with leases.maintenance_lease(_ivf_lease_name(path)), \
            leases.fs_maintenance_marker(
                spark, path, "retrain_ivf_index", force=force):
        emb = spark.read.parquet(path).select(id_col, vec_col)
        n_vecs = emb.count()
        tmp, old = f"{path}__retrain", f"{path}__old"
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()

        def _p(s: str):
            return jvm.org.apache.hadoop.fs.Path(s)

        fs = _p(path).getFileSystem(conf)
        fs.delete(_p(tmp), True)
        fs.delete(_p(old), True)
        # the tmp build trains and re-assigns from the OLD lake, then
        # bootstraps the id index from the TMP lake — the id set is
        # identical to the live one, so the rebuilt table is correct
        # whichever side of the swap a crash lands on. The tmp build's
        # own maintenance lease nests under this one (the registry
        # counts per name; tmp is a distinct name anyway).
        build_ivf_index(
            emb, tmp, n_cells=k, iters=iters, id_col=id_col,
            vec_col=vec_col, id_index_table=idx_table,
            id_index_buckets=int(meta.get("id_index_buckets", 16)),
            quantize=bool(meta.get("quantized")),
        )
        if not fs.rename(_p(path), _p(old)):
            raise IOError(f"retrain swap failed renaming {path} -> {old}")
        if not fs.rename(_p(tmp), _p(path)):
            # roll back so the index stays live under its original name
            fs.rename(_p(old), _p(path))
            raise IOError(f"retrain swap failed renaming {tmp} -> {path}")
        fs.delete(_p(old), True)
    return {
        "n_vecs": n_vecs,
        "n_cells": k,
        "cells_before": int(meta["n_cells"]),
    }
