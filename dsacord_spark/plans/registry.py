"""Query/oracle registry backing the driver contract in __spark_entry__.py.

Every operator from SURVEY.md §2 (plus the layer-B analysis operators) is
registered as a named QuerySpec: a Spark callable `(spark, sf_dir) ->
DataFrame` and, when SQL-expressible, an equivalent ANSI-SQL string the
DuckDB oracle runs on the same parquet. Column names/aliases are kept
identical on both sides (the driver's compare sorts columns by name).

Determinism rules used throughout (so order-insensitive value hashes match
bit-for-bit between engines):
- money/measure sums go through DECIMAL(18,2) — float summation order is
  not deterministic under AQE, decimal is exact;
- averages are computed as decimal-sum cast to double divided by count —
  deterministic double division of deterministic operands;
- timestamps in outputs are rendered to strings (`yyyy-MM-dd HH:mm:ss`)
  to dodge ns/us precision skew between engines;
- raw doubles are passed through only when no arithmetic touches them;
- every ORDER-dependent selection (top-k, row_number) carries a unique
  tie-break key.
"""

from __future__ import annotations

import contextvars
import functools
import os
import weakref
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> driver runs rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = ""):
    """Decorator: add a (spark_fn, oracle_sql) pair to the catalog.

    Guards against the stacked-decorator mistake (inserting code between
    a @register and its def leaves two decorators on one function, so
    two catalog names silently point at the same callable — shipped once
    in round 2 before this check): re-registering a name and registering
    one function under two names both fail at import."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        import inspect

        if name in _REGISTRY:
            raise ValueError(f"catalog name registered twice: {name!r}")
        params = list(inspect.signature(fn).parameters.values())
        has_var_pos = any(p.kind is p.VAR_POSITIONAL for p in params)
        n_required = sum(
            1
            for p in params
            if p.default is p.empty
            and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        )
        if not has_var_pos and n_required != 2:
            # a decorator landing on a helper def inserted between
            # @register and its intended function shows up as a wrong
            # arity here (shipped once in round 2: the registered entry
            # silently became a 1-arg centroid helper). Optional knobs
            # with defaults (threshold=...) and *args wrappers are
            # valid registrants and must not trip the guard.
            raise ValueError(
                f"{name!r} must register a (spark, sf_dir) callable; "
                f"{fn.__name__!r} takes {n_required} required parameter(s)"
            )
        for existing in _REGISTRY.values():
            if getattr(existing.fn, "__wrapped__", existing.fn) is fn:
                raise ValueError(
                    f"function {fn.__name__!r} already registered as "
                    f"{existing.name!r}; refusing to alias it as {name!r} "
                    "(stacked @register decorators?)"
                )

        @functools.wraps(fn)
        def entry_fn(*args, **kwargs):
            # Bracket the plan build with the entry name so table()'s
            # per-entry scan fan-out (below) knows who is asking. Reset
            # in finally so nested registered-entry calls restore the
            # caller's name (ContextVar tokens nest correctly).
            token = _ACTIVE_ENTRY.set(name)
            try:
                return fn(*args, **kwargs)
            finally:
                _ACTIVE_ENTRY.reset(token)

        _REGISTRY[name] = QuerySpec(name=name, fn=entry_fn, sql=sql, doc=doc)
        return fn

    return deco


# --- scan fan-out (r12 optimization, guide §2.5 "input skew: one huge
# unsplittable file ... repartition immediately after the read") ---------
# Every testdata table is a SINGLE-row-group parquet file, and a parquet
# row group cannot be split across tasks: every catalog query therefore
# ran at parallelism 1 from the scan to its first exchange (measured:
# corpus_novelty_curve spent 6.3s in a 1-task stage on local[32]).
# Size-gated hash repartition on the table's lead (key) column restores
# scan parallelism for small inputs. Scale-adaptive by construction: at
# 100 TB the input is over the byte gate (and already splits into
# thousands of natural scan partitions), so the repartition vanishes —
# no constant tuned for local mode leaks into cluster plans. Hash (not
# round-robin) partitioning keeps the exchange deterministic under task
# retry (guide §2.5 SPARK-38388) and skips round-robin's
# sortBeforeRepartition local sort.
#
# Fan-out is PER-ENTRY OPT-IN, not global: an interleaved full-catalog
# A/B (215 entries, alternating min-of-2 per side,
# plans/r12/fanout_ab_all.json) measured it bimodal — derivation-heavy
# entries (shingling / hashing / blob decode dominating the scan stage)
# win 0.2-3.4s each, while plain scan→agg entries lose the exchange's
# fixed ~0.1-0.3s and blob-shuffling multimodal entries lose 1-3s.
# _FANOUT_ENTRIES is the measured winner set (save >= 0.2s AND ratio
# <= 0.9 in that A/B), refined by a second interleaved min-of-3 confirm
# A/B after the r12 simhash reformulation
# (plans/r12/fanout_ab_confirm.json) which dropped four entries whose
# win reversed or went neutral under the new signature plan
# (dedup_simhash_bucket_load, dedup_simhash_radius_calibration,
# multimodal_resize, session_stateful). register() brackets each
# entry's plan build with its name so table() can consult the set.
# Anything outside the registry (CLI, streaming helpers, operators
# called directly) never fans out.
_FANOUT_MAX_BYTES = 256 << 20
_FANOUT_MIN_BYTES = 64 << 10  # dim tables (nation/region/supplier) stay 1-task

_FANOUT_ENTRIES = frozenset({
    "ann_quantized_rerank",
    "basket_part_pairs_topk",
    "corpus_novelty_curve",
    "decontaminate_bloom",
    "decontaminate_train_test",
    "dedup_components",
    "dedup_embedding_blocked",
    "dedup_incremental_probe",
    "dedup_incremental_probe_selfsafe",
    "dedup_jaccard_band_histogram",
    "dedup_keep_canonical",
    "dedup_minhash_bucket_load",
    "dedup_minhash_calibration",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "source_overlap_matrix",
    "text_bigram_lm_fluency",
    "text_boilerplate_coverage",
    "text_containment_pairs",
})

_ACTIVE_ENTRY: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "dsacord_active_entry", default=None
)


def _fanout_wanted(spark: SparkSession, path: str) -> bool:
    if os.environ.get("SPARK_GRAFT_SCAN_FANOUT", "1") == "0":
        return False
    if _ACTIVE_ENTRY.get() not in _FANOUT_ENTRIES:
        return False
    try:
        size = os.path.getsize(path)
    except OSError:
        return False
    if not (_FANOUT_MIN_BYTES <= size < _FANOUT_MAX_BYTES):
        return False
    return spark.sparkContext.defaultParallelism > 1


def _apply_fanout(df: DataFrame, spark: SparkSession) -> DataFrame:
    """THE one fan-out repartition shape — hash on the lead column into
    defaultParallelism partitions. Called by both the production path
    (_build_table, after _fanout_wanted has decided) and the test
    surface (_fanout_small), so the tested repartition IS the one
    table() runs (r12 ADVICE: the former duplicate closure meant gate
    tests exercised a copy)."""
    return df.repartition(
        spark.sparkContext.defaultParallelism, df.columns[0]
    )


def _fanout_small(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    if not _fanout_wanted(spark, path):
        return df
    return _apply_fanout(df, spark)


# --- table-plan memo (r12 optimization, guide §7.3 driver-side cost) ----
# spark.read.parquet costs ~100ms on this host (driver footer read + py4j
# round-trips) and the catalog's 215 entries call table() several hundred
# times per sweep. The memo caches the LAZY DataFrame plan per session —
# never materialized data, so every action still computes from the
# parquet inputs; it is plan-object reuse inside one process, not result
# caching. Keyed on (sf_dir, name, fan-out decision) so allowlisted and
# plain variants stay distinct; per-session via WeakKeyDictionary so a
# stopped session's plans are collectable and a fresh session never sees
# another session's JVM references.
_TABLE_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.

    `events.ts` has been observed in two parquet encodings across testdata
    generations: TIMESTAMP(NANOS) (which Spark 4 refuses to read natively —
    read as a nanos long via spark.sql.legacy.parquet.nanosAsLong) and
    TIMESTAMP(MICROS) (read natively as a timestamp). Normalize either into
    three views: ts_ns (long, full precision — use for ordering, exactly
    matching DuckDB's timestamp order), ts_us (long microseconds, for
    interval arithmetic = DuckDB epoch_us), and ts (micro timestamp, for
    formatting/windowing = DuckDB CAST(ts AS TIMESTAMP)).

    Memoization caveats (r12 ADVICE, both latent — no current entry
    trips them): (1) repeated table() calls return the IDENTICAL
    DataFrame object, so an entry joining a table to itself via two
    table() calls with column-reference conditions (df1[c] == df2[c])
    would raise AMBIGUOUS_SELF_JOIN — alias each side
    (table(...).alias("a")) in such entries. (2) the UTC session
    timezone is pinned on memo MISS (_build_table) and at session
    construction (get_spark); code that mutates the session timezone
    between entries would affect *_ts_str renders of memo-hit plans at
    action time — don't."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    fan = _fanout_wanted(spark, path)
    cache = _TABLE_PLANS.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name, fan)
    df = cache.get(key)
    if df is None:
        df = _build_table(spark, sf_dir, name, path, fan)
        cache[key] = df
    return df


def _build_table(
    spark: SparkSession, sf_dir: str, name: str, path: str, fan: bool
) -> DataFrame:
    # the driver runs catalog queries in ITS OWN SparkSession; timestamp
    # string rendering (every *_ts_str output) follows the session
    # timezone, so pin it here rather than trusting session defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def maybe_fan(df: DataFrame) -> DataFrame:
        return _apply_fanout(df, spark) if fan else df

    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = maybe_fan(spark.read.parquet(path))
        if isinstance(df.schema["ts"].dataType, LongType):
            # legacy nanos-long read of TIMESTAMP(NANOS)
            return (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts_us", F.expr("ts_ns div 1000"))
                .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            )
        # native TIMESTAMP(MICROS) (possibly NTZ); session tz is pinned UTC
        # above, so the cast is instant-preserving either way
        return (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("ts_us", F.unix_micros(F.col("ts")))
            .withColumn("ts_ns", F.expr("ts_us * CAST(1000 AS BIGINT)"))
        )
    return maybe_fan(spark.read.parquet(path))


def get_registry() -> dict[str, QuerySpec]:
    return dict(_REGISTRY)
